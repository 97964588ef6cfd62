"""Pair verification (SURVEY.md §2 E1-E5).

The decider for 'near' edges is EXACT shingle-set Jaccard (E2). The
pipeline computes it from normalized TEXT inside an Arrow kernel that
hashes char k-grams (``hashing.hash_char_kgrams``, bit-identical to the
signature stage) and intersects sorted hash sets, in one of two regimes
picked by the est-passing pair count (``verify_jaccard_lazy``):

- at most ``BROADCAST_PAIRS_MAX`` pairs — the binned verify: the pairs
  are collected, binned on the driver by their component in the
  candidate graph, and each bin's texts move once to one task, which
  hashes every doc once;
- above it — the at-scale shuffle branch: pair-side text joins and a
  kernel that hashes each batch's distinct docs.

``exact_jaccard_expr`` over shingle arrays is the pure-SQL twin the
tests hold both kernels to. The MinHash estimate (E1) prunes pairs
before any text moves, as pure-codegen SQL over the slim signatures'
byte-packed MinHash longs: ``est_filter_pairs`` (stage 1, the 32-perm
prefix) and ``refine_est_pairs`` (stage 2, the full packed width).
``est_jaccard_expr`` over full-width MinHash arrays serves the
registry's and the streaming path's ``verify_jaccard``. The LCS ratio
(E3) is the reference-parity matcher (the reference's pairwise
string/LCS similarity, BASELINE.json:6), implemented as a vectorized
pandas UDF with an O(n·m) numpy DP — like the reference it is only
ever applied POST-blocking, to candidate pairs. Suffix-array
containment (E5) detects long exact substring overlaps between
candidate texts.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType

from dedup.config import DedupConfig


def est_jaccard_expr(a: str = "mh_a", b: str = "mh_b", num_perm: int = 128) -> F.Column:
    """Fraction of agreeing MinHash positions — pure SQL higher-order fns."""
    return (
        F.aggregate(
            F.zip_with(F.col(a), F.col(b), lambda x, y: F.when(x == y, 1).otherwise(0)),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        / F.lit(num_perm)
    ).cast("double")


def exact_jaccard_expr(a: str = "sh_a", b: str = "sh_b") -> F.Column:
    """Exact Jaccard over (already-distinct) shingle hash arrays."""
    inter = F.size(F.array_intersect(F.col(a), F.col(b)))
    return (inter / (F.size(a) + F.size(b) - inter)).cast("double")


def join_pair_arrays(
    pairs: DataFrame, frame: DataFrame, col: str, out_a: str, out_b: str
) -> DataFrame:
    """Attach per-doc array ``col`` for both sides of (src, dst)."""
    fa = frame.select(F.col("doc_id").alias("src"), F.col(col).alias(out_a))
    fb = frame.select(F.col("doc_id").alias("dst"), F.col(col).alias(out_b))
    return pairs.join(fa, "src").join(fb, "dst")


def est_filter_floor(
    cfg: DedupConfig, n_sigma: float = 4.5, perms: int | None = None
) -> float:
    """MinHash-estimate floor that keeps J ≥ thresh pairs with
    probability ≈ 1 - Φ(-n_sigma): thresh - n_sigma·σ, σ = binomial sd
    of the per-permutation agreement over ``perms`` positions (default
    the full signature). At 128 perms / thresh 0.8 this is ≈ 0.64; at
    the 32-perm prefilter prefix ≈ 0.48. Miss probability per true pair
    is ~1e-6 either way — far inside the 0.99 recall budget."""
    import math

    t = cfg.jaccard_thresh
    sigma = math.sqrt(t * (1 - t) / (perms or cfg.num_perm))
    return max(0.0, t - n_sigma * sigma)


# --- OPH-aware per-pair floors -------------------------------------------
#
# Under the one-permutation scheme (config.minhash_scheme == "oph") the
# slot-agreement variance of a SHORT doc pair exceeds the binomial sd the
# constant floor assumes: a doc with n shingles fills only ~K·(1-(1-1/K)^n)
# of its K slots, and densified (borrowed) slots duplicate their source
# slot's agreement, shrinking the number of independent draws in a
# width-`perms` prefix to roughly n_eff = perms·q²/(2-q), q = fill rate
# (the (2-q) term is a conservative run-length model of borrow lumping).
# The floor therefore relaxes per pair as min(nsh) shrinks — junk pairs
# sit at est ≈ 0.0-0.15 regardless, so selectivity is unaffected while
# true short-doc pairs keep their ~4.5σ miss margin. For the classic
# permutation family both helpers reduce to the constant floor.
#
# Degenerate regime (round-2 advice): for VERY short docs the relaxed
# floor clamps to 0.0 — n_eff ≈ nsh²·perms/K² for nsh ≪ K, so with
# K=128/perms=32 the floor hits 0 near nsh ≈ 20 shingles (~24
# normalized chars at k=5). Every pair involving such a doc passes both
# est stages (byte agreement is always ≥ 0). This is recall-SAFE by
# design and bounded in practice: the D4 length-ratio conjunct already
# prunes short×long pairs at candidate time, min_text_len floors the
# population, and exact verification decides survivors. The cost model
# to watch is a corpus dominated by near-min-length docs, where the est
# filter degrades to a no-op and the text-verify join sees the whole
# short-doc candidate flood — acceptable because those docs' shingle
# sets are equally tiny (cheap to verify), but a corpus like that is
# better served by raising min_text_len than by tightening the floor
# (any positive clamp here would trade measured recall for it).


def _oph_n_eff(cfg: DedupConfig, perms: int, q):
    return perms * q * q / (2.0 - q)


def est_floor_np(cfg: DedupConfig, perms: int, nsh_min) -> "np.ndarray | float":
    """Per-pair floor for a numpy kernel: scalar for the perm family,
    an array aligned with ``nsh_min`` for OPH."""
    if getattr(cfg, "minhash_scheme", "perm") != "oph":
        return est_filter_floor(cfg, perms=perms)
    import numpy as np

    t = cfg.jaccard_thresh
    q = 1.0 - (1.0 - 1.0 / cfg.num_perm) ** np.asarray(nsh_min, dtype=np.float64)
    n_eff = np.maximum(1.0, _oph_n_eff(cfg, perms, q))
    return np.maximum(0.0, t - 4.5 * np.sqrt(t * (1.0 - t) / n_eff))


def est_floor_per_doc(cfg: DedupConfig, perms: int, nsh) -> "np.ndarray":
    """Per-DOC floors for the pair kernels. The floor is monotone
    increasing in nsh, so the per-pair floor over min(nsh_a, nsh_b) is
    min(floor_a, floor_b) — computing floors once per doc replaces a
    pow/sqrt per surviving PAIR with one np.minimum gather."""
    import numpy as np

    f = est_floor_np(cfg, perms, nsh)
    if np.ndim(f) == 0:
        f = np.full(len(nsh), float(f))
    return f


def est_floor_expr(cfg: DedupConfig, perms: int, nsh_min) -> F.Column:
    """Column twin of ``est_floor_np`` (same formula, codegen scalar
    functions only). ``nsh_min`` is a Column of min(n_shingles)."""
    if getattr(cfg, "minhash_scheme", "perm") != "oph":
        return F.lit(est_filter_floor(cfg, perms=perms))
    t = cfg.jaccard_thresh
    q = F.lit(1.0) - F.pow(
        F.lit(1.0 - 1.0 / cfg.num_perm), nsh_min.cast("double")
    )
    n_eff = F.greatest(F.lit(1.0), F.lit(float(perms)) * q * q / (F.lit(2.0) - q))
    return F.greatest(
        F.lit(0.0),
        F.lit(float(t)) - F.lit(4.5) * F.sqrt(F.lit(t * (1.0 - t)) / n_eff),
    )


def verify_jaccard(
    pairs: DataFrame,
    shingles: DataFrame,
    cfg: DedupConfig,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs → verified 'near' edges (exact Jaccard ≥ thresh).

    When ``signatures`` is given, pairs are pre-filtered by the MinHash
    agreement estimate (E1) BEFORE the exact verification join: the
    signature arrays are ~10× narrower than shingle arrays, so the
    expensive array join only sees candidates that are plausibly above
    threshold. On candidate floods (boilerplate simhash balls, hot LSH
    buckets) this cuts verify traffic by 1-2 orders of magnitude."""
    est = F.lit(None).cast("double")
    if signatures is not None:
        fa = signatures.select(
            F.col("doc_id").alias("src"),
            F.col("minhash").alias("mh_a"),
            F.col("n_shingles").alias("n_a"),
        )
        fb = signatures.select(
            F.col("doc_id").alias("dst"),
            F.col("minhash").alias("mh_b"),
            F.col("n_shingles").alias("n_b"),
        )
        pairs = (
            pairs.join(fa, "src")
            .join(fb, "dst")
            .withColumn("est_jacc", est_jaccard_expr(num_perm=cfg.num_perm))
            .filter(
                F.col("est_jacc")
                >= est_floor_expr(cfg, cfg.num_perm, F.least("n_a", "n_b"))
            )
            .select("src", "dst", "est_jacc")
        )
        est = F.col("est_jacc")
    withsh = join_pair_arrays(pairs, shingles, "shingles", "sh_a", "sh_b")
    return (
        withsh.withColumn("sim", exact_jaccard_expr())
        .filter(F.col("sim") >= cfg.jaccard_thresh)
        .select(
            "src",
            "dst",
            est.alias("est_jacc"),
            "sim",
            F.lit("near").alias("kind"),
        )
    )


def _jaccard_indexed(
    vals: np.ndarray, offs: np.ndarray, ia: np.ndarray, ib: np.ndarray
) -> np.ndarray:
    """Per-pair exact Jaccard where both sides index segments of ONE
    shared flat uint64 hash buffer (``vals`` segmented by ``offs``,
    ascending UNSIGNED per segment — see hash_char_kgrams). ``ia[i]`` /
    ``ib[i]`` are the segment indices of pair i's two sides."""
    n = len(ia)
    sim = np.empty(n, dtype=np.float64)
    for i in range(n):
        a = vals[offs[ia[i]] : offs[ia[i] + 1]]
        b = vals[offs[ib[i]] : offs[ib[i] + 1]]
        if len(a) > len(b):
            a, b = b, a
        if len(a) == 0:
            sim[i] = 1.0 if len(b) == 0 else 0.0
            continue
        idx = np.searchsorted(b, a)
        idx[idx == len(b)] = len(b) - 1
        inter = int((b[idx] == a).sum())
        sim[i] = inter / float(len(a) + len(b) - inter)
    return sim


def _exact_jaccard_text_arrow(withtext: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(src, dst, est_jacc, t_a, t_b) → + sim: recompute BOTH sides'
    distinct k-gram shingle hashes from the normalized text inside the
    kernel (``hashing.hash_char_kgrams`` — bit-identical to the
    signature stage) and intersect per pair.

    Scale rationale: shingle hash arrays are ~8× the utf-8 text they
    come from (8 bytes per char window vs ~1 byte per char), and the
    pair join duplicates the payload per pair — shipping text instead
    of arrays shrinks the verify shuffle, the pipeline's largest and
    worst-scaling (DRAM-bound) data movement, by that factor, and the
    separate est-survivor shingle materialization stage disappears.
    Re-hashing costs one extra kernel pass per pair side, which scales
    near-linearly with cores (blocked kernel), unlike shuffle bytes.

    Hashing is memoized BY DOC ID within each Arrow batch: a doc in a
    dup cluster of size m appears in up to m-1 surviving pairs, so the
    naive two-passes-per-pair kernel re-hashes hot docs many times.
    One np.unique over the batch's (src ∪ dst) ids gathers each unique
    doc's bytes once, hashes once, and every pair row intersects views
    into the shared flat hash buffer (ids are content-sha
    representatives, so equal id ⇒ identical text by construction)."""
    import pyarrow as pa

    from dedup.hashing import hash_char_kgrams, str_buffers

    k = cfg.k

    def run(batches):
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            idx = rb.schema.get_field_index
            src = rb.column(idx("src")).to_numpy(zero_copy_only=False)
            dst = rb.column(idx("dst")).to_numpy(zero_copy_only=False)
            da, toa = str_buffers(rb.column(idx("t_a")))
            db, tob = str_buffers(rb.column(idx("t_b")))
            uniq, first, inv = np.unique(
                np.concatenate([src, dst]), return_index=True, return_inverse=True
            )
            u = len(uniq)
            lens = np.concatenate([toa[1:] - toa[:-1], tob[1:] - tob[:-1]])[first]
            uo = np.zeros(u + 1, dtype=np.int64)
            np.cumsum(lens, out=uo[1:])
            buf = np.empty(int(uo[-1]), dtype=np.uint8)
            for j in range(u):
                f = first[j]
                s = toa[f] if f < n else tob[f - n]
                d = da if f < n else db
                buf[uo[j] : uo[j + 1]] = d[s : s + lens[j]]
            flat, lcnt = hash_char_kgrams(buf, uo, k)
            ho = np.zeros(u + 1, dtype=np.int64)
            np.cumsum(lcnt, out=ho[1:])
            sim = _jaccard_indexed(flat, ho, inv[:n], inv[n:])
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(rb.schema.get_field_index("src")),
                    rb.column(rb.schema.get_field_index("dst")),
                    rb.column(rb.schema.get_field_index("est_jacc")),
                    pa.array(sim),
                ],
                names=["src", "dst", "est_jacc", "sim"],
            )

    return withtext.select("src", "dst", "est_jacc", "t_a", "t_b").mapInArrow(
        run, schema="src long, dst long, est_jacc double, sim double"
    )


_PRE_COLS = ["pre0", "pre1", "pre2", "pre3"]

#: up to this many est-surviving pairs are collected to the driver (24 B
#: each, ≲ 100 MB) and verified by the binned kernel; above it the
#: pair-side text joins shuffle the docs text column instead; see
#: verify_jaccard_lazy. Mirrors components.SMALL_GRAPH_EDGES: a
#: runtime-adaptive scale switch, not a semantic knob (never changes
#: which pairs verify).
BROADCAST_PAIRS_MAX = 4_000_000


def packed_agreement_expr(p: int, n_longs: int = 4) -> F.Column:
    """Estimate agreement fraction from byte-packed MinHash low bytes
    (``n_longs`` longs per side, ``a0..`` / ``b0..``): count equal BYTES
    via the exact zero-byte-count identity (Hacker's Delight 6-1: mask
    high bits, add 0x7F.., so no borrow crosses byte lanes), subtract
    the 8·n_longs − p zero padding bytes that always match. Pure codegen
    — no lambda interpretation, no Python crossing — which is what lets
    the filter run inline over the 50×-overcomplete candidate-pair
    flood (stage 1, first 4 longs) and over its distinct survivors at
    full signature width (stage 2, ``refine_est_pairs``)."""
    # ANSI-safe: the masked add runs on the LOW 7 bytes only (top byte
    # of the addend mask is 0x00, so no carry can reach the sign bit and
    # ANSI overflow checking never fires); the top byte is tested on its
    # own. Per byte b of x: high bit of ((b&0x7F)+0x7F | b) is set iff
    # b != 0, and the +0x7F never carries across byte lanes.
    m7 = F.lit(0x007F7F7F7F7F7F7F)
    lo7 = F.lit(0x00FFFFFFFFFFFFFF)
    hi7 = F.lit(0x0080808080808080)
    total = None
    for i in range(n_longs):
        x = F.col(f"a{i}").bitwiseXOR(F.col(f"b{i}"))
        xl = x.bitwiseAND(lo7)
        y = F.bitwise_not((xl.bitwiseAND(m7) + m7).bitwiseOR(xl)).bitwiseAND(hi7)
        c = F.bit_count(y) + F.when(
            F.shiftright(x, 56).bitwiseAND(F.lit(0xFF)) == 0, F.lit(1)
        ).otherwise(F.lit(0))
        total = c if total is None else total + c
    return ((total - F.lit(8 * n_longs - p)) / F.lit(p)).cast("double")


def est_filter_pairs(
    pairs: DataFrame, signatures: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """Attach the byte-packed MinHash-prefix estimate to a raw
    (possibly duplicate-bearing) candidate pair flood and keep rows with
    est ≥ the adaptive floor. Runs BEFORE any pair-distinct: the filter
    is a pure-codegen expression evaluated inline in the pair-join
    stage, so the 10-100×-overcomplete flood never hits a shuffle — the
    distinct afterwards sees only survivors. The pre-col join carries
    no hint: AQE broadcasts the slim (doc_id + 4 longs) frame when its
    file stats are small; at cluster scale it degrades to an equi-join
    that AQE re-plans."""
    p = min(cfg.est_prefilter_perms or cfg.num_perm, cfg.num_perm, 32)
    oph = cfg.minhash_scheme == "oph"
    nsh_a = [F.col("n_shingles").alias("n_a")] if oph else []
    nsh_b = [F.col("n_shingles").alias("n_b")] if oph else []
    fa = signatures.select(
        F.col("doc_id").alias("src"),
        *nsh_a,
        *[F.col(c).alias(f"a{i}") for i, c in enumerate(_PRE_COLS)],
    )
    fb = signatures.select(
        F.col("doc_id").alias("dst"),
        *nsh_b,
        *[F.col(c).alias(f"b{i}") for i, c in enumerate(_PRE_COLS)],
    )
    floor = (
        est_floor_expr(cfg, p, F.least("n_a", "n_b"))
        if oph
        else F.lit(est_filter_floor(cfg, perms=p))
    )
    return (
        pairs.join(fa, "src")
        .join(fb, "dst")
        .select(
            "src", "dst", packed_agreement_expr(p).alias("est_jacc"),
            floor.alias("_floor"),
        )
        .filter(F.col("est_jacc") >= F.col("_floor"))
        .drop("_floor")
    )


def _all_pre_cols(signatures: DataFrame) -> list[str]:
    """All byte-packed MinHash columns ``pre0..preN`` in index order."""
    import re

    cols = [c for c in signatures.columns if re.fullmatch(r"pre\d+", c)]
    return sorted(cols, key=lambda c: int(c[3:]))


#: broadcast the slim signature frame into the refine joins below this
#: many docs: ~136 B/doc byte-packed → ≤ ~140 MB build side (the
#: pipeline's candidate-kernel sideband is wider — ~380 B/doc with the
#: band matrix + full packed width + partition bits ≈ 380 MB at the
#: gate, one materialized copy per Python worker process — sized for
#: the 128 GiB local bench host; real executors each hold one). Same
#: rationale as BROADCAST_PAIRS_MAX — AQE materializes every
#: shuffle-join map side before it can demote to broadcast, so without
#: the hint the DISTINCT pair frame and both signature projections each
#: cross a shuffle (two exchanges + a block-copy checkpoint of the
#: joined width, ~45 task-s at 500k docs/local[32]) even though the
#: build side is known-small at runtime. Beyond the cap the shuffle
#: plan is correct — at 10^12 docs signatures are bucketed table state.
BROADCAST_SIGS_MAX = 1_000_000


def refine_est_pairs(
    pairs: DataFrame,
    signatures: DataFrame,
    cfg: DedupConfig,
    broadcast_sigs: bool = False,
) -> DataFrame:
    """Second-stage pair pruning on the DISTINCT stage-1 survivors,
    before any text is shipped: re-estimate agreement over the FULL
    byte-packed signature width (floor ≈ 0.64 at 128 perms / thresh 0.8
    vs ≈ 0.48 for the 32-perm stage-1 prefix — the wider estimator
    concentrates, so borderline-J pairs that squeaked past stage 1 are
    rejected here), plus the EXACT shingle-count ratio bound
    (J = |∩|/|∪| ≤ min/max, so J ≥ t forces min ≥ t·max — zero recall
    cost by construction). Both are scalar codegen expressions over a
    few longs per side; measured at 500k docs they cut the text-verify
    join input ~5-10× (1.04M → ~0.1-0.2M pairs), which was the
    pipeline's single largest stage (3.3 GB of text through the Arrow
    boundary). Byte collisions only raise the estimate — still a strict
    superset of the exact-agreement-floor set."""
    pres = _all_pre_cols(signatures)
    p = min(cfg.num_perm, 8 * len(pres))
    floor = est_floor_expr(cfg, p, F.least("n_a", "n_b"))
    fa = signatures.select(
        F.col("doc_id").alias("src"),
        F.col("n_shingles").alias("n_a"),
        *[F.col(c).alias(f"a{i}") for i, c in enumerate(pres)],
    )
    fb = signatures.select(
        F.col("doc_id").alias("dst"),
        F.col("n_shingles").alias("n_b"),
        *[F.col(c).alias(f"b{i}") for i, c in enumerate(pres)],
    )
    ratio_ok = F.least("n_a", "n_b").cast("double") >= F.lit(
        float(cfg.jaccard_thresh)
    ) * F.greatest("n_a", "n_b").cast("double")
    if broadcast_sigs:
        fa, fb = F.broadcast(fa), F.broadcast(fb)
    return (
        pairs.join(fa, "src")
        .join(fb, "dst")
        .filter(ratio_ok)
        .select(
            "src", "dst", packed_agreement_expr(p, len(pres)).alias("est_jacc")
        )
        .filter(F.col("est_jacc") >= floor)
    )


def verify_jaccard_lazy(
    pairs: DataFrame,
    docs: DataFrame,
    cfg: DedupConfig,
    signatures: DataFrame,
    broadcast_sigs: bool = False,
    pre_refined: bool = False,
) -> DataFrame:
    """Stage-1 est-passing candidate pairs (src, dst, est_jacc) over slim
    ``signatures`` → verified 'near' edges, recomputing shingles only
    for docs that survive the MinHash-estimate filters — from TEXT,
    inside the exact-Jaccard kernel.

    Shingle arrays (8 B per char window) are ~8× the utf-8 text they
    derive from, so verify moves text and re-hashes it in the kernel,
    bit-identically. The est-passing pair frame is localCheckpoint'ed
    and counted; the count picks the regime:

    - ``≤ BROADCAST_PAIRS_MAX`` (≤ ~100 MB of pairs): the pairs are
      collected, binned by candidate component (``_bin_sideband``) and
      broadcast; one Arrow pass over docs keeps and tags the needed
      texts, a ``repartition`` on the bin key moves each text once per
      bin, and one kernel task per bin hashes each of its docs once
      (``_binned_exact_jaccard``);
    - above it: the pair-side text joins of ``join_pair_arrays`` feed
      ``_exact_jaccard_text_arrow``, with no driver collect — the
      at-scale path.

    Both regimes return the same (src, dst, est_jacc, sim) rows."""
    from dedup.pipeline import job_desc

    # the stage-1 est filter already ran fused into the candidate stage
    # (est_filter_pairs or the candidate kernel). When the slim
    # signatures carry the full byte-packed width, run the tighter
    # stage-2 refinement on the distinct survivors before pinning — its
    # floor rejects most borderline pairs that would otherwise ship text
    # into the exact-verify kernel. ``pre_refined`` means the candidate
    # kernel already applied the full-width refine in-kernel
    # (fused_candidates_bcast full_est) — identical semantics, so
    # re-running it here would be two broadcast joins for nothing.
    if pre_refined or len(_all_pre_cols(signatures)) <= 4:
        est_frame = pairs
    else:
        est_frame = refine_est_pairs(
            pairs.drop("est_jacc"), signatures, cfg, broadcast_sigs=broadcast_sigs
        )
    with job_desc(pairs.sparkSession, "dedup: candidates + est-filter"):
        passed = est_frame.localCheckpoint(eager=True)
        # the count is ~free: `passed` is checkpointed
        n_pairs = passed.count()
    if n_pairs <= BROADCAST_PAIRS_MAX:
        # the pairs fit the driver (≤ 24 B each): bin them by candidate
        # component and hash every endpoint once per bin
        with job_desc(pairs.sparkSession, "dedup: verify + edge symmetrize"):
            pair_tab = passed.select("src", "dst", "est_jacc").toArrow()
        sims = _binned_exact_jaccard(pair_tab, docs, cfg)
    else:
        # At-scale path. Under AQE a shuffle join materializes EVERY map
        # side before it can be demoted to broadcast, so this plan
        # shuffles the docs text column and re-shuffles the text per
        # pair side; above the gate (~100 MB of pairs) that is the right
        # plan and AQE handles it — the 10^12-doc design path. Text, not
        # shingle arrays, crosses the exchange: ~1 KB of utf-8 per side
        # instead of ~8 KB of int64 hashes, re-hashed in the kernel.
        need = (
            passed.select(F.col("src").alias("doc_id"))
            .union(passed.select(F.col("dst").alias("doc_id")))
            .distinct()
        )
        texts = docs.join(need, "doc_id", "left_semi").select("doc_id", "norm_text")
        sims = _exact_jaccard_text_arrow(
            join_pair_arrays(passed, texts, "norm_text", "t_a", "t_b"), cfg
        )
    return (
        sims.filter(F.col("sim") >= cfg.jaccard_thresh)
        .select(
            "src",
            "dst",
            "est_jacc",
            "sim",
            F.lit("near").alias("kind"),
        )
    )


# --- binned verify (below BROADCAST_PAIRS_MAX) ----------------------------
#
# The est-passing pairs are collected to the driver, labelled with their
# component in the candidate graph, sorted by it and cut into contiguous
# bins of equal pair count. Each bin's texts travel to one task, which
# hashes every doc once and intersects all the bin's pairs against the
# shared hash buffer. A component is split only at a bin boundary, so a
# doc reaches as many bins as its component spans — almost always one —
# where the pair-side join shipped (and hashed) it once per pair side.

#: pairs per verify bin; the bin count is clipped to
#: [defaultParallelism, 4 × defaultParallelism] (see _n_bins)
VERIFY_BIN_PAIRS = 4096


def _n_bins(n_pairs: int, parallelism: int) -> int:
    par = max(parallelism, 1)
    p = min(max(-(-n_pairs // VERIFY_BIN_PAIRS), par), 4 * par)
    return max(min(p, n_pairs), 1)


def _murmur3_int(x: np.ndarray, seed: int = 42) -> np.ndarray:
    """Spark's ``Murmur3Hash`` of an int column (what ``F.hash`` and a
    hash ``repartition`` compute), vectorized over int32 values."""
    u32 = np.uint32

    def rotl(v, r):
        return (v << u32(r)) | (v >> u32(32 - r))

    k = rotl(x.astype(np.int32).view(u32) * u32(0xCC9E2D51), 15) * u32(0x1B873593)
    h = rotl(u32(seed) ^ k, 13) * u32(5) + u32(0xE6546B64)
    h ^= u32(4)  # fmix with the input length in bytes
    h ^= h >> u32(16)
    h *= u32(0x85EBCA6B)
    h ^= h >> u32(13)
    h *= u32(0xC2B2AE35)
    h ^= h >> u32(16)
    return h.view(np.int32)


def _bin_keys(n_bins: int) -> np.ndarray:
    """``keys[b]`` = the smallest non-negative int that ``repartition(
    n_bins, key)`` places in partition b, so every bin gets a task of its
    own. Placement only balances the bins; results never depend on it."""
    keys = np.full(n_bins, -1, dtype=np.int64)
    lo, step = 0, 8 * n_bins
    while (keys < 0).any():
        cand = np.arange(lo, lo + step, dtype=np.int64)
        part, first = np.unique(
            _murmur3_int(cand).astype(np.int64) % n_bins, return_index=True
        )
        todo = keys[part] < 0
        keys[part[todo]] = cand[first[todo]]
        lo += step
    return keys


def _bin_sideband(src: np.ndarray, dst: np.ndarray, est: np.ndarray, n_bins: int) -> dict:
    """Driver-side binning of the pair arrays → the kernels' broadcast:
    pairs sorted by (component, src, dst) with per-bin offsets, each
    bin's partition key, and the (doc_id → bin key) map sorted by doc."""
    from dedup.components import min_labels

    n = len(src)
    ids, flat = np.unique(np.concatenate([src, dst]), return_inverse=True)
    comp = min_labels(flat[:n], flat[n:], len(ids))[flat[:n]]
    order = np.lexsort((dst, src, comp))
    pair_bin = np.arange(n, dtype=np.int64) * n_bins // max(n, 1)
    src, dst, est = src[order], dst[order], est[order]
    # distinct (doc, bin) endpoints, sorted by doc
    e_id, e_bin = np.concatenate([src, dst]), np.tile(pair_bin, 2)
    o = np.lexsort((e_bin, e_id))
    e_id, e_bin = e_id[o], e_bin[o]
    new = np.ones(len(o), dtype=bool)
    new[1:] = (e_id[1:] != e_id[:-1]) | (e_bin[1:] != e_bin[:-1])
    keys = _bin_keys(n_bins)
    return {
        "src": src,
        "dst": dst,
        "est": est,
        "bin_off": np.searchsorted(pair_bin, np.arange(n_bins + 1)),
        "keys": keys,
        "map_ids": e_id[new],
        "map_keys": keys[e_bin[new]].astype(np.int32),
    }


def _tag_bin_batches(batches, side: dict):
    """(doc_id, norm_text) batches → (bin, doc_id, norm_text) rows for
    the docs some bin needs, once per bin that needs them."""
    import pyarrow as pa

    map_ids, map_keys = side["map_ids"], side["map_keys"]
    for rb in batches:
        ids = rb.column(rb.schema.get_field_index("doc_id")).to_numpy(zero_copy_only=False)
        lo = np.searchsorted(map_ids, ids, "left")
        cnt = np.searchsorted(map_ids, ids, "right") - lo
        total = int(cnt.sum())
        if total == 0:
            continue
        rows = np.repeat(np.arange(len(ids)), cnt)
        # position of each emitted row in the map: lo[row] + rank within row
        pos = np.repeat(lo - (np.cumsum(cnt) - cnt), cnt) + np.arange(total)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(map_keys[pos]),
                rb.column(rb.schema.get_field_index("doc_id")).take(rows),
                rb.column(rb.schema.get_field_index("norm_text")).take(rows),
            ],
            names=["bin", "doc_id", "norm_text"],
        )


def _verify_bin_batches(batches, side: dict, k: int):
    """One partition of tagged docs → (src, dst, est_jacc, sim) for every
    pair of the bins it holds: each distinct doc is hashed once
    (``hashing.hash_char_kgrams``; ids are content-sha representatives,
    so equal id ⇒ identical text), then ``_jaccard_indexed`` intersects
    the pairs against the shared hash buffer. A pair whose endpoint is
    absent from docs is dropped, as the inner text join drops it."""
    import pyarrow as pa

    from dedup.hashing import hash_char_kgrams, str_buffers

    rbs = [rb for rb in batches if rb.num_rows]
    if not rbs:
        return
    tab = pa.Table.from_batches(rbs)
    ids = tab.column("doc_id").to_numpy()
    uniq, first = np.unique(ids, return_index=True)
    txt = (
        tab.column("norm_text").take(first).cast(pa.large_string()).combine_chunks()
    )
    flat, lcnt = hash_char_kgrams(*str_buffers(txt), k)
    ho = np.zeros(len(uniq) + 1, dtype=np.int64)
    np.cumsum(lcnt, out=ho[1:])
    # bins by key (a key collision only puts two bins in one task)
    kb = np.argsort(side["keys"])
    held_keys = np.unique(tab.column("bin").to_numpy())
    held = kb[np.searchsorted(side["keys"], held_keys, sorter=kb)]
    off = side["bin_off"]
    sel = np.concatenate([np.arange(off[b], off[b + 1]) for b in held])
    src, dst, est = side["src"][sel], side["dst"][sel], side["est"][sel]
    ia = np.minimum(np.searchsorted(uniq, src), len(uniq) - 1)
    ib = np.minimum(np.searchsorted(uniq, dst), len(uniq) - 1)
    ok = (uniq[ia] == src) & (uniq[ib] == dst)
    if not ok.all():
        src, dst, est, ia, ib = src[ok], dst[ok], est[ok], ia[ok], ib[ok]
    yield pa.RecordBatch.from_arrays(
        [
            pa.array(src),
            pa.array(dst),
            pa.array(est, from_pandas=True),  # NaN ← a null estimate
            pa.array(_jaccard_indexed(flat, ho, ia, ib)),
        ],
        names=["src", "dst", "est_jacc", "sim"],
    )


def _binned_exact_jaccard(
    pairs, docs: DataFrame, cfg: DedupConfig, n_bins: int | None = None
) -> DataFrame:
    """Driver-side pair table (src, dst, est_jacc) + docs → (src, dst,
    est_jacc, sim) through the binned kernel: one broadcast sideband,
    one Arrow pass over docs that keeps and tags the needed texts, one
    ``repartition`` that moves each text once per bin, one kernel task
    per bin. ``n_bins`` defaults to ``_n_bins`` of the pair count."""
    spark = docs.sparkSession
    schema = "src long, dst long, est_jacc double, sim double"
    n = pairs.num_rows
    if n == 0:
        return spark.createDataFrame([], schema)
    if n_bins is None:
        n_bins = _n_bins(n, spark.sparkContext.defaultParallelism)
    side = _bin_sideband(
        pairs.column("src").to_numpy(),
        pairs.column("dst").to_numpy(),
        pairs.column("est_jacc").to_numpy().astype(np.float64),
        n_bins,
    )
    bc = spark.sparkContext.broadcast(side)
    k = cfg.k
    return (
        docs.select("doc_id", "norm_text")
        .mapInArrow(
            lambda it: _tag_bin_batches(it, bc.value),
            schema="bin int, doc_id long, norm_text string",
        )
        .repartition(n_bins, "bin")
        .mapInArrow(lambda it: _verify_bin_batches(it, bc.value, k), schema=schema)
    )


# ---------------------------------------------------------------------------
# E3: LCS ratio (reference-parity matcher) — vectorized pandas UDF
# ---------------------------------------------------------------------------

_LCS_MAX_CHARS = 2000  # DP guard: strings are truncated to this length


def _lcs_len_exact(a: str, b: str) -> int:
    """Exact LCS length, numpy rolling-row DP — O(n·m) time, O(m) space,
    vectorized over the inner axis. Row recurrence: with
    cur_pre[j] = max(prev[j], prev[j-1] + eq_j), the standard
    dp[i][j] = max(prev[j], cur[j-1], prev[j-1]+eq_j) equals the running
    maximum of cur_pre (rows of an LCS table are monotone), so one
    np.maximum.accumulate per row replaces the inner python loop."""
    a, b = a[:_LCS_MAX_CHARS], b[:_LCS_MAX_CHARS]
    if not a or not b:
        return 0
    bb = np.frombuffer(b.encode("utf-32-le"), dtype=np.uint32)
    prev = np.zeros(len(bb) + 1, dtype=np.int32)
    for ch in np.frombuffer(a.encode("utf-32-le"), dtype=np.uint32):
        cand = np.where(bb == ch, prev[:-1] + 1, 0)
        cur = np.maximum(prev[1:], cand)
        np.maximum.accumulate(cur, out=cur)
        prev = np.concatenate(([0], cur))
    return int(prev[-1])


@F.pandas_udf(DoubleType())
def lcs_ratio_udf(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
    """ratio = 2·LCS(a,b) / (len a + len b) ∈ [0,1]."""
    for a_s, b_s in it:
        out = []
        for a, b in zip(a_s, b_s):
            a = a or ""
            b = b or ""
            denom = len(a[:_LCS_MAX_CHARS]) + len(b[:_LCS_MAX_CHARS])
            out.append(2.0 * _lcs_len_exact(a, b) / denom if denom else 1.0)
        yield pd.Series(out, dtype="float64")


# ---------------------------------------------------------------------------
# E5: longest common substring via generalized suffix automaton-free
# numpy suffix doubling — per candidate pair, applied post-blocking
# ---------------------------------------------------------------------------

_SUBSTR_MAX_CHARS = 20000


def longest_common_substring_len(a: str, b: str) -> int:
    """Length of the longest exact common substring of a and b.

    Generalized suffix array over a + SEP + b via numpy argsort-doubling
    (O(n log² n)), then max LCP between adjacent suffixes from different
    strings (Kasai). SEP is a sentinel outside both alphabets."""
    a, b = a[:_SUBSTR_MAX_CHARS], b[:_SUBSTR_MAX_CHARS]
    if not a or not b:
        return 0
    ua = np.frombuffer(a.encode("utf-32-le"), dtype=np.uint32).astype(np.int64) + 2
    ub = np.frombuffer(b.encode("utf-32-le"), dtype=np.uint32).astype(np.int64) + 2
    s = np.concatenate([ua, np.array([1], dtype=np.int64), ub])  # 1 = sentinel
    n = len(s)
    # suffix array by prefix doubling
    rank = np.unique(s, return_inverse=True)[1].astype(np.int64)
    k = 1
    while k < n:
        key2 = np.full(n, -1, dtype=np.int64)
        key2[: n - k] = rank[k:]
        order = np.lexsort((key2, rank))
        pair = np.stack([rank[order], key2[order]], axis=1)
        new_rank = np.empty(n, dtype=np.int64)
        changed = np.any(pair[1:] != pair[:-1], axis=1)
        new_rank[order] = np.concatenate(([0], np.cumsum(changed)))
        rank = new_rank
        if rank.max() == n - 1:
            break
        k *= 2
    sa = np.empty(n, dtype=np.int64)
    sa[rank] = np.arange(n)
    # Kasai LCP
    lcp = np.zeros(n, dtype=np.int64)
    h = 0
    for i in range(n):
        if rank[i] > 0:
            j = sa[rank[i] - 1]
            while i + h < n and j + h < n and s[i + h] == s[j + h]:
                h += 1
            lcp[rank[i]] = h
            if h > 0:
                h -= 1
        else:
            h = 0
    # adjacent suffixes from different source strings
    from_a = sa < len(ua)
    best = 0
    for r in range(1, n):
        if from_a[r] != from_a[r - 1] and lcp[r] > best:
            best = int(lcp[r])
    return best


@F.pandas_udf(IntegerType())
def lcsubstr_udf(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
    for a_s, b_s in it:
        yield pd.Series(
            [longest_common_substring_len(a or "", b or "") for a, b in zip(a_s, b_s)],
            dtype="int32",
        )


def verify_containment(pairs: DataFrame, docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Candidate pairs → 'substr' containment edges: longest exact common
    substring ≥ substr_min_len chars. sim = overlap / min(len) ∈ [0,1]."""
    texts = docs.select("doc_id", "norm_text", "n_chars")
    p = (
        pairs.join(
            texts.select(
                F.col("doc_id").alias("src"),
                F.col("norm_text").alias("t_a"),
                F.col("n_chars").alias("n_a"),
            ),
            "src",
        ).join(
            texts.select(
                F.col("doc_id").alias("dst"),
                F.col("norm_text").alias("t_b"),
                F.col("n_chars").alias("n_b"),
            ),
            "dst",
        )
    )
    return (
        p.withColumn("overlap", lcsubstr_udf(F.col("t_a"), F.col("t_b")))
        .filter(F.col("overlap") >= cfg.substr_min_len)
        .select(
            "src",
            "dst",
            F.lit(None).cast("double").alias("est_jacc"),
            (F.col("overlap") / F.least("n_a", "n_b")).cast("double").alias("sim"),
            F.lit("substr").alias("kind"),
        )
    )
