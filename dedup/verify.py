"""Pair verification (SURVEY.md §2 E1-E5).

The decider for 'near' edges is EXACT shingle-set Jaccard (E2), computed
with built-in array functions on re-joined shingle arrays — JVM-side,
no Python. MinHash-estimate (E1) is a cheap pure-SQL metric. The LCS
ratio (E3) is the reference-parity matcher (the reference's pairwise
string/LCS similarity, BASELINE.json:6), implemented as a vectorized
pandas UDF with an O(n·m) numpy DP — like the reference it is only ever
applied POST-blocking, to candidate pairs. Suffix-array containment
(E5) detects long exact substring overlaps between candidate texts.
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


def _est_agreement_arrow(
    withmh: DataFrame, num_perm: int, passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """(src, dst, mh_a, mh_b[, passthrough…]) → (src, dst, est_jacc[,
    passthrough…]) via one mapInArrow pass: the signature arrays are
    fixed-width ``num_perm``, so the whole batch reshapes to
    (n, num_perm) and the positional-agreement count is a single
    vectorized compare — replacing the per-element interpreted
    ``zip_with``/``aggregate`` lambdas, whose object churn dominated the
    stage's JVM CPU at high core counts (profiled: ~3x task-time
    inflation local[8] → local[32]). ``passthrough`` columns (e.g. a
    per-pair OPH floor) ride the batch unchanged."""
    import pyarrow as pa

    extra_schema = "".join(f", {c} double" for c in passthrough)

    def run(batches):
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue

            def mat(name):
                col = rb.column(rb.schema.get_field_index(name))
                off = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
                vals = col.values.to_numpy(zero_copy_only=False)
                return vals[off[0] : off[-1]].reshape(n, num_perm)

            agree = (mat("mh_a") == mat("mh_b")).sum(axis=1) / float(num_perm)
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(rb.schema.get_field_index("src")),
                    rb.column(rb.schema.get_field_index("dst")),
                    pa.array(agree),
                ]
                + [rb.column(rb.schema.get_field_index(c)) for c in passthrough],
                names=["src", "dst", "est_jacc", *passthrough],
            )

    return withmh.select("src", "dst", "mh_a", "mh_b", *passthrough).mapInArrow(
        run, schema="src long, dst long, est_jacc double" + extra_schema
    )


def _str_col_np(txt, n: int):
    """Arrow StringArray → (uint8 data-buffer view, int64[n+1] absolute
    byte offsets) — the zero-copy form ``hashing.hash_char_kgrams``
    consumes. Nulls are filled with '' first (empty doc ⇒ the pinned
    short-doc shingle rule applies)."""
    import pyarrow as pa

    if txt.null_count:
        txt = pa.compute.fill_null(txt, "")
    off_dtype = "<i8" if pa.types.is_large_string(txt.type) else "<i4"
    bufs = txt.buffers()
    offsets = np.frombuffer(bufs[1], dtype=off_dtype)[
        txt.offset : txt.offset + n + 1
    ].astype(np.int64)
    data = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.empty(0, dtype=np.uint8)
    )
    return data, offsets


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

    from dedup.hashing import hash_char_kgrams

    k = cfg.k

    def run(batches):
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            idx = rb.schema.get_field_index
            src = rb.column(idx("src")).to_numpy(zero_copy_only=False)
            dst = rb.column(idx("dst")).to_numpy(zero_copy_only=False)
            da, toa = _str_col_np(rb.column(idx("t_a")), n)
            db, tob = _str_col_np(rb.column(idx("t_b")), n)
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

#: below this many est-surviving pairs, the text-attach joins run
#: broadcast-side (ids + pair frame ≲ 100 MB driver-side) instead of
#: shuffling the docs text column; see verify_jaccard_lazy. Mirrors
#: components.SMALL_GRAPH_EDGES: a runtime-adaptive scale switch, not a
#: semantic knob (never changes which pairs verify).
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
    """Candidate pairs → verified 'near' edges, recomputing shingles only
    for docs that survive the MinHash-estimate pre-filter — from TEXT,
    inside the exact-Jaccard kernel.

    The scale rationale: shingle arrays (8 B per char window) are ~8×
    the utf-8 text they derive from, and the pair join duplicates its
    payload per pair — so the exact verifier joins the pruned docs'
    ``norm_text`` to the pairs and re-hashes both sides in the kernel
    (``_exact_jaccard_text_arrow``, bit-identical), moving megabytes
    where the array join moved gigabytes. The est-passing pair frame is
    localCheckpoint'ed — it is tiny and feeds three branches (endpoint
    extraction + both sides of the text join), which would otherwise
    re-run the candidate flood."""
    from dedup.pipeline import job_desc

    # prefix-prefilter: ship only the first est_prefilter_perms MinHash
    # positions through the pair join (the pipeline's biggest shuffle);
    # the floor adapts to the narrower estimator (see config). With the
    # byte-packed spill (4 scalar longs per doc) the whole filter is one
    # codegen'd expression; byte collisions only raise the estimate, so
    # the passed set is a superset of the exact-agreement one — recall
    # is untouched and exact Jaccard still decides every edge.
    p = min(cfg.est_prefilter_perms or cfg.num_perm, cfg.num_perm)
    if "est_jacc" in pairs.columns:
        # pipeline path: the stage-1 est filter already ran fused into
        # the candidate-join stage (est_filter_pairs). When the slim
        # signatures carry the full byte-packed width, run the tighter
        # stage-2 refinement on the distinct survivors before pinning —
        # its floor rejects most borderline pairs that would otherwise
        # ship text into the exact-verify kernel. ``pre_refined`` means
        # the candidate kernel already applied the full-width refine
        # in-kernel (fused_candidates_bcast full_est) — identical
        # semantics, so re-running it here would be two broadcast joins
        # for nothing.
        if pre_refined:
            est_frame = pairs
        elif len(_all_pre_cols(signatures)) > 4:
            est_frame = refine_est_pairs(
                pairs.drop("est_jacc"), signatures, cfg, broadcast_sigs=broadcast_sigs
            )
        else:
            est_frame = pairs
        floor = None
    elif all(c in signatures.columns for c in _PRE_COLS):
        p = min(p, 32)
        fa = signatures.select(
            F.col("doc_id").alias("src"),
            F.col("n_shingles").alias("n_a"),
            *[F.col(c).alias(f"a{i}") for i, c in enumerate(_PRE_COLS)],
        )
        fb = signatures.select(
            F.col("doc_id").alias("dst"),
            F.col("n_shingles").alias("n_b"),
            *[F.col(c).alias(f"b{i}") for i, c in enumerate(_PRE_COLS)],
        )
        floor = est_floor_expr(cfg, p, F.least("n_a", "n_b"))
        est_frame = (
            pairs.join(fa, "src")
            .join(fb, "dst")
            .select(
                "src", "dst", packed_agreement_expr(p).alias("est_jacc"),
                floor.alias("_floor"),
            )
        )
        floor = F.col("_floor")
    else:
        fa = signatures.select(
            F.col("doc_id").alias("src"),
            F.col("n_shingles").alias("n_a"),
            (F.col("minhash") if p == cfg.num_perm else F.slice("minhash", 1, p)).alias("mh_a"),
        )
        fb = signatures.select(
            F.col("doc_id").alias("dst"),
            F.col("n_shingles").alias("n_b"),
            (F.col("minhash") if p == cfg.num_perm else F.slice("minhash", 1, p)).alias("mh_b"),
        )
        floor = est_floor_expr(cfg, p, F.least("n_a", "n_b"))
        est_frame = _est_agreement_arrow(
            pairs.join(fa, "src").join(fb, "dst").withColumn("_floor", floor),
            p,
            passthrough=("_floor",),
        )
        floor = F.col("_floor")
    if floor is not None:
        est_frame = est_frame.filter(F.col("est_jacc") >= floor)
        if "_floor" in est_frame.columns:
            est_frame = est_frame.drop("_floor")
    with job_desc(pairs.sparkSession, "dedup: candidates + est-filter"):
        passed = est_frame.localCheckpoint(eager=True)
    # est-survivor verification ships TEXT, not shingle arrays: the
    # semi-join prunes docs to the surviving pair endpoints, the pair
    # join duplicates ~1 KB of utf-8 per side instead of ~8 KB of
    # int64 hashes, and the kernel re-hashes both sides in-place
    # (bit-identical kernel). The former est-survivor shingle spill
    # stage (compute + parquet round-trip + 8×-heavier pair shuffle)
    # disappears entirely — shuffle bytes were the pipeline's worst-
    # scaling cost (profiled 2-7× task-time inflation 8→32 cores),
    # while the extra per-side hash pass rides the near-linear-scaling
    # blocked numpy kernel.
    need = (
        passed.select(F.col("src").alias("doc_id"))
        .union(passed.select(F.col("dst").alias("doc_id")))
        .distinct()
    )
    # Runtime-adaptive join strategy (the count is ~free: `passed` is
    # checkpointed). Under AQE a shuffle join materializes EVERY map
    # side before the strategy can be demoted to broadcast — so the
    # plain semi-join shuffle-writes the full docs text column (306 MB
    # at 500k docs) even though the probe side is ~1 MB of ids, and the
    # pair joins re-shuffle the text again; profiled, that map write
    # was the worst 8→32-core inflater (scan+write task time 6×). When
    # the survivor frame is small — the common case after the two-stage
    # est filter — broadcasting the id set and the pair frame makes the
    # text scan a map-side filter: ZERO text bytes cross a shuffle
    # until the ~(pairs × 1 KB) second attach join. Above the
    # threshold (~100 MB broadcast) the shuffle plan is the right one
    # and AQE handles it — the 10^12-doc design path.
    if passed.count() <= BROADCAST_PAIRS_MAX:
        texts = docs.join(F.broadcast(need), "doc_id", "left_semi").select(
            "doc_id", "norm_text"
        )
        # BOTH sides attach map-side (pair frame broadcast into the text
        # scan), so the only exchange is the final (src, dst) equi-join
        # of two pair-sized halves carrying ONE text column each. The
        # former shape attached t_a map-side but then shuffled the whole
        # endpoint text frame against it for t_b — ~1.5× the bytes
        # through the pipeline's worst-scaling (DRAM-bound) exchange.
        a_side = texts.join(
            F.broadcast(passed), F.col("doc_id") == F.col("src")
        ).select("src", "dst", "est_jacc", F.col("norm_text").alias("t_a"))
        b_side = texts.join(
            F.broadcast(passed.select("src", "dst")),
            F.col("doc_id") == F.col("dst"),
        ).select("src", "dst", F.col("norm_text").alias("t_b"))
        withtext = a_side.join(b_side, ["src", "dst"])
    else:
        texts = docs.join(need, "doc_id", "left_semi").select("doc_id", "norm_text")
        withtext = join_pair_arrays(passed, texts, "norm_text", "t_a", "t_b")
    return (
        _exact_jaccard_text_arrow(withtext, cfg)
        .filter(F.col("sim") >= cfg.jaccard_thresh)
        .select(
            "src",
            "dst",
            "est_jacc",
            "sim",
            F.lit("near").alias("kind"),
        )
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
