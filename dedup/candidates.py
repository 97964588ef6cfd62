"""Candidate generation: LSH band-bucket self-join + SimHash Hamming
blocks (SURVEY.md §2 D1/D4/E4), with hot-bucket accounting.

Scale notes: the self-equi-join on (band, band_hash) is a shuffled hash
/ sort-merge join on exactly the blocking key — Catalyst picks the
physical strategy, AQE splits skewed partitions at runtime. What AQE
canNOT fix is a single mega-key (one boilerplate bucket with 10^6
docs ⇒ 10^12 pairs); that is handled upstream by ``bucket_stats`` +
``cap_buckets`` (a recall-accounted cap, logged in metrics) and by the
salted variant in skew.py. The length-ratio conjunct (D4) is attached
to the same equi-join, so it stays hash/SMJ — never a nested-loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedup.config import DedupConfig


def _bucket_keys(bands: DataFrame) -> list[str]:
    """Bucket identity columns: (band, band_hash) for the SQL band frame,
    band_hash alone for the slim arrow path (the band index is folded
    into the hash — see signatures.with_bands_pre)."""
    return [c for c in ("band", "band_hash") if c in bands.columns]


def bucket_stats(bands: DataFrame) -> DataFrame:
    """Bucket sizes per bucket key — drives cap/salt decisions and the
    hot-bucket metrics."""
    return bands.groupBy(*_bucket_keys(bands)).agg(
        F.count("*").alias("bucket_size")
    )


def cap_buckets(bands: DataFrame, cap: int) -> tuple[DataFrame, DataFrame]:
    """Drop buckets larger than ``cap`` (0 = off). Returns (kept bands,
    dropped-bucket stats for metrics). Pair blowup is quadratic in
    bucket size; a cap is the documented, recall-accounted guard
    (SURVEY §4.2) — the recall gate runs with caps off."""
    if cap <= 0:
        return bands, bucket_stats(bands).filter(F.lit(False))
    keys = _bucket_keys(bands)
    stats = bucket_stats(bands)
    hot = stats.filter(F.col("bucket_size") > cap)
    kept = bands.join(F.broadcast(hot.select(*keys)), keys, "left_anti")
    return kept, hot


def length_ratio_conjunct(thresh: float) -> F.Column:
    """J(A,B) ≥ t ⇒ min(|A|,|B|) ≥ t·max(|A|,|B|): exact-safe pruning,
    attached as a non-equi conjunct to the equi-join (SURVEY §2 D4)."""
    return F.least("src_n", "dst_n") >= F.greatest("src_n", "dst_n") * F.lit(thresh)


def lsh_candidates(
    bands: DataFrame, cfg: DedupConfig, dedupe: bool = True
) -> DataFrame:
    """Self-equi-join of bands on (band, band_hash) → distinct candidate
    pairs (src < dst canonical), length-ratio pruned. ``dedupe=False``
    skips the pair-distinct shuffle — the pipeline est-filters the raw
    flood first (duplicates get identical estimates) and dedupes the
    survivors, which is orders of magnitude fewer rows."""
    a = bands.select(
        "band",
        "band_hash",
        F.col("doc_id").alias("src"),
        F.col("n_shingles").alias("src_n"),
    )
    b = bands.select(
        "band",
        "band_hash",
        F.col("doc_id").alias("dst"),
        F.col("n_shingles").alias("dst_n"),
    )
    pairs = (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("src") < F.col("dst"))
        .filter(length_ratio_conjunct(cfg.jaccard_thresh))
    ).select("src", "dst")
    return pairs.dropDuplicates(["src", "dst"]) if dedupe else pairs


def simhash_chunks(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """signatures → (doc_id, simhash, n_shingles, idx, val) pigeonhole
    chunk rows: the 64-bit simhash split into hamming_thresh+1 chunks —
    any pair within Hamming distance h agrees on at least one chunk.
    This is both the explode feeding ``simhash_candidates`` and the
    committed probe-side table layout for incremental simhash blocking
    (streaming J4: per-batch chunks append here; new chunks probe the
    committed table)."""
    n_chunks = cfg.hamming_thresh + 1
    width = cfg.simhash_bits // n_chunks
    chunks = F.expr(
        f"transform(sequence(0, {n_chunks - 1}),"
        f" i -> struct(i as idx, shiftright(simhash, i*{width}) & {(1 << width) - 1} as val))"
    )
    return signatures.select(
        "doc_id", "simhash", "n_shingles", F.explode(chunks).alias("c")
    ).select(
        "doc_id",
        "simhash",
        "n_shingles",
        F.col("c.idx").alias("idx"),
        F.col("c.val").alias("val"),
    )


def simhash_candidates(
    signatures: DataFrame, cfg: DedupConfig, dedupe: bool = True
) -> DataFrame:
    """SimHash Hamming-≤h candidates via pigeonhole chunk blocking:
    split the 64-bit simhash into (h+1) chunks — any pair within
    Hamming distance h agrees on at least one chunk — equi-join on
    (chunk_idx, chunk_val), then filter bit_count(xor) ≤ h. All pure
    SQL (SURVEY §2 E4).

    Scale caveat (why the pipeline uses ``simhash_candidates_arrow``):
    real-corpus simhashes are heavily CORRELATED (templated pages share
    token distributions), so 16-bit chunk buckets are far from uniform
    and the equi-join's within-bucket cross product explodes — profiled
    at 500k synthetic docs the join probe burned >120 core-seconds to
    keep ~20k pairs. The numpy kernel evaluates the same within-bucket
    pair space at vectorized speed; this SQL form remains the
    oracle-twin surface (qkey ``hamming_simhash``) and the semantics
    reference for the parity test."""
    ex = simhash_chunks(signatures, cfg)
    a = ex.select(
        "idx", "val", F.col("doc_id").alias("src"),
        F.col("simhash").alias("sim_a"), F.col("n_shingles").alias("src_n"),
    )
    b = ex.select(
        "idx", "val", F.col("doc_id").alias("dst"),
        F.col("simhash").alias("sim_b"), F.col("n_shingles").alias("dst_n"),
    )
    out = (
        a.join(b, ["idx", "val"])
        .filter(F.col("src") < F.col("dst"))
        # exact-safe length-ratio prune (D4): these candidates only feed
        # the J ≥ thresh verifier, and J ≥ t bounds the size ratio — it
        # caps the quadratic chunk-collision ball around boilerplate
        .filter(length_ratio_conjunct(cfg.jaccard_thresh))
        .filter(F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))) <= cfg.hamming_thresh)
        .select("src", "dst")
    )
    return out.dropDuplicates(["src", "dst"]) if dedupe else out


def lsh_candidates_probe(
    new_bands: DataFrame, all_bands: DataFrame, cfg: DedupConfig,
    broadcast_probe: bool = True,
) -> DataFrame:
    """Candidate pairs that TOUCH the probe side only: ``new_bands`` ×
    ``all_bands`` equi-join on the bucket key — the incremental (J4)
    counterpart of the self-join generators. An old×old pair is never
    formed (it was emitted when its younger doc was new), so per-batch
    pair volume scales with the batch, not the corpus. A new×new pair
    arrives in both orientations; the canonical (least, greatest)
    projection makes them equal rows and the caller's pair-distinct
    collapses them.

    ``broadcast_probe`` hint-broadcasts the batch-sized probe side so
    the committed bands table never crosses an exchange — the per-batch
    SHUFFLE volume is ∝ batch while the committed side is a columnar
    map-side scan (at real scale: a bands table bucketed by band_hash
    turns that scan into a pruned co-located probe; AQE alone can't —
    it materializes every shuffle-join map side before demoting,
    CLAUDE.md)."""
    keys = _bucket_keys(all_bands)
    a = new_bands.select(
        *keys, F.col("doc_id").alias("src"), F.col("n_shingles").alias("src_n")
    )
    if broadcast_probe:
        a = F.broadcast(a)
    b = all_bands.select(
        *keys, F.col("doc_id").alias("dst"), F.col("n_shingles").alias("dst_n")
    )
    return (
        a.join(b, keys)
        .filter(F.col("src") != F.col("dst"))
        .filter(length_ratio_conjunct(cfg.jaccard_thresh))
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
    )


def simhash_candidates_probe(
    new_chunks: DataFrame, all_chunks: DataFrame, cfg: DedupConfig,
    broadcast_probe: bool = True,
) -> DataFrame:
    """Incremental twin of ``simhash_candidates``: new chunk rows probe
    the committed chunk table (``simhash_chunks`` layout) — same
    pairs-touching-new semantics, broadcast hint, and canonicalization
    rationale as ``lsh_candidates_probe``."""
    a = new_chunks.select(
        "idx", "val", F.col("doc_id").alias("src"),
        F.col("simhash").alias("sim_a"), F.col("n_shingles").alias("src_n"),
    )
    if broadcast_probe:
        a = F.broadcast(a)
    b = all_chunks.select(
        "idx", "val", F.col("doc_id").alias("dst"),
        F.col("simhash").alias("sim_b"), F.col("n_shingles").alias("dst_n"),
    )
    return (
        a.join(b, ["idx", "val"])
        .filter(F.col("src") != F.col("dst"))
        .filter(length_ratio_conjunct(cfg.jaccard_thresh))
        .filter(
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
            <= cfg.hamming_thresh
        )
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
    )


def simhash_candidates_arrow(
    signatures: DataFrame, cfg: DedupConfig, dedupe: bool = True
) -> DataFrame:
    """Pair-set-identical to ``simhash_candidates`` (asserted by
    tests/test_edge_tiers.py), built for skewed chunk buckets: explode
    to (chunk_idx, chunk_val) rows JVM-side, shuffle ONCE on the chunk
    key, then scan each sorted partition in numpy — equal-key runs are
    evaluated as blocked xor/popcount matrix slices (~1 ns/pair) instead
    of join-probe row emissions (~100 ns/pair). A run never spans
    partitions (hash partitioning on the full key), so the scan is
    exact."""
    n_chunks = cfg.hamming_thresh + 1
    width = cfg.simhash_bits // n_chunks
    h = cfg.hamming_thresh
    ratio = cfg.jaccard_thresh
    # one composite key per chunk row: (idx << width) | val — an exact
    # bijection with (idx, val) since val < 2^width, so bucket identity
    # is unchanged but the shuffle ships/sorts one long instead of two
    chunk_keys = F.expr(
        f"transform(sequence(0, {n_chunks - 1}),"
        f" i -> shiftleft(cast(i as bigint), {width})"
        f"      | (shiftright(simhash, i*{width}) & {(1 << width) - 1}))"
    )
    ex = signatures.select(
        "doc_id", "simhash", "n_shingles", F.explode(chunk_keys).alias("ck")
    )
    # hash-partition only — NO JVM sortWithinPartitions: the row-pointer
    # external sort is DRAM-latency-bound and its CPU time inflated ~3.5×
    # going 4→16 local cores on identical input (profiled); the kernel
    # groups its partition with one cache-friendly numpy argsort instead
    part = ex.repartition("ck")

    def run(batches):
        import numpy as np
        import pyarrow as pa

        from dedup.hashing import popcount64

        tables = [pa.Table.from_batches([b]) for b in batches]
        out_schema = pa.schema(
            [pa.field("src", pa.int64(), False), pa.field("dst", pa.int64(), False)]
        )
        if not tables:
            return
        t = pa.concat_tables(tables).combine_chunks()
        ck = t.column("ck").to_numpy(zero_copy_only=False).astype(np.int64)
        doc = t.column("doc_id").to_numpy(zero_copy_only=False).astype(np.int64)
        sim = (
            t.column("simhash").to_numpy(zero_copy_only=False).astype(np.int64)
        ).view(np.uint64)
        nsh = t.column("n_shingles").to_numpy(zero_copy_only=False).astype(np.int64)
        n = len(doc)
        if n == 0:
            yield pa.RecordBatch.from_arrays(
                [pa.array([], type=pa.int64())] * 2, schema=out_schema
            )
            return
        # group equal keys in-kernel (rows arrive hash-partitioned but
        # unordered); pair enumeration is order-insensitive within a
        # bucket, so any sort kind yields the identical pair set
        order_k = np.argsort(ck)
        ck, doc, sim, nsh = ck[order_k], doc[order_k], sim[order_k], nsh[order_k]
        # vectorized within-bucket pair enumeration: the former per-row
        # python loop cost ~40 µs/row on correlated buckets — 13× the
        # LSH kernel's per-row cost — because every row paid python
        # dispatch for a few-element numpy slice
        srcs, dsts = [], []
        for ia, ib in _pair_blocks(ck):
            x = sim[ia] ^ sim[ib]
            lo = np.minimum(nsh[ia], nsh[ib])
            hi = np.maximum(nsh[ia], nsh[ib])
            keep = (popcount64(x) <= h) & (lo >= hi * ratio)
            if keep.any():
                ia, ib = ia[keep], ib[keep]
                srcs.append(np.minimum(doc[ia], doc[ib]))
                dsts.append(np.maximum(doc[ia], doc[ib]))
        if srcs:
            src = np.concatenate(srcs)
            dst = np.concatenate(dsts)
        else:
            src = dst = np.array([], dtype=np.int64)
        yield pa.RecordBatch.from_arrays(
            [pa.array(src), pa.array(dst)], schema=out_schema
        )

    out = part.mapInArrow(run, schema="src long, dst long")
    return out.dropDuplicates(["src", "dst"]) if dedupe else out


def _pair_blocks(key):
    """Yield (ia, ib) index-array blocks enumerating every within-bucket
    pair of rows grouped by ``key`` (equal keys contiguous) exactly once
    as (row, row+d): row i pairs with i+d iff d < rem[i]. Rows sorted by
    rem give a shrinking suffix per distance — total index work = Σ
    pairs, with max-bucket-size python iterations (bounded, vectorized).
    Shared by every candidate kernel so the enumeration exists once."""
    import numpy as np

    n = len(key)
    starts = np.flatnonzero(np.diff(key, prepend=key[0] - 1))
    sizes = np.diff(np.append(starts, n))
    pos = np.arange(n, dtype=np.int64) - np.repeat(starts, sizes)
    rem = np.repeat(sizes, sizes) - pos  # rows below me in my bucket, +1
    order = np.argsort(rem, kind="stable")
    rem_sorted = rem[order]
    d = 1
    while True:
        k = n - np.searchsorted(rem_sorted, d, side="right")
        if k == 0:
            return
        ia = order[n - k :]
        yield ia, ia + d
        d += 1


#: hard bytes budget for one materialized candidate-kernel sideband —
#: every Python worker process holds one unpickled copy, so the
#: worker-fleet footprint is ~n_workers × this. 256 MiB keeps 32 local
#: workers under ~8 GiB; the shuffle-path twins are the design path
#: beyond it.
BROADCAST_SIDEBAND_MAX_BYTES = 256 << 20


def estimate_sideband_bytes(n_docs: int, cfg: DedupConfig) -> int:
    """Estimated bytes of the ``sig_lookup_arrays`` broadcast: ids +
    nsh + simhash (24 B) + the full packed MinHash low bytes (num_perm,
    shipped for the in-kernel stage-2 refine) + the band-hash matrix
    (8·bands), the presorted LSH entry order (4·bands) and the simhash
    chunk order (4·(hamming_thresh+1)). Gating on BYTES rather than a
    doc count keeps the worker-side materialized copy bounded when a
    config widens the sideband (round-2 advice: the 1M-doc gate alone
    allowed ~380 MB per Python worker)."""
    per_doc = 24 + cfg.num_perm + 12 * cfg.bands + 4 * (cfg.hamming_thresh + 1)
    return n_docs * per_doc


def sig_lookup_arrays(
    signatures: DataFrame,
    cfg: DedupConfig,
    parquet_dir: str | None = None,
) -> dict:
    """Driver-side collect of the slim signature frame into the numpy
    sideband ``fused_candidates_bcast`` broadcasts: ids, n_shingles,
    simhash, the byte-packed MinHash low bytes, the LSH band-hash matrix
    (8·bands B/doc) and the presorted LSH / simhash-chunk entry orders.
    Every array stays in FILE order — the kernel indexes rows
    positionally and never searches ids. Beyond the broadcast gate the
    shuffle-path kernels carry the metadata through the exchange
    instead (the 10^12-doc design path — no driver collect at scale)."""
    import numpy as np

    import re as _re

    pres = sorted(
        (c for c in signatures.columns if _re.fullmatch(r"pre\d+", c)),
        key=lambda c: int(c[3:]),
    )
    cols = ["doc_id", "n_shingles", "simhash", *pres, "band_hashes"]
    if parquet_dir is not None:
        # Fast path when the frame is a pipeline spill: read the parquet
        # files natively (multi-threaded Arrow reader, tmpfs-resident) —
        # the ``toArrow`` route costs a full extra Spark job over the
        # spill plus a JVM→driver Arrow serialization hop.
        import pyarrow.dataset as ds

        tbl = ds.dataset(parquet_dir, format="parquet").to_table(columns=cols)
    else:
        tbl = signatures.select(*cols).toArrow()

    def col(name, dtype):
        return tbl.column(name).to_numpy(zero_copy_only=False).astype(dtype)

    # The build is on the pipeline's critical path (every executor idles
    # while the driver assembles the sideband — profiled 4.2 s of the
    # 24.5 s warm wall at 500k/local[32]), and its heavy pieces — the
    # pre-matrix stack, the 8M-entry band-key argsort, the simhash
    # chunk-key argsort — are independent numpy calls that release the
    # GIL. Run them in a small thread pool.
    from concurrent.futures import ThreadPoolExecutor

    ids = col("doc_id", np.int64)
    out = {"ids": ids}

    def build_pre():
        pre = np.column_stack([col(c, np.int64) for c in pres])
        return np.ascontiguousarray(pre).view(np.uint8)

    def build_bands():
        bh_col = tbl.column("band_hashes")
        if hasattr(bh_col, "num_chunks"):  # ChunkedArray → one Array
            bh_col = bh_col.combine_chunks()
        ch = bh_col.chunk(0) if hasattr(bh_col, "num_chunks") else bh_col
        offs = ch.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        vals = ch.values.to_numpy(zero_copy_only=False).astype(np.int64)
        b = int(offs[1] - offs[0]) if len(offs) > 1 else 0
        bands = np.ascontiguousarray(vals[offs[0] :].reshape(len(ids), b))
        # Presorted sideband: entries of each key space globally
        # argsorted ONCE here — a kernel task gathers only its
        # contiguous 1/P of the entry space (snapping its own range ends
        # to bucket boundaries in-kernel) and its keys arrive already
        # sorted. The earlier per-task design (mix + full-space
        # selection scan per task) made task-time grow with the task
        # COUNT — total candidate task-seconds inflated 4.5× going 8→32
        # cores on identical work.
        return bands, np.argsort(bands.reshape(-1)).astype(np.uint32)

    def build_sim_order(sim):
        n_chunks = cfg.hamming_thresh + 1
        width = cfg.simhash_bits // n_chunks
        ck_flat = simhash_chunk_keys(sim, n_chunks, width).reshape(-1)
        return np.argsort(ck_flat).astype(np.uint32)

    with ThreadPoolExecutor(max_workers=3) as pool:
        fut_pre = pool.submit(build_pre)
        fut_bands = pool.submit(build_bands)
        out["nsh"] = col("n_shingles", np.int64)
        out["sim"] = col("simhash", np.int64)
        fut_sim = pool.submit(build_sim_order, out["sim"])
        pre_bytes = fut_pre.result()
        out["bands"], out["order_lsh"] = fut_bands.result()
        out["order_sim"] = fut_sim.result()

    if pre_bytes.shape[1] > 32:
        # full byte-packed MinHash width — lets the bcast kernel run the
        # stage-2 refine (verify.refine_est_pairs twin) in-kernel; the
        # stage-1 32-byte prefix is its leading columns (see _pre32), so
        # shipping a separate "pre" copy would only grow the broadcast
        out["pre_full"] = pre_bytes
    else:
        # (n, 32) little-endian low bytes (stage-1 prefix), row-aligned
        out["pre"] = pre_bytes
    return out


def _pre32(lk: dict):
    """Stage-1 32-byte MinHash prefix of a lookup dict — the leading
    columns of the full-width matrix when that is what shipped (the
    broadcast never carries both copies)."""
    return lk["pre"] if "pre" in lk else lk["pre_full"][:, :32]


def simhash_chunk_keys(sim: "np.ndarray", n_chunks: int, width: int):
    """(n,) int64 simhashes → (n, n_chunks) int64 chunk bucket keys,
    bit-identical to the SQL ``(i << width) | (shiftright(simhash,
    i*width) & mask)`` explode (the arithmetic-vs-logical shift
    difference dies under the mask)."""
    import numpy as np

    u = sim.view(np.uint64)
    mask = np.uint64((1 << width) - 1)
    cols = [
        ((i << width) | ((u >> np.uint64(i * width)) & mask).astype(np.int64))
        for i in range(n_chunks)
    ]
    return np.column_stack(cols)


def fused_candidates_bcast(
    spark,
    lookup_bc,
    cfg: DedupConfig,
    cap: int = 0,
    n_parts: int | None = None,
    full_est: bool = False,
) -> DataFrame:
    """Exchange-free LSH band buckets AND simhash chunk buckets in one
    kernel over a ``sig_lookup_arrays`` broadcast: the same distinct
    (pair, est) set as ``est_filter_pairs(lsh_candidates(cap_buckets(
    with_bands(…))) ∪ simhash_candidates(…))`` (tests/test_edge_tiers.py),
    but the band/chunk explode rows never exist as JVM rows at all.

    In the broadcast regime every task already holds ALL per-doc
    metadata; shipping 9M (bucket_key, doc_id) rows through an exchange
    (explode + row serialization + partition-id sort + Arrow crossing —
    measured ~90 task-s at 500k docs, and the pipeline's worst
    8→32-core inflater) only re-delivers information the broadcast has.
    Instead ``spark.range(n_parts)`` launches one task per bucket-space
    slice; each task takes its contiguous 1/n_parts of each presorted
    key space (LSH band hashes tagged 0, simhash chunk keys tagged 1),
    snapped to bucket boundaries so a bucket always lands whole — bucket
    identity and the cap semantics (``cap`` drops oversized LSH buckets
    only, as ``cap_buckets`` does) are exactly those of the exchange
    path — and runs the shared distance-block enumeration with the D4 /
    hamming / stage-1 est filters. Owner rows are direct indices into
    the broadcast arrays (no searchsorted).

    At-scale story unchanged: above BROADCAST_SIGS_MAX the shuffle-path
    twins are the design path; this kernel is the small/medium-corpus
    fast path behind the same gate."""
    from dedup.verify import est_floor_per_doc

    n_chunks = cfg.hamming_thresh + 1
    width = cfg.simhash_bits // n_chunks
    h = cfg.hamming_thresh
    ratio = cfg.jaccard_thresh
    p = min(cfg.est_prefilter_perms or cfg.num_perm, cfg.num_perm, 32)
    # full_est: also run the stage-2 refine in-kernel (twin of
    # verify.refine_est_pairs): re-estimate stage-1 survivors over the
    # FULL byte-packed width against its tighter floor, so the JVM side
    # sees only final refined pairs — the 1M-row survivor distinct, the
    # two refine broadcast joins and their checkpoint disappear. The
    # per-duplicate filter decision is identical for identical byte
    # rows, so refine-then-distinct == distinct-then-refine.
    p_full = min(cfg.num_perm, 8 * ((cfg.num_perm + 7) // 8))
    if n_parts is None:
        # 4 tasks per core: per-slice pair work is quadratic in bucket
        # sizes, so equal slice WIDTH is not equal WORK — at exactly one
        # task per core the straggler slice capped stage parallelism at
        # ~8 effective cores of 32 (profiled 500k: 5.8 s wall / 48
        # task-s). Finer slices let the scheduler rebalance; per-task
        # fixed cost is just a broadcast handle + two searchsorted.
        n_parts = 4 * max(int(spark.sparkContext.defaultParallelism), 1)

    def run(batches):
        import numpy as np
        import pyarrow as pa

        from dedup.hashing import popcount64

        out_schema = pa.schema(
            [
                pa.field("src", pa.int64(), False),
                pa.field("dst", pa.int64(), False),
                pa.field("est_jacc", pa.float64(), False),
            ]
        )

        parts = []
        for rb in batches:
            parts.append(rb.column(0).to_numpy(zero_copy_only=False))
        my_parts = np.concatenate(parts).astype(np.int64) if parts else []
        if len(my_parts) == 0:
            return
        lk = lookup_bc.value
        bands = lk["bands"]  # (n, b) int64 — key space tag 0
        nsh_all = lk["nsh"]
        doc_all = lk["ids"]
        pre_all = _pre32(lk)
        sim_all = lk["sim"].view(np.uint64)
        pf_all = lk.get("pre_full") if full_est else None
        if full_est and pf_all is None:
            raise ValueError("full_est needs the pre_full lookup sideband")
        n_bytes_full = pf_all.shape[1] if pf_all is not None else 0
        b = bands.shape[1]
        fl_all = est_floor_per_doc(cfg, p, nsh_all)
        flf_all = (
            est_floor_per_doc(cfg, p_full, nsh_all) if pf_all is not None else None
        )
        key_lsh = bands.reshape(-1)  # view, no copy

        def scan(k_s, o_s, t_s, srcs, dsts, ests):
            """Grouped-key pair scan over one sorted slice: segment, cap
            (LSH segments only), distance-block enumerate, D4 + hamming
            + stage-1 est (+ in-kernel refine) filters."""
            m = len(k_s)
            if m == 0:
                return
            change = np.empty(m, dtype=bool)
            change[0] = True
            change[1:] = (k_s[1:] != k_s[:-1]) | (t_s[1:] != t_s[:-1])
            seg_key = np.cumsum(change) - 1
            if cap > 0:
                starts = np.flatnonzero(change)
                sizes = np.diff(np.append(starts, m))
                seg_tag = t_s[starts]
                keep_rows = np.repeat((sizes <= cap) | (seg_tag == 1), sizes)
                if not keep_rows.all():
                    k_s, o_s, t_s, seg_key = (
                        k_s[keep_rows],
                        o_s[keep_rows],
                        t_s[keep_rows],
                        seg_key[keep_rows],
                    )
                    if len(k_s) == 0:
                        return
            nsh = nsh_all[o_s]
            fl = fl_all[o_s]
            flf = flf_all[o_s] if flf_all is not None else None
            sim = sim_all[o_s]
            pre = pre_all[o_s]
            doc = doc_all[o_s]
            for ia, ib in _pair_blocks(seg_key):
                lo = np.minimum(nsh[ia], nsh[ib])
                hi = np.maximum(nsh[ia], nsh[ib])
                keep = lo >= hi * ratio  # D4 length-ratio prune
                is_sh = t_s[ia] == 1  # pair sides share a segment ⇒ a tag
                if is_sh.any():
                    keep &= ~is_sh | (popcount64(sim[ia] ^ sim[ib]) <= h)
                if keep.any():
                    ia, ib = ia[keep], ib[keep]
                    eq = (pre[ia] == pre[ib]).sum(axis=1, dtype=np.int64)
                    est = (eq - (32 - p)) / float(p)
                    keep2 = est >= np.minimum(fl[ia], fl[ib])
                    if not keep2.any():
                        continue
                    ia, ib, est = ia[keep2], ib[keep2], est[keep2]
                    if pf_all is not None:
                        # in-kernel stage-2 refine: full-width byte
                        # estimate over the stage-1 survivors only
                        # (gathered per survivor — never a slice-wide
                        # copy of the 128-byte matrix)
                        ga, gb = o_s[ia], o_s[ib]
                        eqf = (pf_all[ga] == pf_all[gb]).sum(
                            axis=1, dtype=np.int64
                        )
                        estf = (eqf - (n_bytes_full - p_full)) / float(p_full)
                        keep3 = estf >= np.minimum(flf[ia], flf[ib])
                        if not keep3.any():
                            continue
                        ia, ib, est = ia[keep3], ib[keep3], estf[keep3]
                    srcs.append(np.minimum(doc[ia], doc[ib]))
                    dsts.append(np.maximum(doc[ia], doc[ib]))
                    ests.append(est)

        def flush(srcs, dsts, ests):
            if not srcs:
                return None
            return pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(srcs)),
                    pa.array(np.concatenate(dsts)),
                    pa.array(np.concatenate(ests)),
                ],
                schema=out_schema,
            )

        P = int(n_parts)
        # presorted sideband: entries argsorted by key driver-side — a
        # task gathers ONLY its contiguous 1/P of each key space (keys
        # arrive sorted; no per-task full-space scan, whose cost grew
        # with the task count and inflated candidate task-seconds 4.5×
        # at 8→32). Range ends snap to bucket boundaries IN-KERNEL (scan
        # forward past the run of equal keys): adjacent tasks compute
        # identical boundaries, so no bucket splits and no pair is
        # emitted twice — and the driver never materializes the sorted
        # 8M-key copy just to precompute bounds (was ~1.4 s of serial
        # build time).
        order_l = lk["order_lsh"]
        order_s = lk["order_sim"]
        mask = np.uint64((1 << width) - 1)

        def key_lsh_at(entries):
            return key_lsh[entries.astype(np.int64)]

        def key_sim_at(entries):
            e = entries.astype(np.int64)
            own = e // n_chunks
            ci = (e % n_chunks).astype(np.uint64)
            return (ci.astype(np.int64) << width) | (
                (sim_all[own] >> (ci * np.uint64(width))) & mask
            ).astype(np.int64)

        def snap(raw, order_arr, keyfn, m):
            """Smallest bucket boundary >= raw (a run of equal keys
            never splits; adjacent tasks agree by construction)."""
            if raw <= 0 or raw >= m:
                return min(max(raw, 0), m)
            k0 = keyfn(order_arr[raw - 1 : raw])[0]
            if keyfn(order_arr[raw : raw + 1])[0] != k0:
                return raw
            i = raw
            while i < m:
                j = min(m, i + 4096)
                ks = keyfn(order_arr[i:j])
                nz = np.flatnonzero(ks != k0)
                if len(nz):
                    return i + int(nz[0])
                i = j
            return m

        m_l, m_s = len(order_l), len(order_s)
        for pid in my_parts:
            srcs, dsts, ests = [], [], []
            s0 = snap((m_l * int(pid)) // P, order_l, key_lsh_at, m_l)
            s1 = snap((m_l * (int(pid) + 1)) // P, order_l, key_lsh_at, m_l)
            idx = order_l[s0:s1].astype(np.int64)
            scan(
                key_lsh[idx],
                idx // b,
                np.zeros(len(idx), dtype=np.int8),
                srcs,
                dsts,
                ests,
            )
            u0 = snap((m_s * int(pid)) // P, order_s, key_sim_at, m_s)
            u1 = snap((m_s * (int(pid) + 1)) // P, order_s, key_sim_at, m_s)
            idx = order_s[u0:u1].astype(np.int64)
            scan(
                key_sim_at(idx),
                idx // n_chunks,
                np.ones(len(idx), dtype=np.int8),
                srcs,
                dsts,
                ests,
            )
            rb = flush(srcs, dsts, ests)
            if rb is not None:
                yield rb

    return spark.range(0, n_parts, 1, numPartitions=n_parts).mapInArrow(
        run, schema="src long, dst long, est_jacc double"
    )


def lsh_candidates_arrow(bands_pre: DataFrame, cfg: DedupConfig) -> DataFrame:
    """LSH bucket pairing with the stage-1 estimate filter fused into a
    numpy bucket scan — pair-and-est identical to
    ``est_filter_pairs(lsh_candidates(bands, cfg, dedupe=False), sigs,
    cfg)`` (parity test in tests/test_edge_tiers.py) but ~10× cheaper:
    the 40M-pair flood at 500k docs never exists as JVM join-probe rows
    (~100 ns each, and the worst 8→32-core CPU inflater); it is
    enumerated as index arrays and killed by vectorized byte compares
    (~1 ns/pair) inside the task that owns the bucket.

    Input is ``signatures.with_bands_pre`` (band rows carrying the
    byte-packed MinHash longs). ONE shuffle on (band, band_hash) — hash
    partitioning keeps every bucket whole; partition count follows
    spark.sql.shuffle.partitions, so at scale partitions stay bounded
    by raising that, and a mega-bucket is still enumerated
    distance-blocked (never a materialized m×m matrix). Output pairs
    are canonical (src < dst), length-ratio pruned (D4), est ≥ the
    adaptive floor, NOT pair-distinct (duplicates across bands carry
    identical estimates; the pipeline dedupes survivors)."""
    from dedup.verify import est_floor_per_doc

    p = min(cfg.est_prefilter_perms or cfg.num_perm, cfg.num_perm, 32)
    ratio = cfg.jaccard_thresh
    pres = [c for c in ("pre0", "pre1", "pre2", "pre3") if c in bands_pre.columns]
    if len(pres) != 4:
        raise ValueError("lsh_candidates_arrow needs pre0..pre3 (slim signatures)")
    # bucket identity is band_hash alone (band index folded into the
    # hash — signatures.with_bands_pre). Hash-partition only — NO JVM
    # sortWithinPartitions: the row-pointer external sort over the 8M-row
    # explode is DRAM-latency-bound and its CPU time inflated ~3.5× going
    # 4→16 local cores on identical input (profiled); the kernel groups
    # its partition with one cache-friendly numpy argsort instead
    part = bands_pre.repartition("band_hash")

    def run(batches):
        import numpy as np
        import pyarrow as pa

        out_schema = pa.schema(
            [
                pa.field("src", pa.int64(), False),
                pa.field("dst", pa.int64(), False),
                pa.field("est_jacc", pa.float64(), False),
            ]
        )

        def empty():
            return pa.RecordBatch.from_arrays(
                [
                    pa.array([], type=pa.int64()),
                    pa.array([], type=pa.int64()),
                    pa.array([], type=pa.float64()),
                ],
                schema=out_schema,
            )

        tables = [pa.Table.from_batches([b]) for b in batches]
        if not tables:
            return
        t = pa.concat_tables(tables).combine_chunks()
        n = t.num_rows
        if n == 0:
            yield empty()
            return
        bh = t.column("band_hash").to_numpy(zero_copy_only=False).astype(np.int64)
        doc = t.column("doc_id").to_numpy(zero_copy_only=False).astype(np.int64)
        nsh = t.column("n_shingles").to_numpy(zero_copy_only=False).astype(np.int64)
        pre = np.column_stack(
            [t.column(c).to_numpy(zero_copy_only=False).astype(np.int64) for c in pres]
        ).view(np.uint8)  # (n, 32) little-endian low bytes
        # group equal keys in-kernel (rows arrive hash-partitioned but
        # unordered); pair enumeration is order-insensitive within a
        # bucket, so any sort kind yields the identical pair set
        order_k = np.argsort(bh)
        bh, doc, nsh, pre = bh[order_k], doc[order_k], nsh[order_k], pre[order_k]
        fl = est_floor_per_doc(cfg, p, nsh)
        srcs, dsts, ests = [], [], []
        for ia, ib in _pair_blocks(bh):
            lo = np.minimum(nsh[ia], nsh[ib])
            hi = np.maximum(nsh[ia], nsh[ib])
            keep = lo >= hi * ratio  # D4 length-ratio prune (exact-safe)
            if keep.any():
                ia, ib = ia[keep], ib[keep]
                eq = (pre[ia] == pre[ib]).sum(axis=1, dtype=np.int64)
                est = (eq - (32 - p)) / float(p)
                keep2 = est >= np.minimum(fl[ia], fl[ib])
                if keep2.any():
                    ia, ib, est = ia[keep2], ib[keep2], est[keep2]
                    srcs.append(np.minimum(doc[ia], doc[ib]))
                    dsts.append(np.maximum(doc[ia], doc[ib]))
                    ests.append(est)
        if not srcs:
            yield empty()
            return
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.concatenate(srcs)),
                pa.array(np.concatenate(dsts)),
                pa.array(np.concatenate(ests)),
            ],
            schema=out_schema,
        )

    return part.mapInArrow(run, schema="src long, dst long, est_jacc double")
