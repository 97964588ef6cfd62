"""Signature stage: shingles → MinHash + SimHash (SURVEY.md §2 C1-C4).

Two forms, one semantics (parity in tests):

- **The pipeline's slim form** (``with_slim_signatures``): shingle
  hashing, MinHash, band keys and SimHash in ONE Arrow crossing over
  norm_text, emitting band keys and byte-packed MinHash low bytes
  instead of the full MinHash array. Both entry points sign with it.
- **The full-width JVM form** (``with_signatures(with_shingles(…))``),
  kept for the streaming path and the registry qkeys: shingle hashing
  stays JVM-side as a pure SQL higher-order expression
  (``transform(sequence(...), i -> xxhash64(substring(...)))``), the
  MinHash/SimHash numpy cores run in one ``mapInArrow`` crossing, and
  band keys are again pure SQL (slice + xxhash64 over the array).

Committed signature tables are ``repartitionByRange`` on (pre0, doc_id)
via ``range_partition_by_sig_prefix`` (BASELINE.json:6): range-clusters
similar docs and gives deterministic file clustering. It is a SINK-side
step — range partitioning samples its child, so doing it mid-pipeline
would evaluate the signature UDF twice.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedup.config import DedupConfig
from dedup.hashing import minhash_batch, oph_minhash_batch, perm_consts, simhash_batch


def _mh_matrix(flat, lengths, cfg: DedupConfig, consts, sorted_segments: bool):
    """Scheme dispatch for the batched signature kernels: "oph" does one
    first-occurrence pass (plus densify) over the shingle hashes,
    exploiting the ascending per-doc layout where the caller guarantees
    it; "perm" is the classic num_perm-pass splitmix family."""
    if cfg.minhash_scheme == "oph":
        return oph_minhash_batch(
            flat, lengths, cfg.num_perm, assume_sorted=sorted_segments
        )
    return minhash_batch(flat, lengths, consts)


def slim_sig_arrays(data, offsets, cfg: DedupConfig, consts):
    """(utf8 byte buffer, absolute int64 offsets) of n normalized texts →
    the slim signature numpy columns: ``pre`` (n, n_longs) int64
    byte-packed MinHash low bytes, ``band_hashes`` (n, bands) int64,
    ``simhash`` (n,) int64, ``n_shingles`` (n,) lengths — the per-batch
    core of ``with_slim_signatures``."""
    from dedup.hashing import band_hashes_batch, hash_char_kgrams

    flat_u64, lengths = hash_char_kgrams(data, offsets, cfg.k)
    flat = flat_u64.view(np.int64)
    mh = _mh_matrix(flat, lengths, cfg, consts, sorted_segments=True)
    bh = band_hashes_batch(mh, cfg.bands, cfg.rows_per_band).view(np.int64)
    simh = simhash_batch(flat, lengths)
    n_longs = max(4, -(-cfg.num_perm // 8))
    n = len(lengths)
    packed = np.zeros((n, n_longs * 8), dtype=np.uint8)
    packed[:, : cfg.num_perm] = (mh & np.uint64(0xFF)).astype(np.uint8)
    pre = packed.view("<u8").view(np.int64)  # (n, n_longs)
    return pre, bh, simh, lengths


def shingles_expr(text_col: str, k: int) -> F.Column:
    """Distinct hashed char k-grams of ``text_col`` as array<long>.
    Texts shorter than k yield the single shingle hash of the whole
    text (pinned rule, mirrored by the oracle)."""
    return F.expr(
        f"array_distinct(transform("
        f"  sequence(1, greatest(length({text_col}) - {k - 1}, 1)),"
        f"  i -> xxhash64(substring({text_col}, i, {k}))))"
    )


def with_shingles(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """docs(doc_id, norm_text, …) → shingles frame (schema.SHINGLES)."""
    return docs.select(
        "doc_id",
        shingles_expr("norm_text", cfg.k).alias("shingles"),
    ).withColumn("n_shingles", F.size("shingles"))


def word_shingles_expr(text_col: str | F.Column, w: int = 3) -> F.Column:
    """Distinct hashed word w-gram shingles as array<long> — the
    word-granularity alternative to the pinned char k-grams (SURVEY §2
    C1 "or word w-gram"). Tokens are whitespace splits with empties
    removed; a text with fewer than w tokens yields the single hash of
    the whole text (same short-doc rule shape as ``shingles_expr``).
    Pure SQL; the output array feeds ``with_signatures`` unchanged
    (MinHash is agnostic to what the 64-bit hashes shingle). The
    PIPELINE stays char-mode — its Arrow kernels, est floors, and
    oracles are pinned to char semantics (config.py).

    The gram construction is ``corpus.word_ngrams_expr`` — one shared
    builder, so this and the oracle-twinned hygiene ops cannot drift."""
    from dedup.corpus import word_ngrams_expr

    c = F.col(text_col) if isinstance(text_col, str) else text_col
    grams = word_ngrams_expr(c, w)
    return F.when(
        F.size(grams) > 0,
        F.array_distinct(F.transform(grams, lambda g: F.xxhash64(g))),
    ).otherwise(F.array(F.xxhash64(c)))


def with_signatures(shingles: DataFrame, cfg: DedupConfig) -> DataFrame:
    """shingles → signatures frame (schema.SIGNATURES).

    Implemented with ``mapInArrow`` (SURVEY §2 K3), not a pandas UDF:
    the shingle lists arrive as an Arrow ListArray whose flat value
    buffer + offsets feed ``hashing.minhash_batch`` directly (one numpy
    segment pass per batch), and the 128-wide minhash output goes back
    as a ListArray built from one flat buffer — neither direction ever
    creates a per-row Python object. Measured ~2× over the pandas-UDF
    form at 100k docs."""
    import pyarrow as pa

    num_perm, perm_seed = cfg.num_perm, cfg.perm_seed
    out_schema = pa.schema(
        [
            pa.field("doc_id", pa.int64(), False),
            pa.field("minhash", pa.list_(pa.int64()), False),
            pa.field("simhash", pa.int64(), False),
            pa.field("n_shingles", pa.int32(), False),
        ]
    )

    def run(batches):
        consts = perm_consts(num_perm, perm_seed)
        for rb in batches:
            col = rb.column(rb.schema.get_field_index("shingles"))
            off = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            values = col.values.to_numpy(zero_copy_only=False)
            flat = values[off[0] : off[-1]]
            lengths = np.diff(off)
            mh = _mh_matrix(flat, lengths, cfg, consts, sorted_segments=False).view(np.int64)
            simh = simhash_batch(flat, lengths)
            n = len(lengths)
            mh_list = pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n + 1) * num_perm, num_perm, dtype=np.int32)),
                pa.array(mh.reshape(-1)),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(rb.schema.get_field_index("doc_id")),
                    mh_list,
                    pa.array(simh),
                    rb.column(rb.schema.get_field_index("n_shingles")),
                ],
                schema=out_schema,
            )

    return shingles.select("doc_id", "shingles", "n_shingles").mapInArrow(
        run, schema="doc_id long, minhash array<long> , simhash long, n_shingles int"
    )


def with_slim_signatures(reps: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Fused PIPELINE signature stage: reps(doc_id, norm_text) →
    (doc_id, pre0..preN, band_hashes, simhash, n_shingles) in one
    mapInArrow pass — shingle k-gram hashing, MinHash, LSH band keys,
    SimHash, all numpy, one Arrow crossing. The only signature form the
    edge builder (pipeline.edges_from_signatures) takes.

    Shingle hashes come from ``hashing.hash_char_kgrams`` working on the
    Arrow string buffer, bit-identical to ``shingles_expr`` and ~30×
    cheaper than the JVM expression. The full num_perm-wide minhash
    array never leaves the Python worker. Downstream only needs (a) the
    band keys for LSH blocking — computed here via
    ``hashing.band_hashes_batch``, bit-identical to the JVM
    ``xxhash64(i, slice(...))`` fold — and (b) the low byte of each
    MinHash position for the two estimate filters (pairs are DECIDED by
    exact shingle Jaccard, so the rest is dead weight). Cuts the
    committed signature I/O and the pair-join shuffle ~2.5×/4× vs
    shipping full arrays. Parity with the full-width JVM path
    ``with_signatures(with_shingles(…))`` is asserted in tests."""
    import pyarrow as pa

    from dedup.hashing import str_buffers

    num_perm, perm_seed, b = cfg.num_perm, cfg.perm_seed, cfg.bands
    # byte-pack the low byte of EVERY MinHash position (not just the
    # stage-1 prefix): the first 4 longs carry the 32-perm inline
    # prefilter bytes exactly as before; the remaining longs feed the
    # full-width second-stage estimate (verify.refine_est_pairs), whose
    # tighter floor keeps the expensive text-verify join ~5-10× smaller.
    # Cost: +(num_perm-32) bytes per doc in the signature spill — tiny
    # against the text it prunes from the verify shuffle.
    n_longs = max(4, -(-num_perm // 8))
    out_schema = pa.schema(
        [pa.field("doc_id", pa.int64(), False)]
        + [pa.field(f"pre{i}", pa.int64(), False) for i in range(n_longs)]
        + [
            pa.field("band_hashes", pa.list_(pa.int64()), False),
            pa.field("simhash", pa.int64(), False),
            pa.field("n_shingles", pa.int32(), False),
        ]
    )

    def run(batches):
        consts = perm_consts(num_perm, perm_seed)
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            data, offsets = str_buffers(
                rb.column(rb.schema.get_field_index("norm_text"))
            )
            # byte-packed est bytes: low byte of each MinHash position,
            # packed little-endian into longs. The prefilters count equal
            # BYTES (pure-codegen zero-byte trick JVM-side) — a byte
            # collision only ever INFLATES the estimate, so every
            # byte-filtered set is a strict superset of the exact-
            # agreement one: zero recall cost, 8× fewer bytes than the
            # hash arrays, and no Arrow crossing for the candidate flood.
            pre, bh, simh, lengths = slim_sig_arrays(data, offsets, cfg, consts)

            bh_list = pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n + 1) * b, b, dtype=np.int32)),
                pa.array(np.ascontiguousarray(bh).reshape(-1)),
            )
            yield pa.RecordBatch.from_arrays(
                [rb.column(rb.schema.get_field_index("doc_id"))]
                + [pa.array(np.ascontiguousarray(pre[:, i])) for i in range(n_longs)]
                + [
                    bh_list,
                    pa.array(simh),
                    pa.array(lengths.astype(np.int32)),
                ],
                schema=out_schema,
            )

    pre_fields = ", ".join(f"pre{i} long" for i in range(n_longs))
    return reps.select("doc_id", "norm_text").mapInArrow(
        run,
        schema=(
            f"doc_id long, {pre_fields}, "
            "band_hashes array<long>, simhash long, n_shingles int"
        ),
    )


def range_partition_by_sig_prefix(sigs: DataFrame, n_partitions: int | None = None) -> DataFrame:
    """``repartitionByRange`` of a slim signature frame on (pre0, doc_id)
    — the BASELINE.json:6 signature-prefix range clustering (pre0 packs
    the low bytes of the first 8 MinHash positions). Applied at the SINK
    boundary (file clustering before a committed write), NOT
    mid-pipeline: range partitioning samples its child to pick bounds,
    which would evaluate the signature UDF twice if placed before the
    persist point."""
    if n_partitions is None:
        n_partitions = int(sigs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return sigs.repartitionByRange(n_partitions, F.col("pre0"), F.col("doc_id"))


def band_hashes_expr(cfg: DedupConfig) -> F.Column:
    """array<long>(bands): band_hash[i] = xxhash64(i, minhash slice i).
    Pure SQL over the minhash column."""
    b, r = cfg.bands, cfg.rows_per_band
    return F.expr(
        f"transform(sequence(0, {b - 1}), i -> xxhash64(i, slice(minhash, i*{r}+1, {r})))"
    )


def with_bands(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """signatures → bands frame (schema.BANDS): b rows per doc, band_hash
    = xxhash64(band_index, minhash slice). Pure SQL, exploded JVM-side.

    Accepts either a full signature frame (minhash column) or a slimmed
    pipeline spill that carries the precomputed ``band_hashes`` array —
    at scale the committed signature spill stores band hashes instead of
    the 8× larger minhash array, so the band explode decodes 128 B/doc,
    not 1 KB/doc."""
    arr = (
        F.col("band_hashes")
        if "band_hashes" in signatures.columns
        else band_hashes_expr(cfg)
    )
    return signatures.select(
        "doc_id",
        "n_shingles",
        F.posexplode(arr).alias("band", "band_hash"),
    ).select("doc_id", "band", "band_hash", "n_shingles")


def with_bands_pre(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Band explode that carries the stage-1 byte-packed MinHash longs
    (``pre0..pre3``) alongside each band row — the input of the fused
    numpy candidate kernel (candidates.lsh_candidates_arrow), which
    est-filters pairs inside the bucket scan and so needs the bytes
    co-shuffled with the bucket key. +32 B/row over with_bands.

    No ``band`` column: band_hash = xxhash64(band_index, slice) already
    folds the band index in, so bucket identity IS the hash — carrying
    the index through the pipeline's biggest exploded shuffle (b rows
    per doc) would be 8 dead bytes per row. A cross-band 64-bit
    collision (odds ~(b·n)²/2⁶⁴) merely merges two buckets, i.e. ADDS
    candidate pairs; candidates only ever become edges through exact
    Jaccard verification, so the final edge set is unchanged."""
    return signatures.select(
        "doc_id",
        "n_shingles",
        "pre0", "pre1", "pre2", "pre3",
        F.explode(F.col("band_hashes")).alias("band_hash"),
    )
