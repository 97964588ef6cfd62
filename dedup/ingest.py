"""Ingest stage: pages → docs (SURVEY.md §2 A1/B1-B5/D7/F1).

Scale notes (the 100 TB design, SURVEY §4): everything here is pure
Column expressions — whole-stage codegen, no Python. ``doc_id =
xxhash64(url)`` is partition-independent (never
``monotonically_increasing_id``), so ids are stable across runs,
parallelism levels, and resumes. Exact-duplicate groups are collapsed
to one representative BEFORE signature computation: at web scale a
large fraction of pages are byte-identical after normalization, and
signing only representatives removes that entire fraction from the
(far more expensive) MinHash + LSH stages; the group members rejoin
via 'exact' edges.
"""

from __future__ import annotations

import numpy as _np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dedup.config import DedupConfig
from dedup.text import extract_text_udf, normalize_text

#: ASCII whitespace bytes other than space — presence anywhere in a
#: batch rules out the ingest kernel's identity-normalization fast path
_WS_NONSPACE = _np.frombuffer(b"\t\n\r\f\x0b", dtype=_np.uint8)


def read_pages_jdbc(
    spark,
    jdbc_url: str,
    table: str,
    partition_column: str = "id",
    num_partitions: int = 64,
    lower_bound: int = 0,
    upper_bound: int = 1 << 40,
    properties: dict | None = None,
) -> DataFrame:
    """Reference-parity RDBMS ingest (SURVEY.md §2 A2, off by default).

    The reference pulled rows through a single JDBC connection in a
    driver-side ResultSet loop; the Spark replacement issues
    ``num_partitions`` bounded range queries in parallel
    (``partitionColumn``/bounds), so ingest scales with the cluster
    instead of one socket. Exercised in-sandbox against embedded Apache
    Derby (qkey ``scan_jdbc``); any network RDBMS works the same way
    given its driver jar.
    """
    reader = (
        spark.read.format("jdbc")
        .option("url", jdbc_url)
        .option("dbtable", table)
        .option("partitionColumn", partition_column)
        .option("numPartitions", num_partitions)
        .option("lowerBound", lower_bound)
        .option("upperBound", upper_bound)
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def _asof_tiebreak(pages: DataFrame) -> F.Column:
    """Deterministic tie-break for equal warc_ts: xxhash64 over the
    content columns present. row_number with a non-total order is
    partition-order-dependent — a silent determinism bug under ties
    (SURVEY §4.2 demands partitioning-independent outputs)."""
    cols = [c for c in ("text", "lang", "html") if c in pages.columns]
    return F.xxhash64(*cols) if cols else F.lit(0)


def asof_latest(pages: DataFrame) -> DataFrame:
    """One row per url: the latest capture by warc_ts, ties broken by a
    deterministic content hash. Spark has no native as-of join; ranking
    window is the idiom (SURVEY §2 D7)."""
    w = Window.partitionBy("url").orderBy(
        F.desc("warc_ts"), F.desc(_asof_tiebreak(pages))
    )
    return (
        pages.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def latest_by_url(pages: DataFrame) -> DataFrame:
    """Aggregation twin of ``asof_latest`` for (url, warc_ts, lang, text)
    frames — same winning row (asserted by test), different physical
    plan: ``max_by`` over a (warc_ts, content-hash) ordering struct runs
    as a hash aggregate with MAP-SIDE partial combine, so at crawl scale
    (many captures per url) each task pre-collapses its local captures
    and the shuffle carries ~one row per (url × task), where the ranking
    window must shuffle every capture to sort it. Null warc_ts rows
    lose to any non-null (epoch-0 coalesce in the ordering key only)."""
    ordk = F.struct(
        F.coalesce(F.col("warc_ts"), F.to_timestamp(F.lit("1970-01-01"))).alias("ts"),
        _asof_tiebreak(pages).alias("tb"),
    )
    return (
        pages.groupBy("url")
        .agg(F.max_by(F.struct("warc_ts", "lang", "text"), ordk).alias("s"))
        .select("url", "s.warc_ts", "s.lang", "s.text")
    )


def to_docs(
    pages: DataFrame,
    cfg: DedupConfig,
    recompute_text: bool = False,
    assume_unique_urls: bool = False,
) -> DataFrame:
    """pages → docs frame (schema.DOCS). When ``recompute_text`` the text
    column is re-derived from html via the versioned extractor (the
    BASELINE.json:15 invariant path); otherwise the provided text column
    is trusted and the extractor only fills nulls.

    ``assume_unique_urls``: when the caller has VERIFIED there is at most
    one capture per url (run_dedup counts — one pruned scan of the url
    column), the latest-capture pick is the identity and the agg that
    implements it is skipped. That agg's shuffle carries the full text
    payload (~the table's bytes) — by far the ingest stage's largest
    data movement — so on pre-deduplicated crawls (the common case for
    curated corpora) this removes it entirely. On multi-capture input
    the aggregation path runs unchanged; at cluster scale a
    bucketed-by-url table layout makes it shuffle-free anyway
    (SURVEY §4.3)."""
    latest = _resolve_latest(pages, recompute_text, assume_unique_urls)
    return (
        latest.select("url", "warc_ts", "lang", "text")
        .withColumn("doc_id", F.xxhash64("url"))
        .withColumn("norm_text", normalize_text(F.col("text")))
        .withColumn("n_chars", F.length("norm_text").cast("long"))
        .withColumn("content_sha", F.sha2(F.col("norm_text"), 256))
        .select("url", "doc_id", "warc_ts", "text", "norm_text", "lang", "n_chars", "content_sha")
    )


def _resolve_latest(
    pages: DataFrame, recompute_text: bool, assume_unique_urls: bool
) -> DataFrame:
    """Shared head of the ingest stage: pages → one (url, warc_ts, lang,
    text) row per url (latest capture, text resolved). Tail-agnostic —
    ``to_docs`` attaches the derived columns via JVM expressions,
    ``to_docs_arrow`` via the fused Arrow kernel."""
    if recompute_text:
        # extract only the winning capture per url — the extractor is
        # the expensive path, so rank first, extract after
        ranked = pages if assume_unique_urls else asof_latest(pages)
        return ranked.select(
            "url", "warc_ts", "lang", extract_text_udf(F.col("html")).alias("text")
        )
    else:
        # trusted-text path: resolve text per row BEFORE the as-of
        # window so the html payload (≈half the page bytes) never
        # enters the window shuffle — it is dead weight after the
        # null-fill. The fill is per-row, so pre- vs post-window is
        # semantically identical; it only runs on null-text rows.
        #
        # TWO scans, split on text-nullness, not one scan with a
        # when(): a single-scan plan must produce the html column for
        # every row just to feed the (almost always dead) null-fill
        # branch — ~½ the table bytes read, decompressed, and carried
        # through the project for nothing on a trusted corpus. Split,
        # the trusted scan PRUNES html at the parquet reader (it never
        # appears in its ReadSchema) and the null-text scan pushes
        # `text IS NULL` down to row-group stats — on an all-trusted
        # corpus it reads ~zero rows. The extractor input is gated to
        # non-null html; null html + null text stays null text
        # (identical to the old when() semantics), and the downstream
        # latest_by_url is an aggregation, so the union order is
        # irrelevant.
        cols = ["url", "warc_ts", "lang"]
        trusted = pages.filter(F.col("text").isNotNull()).select(*cols, "text")
        if "html" in pages.columns:
            fixed = pages.filter(F.col("text").isNull()).select(
                *cols,
                F.when(
                    F.col("html").isNotNull(), extract_text_udf(F.col("html"))
                ).alias("text"),
            )
        else:
            fixed = pages.filter(F.col("text").isNull()).select(
                *cols, F.col("text")
            )
        pre = trusted.unionByName(fixed)
        return pre if assume_unique_urls else latest_by_url(pre)


def latest_docs_by_url(docs: DataFrame) -> DataFrame:
    """Post-ingest twin of ``latest_by_url`` for SPECULATIVELY ingested
    docs frames (to_docs_arrow ``carry_tiebreak=True``): collapse the
    multi-capture rows to the winning capture per url AFTER the derived
    columns were computed per capture. The ordering key replicates
    latest_by_url exactly — (null-coalesced warc_ts, the carried ``_tb``
    = xxhash64(text, lang) of the resolved row) — so the winner is the
    identical row; its derived columns (norm_text/n_chars/content_sha)
    are pure functions of that row, so the collapsed frame equals the
    probe-first ingest (parity test in tests/test_text.py). The ``_tb``
    column is consumed here and dropped."""
    ordk = F.struct(
        F.coalesce(F.col("warc_ts"), F.to_timestamp(F.lit("1970-01-01"))).alias("ts"),
        F.col("_tb").alias("tb"),
    )
    others = [c for c in docs.columns if c not in ("url", "_tb")]
    return (
        docs.groupBy("url")
        .agg(F.max_by(F.struct(*others, "_tb"), ordk).alias("s"))
        .select("url", *[F.col(f"s.{c}").alias(c) for c in others])
    )


def to_docs_arrow(
    pages: DataFrame,
    cfg: DedupConfig,
    recompute_text: bool = False,
    assume_unique_urls: bool = False,
    keep_text: bool = True,
    carry_tiebreak: bool = False,
) -> DataFrame:
    """Arrow-kernel twin of ``to_docs`` — identical rows (parity test in
    tests/test_text.py), built for the pipeline hot path: the derived
    columns (normalize → n_chars → content_sha → doc_id) are computed in
    ONE ``mapInArrow`` pass instead of four JVM expressions.

    Why: the JVM ``regexp_replace``+``lower`` pair dominated the docs
    stage (~130 task-core-s at 500k docs/local[32] — java.util.regex +
    two full UTF8String copies per row, inflating ~2.5× with cores from
    string-churn DRAM traffic). The kernel runs Arrow's RE2-backed
    vectorized replace on pure-ASCII batches (byte-identical to the JVM
    expression there — the whitespace class is ASCII by construction,
    config.WHITESPACE_RE) and falls back to the pinned Python twin
    ``normalize_text_py`` per batch when non-ASCII is present, which is
    the oracle's exact semantics. sha256 via hashlib (= ``sha2`` hex),
    doc_id via the vectorized Spark-parity ``hashing.xxh64_strings``.
    ``keep_text=False`` drops the raw text from the output batches —
    the pipeline never reads it past ingest, so its bytes never cross
    Arrow back.

    ``carry_tiebreak=True`` (speculative-ingest mode, see
    pipeline.run_dedup): attach ``_tb = xxhash64(text, lang)`` — the
    exact latest_by_url tie-break over the resolved row — as a
    passthrough column, so a later ``latest_docs_by_url`` collapse on
    the ingested frame picks the identical winner the probe-first path
    would have, even though the raw text is gone by then. 8 B/row."""
    import pyarrow as pa

    latest = _resolve_latest(pages, recompute_text, assume_unique_urls)
    if carry_tiebreak:
        latest = latest.withColumn("_tb", F.xxhash64("text", "lang"))
    ws_chars = " \t\n\r\f\x0b"

    def run(batches):
        import hashlib

        import numpy as np
        import pyarrow.compute as pc

        from dedup.hashing import xxh64_strings
        from dedup.text import normalize_text_py

        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            idx = rb.schema.get_field_index
            url = rb.column(idx("url"))
            txt = rb.column(idx("text"))
            udata, uoff = _str_buffers(pc.fill_null(url, ""))
            doc_id = pa.array(xxh64_strings(udata, uoff).view(np.int64))
            tdata, toff = _str_buffers(
                pc.fill_null(txt, "") if txt.null_count else txt
            )
            seg = tdata[toff[0] : toff[-1]]
            if seg.size == 0 or int(seg.max()) < 0x80:
                # pure-ASCII batch: fully vectorized (Arrow C++/RE2).
                # ascii_lower == JVM lower on ASCII; the collapse regex
                # is an ASCII class; trim(" ") == JVM trim (after the
                # collapse every edge run is a single space). Nulls
                # propagate through every pc call.
                #
                # Clean-batch fast path: when the batch has no
                # non-space whitespace, no double space, and no
                # edge space on any doc, collapse+trim is the identity
                # and the RE2 pass (~30 µs/doc, the kernel's dominant
                # cost) is skipped — the common case for pre-normalized
                # / trusted-text corpora; any dirty doc sends the whole
                # batch down the regex path unchanged.
                rel = toff - toff[0]
                ne = rel[:-1] != rel[1:]  # non-empty docs
                clean = (
                    not np.isin(seg, _WS_NONSPACE).any()
                    and not ((seg[1:] == 0x20) & (seg[:-1] == 0x20)).any()
                    and not (seg[rel[:-1][ne]] == 0x20).any()
                    and not (seg[rel[1:][ne] - 1] == 0x20).any()
                )
                if clean:
                    norm = pc.ascii_lower(txt)
                else:
                    norm = pc.utf8_trim(
                        pc.replace_substring_regex(
                            pc.ascii_lower(txt),
                            pattern=f"[{ws_chars}]+",
                            replacement=" ",
                        ),
                        characters=" ",
                    )
                ndata, noff = _str_buffers(
                    pc.fill_null(norm, "") if norm.null_count else norm
                )
                n_chars_np = np.diff(noff)  # ASCII: bytes == codepoints
                mv = memoryview(ndata)
                if norm.null_count:
                    isnull = pc.is_null(norm).to_numpy(zero_copy_only=False)
                    shas = [
                        None
                        if isnull[i]
                        else hashlib.sha256(mv[noff[i] : noff[i + 1]]).hexdigest()
                        for i in range(n)
                    ]
                    n_chars = pa.array(n_chars_np, mask=isnull)
                else:
                    shas = [
                        hashlib.sha256(mv[noff[i] : noff[i + 1]]).hexdigest()
                        for i in range(n)
                    ]
                    n_chars = pa.array(n_chars_np)
            else:
                # non-ASCII present: the pinned Python twin row-by-row
                # (oracle semantics; still Arrow-batched, no pickling)
                norm_l = [
                    None if s is None else normalize_text_py(s)
                    for s in txt.to_pylist()
                ]
                norm = pa.array(norm_l, type=pa.string())
                shas = [
                    None if s is None else hashlib.sha256(s.encode()).hexdigest()
                    for s in norm_l
                ]
                n_chars = pa.array(
                    [None if s is None else len(s) for s in norm_l],
                    type=pa.int64(),
                )
            cols = [("url", url), ("doc_id", doc_id), ("warc_ts", rb.column(idx("warc_ts")))]
            if keep_text:
                cols.append(("text", txt))
            cols += [
                ("norm_text", norm),
                ("lang", rb.column(idx("lang"))),
                ("n_chars", n_chars.cast(pa.int64())),
                ("content_sha", pa.array(shas, type=pa.string())),
            ]
            if carry_tiebreak:
                cols.append(("_tb", rb.column(idx("_tb"))))
            yield pa.RecordBatch.from_arrays(
                [c for _, c in cols], names=[k for k, _ in cols]
            )

    text_field = "text string, " if keep_text else ""
    tb_field = ", _tb long" if carry_tiebreak else ""
    in_cols = ["url", "warc_ts", "lang", "text"] + (["_tb"] if carry_tiebreak else [])
    return latest.select(*in_cols).mapInArrow(
        run,
        schema=(
            f"url string, doc_id long, warc_ts timestamp, {text_field}"
            f"norm_text string, lang string, n_chars long, content_sha string"
            f"{tb_field}"
        ),
    )


def _str_buffers(arr):
    """Arrow StringArray → (uint8 data-buffer view, int64[n+1] absolute
    byte offsets). Caller must have filled nulls."""
    import numpy as np
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    off_dtype = "<i8" if pa.types.is_large_string(arr.type) else "<i4"
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], dtype=off_dtype)[
        arr.offset : arr.offset + n + 1
    ].astype(np.int64)
    data = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.empty(0, dtype=np.uint8)
    )
    return data, offsets


def exact_groups(docs: DataFrame) -> DataFrame:
    """content_sha → (canon_id = min doc_id, group size). Hash aggregate
    with automatic partial (map-side) combine; no collect anywhere."""
    return docs.groupBy("content_sha").agg(
        F.min("doc_id").alias("canon_id"), F.count("*").alias("group_size")
    )


def exact_edges(docs: DataFrame) -> DataFrame:
    """Star edges canon_id→member for every exact-dup group — linear in
    group size (NOT the quadratic all-pairs the reference's in-block
    loop would produce)."""
    groups = exact_groups(docs).filter(F.col("group_size") > 1)
    return (
        docs.join(groups, "content_sha")
        .filter(F.col("doc_id") != F.col("canon_id"))
        .select(
            F.col("canon_id").alias("src"),
            F.col("doc_id").alias("dst"),
            F.lit(1.0).alias("est_jacc"),
            F.lit(1.0).alias("sim"),
            F.lit("exact").alias("kind"),
        )
    )


def representatives(
    docs: DataFrame, cfg: DedupConfig, broadcast_ids: bool = False
) -> DataFrame:
    """One doc per content_sha (the min-doc_id member), long enough to
    shingle. Only these rows flow into signatures/LSH.

    ``broadcast_ids``: hint-broadcast the canon-id frame. Without it the
    left-semi join shuffles the full docs side — AQE materializes every
    shuffle-join map side before it can demote to broadcast, so the text
    column (the bulk of the bytes) gets shuffled even when the id frame
    is tiny at runtime (same pathology as verify.BROADCAST_PAIRS_MAX).
    Callers that know the rep count is bounded (pipeline counts the
    materialized docs frame) pass True and the docs text never crosses a
    shuffle. At cluster scale with billions of reps leave it False and
    rely on bucketed table layout (SURVEY §4.3) for the co-located join.
    """
    ids = exact_groups(docs).select(F.col("canon_id").alias("doc_id"))
    if broadcast_ids:
        ids = F.broadcast(ids)
    return (
        docs.join(ids, "doc_id", "left_semi")
        .filter(F.col("n_chars") >= cfg.min_text_len)
        .select("doc_id", "norm_text", "n_chars")
    )
