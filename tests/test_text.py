"""extract_text determinism + golden digests (BASELINE.json:15) and
normalize parity Spark↔Python."""

from __future__ import annotations

import hashlib
import json
import pathlib

from pyspark.sql import functions as F

from dedup.text import extract_text, extract_text_udf, normalize_text, normalize_text_py

GOLDEN = pathlib.Path(__file__).parent / "golden" / "extract_text_digests.json"

CASES = {
    "basic": b"<html><body><p>hello world</p></body></html>",
    "title": b"<html><head><title>T1 t2</title></head><body>body text</body></html>",
    "script": b"<html><script>var x=1;</script><body>kept</body></html>",
    "style": b"<html><style>p{color:red}</style><body>kept2</body></html>",
    "noscript": b"<html><noscript>skip</noscript><body>kept3</body></html>",
    "comment": b"<html><!-- secret --><body>visible</body></html>",
    "entities": b"<p>a &amp; b &lt;c&gt; &quot;d&quot; &#65;</p>",
    "nested": b"<div><span>a</span><span>b</span></div>",
    "unicode_nfc": "<p>café café</p>".encode(),  # NFC folds both to café
    "ws": b"<p>a\t\tb\n\nc   d</p>",
    "empty": b"",
    "no_tags": b"plain text only",
    "broken": b"<p>unclosed <b>tag",
    "binary_junk": b"<p>ok</p>\xff\xfe\x00",
    "case_script": b"<SCRIPT>x</SCRIPT><p>vis</p>",
    "multiline_script": b"<script>\nline1\nline2\n</script>after",
}


def _digests() -> dict[str, str]:
    return {
        k: hashlib.sha256(extract_text(v).encode("utf-8")).hexdigest()
        for k, v in CASES.items()
    }


def test_extract_text_semantics():
    assert extract_text(CASES["basic"]) == "hello world"
    assert extract_text(CASES["script"]) == "kept"
    assert extract_text(CASES["style"]) == "kept2"
    assert extract_text(CASES["noscript"]) == "kept3"
    assert extract_text(CASES["comment"]) == "visible"
    assert extract_text(CASES["entities"]) == 'a & b <c> "d" A'
    assert extract_text(CASES["nested"]) == "a b"
    assert extract_text(CASES["unicode_nfc"]) == "café café"
    assert extract_text(CASES["ws"]) == "a b c d"
    assert extract_text(CASES["empty"]) == ""
    assert extract_text(None) == ""
    assert extract_text(CASES["case_script"]) == "vis"
    assert extract_text(CASES["multiline_script"]) == "after"


def test_extract_text_golden_digests():
    """Byte-identical invariant: digests are pinned on first run and any
    later change to the extractor must bump EXTRACTOR_VERSION + regen."""
    got = _digests()
    if not GOLDEN.exists():
        GOLDEN.parent.mkdir(parents=True, exist_ok=True)
        GOLDEN.write_text(json.dumps(got, indent=1, sort_keys=True))
    want = json.loads(GOLDEN.read_text())
    assert got == want


def test_extract_text_udf_matches_pure_fn(spark):
    rows = [(k, v) for k, v in CASES.items()]
    df = spark.createDataFrame(rows, ["k", "html"])
    out = {r["k"]: r["t"] for r in df.select("k", extract_text_udf("html").alias("t")).collect()}
    for k, v in CASES.items():
        assert out[k] == extract_text(v)


def test_normalize_parity(spark):
    samples = [
        "Hello   World",
        "  MIXED case\tTabs\nNewLines  ",
        "already normal",
        "",
        "ÀÉÎ unicode Ωmega",
        "a\x0bb\fc",
    ]
    df = spark.createDataFrame([(s,) for s in samples], ["t"])
    got = {r["t"]: r["n"] for r in df.select("t", normalize_text("t").alias("n")).collect()}
    for s in samples:
        assert got[s] == normalize_text_py(s), f"normalize parity failed for {s!r}"


def test_extract_text_partition_independent(spark, tiny_pages):
    """Same extraction bytes at different partitionings (BASELINE.json:15)."""
    pages, _ = tiny_pages
    sample = pages.head(200)
    df = spark.createDataFrame(sample[["url", "html"]])
    one = df.coalesce(1).select("url", extract_text_udf("html").alias("t")).collect()
    many = df.repartition(7).select("url", extract_text_udf("html").alias("t")).collect()
    assert {(r["url"], r["t"]) for r in one} == {(r["url"], r["t"]) for r in many}


def test_to_docs_arrow_matches_jvm(spark, tiny_pages_df):
    """Fused Arrow docs kernel == JVM-expression to_docs, row-for-row
    (doc_id, norm_text, n_chars, content_sha), including null-text rows
    and a non-ASCII batch (which takes the Python-twin path)."""
    from pyspark.sql import functions as F

    from dedup.config import DEFAULT_CONFIG as cfg
    from dedup.ingest import to_docs, to_docs_arrow

    def key(df):
        return {
            (r["url"], r["doc_id"], r["norm_text"], r["n_chars"], r["content_sha"])
            for r in df.select(
                "url", "doc_id", "norm_text", "n_chars", "content_sha"
            ).collect()
        }

    assert key(to_docs_arrow(tiny_pages_df, cfg)) == key(to_docs(tiny_pages_df, cfg))

    weird = spark.createDataFrame(
        [
            ("u://1", None, None, "  MiXeD \t Case\n\n text  ", "en"),
            ("u://2", None, None, None, "en"),
            ("u://3", None, None, "ünïcödé  \t ÉDGE ÇASE », Σ末尾", "de"),
            ("u://4", None, None, "", "en"),
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    got = key(to_docs_arrow(weird, cfg))
    want = key(to_docs(weird, cfg))
    # JVM lower() and Python .lower() agree on these inputs; the pinned
    # truth for the pipeline is the Python twin (tests/oracle.py)
    assert got == want
    # keep_text=False drops only the text column
    slim = to_docs_arrow(tiny_pages_df, cfg, keep_text=False)
    assert "text" not in slim.columns and "norm_text" in slim.columns


def test_speculative_ingest_collapse_matches_probe_first(spark, tiny_pages_df):
    """Speculative-overlap ingest (pipeline.run_dedup): ingesting ALL
    captures with the carried _tb tie-break and collapsing AFTERWARD
    (ingest.latest_docs_by_url) must pick row-identical winners to the
    probe-first plan (latest_by_url before the kernel) — including
    equal-warc_ts ties, which the deterministic xxhash64(text, lang)
    tie-break must decide identically on both paths."""
    from pyspark.sql import functions as F

    from dedup.config import DEFAULT_CONFIG as cfg
    from dedup.ingest import latest_docs_by_url, to_docs_arrow

    # multi-capture corpus: every url twice with different text/ts, plus
    # equal-ts tie captures with different text
    base = tiny_pages_df.limit(60)
    older = base.withColumn(
        "warc_ts", F.col("warc_ts") - F.expr("INTERVAL 1 HOUR")
    ).withColumn("text", F.concat(F.col("text"), F.lit(" stale-tail")))
    ties = base.withColumn("text", F.concat(F.col("text"), F.lit(" tie-tail")))
    noisy = base.unionByName(older).unionByName(ties)

    want = {
        (r.url, r.doc_id, r.norm_text, r.n_chars, r.content_sha)
        for r in to_docs_arrow(noisy, cfg, keep_text=False).collect()
    }
    spec = latest_docs_by_url(
        to_docs_arrow(
            noisy, cfg, assume_unique_urls=True, keep_text=False, carry_tiebreak=True
        )
    )
    got = {
        (r.url, r.doc_id, r.norm_text, r.n_chars, r.content_sha)
        for r in spec.collect()
    }
    assert "_tb" not in spec.columns
    assert got == want
    assert len(got) == 60


def test_to_docs_arrow_clean_fast_path_parity(spark):
    """All-clean ASCII batches take the identity-normalization fast path
    (no RE2 pass); rows must still equal the JVM twin exactly."""
    import datetime

    from dedup.config import DEFAULT_CONFIG as cfg
    from dedup.ingest import to_docs, to_docs_arrow

    rows = [
        (f"u{i}", f"clean text number {i} with Single spaces", "en")
        for i in range(50)
    ]
    df = spark.createDataFrame(
        [(u, datetime.datetime(2026, 1, 1), None, t, l) for u, t, l in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    a = sorted(
        (r.url, r.norm_text, r.n_chars, r.content_sha)
        for r in to_docs(df, cfg).collect()
    )
    b = sorted(
        (r.url, r.norm_text, r.n_chars, r.content_sha)
        for r in to_docs_arrow(df, cfg).collect()
    )
    assert a == b
