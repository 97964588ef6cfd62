"""Physical-plan quality gates (SURVEY.md §4.1): the optimizations
Catalyst gives for free must actually be present — these assertions are
non-brittle substring checks on the executed/optimized plans."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _explain_formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_to_parquet(spark):
    df = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.col("lang") == "en")
        .select("doc_id")
    )
    plan = _explain_formatted(df)
    assert "PushedFilters" in plan
    assert "lang" in plan.split("PushedFilters")[1][:200], "lang filter not pushed"


def test_column_pruning_reaches_scan(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "lang")
    plan = _explain_formatted(df)
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "doc_id" in read_schema and "lang" in read_schema
    assert "text" not in read_schema, "unused wide column must be pruned from the scan"


def test_broadcast_join_strategy(spark):
    c = spark.read.parquet(f"{SF}/customer.parquet")
    n = spark.read.parquet(f"{SF}/nation.parquet")
    df = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    assert "BroadcastHashJoin" in _plan(df)


def test_lsh_join_is_hash_or_smj_not_nested_loop(spark, tiny_pages_df):
    """The band-bucket self-join (with its non-equi length-ratio
    conjunct) must stay a hash/sort-merge equi-join — a nested-loop
    plan here would be quadratic at scale (SURVEY §2 D4)."""
    from dedup.candidates import lsh_candidates
    from dedup.config import DEFAULT_CONFIG
    from dedup.ingest import representatives, to_docs
    from dedup.signatures import with_bands, with_shingles, with_signatures

    cfg = DEFAULT_CONFIG
    docs = to_docs(tiny_pages_df.limit(100), cfg)
    bands = with_bands(
        with_signatures(with_shingles(representatives(docs, cfg), cfg), cfg), cfg
    )
    plan = _plan(lsh_candidates(bands, cfg))
    # any equi-join strategy is fine (broadcast at toy size, SHJ/SMJ at
    # scale); a nested-loop/cartesian plan is the failure mode
    assert (
        "ShuffledHashJoin" in plan
        or "SortMergeJoin" in plan
        or "BroadcastHashJoin" in plan
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_whole_stage_codegen_and_partial_agg(spark):
    df = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.col("n_chars") > 100)
        .groupBy("lang")
        .agg(F.count("*"))
    )
    import contextlib
    import io

    df.collect()  # AQE finalizes the physical plan only on execution
    assert "partial_count" in _plan(df), "map-side combine must precede the shuffle"
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("codegen")
    assert "WholeStageCodegen" in buf.getvalue()


def test_partitioned_table_prunes_statically(spark, tmp_path):
    """SURVEY §4.3: a committed table partitioned on a column must serve
    an equality filter on it from PartitionFilters (directory pruning),
    not a full-scan data filter."""
    from pyspark.sql import functions as F

    from dedup.tableio import TableIO

    tio = TableIO(spark, str(tmp_path / "wh_pp"), backend="parquet")
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    tio.write(docs, "docs_pp", mode="overwrite", partition_by=["lang"])
    df = tio.read("docs_pp").filter(F.col("lang") == "en")
    plan = _explain_formatted(df)
    pf = plan.split("PartitionFilters")[1][:200]
    assert "lang" in pf and "en" in pf, f"lang=en not partition-pruned: {pf}"


def test_partitioned_table_prunes_dynamically(spark, tmp_path):
    """SURVEY §4.3 DPP: joining the partitioned table against a
    FILTERED small dimension must plan a dynamicpruning subquery on the
    partition column — at scale this is what keeps a dimension-driven
    scan from reading every partition."""
    from pyspark.sql import functions as F

    from dedup.tableio import TableIO

    tio = TableIO(spark, str(tmp_path / "wh_dpp"), backend="parquet")
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    tio.write(docs, "docs_dpp", mode="overwrite", partition_by=["lang"])
    dim = spark.createDataFrame(
        [("en", 1), ("de", 2), ("fr", 3)], "lang string, pri int"
    ).filter(F.col("pri") == 1)
    joined = tio.read("docs_dpp").join(F.broadcast(dim), "lang")
    plan = _plan(joined)
    assert "dynamicpruning" in plan.lower(), plan[:500]


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """SURVEY §4.3 / driver prompt 'bucketing for co-located joins':
    two tables bucketed by the same key into the same bucket count must
    join with NO Exchange on either side — the layout that keeps a
    corpus×corpus join shuffle-free at 100 TB. (Broadcast is disabled
    for the assertion so the planner must pick the sort-merge path.)"""
    from pyspark.sql import functions as F

    from dedup.tableio import TableIO

    tio = TableIO(spark, str(tmp_path / "wh_bk"), backend="parquet")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    tio.write_bucketed(
        docs.select("doc_id", "lang"), "bk_a", ["doc_id"], 8, sort_by=["doc_id"]
    )
    tio.write_bucketed(
        docs.select("doc_id", "n_chars"), "bk_b", ["doc_id"], 8, sort_by=["doc_id"]
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = tio.read_bucketed("bk_a").join(tio.read_bucketed("bk_b"), "doc_id")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, f"bucketed join still shuffles: {plan[:500]}"
        assert joined.count() == docs.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bk_a")
        spark.sql("DROP TABLE IF EXISTS bk_b")


def test_token_vocab_plan_shape(spark):
    """token_vocab's docstring claims the two-level distinct-aggregate
    shape (round-3 verdict item 6): a partial (tok, doc_id)-keyed hash
    aggregate must collapse each task's stream to its distinct pairs
    BEFORE the first exchange (so the shuffle never carries raw
    tokens), the distinct count must finish as partial_count(distinct),
    and the top-k must fuse into TakeOrderedAndProject — never a global
    Sort."""
    from dedup.corpus import token_vocab

    df = token_vocab(spark.read.parquet(f"{SF}/documents.parquet"), k=10)
    plan = _plan(df)
    assert "partial_count(1)" in plan and "keys=[tok" in plan, plan[:400]
    # the pair-keyed partial agg dedupes (tok, doc_id) map-side
    assert "doc_id" in plan.split("partial_count(1)")[0].rsplit("HashAggregate", 1)[-1]
    assert "partial_count(distinct" in plan, "distinct count not partial-planned"
    assert "TakeOrderedAndProject" in plan, "orderBy+limit must fuse to top-k"
    assert "Expand" not in plan  # single-distinct rewrites pair-keyed, no expand


def test_trusted_text_scan_prunes_html(spark, tiny_pages_df, tmp_path):
    """The split-scan ingest optimization, pinned: on a trusted-text
    corpus the trusted branch's parquet ReadSchema must NOT contain
    `html` (~half the table bytes), and the null-text branch must push
    `text IS NULL` to the reader. A single-scan when() formulation
    would silently regress to reading html for every row."""
    from dedup.config import DEFAULT_CONFIG as cfg
    from dedup.ingest import to_docs_arrow

    src = str(tmp_path / "pages_pq")
    tiny_pages_df.limit(200).write.mode("overwrite").parquet(src)
    pages = spark.read.parquet(src)
    plan = _explain_formatted(to_docs_arrow(pages, cfg, keep_text=False))
    scans = plan.split("ReadSchema")[1:]
    assert len(scans) >= 2, "expected the two-branch split scan"
    trusted = [s[:300] for s in scans if "html" not in s[:300]]
    assert trusted, "no scan branch prunes html from ReadSchema"
    assert "IsNull(text)" in plan or "isnull(text)" in plan.lower(), (
        "text IS NULL not pushed to the null-fill branch's reader"
    )


def test_job_rep_semi_join_does_not_shuffle_docs(spark, tiny_pages_df, tmp_path, monkeypatch):
    """The spark-submit job's representatives semi-join takes the
    rep-id broadcast gate from the doc count it already holds, so the
    docs side (norm_text, the bulk of the bytes) crosses no Exchange.
    Size-based broadcast is disabled so the planner sees what it sees
    at scale, where the docs frame's size estimate exceeds the
    threshold and only the count-gated hint keeps the broadcast."""
    from dedup import jobrunner
    from dedup.config import DEFAULT_CONFIG
    from dedup.tableio import TableIO

    class Captured(Exception):
        pass

    seen = {}

    def capture(reps, cfg):
        seen["reps"] = reps
        raise Captured

    monkeypatch.setattr(jobrunner, "with_slim_signatures", capture)
    tio = TableIO(spark, str(tmp_path / "wh_reps"), backend="parquet")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        with pytest.raises(Captured):
            jobrunner.run_dedup_job(
                spark, tio, DEFAULT_CONFIG, "reps", tiny_pages_df.limit(200)
            )
        plan = _plan(seen["reps"])
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "Exchange hashpartitioning(doc_id" not in plan, plan


def test_no_per_row_python_anywhere_in_harness():
    """BASELINE.json:15 sweep: no registered harness query may plan a
    row-at-a-time BatchEvalPython node; Python only ever appears as
    ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas."""
    import __spark_entry__ as e
    from dedup.session import get_spark

    spark = get_spark(master="local[4]")
    for name, fn in e.queries().items():
        plan = _plan(fn(spark, SF))
        assert "BatchEvalPython" not in plan, f"{name} uses per-row Python"


def test_stratified_sample_is_exchange_free(spark):
    """stratified_sample's docstring claims a single codegen filter
    over the scan: no Exchange, no sample(), no Python anywhere."""
    from dedup.corpus import stratified_sample

    df = stratified_sample(
        spark.read.parquet(f"{SF}/documents.parquet"),
        rates={"en": 0.5},
        default_rate=0.25,
    )
    plan = _plan(df)
    assert "Exchange" not in plan, plan[:400]
    assert "Sample" not in plan
    assert plan.lstrip().startswith("*("), "filter must be codegen'd"


def test_filter_funnel_single_aggregate_pass(spark):
    """filter_funnel claims ONE aggregate pass: a partial aggregate
    before exactly one SinglePartition exchange (5 numbers cross it),
    never a per-stage re-scan of the corpus."""
    from dedup.corpus import filter_funnel

    df = filter_funnel(spark.read.parquet(f"{SF}/documents.parquet"))
    plan = _plan(df)
    assert plan.count("Exchange") == 1 and "SinglePartition" in plan, plan[:600]
    assert plan.count("Scan parquet") == 1, "funnel must be one corpus pass"
    assert "partial_count(1)" in plan or "partial" in plan.lower()


def test_domain_stats_distinct_expand_shape(spark):
    """domain_stats' docstring describes the gid-Expand plan its two
    different-column count_distincts force: Expand feeding a per-task
    (domain, host, lang, gid)-keyed PARTIAL aggregate before the first
    exchange (the shuffle never carries raw rows), then one final
    domain-keyed exchange — exactly two exchanges total."""
    from pyspark.sql import functions as F

    from dedup.corpus import domain_stats

    d = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "url", F.concat(F.lit("https://a."), F.col("source"), F.lit(".org/p"))
    )
    plan = _plan(domain_stats(d))
    assert "Expand" in plan
    assert plan.count("Exchange") == 2, plan[:600]
    # a partial aggregate keyed by the expanded tuple precedes the
    # first exchange (reading bottom-up: last Exchange in the string)
    below_first_exchange = plan.rsplit("Exchange", 1)[1]
    assert "partial_count" in below_first_exchange or "partial_sum" in below_first_exchange


def test_sessionize_single_exchange(spark):
    """sessionize claims ONE user-keyed shuffle: the closing
    (user, session_idx) aggregate must reuse the window's
    HashPartitioning(user) — a second Exchange would mean the grouping
    failed to recognize the partitioning as sufficient."""
    from dedup.events import sessionize

    df = sessionize(spark.read.parquet(f"{SF}/events.parquet"), gap_s=21600)
    plan = _plan(df)
    assert plan.count("Exchange") == 1, plan[:800]
    assert "Window" in plan and "hashpartitioning(user_id" in plan, plan[:800]
