"""TableIO snapshot/commit semantics + staged resume (SURVEY.md §5.2.6):
kill after stage k, rerun → stages 1..k skipped, output identical."""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

from dedup.config import DEFAULT_CONFIG
from dedup.tableio import TableIO


@pytest.fixture()
def tio(spark, tmp_path):
    return TableIO(spark, str(tmp_path / "wh"), backend="parquet")


def test_append_and_overwrite_snapshots(spark, tio):
    df1 = spark.range(5).withColumnRenamed("id", "v")
    df2 = spark.range(5, 8).withColumnRenamed("id", "v")
    s0 = tio.write(df1, "t", mode="append")
    s1 = tio.write(df2, "t", mode="append")
    assert tio.read("t").count() == 8
    assert tio.read("t", s0).count() == 5  # time travel
    s2 = tio.write(df2, "t", mode="overwrite")
    assert tio.read("t").count() == 3
    assert [s["snapshot_id"] for s in tio.snapshots("t")] == [s0, s1, s2]


def test_uncommitted_data_is_invisible(spark, tio, tmp_path):
    import os

    tio.write(spark.range(4).withColumnRenamed("id", "v"), "t", mode="append")
    # simulate a crashed writer: data dir exists but no manifest points at it
    stray = os.path.join(str(tmp_path / "wh"), "t", "data", "deadbeef")
    spark.range(100).withColumnRenamed("id", "v").write.parquet(stray)
    assert tio.read("t").count() == 4


def test_partitioned_table_layout(spark, tio):
    """SURVEY §4.3 physical layout: partition_by writes hive-style
    dirs; reads see all rows across appended snapshots with the
    partition column intact; mixed-layout appends are rejected."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 4).cast("string").alias("lang"),
    )
    s0 = tio.write(df, "pt", mode="append", partition_by=["lang"])
    tio.write(
        df.withColumn("doc_id", F.col("doc_id") + 100),
        "pt", mode="append", partition_by=["lang"],
    )
    out = tio.read("pt")
    assert out.count() == 200
    assert set(out.columns) == {"doc_id", "lang"}
    assert out.filter(F.col("lang") == "1").count() == 50
    assert tio.read("pt", s0).count() == 100  # time travel still works
    with _pytest.raises(ValueError, match="layouts must match"):
        tio.write(df, "pt", mode="append")  # unpartitioned append rejected


def test_compact_rewrites_files_content_identical(spark, tio, tmp_path):
    """Compaction: many-append table rewritten to few files as a NEW
    snapshot — rows identical, file count reduced, pre-compaction
    snapshots still time-travelable."""
    import glob
    import os

    for i in range(6):  # 6 appended snapshots, several files each
        tio.write(
            spark.range(i * 50, (i + 1) * 50).repartition(4).withColumnRenamed(
                "id", "v"
            ),
            "ct", mode="append",
        )
    before = sorted(r.v for r in tio.read("ct").collect())
    s_pre = tio.latest("ct")["snapshot_id"]
    n_files_before = sum(
        len(glob.glob(os.path.join(d, "*.parquet")))
        for d in tio.latest("ct")["dirs"]
    )
    s_new = tio.compact("ct", target_files=2, sort_within=["v"])
    after_snap = tio.latest("ct")
    assert after_snap["snapshot_id"] == s_new
    n_files_after = sum(
        len(glob.glob(os.path.join(d, "*.parquet"))) for d in after_snap["dirs"]
    )
    assert sorted(r.v for r in tio.read("ct").collect()) == before
    assert n_files_after == 2 < n_files_before
    assert tio.read("ct", s_pre).count() == 300  # time travel intact


def test_read_missing_table_raises(tio):
    with pytest.raises(FileNotFoundError):
        tio.read("nope")


def test_stage_markers(tio):
    assert tio.find_stage("r1", "docs", "abc") is None
    tio.mark_stage("r1", "docs", "abc", "docs", 0)
    m = tio.find_stage("r1", "docs", "abc")
    assert m["snapshot_id"] == 0
    # different config hash → no resume hit
    assert tio.find_stage("r1", "docs", "other") is None


def _pages(spark, tiny_pages_df):
    return tiny_pages_df.limit(300)


def test_staged_run_resumes_and_matches(spark, tiny_pages_df, tmp_path):
    from jobs.run_dedup import run

    cfg = DEFAULT_CONFIG
    pages = _pages(spark, tiny_pages_df)

    # full single-shot run in warehouse A
    tio_a = TableIO(spark, str(tmp_path / "whA"), backend="parquet")
    ra = run(spark, tio_a, cfg, "runA", pages)
    assert ra.ran == ["docs", "signatures", "edges", "clusters", "report"]

    # interrupted run in warehouse B: first two stages only…
    tio_b = TableIO(spark, str(tmp_path / "whB"), backend="parquet")
    rb1 = Runner = None  # noqa: F841 (clarity)
    from jobs.run_dedup import Runner as R
    from dedup.ingest import to_docs, representatives
    from dedup.signatures import (
        range_partition_by_sig_prefix,
        with_slim_signatures,
    )

    rb = R(spark, tio_b, cfg, "runB")
    docs = rb.stage("docs", lambda: to_docs(pages, cfg), sort_within=["doc_id"])
    # stage the crash with the SAME signature format the job commits
    # (slim: band hashes + packed est prefix) so the resumed edges stage
    # reads a compatible snapshot
    rb.stage(
        "signatures",
        lambda: range_partition_by_sig_prefix(
            with_slim_signatures(representatives(docs, cfg), cfg)
        ),
        sort_within=["doc_id"],
    )
    assert rb.ran == ["docs", "signatures"]

    # …then the "rerun after crash": docs+signatures must be SKIPPED
    rb2 = run(spark, tio_b, cfg, "runB", pages)
    assert rb2.skipped == ["docs", "signatures"]
    assert rb2.ran == ["edges", "clusters", "report"]

    # final clusters identical between uninterrupted and resumed runs
    a = sorted(
        (r.doc_id, r.cluster_id) for r in tio_a.read("clusters").collect()
    )
    b = sorted(
        (r.doc_id, r.cluster_id) for r in tio_b.read("clusters").collect()
    )
    assert a == b

    # lineage/metrics recorded for every executed stage
    stages_a = {
        r.stage for r in tio_a.read("lineage").select("stage").distinct().collect()
    }
    assert {"docs", "signatures", "edges", "clusters", "report"} <= stages_a


def test_iceberg_backend_dispatch(spark, tmp_path):
    """The sandbox has no Iceberg runtime jar, so the iceberg backend
    cannot round-trip real data here — but its DISPATCH layer is still
    testable: write() must route to df.writeTo(t).append() /
    .createOrReplace() by mode, and read() must use the iceberg format
    with snapshot-id time travel. Stub objects record the calls; the
    real-jar path differs only in what the JVM does with them."""

    class WriterStub:
        def __init__(self, log, table):
            self.log, self.table = log, table

        def append(self):
            self.log.append(("append", self.table))

        def createOrReplace(self):
            self.log.append(("createOrReplace", self.table))

    class DFStub:
        def __init__(self, log):
            self.log = log

        def writeTo(self, table):
            return WriterStub(self.log, table)

    class ReaderStub:
        def __init__(self, log):
            self.log, self.opts = log, {}

        def format(self, fmt):
            self.log.append(("format", fmt))
            return self

        def option(self, k, v):
            self.opts[k] = v
            return self

        def load(self, table):
            self.log.append(("load", table, dict(self.opts)))
            return "df"

    class SparkStub:
        def __init__(self, log):
            self._log = log

        @property
        def read(self):
            return ReaderStub(self._log)

        def createDataFrame(self, data):
            self._log.append(("createDataFrame", data.num_rows))
            return DFStub(self._log)

    import pyarrow as pa

    from dedup.lineage import metrics_table

    log = []
    tio = TableIO(SparkStub(log), str(tmp_path / "wh_ice"), backend="iceberg")
    tio.write(DFStub(log), "db.t", mode="append")
    tio.write(DFStub(log), "db.t", mode="overwrite")
    assert ("append", "db.t") in log and ("createOrReplace", "db.t") in log
    # driver-side audit rows (a pyarrow.Table) append through a frame
    tio.write(metrics_table("r", "s", {"rows": 3}), "db.metrics", mode="append")
    assert log[-2:] == [("createDataFrame", 1), ("append", "db.metrics")]
    # iceberg's bucket transform takes one column: a column set must
    # raise, not quietly turn the extra columns into identity partitions
    for write in (
        lambda: tio.write(
            DFStub(log), "db.b", mode="overwrite", bucket_by=["a", "b"], n_buckets=4
        ),
        lambda: tio.write_bucketed(DFStub(log), "db.b", ["a", "b"], 4),
    ):
        with pytest.raises(ValueError, match="exactly one column"):
            write()
    assert not any(e[-1] == "db.b" for e in log)
    with pytest.raises(ValueError, match="plain appends"):
        tio.write(pa.table({"v": [1]}), "db.t", mode="overwrite")
    assert tio.read("db.t", snapshot_id=7) == "df"
    fmt = [e for e in log if e[0] == "format"]
    loads = [e for e in log if e[0] == "load"]
    assert fmt == [("format", "iceberg")]
    assert loads == [("load", "db.t", {"snapshot-id": "7"})]


def test_staged_run_with_containment(spark, tmp_path):
    """--use-containment through the spark-submit entry: the committed
    edges table carries 'substr' edges (gen_pages containment slots +
    HIGH_RECALL banding guarantee the path fires) and those edges
    participate in clustering."""
    from pyspark.sql import functions as F

    from dedup.datagen import gen_pages
    from jobs.run_dedup import run

    cfg = DEFAULT_CONFIG.with_(bands=32, rows_per_band=4, substr_min_len=40)
    pages = gen_pages(spark, 300, seed=42, partitions=8)
    tio = TableIO(spark, str(tmp_path / "whC"), backend="parquet")
    r = run(spark, tio, cfg, "runC", pages, use_containment=True)
    assert "edges" in r.ran
    edges = tio.read("edges")
    sub = edges.filter(F.col("kind") == "substr")
    n_sub = sub.count()
    assert n_sub > 0, "containment path emitted no substr edges"
    # substr endpoints really co-cluster
    cl = {r.doc_id: r.cluster_id for r in tio.read("clusters").collect()}
    for row in sub.limit(5).collect():
        assert cl[row.src] == cl[row.dst]

    # flipping --use-containment on the SAME run_id must NOT silently
    # reuse the stale containment snapshots: the flag is folded into the
    # resume key for the stages it affects (edges/clusters/report),
    # while the flag-independent docs/signatures stages still resume
    r2 = run(spark, tio, cfg, "runC", pages, use_containment=False)
    assert r2.skipped == ["docs", "signatures"]
    assert r2.ran == ["edges", "clusters", "report"]
    assert tio.read("edges").filter(F.col("kind") == "substr").count() == 0
    # and re-running the ORIGINAL flag value resumes everything
    r3 = run(spark, tio, cfg, "runC", pages, use_containment=True)
    assert r3.ran == []


def test_assume_unique_urls_flag_keyed_and_equivalent(spark, tiny_pages_df, tmp_path):
    """--assume-unique-urls skips the latest-capture agg; on unique-url
    input the committed docs are identical, and the flag is part of the
    docs resume key so flipping it on the same run id recomputes ingest
    (and downstream) instead of reusing the other semantics' snapshot."""
    from pyspark.sql import functions as F

    from jobs.run_dedup import run

    # unique-url slice (tiny_pages carries dup CONTENT, urls are unique)
    pages = tiny_pages_df.limit(200)
    assert pages.count() == pages.select("url").distinct().count()

    tio = TableIO(spark, str(tmp_path / "wh_uniq"), backend="parquet")
    r1 = run(spark, tio, DEFAULT_CONFIG, "u1", pages)
    docs1 = {(x.doc_id, x.content_sha) for x in tio.read("docs").collect()}

    r2 = run(spark, tio, DEFAULT_CONFIG, "u1", pages, assume_unique_urls=True)
    assert "docs" in r2.ran, "flag flip must recompute the ingest stage"
    assert "edges" in r2.ran, "downstream stages must recompute too"
    docs2 = {(x.doc_id, x.content_sha) for x in tio.read("docs").collect()}
    assert docs1 == docs2  # unique-url input: identical committed docs

    # same flag again -> full resume
    r3 = run(spark, tio, DEFAULT_CONFIG, "u1", pages, assume_unique_urls=True)
    assert r3.ran == []


def test_staged_run_bucketed_resume(spark, tiny_pages_df, tmp_path):
    """Round-4 verdict item 4: the bucketed layout wired into a REAL
    consumer. --n-buckets lands docs AND clusters as doc_id-bucketed
    catalog-backed commits; a resumed run (fresh catalog, markers only)
    reads them back bucket-aware, rows identical to the plain layout,
    and the clusters ⋈ docs join plans with ZERO Exchange."""
    from pyspark.sql import functions as F

    from jobs.run_dedup import run

    cfg = DEFAULT_CONFIG
    pages = _pages(spark, tiny_pages_df)

    # plain-layout reference
    tio_p = TableIO(spark, str(tmp_path / "whP"), backend="parquet")
    run(spark, tio_p, cfg, "runP", pages)
    ref = sorted(
        (r.doc_id, r.cluster_id) for r in tio_p.read("clusters").collect()
    )

    tio = TableIO(spark, str(tmp_path / "whK"), backend="parquet")
    r1 = run(spark, tio, cfg, "runK", pages, n_buckets=8)
    assert r1.ran == ["docs", "signatures", "edges", "clusters", "report"]
    for t in ("docs", "clusters"):
        m = tio.latest(t)
        assert m["bucket_by"] == ["doc_id"] and m["n_buckets"] == 8, m

    # simulate a FRESH session: drop the catalog entries — only the
    # manifests (and their schema_ddl) survive a restart
    for t in ("docs", "clusters"):
        spark.sql(f"DROP TABLE IF EXISTS {tio.latest(t)['catalog']}")

    # resume: every stage skipped, outputs re-registered + identical
    r2 = run(spark, tio, cfg, "runK", pages, n_buckets=8)
    assert r2.ran == [] and r2.skipped == [
        "docs", "signatures", "edges", "clusters", "report"
    ]
    got = sorted(
        (r.doc_id, r.cluster_id) for r in tio.read("clusters").collect()
    )
    assert got == ref

    # a layout flip is resume-keyed: n_buckets=0 on the same run id
    # recommits rather than reusing the bucketed snapshots
    r3 = run(spark, tio, cfg, "runK", pages, n_buckets=0)
    assert "docs" in r3.ran and "clusters" in r3.ran

    # the consumer payoff: clusters ⋈ docs on doc_id, zero Exchange
    # (read the BUCKETED snapshots explicitly — r3 re-committed plain
    # ones on top)
    docs_b = tio.read("docs", tio.latest("docs")["snapshot_id"] - 1)
    clus_b = tio.read("clusters", tio.latest("clusters")["snapshot_id"] - 1)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = clus_b.join(docs_b.select("doc_id", "n_chars"), "doc_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan[:800]
        assert "Exchange" not in plan, f"bucketed job join shuffles: {plan[:800]}"
        assert joined.count() == len(ref)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_table_append_rejected_and_compact_noop(spark, tio):
    """A plain append onto a bucketed snapshot would silently drop the
    bucket layout on read (code-review finding) — it must raise; and
    compact() on a bucketed table is a no-op (the commit already wrote
    one file per bucket), returning the current snapshot id."""
    import pytest as _pytest

    df = spark.range(100).selectExpr("id as doc_id", "id % 7 as v")
    s0 = tio.write(df, "bt", mode="overwrite", bucket_by=["doc_id"], n_buckets=4)
    with _pytest.raises(ValueError, match="bucketed"):
        tio.write(df, "bt", mode="append")
    with _pytest.raises(ValueError, match="overwrite-only"):
        tio.write(df, "bt", mode="append", bucket_by=["doc_id"], n_buckets=4)
    with _pytest.raises(ValueError, match="exclusive"):
        tio.write(
            df, "bt2", mode="overwrite", bucket_by=["doc_id"], n_buckets=4,
            partition_by=["v"],
        )
    assert tio.compact("bt", target_files=64) == s0
    assert tio.latest("bt")["snapshot_id"] == s0  # no new snapshot
    assert tio.read("bt").count() == 100


def test_stage_commit_bookkeeping_is_one_job(spark, tiny_pages_df, tmp_path):
    """After a stage's own commit, its bookkeeping — read-back, lineage,
    metrics — launches exactly ONE Spark job (the lineage collect). The
    lineage rows_out of each stage sum to its committed row count, the
    metrics ``rows`` value equals that sum, and every committed table's
    pinned read schema is the schema Spark infers from its files."""
    import uuid

    from jobs.run_dedup import run

    sc = spark.sparkContext
    tag = uuid.uuid4().hex[:8]

    class GroupedTIO(TableIO):
        # every job between a stage table's commit and its resume
        # marker runs under that stage's bookkeeping job group
        def write(self, df, table, *a, **k):
            snap = super().write(df, table, *a, **k)
            if table not in ("lineage", "metrics"):
                sc.setLocalProperty("spark.jobGroup.id", f"bk-{tag}-{table}")
            return snap

        def mark_stage(self, *a):
            sc.setLocalProperty("spark.jobGroup.id", None)
            super().mark_stage(*a)

    tio = GroupedTIO(spark, str(tmp_path / "whJ"), backend="parquet")
    try:
        r = run(spark, tio, DEFAULT_CONFIG, "runJ", _pages(spark, tiny_pages_df))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    stages = ["docs", "signatures", "edges", "clusters", "report"]
    assert r.ran == stages
    st = sc.statusTracker()
    jobs = {s: len(st.getJobIdsForGroup(f"bk-{tag}-{s}")) for s in stages}
    assert jobs == dict.fromkeys(stages, 1), jobs

    lineage = tio.read("lineage").collect()
    rows = {
        m.stage: m.value
        for m in tio.read("metrics").filter("key = 'rows'").collect()
    }
    assert set(rows) == set(stages)
    for s in stages:
        n = tio.read(s).count()
        assert sum(x.rows_out for x in lineage if x.stage == s) == n, s
        assert rows[s] == n, s
    for t in [*stages, "lineage", "metrics"]:
        m = tio.latest(t)
        assert "schema" in m, t
        assert tio.read(t).schema == spark.read.parquet(*m["dirs"]).schema, t


#: Spark jobs of each run_dedup_job stage on tiny_pages (local[4]), its
#: commit and bookkeeping job included; "between" counts the jobs that
#: run outside every stage (the docs persist's fill and count)
RUN_DEDUP_JOB_STAGE_JOBS = {
    "docs": 3,
    "signatures": 7,
    "edges": 11,
    "clusters": 6,
    "report": 4,
    "between": 3,
}


def test_run_dedup_job_stage_job_counts_are_pinned(
    spark, tiny_pages_df, tmp_path, monkeypatch
):
    """The number of Spark jobs each stage of the spark-submit job
    launches is pinned, the way test_run_dedup_job_count_is_pinned pins
    run_dedup's (fixed cost per run). A change that adds or removes one
    updates RUN_DEDUP_JOB_STAGE_JOBS and says why."""
    import uuid

    from dedup import jobrunner

    sc = spark.sparkContext
    tag = uuid.uuid4().hex[:8]
    stage = jobrunner.Runner.stage

    def grouped(self, name, *a, **k):
        sc.setLocalProperty("spark.jobGroup.id", f"st-{tag}-{name}")
        try:
            return stage(self, name, *a, **k)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", f"st-{tag}-between")

    monkeypatch.setattr(jobrunner.Runner, "stage", grouped)
    tio = TableIO(spark, str(tmp_path / "whS"), backend="parquet")
    sc.setLocalProperty("spark.jobGroup.id", f"st-{tag}-between")
    try:
        r = jobrunner.run_dedup_job(spark, tio, DEFAULT_CONFIG, "runS", tiny_pages_df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert r.ran == ["docs", "signatures", "edges", "clusters", "report"]
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    jobs = {s: len(st.getJobIdsForGroup(f"st-{tag}-{s}")) for s in RUN_DEDUP_JOB_STAGE_JOBS}
    assert jobs == RUN_DEDUP_JOB_STAGE_JOBS, sorted(jobs.items())


def test_plain_read_is_schema_pinned_and_old_manifests_infer(spark, tio):
    """A plain snapshot's read launches no Spark job (the committed
    schema is pinned); a manifest in the older format — no ``schema``
    key — still reads the same rows and schema, by inference."""
    import json
    import os
    import uuid

    df = spark.range(20).selectExpr(
        "id AS doc_id", "CAST(id % 3 AS INT) AS k", "array(id, id) AS a",
        "CAST(id AS STRING) AS s", "CAST(id AS TIMESTAMP) AS ts",
    )
    s0 = tio.write(df, "pin", mode="overwrite")
    sc, group = spark.sparkContext, f"read-{uuid.uuid4().hex[:8]}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = tio.read("pin")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    want = sorted(out.collect())

    path = os.path.join(tio._manifest_dir("pin"), f"{s0:012d}.json")
    with open(path) as f:
        m = json.load(f)
    del m["schema"]
    with open(path, "w") as f:
        json.dump(m, f)
    old = tio.read("pin")
    assert old.schema == out.schema
    assert sorted(old.collect()) == want


def test_arrow_append_commits_like_a_dataframe_append(spark, tio):
    """A pyarrow.Table append lands as one more snapshot of the same
    table: rows and read schema as if a DataFrame had been appended.
    It is a plain append only — onto a partitioned or bucketed table,
    or in any other mode, it raises like the existing layout guards."""
    from pyspark.sql import functions as F

    from dedup.lineage import metrics_rows, metrics_table
    from dedup.schema import METRICS

    tio.write(
        spark.createDataFrame(metrics_rows("r", "a", {"x": 1}), METRICS),
        "m", mode="append",
    )
    s1 = tio.write(metrics_table("r", "b", {"y": 2, "z": 3}), "m", mode="append")
    assert s1 == 1
    out = tio.read("m")
    assert sorted(tuple(x) for x in out.collect()) == [
        ("r", "a", "x", 1.0), ("r", "b", "y", 2.0), ("r", "b", "z", 3.0),
    ]
    assert out.schema == spark.read.parquet(*tio.latest("m")["dirs"]).schema
    assert tio.read("m", 0).count() == 1  # time travel

    tbl = metrics_table("r", "c", {"w": 4})
    with pytest.raises(ValueError, match="plain appends"):
        tio.write(tbl, "m", mode="overwrite")
    with pytest.raises(ValueError, match="plain appends"):
        tio.write(tbl, "m2", mode="append", partition_by=["stage"])
    part = spark.range(4).select(
        F.col("id").alias("doc_id"), (F.col("id") % 2).cast("string").alias("lang")
    )
    tio.write(part, "pt", mode="append", partition_by=["lang"])
    with pytest.raises(ValueError, match="layouts must match"):
        tio.write(tbl, "pt", mode="append")
    tio.write(part, "bt", mode="overwrite", bucket_by=["doc_id"], n_buckets=2)
    with pytest.raises(ValueError, match="bucketed"):
        tio.write(tbl, "bt", mode="append")
    assert [s["snapshot_id"] for s in tio.snapshots("m")] == [0, 1]


def test_job_signature_kernel_runs_once(spark, tiny_pages_df, tmp_path, monkeypatch):
    """The signatures stage runs its kernel once per representative:
    the range partitioner's bound-sampling jobs read the persisted
    kernel output instead of re-running it."""
    from dedup import jobrunner
    from jobs.run_dedup import run

    seen = spark.sparkContext.accumulator(0)
    kernel = jobrunner.with_slim_signatures

    def counted(reps, cfg):
        out = kernel(reps, cfg)

        def count(batches):
            for pdf in batches:
                seen.add(len(pdf))
                yield pdf

        return out.mapInPandas(count, out.schema)

    monkeypatch.setattr(jobrunner, "with_slim_signatures", counted)
    tio = TableIO(spark, str(tmp_path / "whK"), backend="parquet")
    r = run(spark, tio, DEFAULT_CONFIG, "runK", _pages(spark, tiny_pages_df))
    assert "signatures" in r.ran
    n_reps = tio.read("signatures").count()
    assert n_reps > 0
    assert seen.value == n_reps, (seen.value, n_reps)
