"""Staged-job machinery shared by the spark-submit entry points
(jobs/run_dedup.py, jobs/curate_corpus.py): the commit-or-skip Runner
and the near-dup stage wiring. Lives inside the ``dedup`` package so a
``--py-files dedup.zip`` ship carries it for every job script
(SURVEY.md §3.2; the job files themselves ship standalone and must not
import each other).

Every stage is pure (read committed inputs → DataFrame → commit); a
stage whose ``(run_id, stage, config_hash)`` marker exists is SKIPPED
and its snapshot reused — kill the job at any point and rerun with the
same run id to resume from the last committed stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dedup.components import assign_clusters, connected_components
from dedup.config import DedupConfig
from dedup.ingest import representatives, to_docs
from dedup.lineage import (
    StageTimer,
    collect_lineage,
    metrics_table,
    partition_lineage,
)
from dedup.pipeline import cluster_report, edges_from_signatures
from dedup.signatures import range_partition_by_sig_prefix, with_slim_signatures
from dedup.tableio import TableIO

# not called here since the edges stage runs pipeline.edges_from_signatures;
# still imported because perfbench/trace.py wraps it on this module
from dedup.verify import verify_jaccard_lazy  # noqa: F401


def load_pages(spark: SparkSession, path: str, kind: str) -> DataFrame:
    if kind == "pages":
        return spark.read.parquet(path)
    # documents-table adapter (harness/test data shape)
    return spark.read.parquet(path).select(
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text",
        "lang",
    )


class Runner:
    """Stage driver: commit-or-skip around pure stage functions."""

    def __init__(self, spark, tio: TableIO, cfg: DedupConfig, run_id: str):
        self.spark, self.tio, self.cfg, self.run_id = spark, tio, cfg, run_id
        self.ran: list[str] = []
        self.skipped: list[str] = []

    def stage(
        self, name: str, fn, sort_within=None, extra_key: str = "",
        partition_by: list[str] | None = None,
        bucket_by: list[str] | None = None, n_buckets: int = 0,
    ) -> DataFrame:
        # extra_key folds stage-affecting flags that live OUTSIDE
        # DedupConfig (e.g. --use-containment) into the resume key, so
        # re-running a run_id with a flipped flag recomputes the affected
        # stages instead of silently reusing a stale snapshot. The
        # bucketed layout is a flag of that class too: flipping
        # --n-buckets recommits the stage in the new layout rather than
        # resuming a snapshot with the wrong join physics.
        bk = f"-bkt:{','.join(bucket_by)}:{n_buckets}" if bucket_by else ""
        ch = self.cfg.config_hash() + extra_key + bk
        marker = self.tio.find_stage(self.run_id, name, ch)
        if marker:
            self.skipped.append(name)
            return self.tio.read(marker["table"], marker["snapshot_id"])
        with StageTimer() as t:
            df = fn()
            snap = self.tio.write(
                df, name, mode="overwrite", sort_within=sort_within,
                partition_by=partition_by, bucket_by=bucket_by,
                n_buckets=n_buckets,
            )
        # bookkeeping is ONE Spark job: the read-back is schema-pinned,
        # the lineage rows are collected once (their rows_out sum is the
        # stage's row count) and both audit commits are driver-side
        # pyarrow appends
        out = self.tio.read(name, snap)
        lin = collect_lineage(
            partition_lineage(out, self.run_id, name, t.wall_ms, snap)
        )
        self.tio.write(lin, "lineage", mode="append")
        rows = sum(lin.column("rows_out").to_pylist())
        self.tio.write(
            metrics_table(self.run_id, name, {"rows": rows, "wall_ms": t.wall_ms}),
            "metrics",
            mode="append",
        )
        self.tio.mark_stage(self.run_id, name, ch, name, snap)
        self.ran.append(name)
        return out


def dedup_stages(
    r: Runner, docs: DataFrame, use_containment: bool = False,
    extra_key: str = "", n_buckets: int = 0,
) -> DataFrame:
    """The near-dup stage chain (signatures → edges → clusters →
    report) over an already-committed docs frame, persisted but not yet
    filled. Returns the clusters frame (doc_id, url, cluster_id). Shared
    by run_dedup (whole-corpus dedup) and curate_corpus (dedup of gate
    survivors — whose job passes its gate parameters via ``extra_key``
    so a changed gate recomputes every stage whose input set changed).

    ``n_buckets`` > 0 commits CLUSTERS bucketed by doc_id (matching the
    docs commit from ``ingest_stage``): every later clusters ⋈ docs
    consumer — the report stage here, canonical-text extraction, any
    downstream curation join — SortMergeJoins with zero Exchange on
    either side, on every resume, in any session."""
    cfg = r.cfg
    # fills the caller's persist and gives the edge builder's broadcast
    # gates their doc count
    n_docs = docs.count()

    # committed signature table is the SLIM form (band hashes + byte-packed
    # est prefix + simhash): 2.5× less I/O than full-width minhash, and
    # everything downstream — banding, est prefilter, simhash blocking —
    # reads only it. Same kernel as pipeline.build_edges' spill. The
    # kernel output is persisted under the range partitioner: its
    # bound-sampling jobs would otherwise each re-run the signature kernel.
    kernel = with_slim_signatures(representatives(docs, cfg), cfg).persist()
    try:
        sigs = r.stage(
            "signatures", lambda: range_partition_by_sig_prefix(kernel),
            sort_within=["doc_id"], extra_key=extra_key,
        )
    finally:
        kernel.unpersist()

    ck = ("-containment" if use_containment else "") + extra_key
    # the same edge builder as pipeline.run_dedup, on the committed
    # signatures snapshot (its exact ∪ near ∪ substr union is
    # duplicate-free by construction)
    edges = r.stage(
        "edges",
        lambda: edges_from_signatures(docs, sigs, cfg, n_docs, use_containment),
        sort_within=["src", "dst"], extra_key=ck,
    )
    kinds = ("exact", "near", "substr") if use_containment else ("exact", "near")

    def mk_clusters():
        comp = connected_components(
            edges.filter(F.col("kind").isin(*kinds)),
            max_iter=cfg.max_cc_iter,
        )
        return assign_clusters(docs, comp).select("doc_id", "url", "cluster_id")

    clusters = r.stage(
        "clusters", mk_clusters,
        sort_within=["doc_id"] if n_buckets else ["cluster_id", "doc_id"],
        extra_key=ck,
        bucket_by=["doc_id"] if n_buckets else None, n_buckets=n_buckets,
    )

    r.stage(
        "report",
        lambda: cluster_report(
            clusters.join(docs.select("doc_id", "warc_ts", "n_chars"), "doc_id")
        ),
        extra_key=ck,
    )
    return clusters


def ingest_stage(
    r: Runner, pages: DataFrame, assume_unique_urls: bool = False,
    n_buckets: int = 0,
) -> DataFrame:
    """Committed docs stage. ``assume_unique_urls`` (the CLI's
    --assume-unique-urls) skips the latest-capture-per-url aggregation —
    the ingest's single largest shuffle (it carries the full text
    payload) — for crawls the caller KNOWS are pre-deduplicated by url.
    On multi-capture input the flag changes the output (duplicate urls
    survive), so it is folded into the stage's resume key: flipping it
    on an existing run id recomputes ingest and everything downstream
    instead of silently reusing the other semantics' snapshot."""
    uk = "-uniq" if assume_unique_urls else ""
    docs = r.stage(
        "docs",
        lambda: to_docs(pages, r.cfg, assume_unique_urls=assume_unique_urls),
        sort_within=["doc_id"],
        extra_key=uk,
        bucket_by=["doc_id"] if n_buckets else None, n_buckets=n_buckets,
    )
    return docs


def run_dedup_job(
    spark, tio: TableIO, cfg: DedupConfig, run_id: str, pages: DataFrame,
    use_containment: bool = False, assume_unique_urls: bool = False,
    n_buckets: int = 0,
) -> Runner:
    """The full run_dedup stage graph: ingest + dedup chain.
    ``n_buckets`` > 0 (--n-buckets) lands docs AND clusters as
    doc_id-bucketed catalog-backed commits — the co-located-join layout
    for every downstream clusters ⋈ docs consumer."""
    r = Runner(spark, tio, cfg, run_id)
    uk = "-uniq" if assume_unique_urls else ""
    docs = ingest_stage(r, pages, assume_unique_urls, n_buckets=n_buckets).persist()
    dedup_stages(
        r, docs, use_containment=use_containment, extra_key=uk,
        n_buckets=n_buckets,
    )
    docs.unpersist()
    return r
