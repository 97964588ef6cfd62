"""End-to-end pipeline vs the brute-force oracle: recall gate + exact
cluster-partition match + determinism across parallelism (SURVEY §5.2/5.3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dedup.config import DEFAULT_CONFIG, HIGH_RECALL_CONFIG
from dedup.pipeline import run_dedup
from tests.oracle import partition_of, run_oracle


@pytest.fixture(scope="module")
def oracle(tiny_pages):
    pages, _ = tiny_pages
    return run_oracle(pages, DEFAULT_CONFIG)


@pytest.fixture(scope="module")
def result(spark, tiny_pages_df):
    return run_dedup(tiny_pages_df, DEFAULT_CONFIG)


def _near_pairs(result) -> set[tuple[int, int]]:
    rows = result.edges.filter(F.col("kind") == "near").select("src", "dst").collect()
    return {(r["src"], r["dst"]) for r in rows}


def _exact_pairs(result) -> set[tuple[int, int]]:
    rows = result.edges.filter(F.col("kind") == "exact").select("src", "dst").collect()
    return {(min(r["src"], r["dst"]), max(r["src"], r["dst"])) for r in rows}


def test_exact_edges_match_oracle(result, oracle):
    assert _exact_pairs(result) == oracle.exact_edges


def test_no_false_positives(result, oracle):
    """Every emitted 'near' edge is a true pair (exact-Jaccard verified,
    so precision must be 1.0 modulo hash collisions)."""
    got = _near_pairs(result)
    assert got <= oracle.near_pairs, f"false positives: {got - oracle.near_pairs}"


def test_recall_default_preset(result, oracle):
    got = _near_pairs(result)
    truth = oracle.near_pairs
    recall = len(got & truth) / len(truth)
    # 16×8 banding: P(cand|J=0.8) ≈ 0.964 per band analysis + SimHash union
    assert len(truth) > 50, "fixture must contain a meaningful truth set"
    assert recall >= 0.95, f"default-preset recall {recall:.4f}"


def test_recall_gate_high_recall_preset(spark, tiny_pages_df, tiny_pages):
    """The BASELINE.json:2 hard gate: recall ≥ 0.99 at the high-recall
    preset, and the cluster partition matches the oracle exactly."""
    pages, _ = tiny_pages
    cfg = HIGH_RECALL_CONFIG
    oracle = run_oracle(pages, cfg)
    res = run_dedup(tiny_pages_df, cfg)
    got = _near_pairs(res)
    truth = oracle.near_pairs
    recall = len(got & truth) / len(truth)
    assert recall >= 0.99, f"recall {recall:.4f} < 0.99 ({len(truth)} truth pairs)"
    # cluster partitions equal (min-id labeling both sides)
    rows = res.clusters.select("doc_id", "cluster_id").collect()
    got_clusters = {r["doc_id"]: r["cluster_id"] for r in rows}
    if recall == 1.0:
        assert partition_of(got_clusters) == partition_of(oracle.clusters)
        assert got_clusters == oracle.clusters  # identical labels, not just shape
    else:  # missed pairs may split a cluster; assert containment direction
        assert len(partition_of(got_clusters)) >= len(partition_of(oracle.clusters))


def test_cluster_truth_kinds(result, tiny_pages, oracle):
    """Injected exact/chain dups land in the same cluster as their base."""
    pages, truth = tiny_pages
    rows = result.clusters.select("url", "cluster_id").collect()
    cl = {r["url"]: r["cluster_id"] for r in rows}
    exact = truth[truth["kind"] == "exact"]
    same = sum(cl[r["url"]] == cl[r["dup_of_url"]] for _, r in exact.iterrows())
    assert same == len(exact), "every exact dup must join its base's cluster"


def test_determinism_across_parallelism(spark, tiny_pages):
    """Same clusters regardless of input partitioning (BASELINE.json:15
    determinism; SURVEY §5.2.3)."""
    from dedup.schema import PAGES

    pages, _ = tiny_pages
    sample = pages.head(400)
    a = run_dedup(
        spark.createDataFrame(sample, schema=PAGES).repartition(2), DEFAULT_CONFIG
    )
    b = run_dedup(
        spark.createDataFrame(sample, schema=PAGES).repartition(13), DEFAULT_CONFIG
    )
    ca = sorted((r["url"], r["cluster_id"]) for r in a.clusters.select("url", "cluster_id").collect())
    cb = sorted((r["url"], r["cluster_id"]) for r in b.clusters.select("url", "cluster_id").collect())
    assert ca == cb


def test_no_per_row_python_in_plan(result):
    """BASELINE.json:15: vectorized Arrow UDFs only — the physical plan
    must contain no row-at-a-time BatchEvalPython node."""
    plan = result.edges._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan


def test_cc_single_task_equals_loop(spark):
    """The small-graph numpy union-find and the iterative self-join loop
    must emit identical (doc_id, cluster_id) sets — on a random graph
    and on a long chain (the pointer-jumping worst case)."""
    import random

    from dedup.components import connected_components

    random.seed(5)
    rand_edges = [
        (random.randrange(200), random.randrange(200)) for _ in range(300)
    ]
    chain = [(i, i + 1) for i in range(120)]
    for edges in (rand_edges, chain):
        pairs = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(pairs, ["src", "dst"])
        single = {
            (r.doc_id, r.cluster_id) for r in connected_components(df).collect()
        }
        loop = {
            (r.doc_id, r.cluster_id)
            for r in connected_components(df, small_graph_edges=0).collect()
        }
        assert single == loop and len(single) > 0
        # labeling rule: cluster_id = min member id of the component
        by_cluster = {}
        for doc, c in single:
            by_cluster.setdefault(c, []).append(doc)
        for c, members in by_cluster.items():
            assert c == min(members)


def test_cc_loop_raises_when_capped_unconverged(spark):
    """The iterative loop never returns unconverged labels: one
    iteration on a 20-node chain raises, naming the cap and the
    changed count; the default cap converges to min-doc_id labels."""
    from dedup.components import connected_components

    chain = spark.createDataFrame([(i, i + 1) for i in range(19)], ["src", "dst"])
    with pytest.raises(RuntimeError, match=r"labels still changed after max_iter=1 "):
        connected_components(chain, max_iter=1, small_graph_edges=0).collect()
    got = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(chain, small_graph_edges=0).collect()
    }
    assert got == {(i, 0) for i in range(20)}


def test_latest_by_url_equals_asof_window(spark):
    """The map-side-combinable ``max_by`` latest-capture pick must choose
    exactly the window idiom's winner — including duplicate urls, equal
    warc_ts (content-hash tie-break), and null-timestamp captures."""
    from datetime import datetime

    from dedup.ingest import asof_latest, latest_by_url

    rows = [
        # plain: later ts wins
        ("u1", datetime(2024, 1, 1), "en", "old text"),
        ("u1", datetime(2024, 3, 1), "en", "new text"),
        # tie on ts: deterministic content-hash tie-break
        ("u2", datetime(2024, 2, 2), "en", "tie capture a"),
        ("u2", datetime(2024, 2, 2), "de", "tie capture b"),
        # null ts loses to any non-null
        ("u3", None, "en", "null-ts text"),
        ("u3", datetime(2023, 5, 5), "en", "dated text"),
        # all-null ts still yields one deterministic row
        ("u4", None, "en", "only a"),
        ("u4", None, "fr", "only b"),
        # singleton passthrough
        ("u5", datetime(2024, 6, 6), "en", "single"),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, lang string, text string")
    cols = ["url", "warc_ts", "lang", "text"]
    win = {tuple(r) for r in asof_latest(df).select(*cols).collect()}
    agg = {tuple(r) for r in latest_by_url(df).select(*cols).collect()}
    assert agg == win
    assert len(agg) == 5
    # shuffling input order/partitioning must not change the winners
    agg2 = {
        tuple(r)
        for r in latest_by_url(df.orderBy(F.desc("text")).repartition(7))
        .select(*cols)
        .collect()
    }
    assert agg2 == win


def test_multi_capture_urls_take_latest(spark, tiny_pages_df):
    """run_dedup's url-uniqueness probe must route multi-capture input
    through the latest_by_url aggregation: stale older captures (junk
    text under the same urls) must not change docs or clusters vs
    running on the already-deduped frame."""
    from pyspark.sql import types as T

    stale = tiny_pages_df.limit(50).select(
        "url",
        (F.col("warc_ts") - F.expr("interval 7 days")).alias("warc_ts"),
        F.lit(None).cast(T.BinaryType()).alias("html"),
        F.concat(F.lit("STALE JUNK "), F.col("text")).alias("text"),
        "lang",
    )
    noisy = tiny_pages_df.unionByName(stale)
    clean = run_dedup(tiny_pages_df, DEFAULT_CONFIG)
    got = run_dedup(noisy, DEFAULT_CONFIG)
    key = lambda df: {
        (r["url"], r["cluster_id"])
        for r in df.select("url", "cluster_id").collect()
    }
    assert key(got.clusters) == key(clean.clusters)
    assert got.docs.count() == tiny_pages_df.count()


def test_containment_end_to_end(spark, tiny_pages_df, tiny_pages):
    """E5 in the full pipeline (round-1 verdict item 6): with
    use_containment=True, candidate pairs that FAIL the near-Jaccard
    verify but share a >=substr_min_len exact substring become 'substr'
    edges and join the clustering. Asserts (a) the path actually fires,
    (b) every emitted substr edge is TRUE by the driver-side suffix
    kernel, (c) clustering with substr edges co-clusters at least as
    many ground-truth containment pairs as without."""
    from dedup.config import DEFAULT_CONFIG
    from dedup.verify import longest_common_substring_len

    pages, truth = tiny_pages
    cfg = DEFAULT_CONFIG
    res = run_dedup(
        tiny_pages_df, cfg, use_containment=True,
        edge_kinds=("exact", "near", "substr"),
    )
    sub = res.edges.filter(F.col("kind") == "substr").select("src", "dst").collect()
    assert len(sub) > 0, "containment path emitted no substr edges"

    # precision: re-verify every substr edge against the exact kernel
    norm_by_id = {}
    docs = res.docs.select("doc_id", "norm_text").collect()
    for r in docs:
        norm_by_id[r["doc_id"]] = r["norm_text"]
    for r in sub:
        overlap = longest_common_substring_len(
            norm_by_id[r["src"]], norm_by_id[r["dst"]]
        )
        assert overlap >= cfg.substr_min_len, (r["src"], r["dst"], overlap)

    def co_clustered(result):
        cl = {
            r["url"]: r["cluster_id"]
            for r in result.clusters.select("url", "cluster_id").collect()
        }
        contain = truth[truth["kind"] == "contain"]
        return sum(
            cl[r["url"]] == cl[r["dup_of_url"]] for _, r in contain.iterrows()
        )

    base = run_dedup(tiny_pages_df, cfg)
    n_contain = int((truth["kind"] == "contain").sum())
    assert n_contain > 0
    assert co_clustered(res) >= co_clustered(base)


def test_spill_sweep_removes_only_dead_process_dirs(tmp_path, monkeypatch):
    """A run killed with SIGKILL never reaches its exit hook, so its
    spill dir leaks. The first spill of the next process removes it,
    and keeps every dir of a live process (here: this one)."""
    import os
    import signal
    import subprocess
    import sys

    from dedup import pipeline

    monkeypatch.setenv("DEDUP_SCRATCH", str(tmp_path))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    child = subprocess.Popen(
        [
            sys.executable, "-c",
            "import time; from dedup import pipeline; "
            "print(pipeline._spill_dir('killed'), flush=True); time.sleep(600)",
        ],
        cwd=repo, stdout=subprocess.PIPE, text=True,
    )
    try:
        dead = child.stdout.readline().strip()
    finally:
        child.send_signal(signal.SIGKILL)
        child.wait()
    assert dead and os.path.isdir(dead), "the child made no spill dir"

    mine = tmp_path / f"dedup-spill-{os.getpid()}-earlier-x"
    mine.mkdir()
    monkeypatch.setattr(pipeline, "_SWEPT", False)  # as in a fresh process
    new = pipeline._spill_dir("live")
    assert not os.path.exists(dead)
    assert mine.is_dir() and os.path.isdir(new)
    assert os.path.basename(new).startswith(f"dedup-spill-{os.getpid()}-live-")
