"""Differential harness for the candidate tiers and the shared edge
builder: run two code paths on the same input, collect both, compare
the rows as sets (the equal-collect pattern).

- generator level: each Arrow bucket-scan kernel == its SQL twin;
- candidate level: every tier of ``pipeline.candidates_from_signatures``
  × bucket cap == the SQL reference ``est_filter_pairs(lsh_candidates(
  cap_buckets(with_bands(…))) ∪ simhash_candidates(…))``;
- edge level: ``pipeline.edges_from_signatures`` returns the same edges
  whichever tier its gates pick;
- job level: the spark-submit job's edges stage goes through the same
  builder as ``run_dedup`` and commits the same graph.
"""

from __future__ import annotations

import pytest

from dedup import pipeline
from dedup.candidates import (
    cap_buckets,
    fused_candidates_bcast,
    lsh_candidates,
    lsh_candidates_arrow,
    sig_lookup_arrays,
    simhash_candidates,
    simhash_candidates_arrow,
)
from dedup.config import DEFAULT_CONFIG
from dedup.ingest import representatives, to_docs
from dedup.signatures import with_bands, with_bands_pre, with_slim_signatures
from dedup.skew import split_hot_cold
from dedup.verify import est_filter_pairs, refine_est_pairs

PAIR_EST = ("src", "dst", "est_jacc")
#: low enough that the tiny corpus has hot buckets to salt
SALT_THRESH = 2


def collect_set(df, cols=PAIR_EST) -> set:
    """Rows of ``df`` as a set of tuples; floats rounded to 9 dp."""
    return {
        tuple(round(v, 9) if isinstance(v, float) else v for v in r)
        for r in df.select(*cols).collect()
    }


def assert_equal_collect(got, want, cols=PAIR_EST) -> None:
    g, w = collect_set(got, cols), collect_set(want, cols)
    assert w, "degenerate fixture: the reference is empty"
    assert g == w, (sorted(g - w)[:5], sorted(w - g)[:5])


@pytest.fixture(scope="module")
def docs(spark, tiny_pages_df):
    return pipeline._spill(to_docs(tiny_pages_df, DEFAULT_CONFIG), "t-tiers-docs")


@pytest.fixture(scope="module")
def sigs(docs):
    """The production signature layout: a slim-signature spill."""
    cfg = DEFAULT_CONFIG
    return pipeline._spill(
        with_slim_signatures(representatives(docs, cfg), cfg), "t-tiers-sigs"
    )


def sql_reference(sigs, cfg):
    bands, _hot = cap_buckets(with_bands(sigs, cfg), cfg.bucket_cap)
    raw = lsh_candidates(bands, cfg, dedupe=False).union(
        simhash_candidates(sigs, cfg, dedupe=False)
    )
    return est_filter_pairs(raw, sigs, cfg).dropDuplicates(["src", "dst"])


def skewed_simhash_sigs(spark):
    """Simhashes clustered around 8 bases with 0-6 bit flips: heavy
    chunk-bucket skew (the correlated-simhash case the kernel exists
    for), a mix of hamming <= 3 and > 3 pairs."""
    import random

    rng = random.Random(13)
    base = [rng.randrange(0, 2**64) for _ in range(8)]
    rows = []
    for i in range(600):
        s = base[rng.randrange(8)]
        for _ in range(rng.randint(0, 6)):
            s ^= 1 << rng.randrange(64)
        rows.append((i, s - 2**64 if s >= 2**63 else s, rng.randint(50, 400)))
    return spark.createDataFrame(rows, "doc_id long, simhash long, n_shingles long")


@pytest.mark.parametrize("kernel", ["lsh", "simhash"])
def test_arrow_generator_matches_sql_twin(spark, sigs, kernel):
    """Each numpy bucket-scan generator emits exactly its SQL equi-join
    twin's rows: LSH pairs with the fused stage-1 estimate, and SimHash
    pairs on a skewed-chunk fixture."""
    cfg = DEFAULT_CONFIG
    if kernel == "lsh":
        got = lsh_candidates_arrow(with_bands_pre(sigs, cfg), cfg)
        want = est_filter_pairs(
            lsh_candidates(with_bands(sigs, cfg), cfg, dedupe=False), sigs, cfg
        )
        assert_equal_collect(got, want)
    else:
        sk = skewed_simhash_sigs(spark)
        got = simhash_candidates_arrow(sk, cfg)
        want = simhash_candidates(sk, cfg)
        assert_equal_collect(got, want, ("src", "dst"))


@pytest.mark.parametrize("cap", [0, 3])
@pytest.mark.parametrize("tier", ["broadcast", "arrow", "salted"])
def test_candidate_tier_matches_sql_reference(spark, sigs, tier, cap):
    """Every candidate tier × bucket cap yields the reference's distinct
    (src, dst, est) set. The broadcast kernel runs on the sideband the
    pipeline builds from its spill, in stage-1 mode; the Arrow and
    salted tiers run through ``candidates_from_signatures``."""
    cfg = DEFAULT_CONFIG.with_(bucket_cap=cap)
    if tier == "broadcast":
        lookup = sig_lookup_arrays(sigs, cfg, parquet_dir=sigs._dedup_spill_dir)
        bc = spark.sparkContext.broadcast(lookup)
        got = fused_candidates_bcast(spark, bc, cfg, cap=cap, n_parts=5)
    else:
        if tier == "salted":
            cfg = cfg.with_(salt_hot_thresh=SALT_THRESH)
            _h, _c, hot = split_hot_cold(with_bands(sigs, cfg), SALT_THRESH)
            assert hot.count() > 0, "no hot bucket: the salted join is not exercised"
        got, pre_refined = pipeline.candidates_from_signatures(
            sigs, cfg, bcast_sigs=False
        )
        assert not pre_refined
    assert_equal_collect(got, sql_reference(sigs, cfg))


@pytest.mark.parametrize("cap", [0, 3])
def test_broadcast_tier_full_est_matches_refined_reference(sigs, cap):
    """The broadcast tier as the pipeline runs it (in-kernel stage-2
    refine on the full-width sideband) == ``refine_est_pairs`` over the
    SQL reference: same pairs, same full-width estimates."""
    cfg = DEFAULT_CONFIG.with_(bucket_cap=cap)
    got, pre_refined = pipeline.candidates_from_signatures(sigs, cfg, bcast_sigs=True)
    assert pre_refined
    want = refine_est_pairs(sql_reference(sigs, cfg).drop("est_jacc"), sigs, cfg)
    assert_equal_collect(got, want)


def test_edge_builder_identical_on_every_tier(spark, docs, sigs, monkeypatch):
    """``edges_from_signatures`` returns the same (src, dst, kind, sim)
    edges on every tier. The tier is forced through ``n_docs`` (a count
    opens the broadcast gate, None closes it) and
    ``cfg.salt_hot_thresh``; counting wrappers on the tier kernels check
    which one ran."""
    calls: dict[str, int] = {}

    def counted(name):
        orig = getattr(pipeline, name)

        def wrapper(*a, **k):
            calls[name] = calls.get(name, 0) + 1
            return orig(*a, **k)

        monkeypatch.setattr(pipeline, name, wrapper)

    for name in ("fused_candidates_bcast", "lsh_candidates_arrow", "salted_lsh_candidates"):
        counted(name)
    n_docs = docs.count()
    cfg = DEFAULT_CONFIG
    runs = {
        "fused_candidates_bcast": (cfg, n_docs),
        "lsh_candidates_arrow": (cfg, None),
        "salted_lsh_candidates": (cfg.with_(salt_hot_thresh=SALT_THRESH), n_docs),
    }
    got = {}
    for kernel, (c, n) in runs.items():
        calls.clear()
        edges = pipeline.edges_from_signatures(docs, sigs, c, n)
        got[kernel] = collect_set(edges, ("src", "dst", "kind", "sim"))
        assert calls == {kernel: 1}, (kernel, calls)
    want = got["fused_candidates_bcast"]
    assert {k for _s, _d, k, _sim in want} == {"exact", "near"}
    assert got["lsh_candidates_arrow"] == want
    assert got["salted_lsh_candidates"] == want


def test_job_edges_stage_shares_the_builder(spark, tiny_pages_df, tmp_path, monkeypatch):
    """Under the default config the job's edges stage reaches the
    broadcast tier through ``pipeline`` (one call), commits an edges
    table with no duplicate (src, dst), and ends in the same edges and
    clusters as ``run_dedup`` on the same pages."""
    from dedup.jobrunner import run_dedup_job
    from dedup.tableio import TableIO

    calls = []
    orig = pipeline.fused_candidates_bcast

    def counted(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    monkeypatch.setattr(pipeline, "fused_candidates_bcast", counted)
    tio = TableIO(spark, str(tmp_path / "wh"), backend="parquet")
    r = run_dedup_job(spark, tio, DEFAULT_CONFIG, "tiers", tiny_pages_df)
    assert r.ran == ["docs", "signatures", "edges", "clusters", "report"]
    assert len(calls) == 1

    job_edges = tio.read("edges")
    assert job_edges.count() == job_edges.dropDuplicates(["src", "dst"]).count()
    res = pipeline.run_dedup(tiny_pages_df, DEFAULT_CONFIG)
    assert_equal_collect(job_edges, res.edges, ("src", "dst", "kind"))
    assert_equal_collect(
        tio.read("clusters"), res.clusters, ("doc_id", "cluster_id")
    )
