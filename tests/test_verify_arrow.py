"""Parity tests: the Arrow-vectorized pair-verification kernels used in
the pipeline hot path must agree bit-for-bit with the pure-SQL
higher-order-function expressions (which remain the oracle-twin qkey
surface). Random signatures/shingle sets, both code paths on the same
frames, sorted collected rows compared exactly."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from dedup.verify import (
    _est_agreement_arrow,
    est_jaccard_expr,
    exact_jaccard_expr,
)

NUM_PERM = 16


@pytest.fixture(scope="module")
def pair_frames(spark):
    rng = random.Random(7)
    rows = []
    for pid in range(200):
        # signatures with controlled agreement; shingles sorted unsigned
        mh_a = [rng.randrange(-(2**62), 2**62) for _ in range(NUM_PERM)]
        mh_b = [
            v if rng.random() < 0.5 else rng.randrange(-(2**62), 2**62)
            for v in mh_a
        ]
        pool = [rng.randrange(-(2**63), 2**63 - 1) for _ in range(60)]
        sa = sorted(rng.sample(pool, rng.randint(1, 40)), key=lambda x: x % 2**64)
        sb = sorted(rng.sample(pool, rng.randint(1, 40)), key=lambda x: x % 2**64)
        rows.append((pid, pid + 1_000_000, 0.5, mh_a, mh_b, sa, sb))
    return spark.createDataFrame(
        rows,
        "src long, dst long, est_jacc double, mh_a array<long>, "
        "mh_b array<long>, sh_a array<long>, sh_b array<long>",
    )


def test_est_agreement_arrow_matches_sql_expr(pair_frames):
    got = {
        (r.src, r.dst): r.est_jacc
        for r in _est_agreement_arrow(pair_frames, NUM_PERM).collect()
    }
    want = {
        (r.src, r.dst): r.est
        for r in pair_frames.select(
            "src", "dst", est_jaccard_expr(num_perm=NUM_PERM).alias("est")
        ).collect()
    }
    assert got == want


def test_band_hashes_batch_matches_sql_expr(spark):
    """numpy chained-XXH64 band keys == the JVM ``xxhash64(i, slice)``
    fold, bit for bit, and the fused slim stage == SQL banding of the
    full signature stage on real text."""
    import numpy as np

    from dedup.config import DEFAULT_CONFIG as cfg
    from dedup.hashing import band_hashes_batch

    rng = np.random.default_rng(3)
    mh = rng.integers(0, 2**64, size=(50, cfg.num_perm), dtype=np.uint64)
    got = band_hashes_batch(mh, cfg.bands, cfg.rows_per_band).view(np.int64)
    df = spark.createDataFrame(
        [(i, [int(v) for v in row.view(np.int64)]) for i, row in enumerate(mh)],
        "doc_id long, minhash array<long>",
    )
    from dedup.signatures import band_hashes_expr

    want = {
        r.doc_id: r.bh
        for r in df.select("doc_id", band_hashes_expr(cfg).alias("bh")).collect()
    }
    for i in range(mh.shape[0]):
        assert list(got[i]) == want[i], f"row {i}"


def test_packed_agreement_expr_counts_equal_bytes(spark):
    """The codegen zero-byte-count estimate == python low-byte agreement
    count, including borrow-prone byte patterns (0x00/0x01 neighbours)."""
    import numpy as np

    from dedup.verify import packed_agreement_expr

    rng = np.random.default_rng(11)
    rows, want = [], []
    p = 32
    for pid in range(300):
        # low bytes drawn from a tiny alphabet → many equal + many
        # 0x00/0x01 adjacencies (the false-positive case of the
        # naive Mycroft trick)
        a_bytes = rng.integers(0, 3, size=32, dtype=np.uint64)
        b_bytes = rng.integers(0, 3, size=32, dtype=np.uint64)
        a = a_bytes.astype(np.uint8).view("<u8").view(np.int64)
        b = b_bytes.astype(np.uint8).view("<u8").view(np.int64)
        rows.append((pid, *[int(v) for v in a], *[int(v) for v in b]))
        want.append(int((a_bytes == b_bytes).sum()) / p)
    df = spark.createDataFrame(
        rows,
        "pid long, a0 long, a1 long, a2 long, a3 long, "
        "b0 long, b1 long, b2 long, b3 long",
    )
    got = {
        r.pid: r.est
        for r in df.select("pid", packed_agreement_expr(p).alias("est")).collect()
    }
    for pid, w in enumerate(want):
        assert got[pid] == w, (pid, got[pid], w)


def test_popcount64_matches_python():
    import numpy as np

    from dedup.hashing import popcount64

    rng = np.random.default_rng(5)
    xs = rng.integers(0, 2**64, size=1000, dtype=np.uint64)
    xs[:4] = [0, 1, 2**63, 2**64 - 1]
    got = popcount64(xs)
    for x, g in zip(xs, got):
        assert g == bin(int(x)).count("1")


def test_est_filter_pairs_matches_late_filter(spark, tiny_pages_df):
    """Fused pre-distinct est filtering (est_filter_pairs on the raw
    flood) keeps exactly the pairs the post-distinct filter kept."""
    from dedup.config import DEFAULT_CONFIG as cfg
    from dedup.ingest import representatives, to_docs
    from dedup.signatures import with_bands, with_slim_signatures
    from dedup.candidates import lsh_candidates
    from dedup.verify import est_filter_floor, est_filter_pairs, packed_agreement_expr

    docs = to_docs(tiny_pages_df, cfg)
    sigs = with_slim_signatures(representatives(docs, cfg), cfg)
    bands = with_bands(sigs, cfg)
    raw = lsh_candidates(bands, cfg, dedupe=False)
    fused = {
        (r.src, r.dst, round(r.est_jacc, 9))
        for r in est_filter_pairs(raw, sigs, cfg).dropDuplicates(["src", "dst"]).collect()
    }
    p = min(cfg.est_prefilter_perms or cfg.num_perm, cfg.num_perm, 32)
    late = {
        (r.src, r.dst, round(r.est_jacc, 9))
        for r in est_filter_pairs(
            lsh_candidates(bands, cfg, dedupe=True), sigs, cfg
        ).collect()
    }
    assert fused == late
    assert fused, "degenerate fixture: no est-passing pairs"


def test_slim_signatures_match_full_stage(spark, tiny_pages_df):
    from dedup.config import DEFAULT_CONFIG as cfg
    from dedup.ingest import representatives, to_docs
    from dedup.signatures import (
        with_bands,
        with_shingle_signatures,
        with_slim_signatures,
    )

    reps = representatives(to_docs(tiny_pages_df, cfg), cfg)
    full = with_bands(with_shingle_signatures(reps, cfg), cfg)
    slim = with_bands(with_slim_signatures(reps, cfg), cfg)
    a = {tuple(r) for r in full.collect()}
    b = {tuple(r) for r in slim.collect()}
    assert a == b


def test_exact_jaccard_text_arrow_matches_shingle_sql(spark):
    """The text-input kernel (hash k-grams in-kernel, then intersect)
    must equal shingling via the pinned SQL expression + SQL Jaccard —
    including unicode, short-doc and empty texts. (Null texts never
    reach the verifier — endpoints must carry signatures, and null
    norm_text rows are filtered before signing.)"""
    from dedup.config import DedupConfig
    from dedup.signatures import shingles_expr
    from dedup.verify import _exact_jaccard_text_arrow

    cfg = DedupConfig()
    rng = random.Random(11)
    words = ["the", "café", "naïve", "data", "Ω", "page", "boiler", "ᚠᚢᚦ"]
    texts = [
        " ".join(rng.choice(words) for _ in range(rng.randint(0, 60)))
        for _ in range(120)
    ]
    texts[0], texts[1], texts[2] = "", "ab", "a"  # short-doc rules
    rows = [
        (i, i + 1_000_000, 0.5, texts[i], texts[rng.randrange(len(texts))])
        for i in range(len(texts))
    ]
    pairs = spark.createDataFrame(
        rows, "src long, dst long, est_jacc double, t_a string, t_b string"
    )
    got = {(r.src, r.dst): r.sim for r in _exact_jaccard_text_arrow(pairs, cfg).collect()}
    sh = pairs.select(
        "src",
        "dst",
        shingles_expr("t_a", cfg.k).alias("sh_a"),
        shingles_expr("t_b", cfg.k).alias("sh_b"),
    )
    want = {
        (r.src, r.dst): r.sim
        for r in sh.select("src", "dst", exact_jaccard_expr().alias("sim")).collect()
    }
    assert got == want


def test_refine_est_pairs_recall_safe(spark, tiny_pages_df):
    """Stage-2 refinement (refine_est_pairs: full-width byte-packed
    estimate + exact shingle-count ratio bound) must never drop a
    stage-1 survivor whose EXACT Jaccard is >= the threshold: byte
    collisions only inflate the estimate, and J >= t forces
    min(|A|,|B|) >= t*max(|A|,|B|). Oracle = python char-kgram sets on
    the same norm_text."""
    from dedup.candidates import lsh_candidates
    from dedup.config import DEFAULT_CONFIG as cfg
    from dedup.ingest import representatives, to_docs
    from dedup.signatures import with_bands, with_slim_signatures
    from dedup.verify import est_filter_pairs, refine_est_pairs
    from tests.oracle import jaccard, shingle_set

    docs = to_docs(tiny_pages_df, cfg)
    sigs = with_slim_signatures(representatives(docs, cfg), cfg)
    # full byte-packed width: ceil(num_perm/8) pre columns
    n_longs = max(4, -(-cfg.num_perm // 8))
    assert [c for c in sigs.columns if c.startswith("pre")] == [
        f"pre{i}" for i in range(n_longs)
    ]

    stage1 = est_filter_pairs(
        lsh_candidates(with_bands(sigs, cfg), cfg, dedupe=False), sigs, cfg
    ).dropDuplicates(["src", "dst"])
    s1 = {(r.src, r.dst) for r in stage1.collect()}
    refined = {
        (r.src, r.dst): r.est_jacc
        for r in refine_est_pairs(stage1.drop("est_jacc"), sigs, cfg).collect()
    }
    assert set(refined) <= s1

    texts = {
        r.doc_id: r.norm_text
        for r in docs.select("doc_id", "norm_text").collect()
    }
    true_pairs = {
        (a, b)
        for a, b in s1
        if jaccard(shingle_set(texts[a], cfg.k), shingle_set(texts[b], cfg.k))
        >= cfg.jaccard_thresh
    }
    assert true_pairs, "degenerate fixture: no true near-dup pairs survive stage 1"
    missed = true_pairs - set(refined)
    assert not missed, f"stage-2 refinement dropped true pairs: {sorted(missed)[:5]}"
    assert all(0.0 <= e <= 1.0 for e in refined.values())
