"""Parity tests: the Arrow-vectorized pair-verification kernels used in
the pipeline hot path must agree bit-for-bit with the pure-SQL
higher-order-function expressions (which remain the oracle-twin qkey
surface). Random signatures/shingle sets, both code paths on the same
frames, sorted collected rows compared exactly."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from dedup.verify import exact_jaccard_expr


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
    """The slim pipeline signatures equal the full-width JVM path
    (``with_signatures(with_shingles(…))``): same band keys per band,
    simhash and n_shingles, and the byte-packed ``pre*`` longs hold the
    low byte of each full-width MinHash position."""
    import numpy as np

    from dedup.config import DEFAULT_CONFIG as cfg
    from dedup.ingest import representatives, to_docs
    from dedup.signatures import (
        with_bands,
        with_shingles,
        with_signatures,
        with_slim_signatures,
    )

    reps = representatives(to_docs(tiny_pages_df, cfg), cfg)
    full_sigs = with_signatures(with_shingles(reps, cfg), cfg)
    slim_sigs = with_slim_signatures(reps, cfg)
    a = {tuple(r) for r in with_bands(full_sigs, cfg).collect()}
    b = {tuple(r) for r in with_bands(slim_sigs, cfg).collect()}
    assert a == b

    full = {r["doc_id"]: r for r in full_sigs.collect()}
    slim = {r["doc_id"]: r for r in slim_sigs.collect()}
    assert set(full) == set(slim) and len(full) > 0
    n_longs = -(-cfg.num_perm // 8)
    for doc_id, f in full.items():
        s = slim[doc_id]
        assert s["simhash"] == f["simhash"]
        assert s["n_shingles"] == f["n_shingles"]
        low = (np.array(f["minhash"], dtype=np.int64) & 0xFF).astype(np.uint8)
        packed = np.array([s[f"pre{i}"] for i in range(n_longs)], dtype=np.int64)
        assert (packed.view(np.uint8)[: cfg.num_perm] == low).all()


def test_exact_jaccard_text_arrow_matches_shingle_sql(spark):
    """Both text-input kernels — the pair-side kernel of the shuffle
    branch and the binned kernel — hash k-grams in-kernel and intersect;
    each must equal shingling via the pinned SQL expression + SQL
    Jaccard, including unicode, short-doc and empty texts. The pairs
    include a 20-edge chain component that the binned kernel must split
    across two bins. (Null texts never reach the verifier — endpoints
    must carry signatures, and null norm_text rows are filtered before
    signing.)"""
    import numpy as np
    import pyarrow as pa

    from dedup.config import DedupConfig
    from dedup.signatures import shingles_expr
    from dedup.verify import (
        _bin_sideband,
        _binned_exact_jaccard,
        _exact_jaccard_text_arrow,
    )

    cfg = DedupConfig()
    rng = random.Random(11)
    words = ["the", "café", "naïve", "data", "Ω", "page", "boiler", "ᚠᚢᚦ"]
    texts = [
        " ".join(rng.choice(words) for _ in range(rng.randint(0, 60)))
        for _ in range(120)
    ]
    texts[0], texts[1], texts[2] = "", "ab", "a"  # short-doc rules
    # one text per doc id (ids are content representatives): a chain
    # component over ids 0..20, whose min id sorts it first, then one
    # two-doc component per text
    doc_text = {j: texts[rng.randrange(len(texts))] for j in range(21)}
    pair_ids = [(j, j + 1) for j in range(20)]
    for i, t in enumerate(texts):
        doc_text[100 + i] = t
        doc_text[1_000_000 + i] = texts[rng.randrange(len(texts))]
        pair_ids.append((100 + i, 1_000_000 + i))
    rows = [(a, b, 0.5, doc_text[a], doc_text[b]) for a, b in pair_ids]
    pairs = spark.createDataFrame(
        rows, "src long, dst long, est_jacc double, t_a string, t_b string"
    )
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
    got = {(r.src, r.dst): r.sim for r in _exact_jaccard_text_arrow(pairs, cfg).collect()}
    assert got == want

    # 140 pairs in 14 bins of 10: the chain holds sorted positions 0..19
    n_bins = 14
    src = np.array([a for a, _b in pair_ids], dtype=np.int64)
    dst = np.array([b for _a, b in pair_ids], dtype=np.int64)
    side = _bin_sideband(src, dst, np.full(len(src), 0.5), n_bins)
    assert set(side["map_keys"][side["map_ids"] == 10]) == set(side["keys"][:2])
    docs = spark.createDataFrame(list(doc_text.items()), "doc_id long, norm_text string")
    tab = pa.table({"src": src, "dst": dst, "est_jacc": np.full(len(src), 0.5)})
    binned = {
        (r.src, r.dst): r.sim
        for r in _binned_exact_jaccard(tab, docs, cfg, n_bins=n_bins).collect()
    }
    assert binned == want


def test_binned_kernel_hashes_each_doc_once(monkeypatch):
    """Run the binned kernel's two passes in process, one call per bin
    (what the ``repartition`` on the bin key hands each task): when no
    component straddles a bin boundary, the docs ``hash_char_kgrams``
    receives, summed over bins, are exactly the distinct pair endpoints,
    and every pair is emitted once with its exact Jaccard. Docs no pair
    needs are dropped by the tagging pass."""
    import numpy as np
    import pyarrow as pa

    from dedup import hashing
    from dedup.verify import _bin_sideband, _tag_bin_batches, _verify_bin_batches
    from tests.oracle import jaccard, shingle_set

    k = 5
    rng = random.Random(3)
    words = ["alpha", "beta", "gamma", "delta", "ω"]
    text = {
        d: " ".join(rng.choice(words) for _ in range(rng.randint(3, 30)))
        for d in range(40)
    }
    # 4 triangles over docs 0..11 (3 pairs each) in 4 bins of 3 pairs;
    # docs 12..39 are in no pair
    pair_ids = [
        (3 * t + i, 3 * t + j) for t in range(4) for i, j in ((0, 1), (0, 2), (1, 2))
    ]
    src = np.array([a for a, _b in pair_ids], dtype=np.int64)
    dst = np.array([b for _a, b in pair_ids], dtype=np.int64)
    side = _bin_sideband(src, dst, np.linspace(0.1, 0.9, len(src)), 4)
    ids = list(text)
    batches = pa.table(
        {"doc_id": pa.array(ids, pa.int64()), "norm_text": [text[d] for d in ids]}
    ).to_batches(max_chunksize=16)
    tagged = pa.Table.from_batches(list(_tag_bin_batches(iter(batches), side)))
    assert tagged.num_rows == 12

    hashed = []
    real = hashing.hash_char_kgrams

    def counting(buf, offsets, kk):
        hashed.append(len(offsets) - 1)
        return real(buf, offsets, kk)

    monkeypatch.setattr(hashing, "hash_char_kgrams", counting)
    bins = tagged.column("bin").to_numpy()
    out = []
    for key in np.unique(bins):
        part = tagged.filter(pa.array(bins == key)).to_batches(max_chunksize=2)
        out += [r for rb in _verify_bin_batches(iter(part), side, k) for r in rb.to_pylist()]
    assert sum(hashed) == len(np.unique(np.concatenate([src, dst]))) == 12
    assert len(hashed) == 4
    got = {(r["src"], r["dst"]): r["sim"] for r in out}
    assert len(got) == len(out) == len(pair_ids)
    for a, b in pair_ids:
        want = jaccard(shingle_set(text[a], k), shingle_set(text[b], k))
        assert abs(got[(a, b)] - want) < 1e-12, (a, b)


def test_bin_keys_land_on_own_partition(spark):
    """The verify bin keys are picked with a numpy port of Spark's
    Murmur3 hash: it must equal ``F.hash`` on ints, and each bin's key
    must land in a partition of its own under ``repartition(n, "bin")``
    — a change to Spark's hash placement fails here instead of silently
    stacking bins on one task."""
    import numpy as np

    from dedup.verify import _bin_keys, _murmur3_int

    df = spark.range(-1000, 2000).select(
        F.col("id").cast("int").alias("x"), F.hash(F.col("id").cast("int")).alias("h")
    )
    want = {r.x: r.h for r in df.collect()}
    xs = np.array(sorted(want), dtype=np.int64)
    assert dict(zip(xs.tolist(), _murmur3_int(xs).tolist())) == want
    for n in (1, 2, 3, 4, 8, 13, 16):
        keys = _bin_keys(n)
        placed = (
            spark.createDataFrame([(int(v),) for v in keys], "bin int")
            .repartition(n, "bin")
            .select("bin", F.spark_partition_id().alias("p"))
            .collect()
        )
        assert {r.bin: r.p for r in placed} == {int(v): b for b, v in enumerate(keys)}, n


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
