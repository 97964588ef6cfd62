"""ANN kernel parity: the mapInArrow matrix kernels (scale path) must
agree with the pure-SQL-expr twins (oracle path) on real embeddings.

The expr twins do strict sequential double summation; the kernels use
numpy GEMM/einsum. They can only disagree where a dot product sits
within ~1e-13 of a sign/rounding boundary — which never happens on this
fixed dataset, so the comparisons below are exact, not tolerant."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dedup.simsearch import (
    brute_force_pairs,
    cosine_pairs_arrow,
    hyperplanes,
    lsh_pairs,
    lsh_pairs_expr,
    with_sign_bucket,
    with_sign_bucket_arrow,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def test_sign_bucket_arrow_matches_expr(spark, vecs):
    n_planes, seed = 6, 42
    dim = len(vecs.first()["embedding"])
    expr = with_sign_bucket(vecs, hyperplanes(dim, n_planes, seed)).select(
        "vec_id", "bucket"
    )
    arrow = with_sign_bucket_arrow(vecs, n_planes=n_planes, seed=seed).select(
        "vec_id", "bucket"
    )
    assert sorted(map(tuple, expr.collect())) == sorted(map(tuple, arrow.collect()))


def test_cosine_pairs_arrow_matches_expr(spark, vecs):
    d = vecs.limit(40)
    a = d.select(F.col("vec_id").alias("src"), F.col("embedding").alias("va"))
    b = d.select(F.col("vec_id").alias("dst"), F.col("embedding").alias("vb"))
    pairs = a.crossJoin(b).filter(F.col("src") < F.col("dst"))
    arrow = {
        (r.src, r.dst): r.cos for r in cosine_pairs_arrow(pairs).collect()
    }
    expr = {
        (r.src, r.dst): r.cos
        for r in brute_force_pairs(d, thresh=-2.0).collect()
    }
    assert arrow == expr


def test_lsh_pairs_arrow_matches_expr_twin(spark, vecs):
    got = sorted(map(tuple, lsh_pairs(vecs, thresh=0.45, n_planes=6).collect()))
    want = sorted(map(tuple, lsh_pairs_expr(vecs, thresh=0.45, n_planes=6).collect()))
    assert got == want
    assert len(got) > 0


def test_lsh_pairs_subset_of_brute_force(spark, vecs):
    lsh = {(r.src, r.dst) for r in lsh_pairs(vecs, thresh=0.45, n_planes=6).collect()}
    bf = {(r.src, r.dst) for r in brute_force_pairs(vecs, thresh=0.45).collect()}
    assert lsh <= bf


def test_lsh_plan_has_no_interpreted_lambda_or_driver_probe(spark, vecs):
    plan = lsh_pairs(vecs, thresh=0.45, n_planes=6)._jdf.queryExecution().toString()
    assert "zip_with" not in plan
    assert "aggregate(" not in plan


def test_ivf_topk_recall_vs_exact(spark, vecs):
    """IVF approximate top-k in the regime it exists for: 32 PLANTED
    near-duplicate vectors at cos ∈ [0.9, 0.99] (the same construction
    as the LSH recall test — a near-collinear pair lands in the same
    centroid cell almost surely, and n_probe=4 covers the rest). Gates:
    ≥0.9 of planted queries retrieve their twin in top-5; retrieved
    cosines are EXACT (IVF only approximates the candidate set, the
    re-rank is exact — cross-checked against the window oracle); and
    probing ALL cells reproduces the exact oracle verbatim."""
    import numpy as np

    from dedup.simsearch import ivf_topk, topk_neighbors

    base = vecs.orderBy("vec_id").limit(32).collect()
    rng = np.random.default_rng(13)
    rows = []
    for i, r in enumerate(base):
        v = np.asarray(r.embedding, dtype=np.float64)
        v /= np.linalg.norm(v)
        target = float(rng.uniform(0.9, 0.99))
        g = rng.standard_normal(v.size)
        g -= g.dot(v) * v
        g /= np.linalg.norm(g)
        w = target * v + np.sqrt(1 - target**2) * g
        rows.append((int(30_000_000 + i), [float(x) for x in w]))
    planted = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    corpus = vecs.selectExpr(
        "vec_id", "cast(embedding as array<double>) as embedding"
    ).unionByName(planted)
    q = planted  # the planted copies query for their originals

    exact = topk_neighbors(corpus, q, k=5).collect()
    approx = ivf_topk(corpus, q, k=5).collect()
    exact_map = {(r.q_id, r.n_id): r.cos for r in exact}
    approx_map = {(r.q_id, r.n_id): r.cos for r in approx}
    twin_of = {30_000_000 + i: r.vec_id for i, r in enumerate(base)}
    hits = sum(1 for qid, nid in approx_map if twin_of.get(qid) == nid)
    assert hits / len(twin_of) >= 0.9, f"twin recall {hits}/{len(twin_of)}"
    for key in set(approx_map) & set(exact_map):
        assert approx_map[key] == exact_map[key]
    full = {
        (r.q_id, r.n_id): r.cos
        for r in ivf_topk(corpus, q, k=5, n_cells=16, n_probe=16).collect()
    }
    assert full == exact_map


@pytest.fixture(scope="module")
def skew_vecs(spark, vecs):
    """Adversarial embedding corpus: the full table plus ONE embedding
    replicated 600× under fresh ids — every replica lands in the same
    sign bucket of every table, modelling the correlated-corpus hot
    bucket (CLAUDE.md: simhash chunk buckets measured far from uniform
    on templated corpora)."""
    one = vecs.orderBy("vec_id").limit(1).select("embedding")
    flood = (
        spark.range(600)
        .crossJoin(F.broadcast(one))
        .select((F.col("id") + 10_000_000).alias("vec_id"), "embedding")
    )
    return vecs.unionByName(flood)


def test_lsh_pairs_salted_set_equal_to_unsalted(spark, skew_vecs):
    """Round-2 verdict item 2: the hot-bucket salted block join must be
    pair-set-IDENTICAL to the plain bucket join — salting redistributes
    work, never changes the answer — and must emit each pair exactly
    once (no pair-distinct in the plan to hide double-emission)."""
    salted = lsh_pairs(
        skew_vecs, thresh=0.45, n_planes=6, hot_thresh=64, n_salt=4
    ).collect()
    plain = lsh_pairs(skew_vecs, thresh=0.45, n_planes=6, hot_thresh=0).collect()
    skey = sorted((r.src, r.dst, r.cos) for r in salted)
    pkey = sorted((r.src, r.dst, r.cos) for r in plain)
    assert skey == pkey
    assert len(skey) == len({(s, d) for s, d, _ in skey}), "duplicate pair emitted"
    # the flood really is hot: its replicas pair with each other
    flood_pairs = [1 for s, d, _ in skey if s >= 10_000_000 and d >= 10_000_000]
    assert len(flood_pairs) > 600 * 64  # quadratic in the flood, >> hot_thresh


def test_lsh_pairs_bucket_cap_drops_monster_bucket(spark, skew_vecs):
    """bucket_cap is the recall-trading guard: with the cap below the
    flood size, no flood×flood pair survives; organic (sub-cap) buckets
    are untouched."""
    capped = {
        (r.src, r.dst)
        for r in lsh_pairs(
            skew_vecs, thresh=0.45, n_planes=6, hot_thresh=64, bucket_cap=300
        ).collect()
    }
    assert not any(s >= 10_000_000 and d >= 10_000_000 for s, d in capped)


def test_lsh_pairs_multi_table_recall(spark, vecs):
    """Retrieval quality, not just twin parity (round-2 verdict item 7):
    recall vs brute force in the regime the operator exists for —
    PLANTED near-duplicate vectors at cos ∈ [0.9, 0.99] (64 perturbed
    copies, deterministic seed), threshold 0.9. Expected per-table
    collision prob at the worst planted angle (θ ≈ 26°) is
    (1-θ/π)^6 ≈ 0.40, so 8 OR-combined tables give ≈ 0.98 expected
    recall — asserted ≥ 0.9 with margin. Multi-table must dominate
    single-table and stay a subset of brute force (exact cosine verify
    inside buckets — no false positives by construction)."""
    import numpy as np

    base = vecs.orderBy("vec_id").limit(64).collect()
    rng = np.random.default_rng(7)
    rows = []
    for i, r in enumerate(base):
        v = np.asarray(r.embedding, dtype=np.float64)
        v /= np.linalg.norm(v)
        target = float(rng.uniform(0.9, 0.99))
        g = rng.standard_normal(v.size)
        g -= g.dot(v) * v  # orthogonal component
        g /= np.linalg.norm(g)
        w = target * v + np.sqrt(1 - target**2) * g  # exact cosine = target
        rows.append((int(20_000_000 + i), [float(x) for x in w]))
    planted = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    corpus = vecs.selectExpr(
        "vec_id", "cast(embedding as array<double>) as embedding"
    ).unionByName(planted)

    bf = {(r.src, r.dst) for r in brute_force_pairs(corpus, thresh=0.9).collect()}
    assert len(bf) >= 60, f"planting failed: only {len(bf)} ground-truth pairs"
    one = {(r.src, r.dst) for r in lsh_pairs(corpus, thresh=0.9, n_planes=6).collect()}
    multi = {
        (r.src, r.dst)
        for r in lsh_pairs(corpus, thresh=0.9, n_planes=6, n_tables=8).collect()
    }
    assert one <= multi <= bf
    assert len(multi) / len(bf) >= 0.9, f"recall {len(multi)}/{len(bf)}"


# ---------------------------------------------------------------------------
# semantic_dedup (SemDeDup)
# ---------------------------------------------------------------------------


def test_semantic_dedup_vs_python_reference(spark, vecs):
    """End-to-end vs an independent numpy brute-force reference: same
    explicit centroid matrix on both sides, assignment by argmax cosine
    (first-index tie rule), within-cell pairs at 4-dp-rounded cosine,
    min-id keep."""
    import numpy as np

    from dedup.simsearch import ivf_centroids, semantic_dedup

    cent = ivf_centroids(vecs, 8, order="id")
    got = sorted(
        (r.vec_id, r.cell, r.kept)
        for r in semantic_dedup(vecs, thresh=0.45, centroids=cent).collect()
    )

    rows = sorted(vecs.collect(), key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    vn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cell = np.argmax(vn @ cent.T, axis=1)
    dropped: set[int] = set()
    for c in range(8):
        idx = np.where(cell == c)[0]
        sub = vn[idx] @ vn[idx].T
        iu, ju = np.triu_indices(len(idx), 1)
        m = np.round(sub[iu, ju], 4) >= 0.45
        for a, b in zip(idx[iu[m]], idx[ju[m]]):
            dropped.add(int(ids[max(a, b)]))
    exp = sorted(
        (int(i), int(cell[k]), int(i) not in dropped) for k, i in enumerate(ids)
    )
    assert got == exp
    assert any(not k for _, _, k in got), "threshold planted no duplicates"


def test_semantic_dedup_salted_equals_plain(spark, skew_vecs):
    """The hot-cell salted block self-join must produce the IDENTICAL
    keep decision as the plain cell join — the 600-replica flood lands
    in one cell (identical vectors, identical argmax), making that cell
    hot at hot_thresh=32."""
    from dedup.simsearch import ivf_centroids, semantic_dedup

    cent = ivf_centroids(skew_vecs, 8, order="id")
    plain = sorted(
        (r.vec_id, r.cell, r.kept)
        for r in semantic_dedup(
            skew_vecs, thresh=0.9, centroids=cent, hot_thresh=0
        ).collect()
    )
    salted = sorted(
        (r.vec_id, r.cell, r.kept)
        for r in semantic_dedup(
            skew_vecs, thresh=0.9, centroids=cent, hot_thresh=32, n_salt=4
        ).collect()
    )
    assert plain == salted
    # the flood replicates an ORIGINAL corpus vector whose id is smaller
    # than every replica id — min-id keep drops all 600 replicas
    flood = [k for v, _, k in plain if v >= 10_000_000]
    assert sum(flood) == 0 and len(flood) == 600


def test_semantic_dedup_duplicate_centroid_tie(spark):
    """Duplicated centroid vectors give bit-equal cosines — assignment
    must resolve to the LOWEST cell id (np.argmax first-index rule),
    matching an ORDER BY cos DESC, cell ASC oracle."""
    import numpy as np

    from dedup.simsearch import semantic_dedup

    cent = np.array([[1.0, 0.0], [1.0, 0.0], [0.0, 1.0]])
    df = spark.createDataFrame(
        [(1, [2.0, 0.0]), (2, [3.0, 0.1]), (3, [0.0, 5.0])],
        "vec_id long, embedding array<double>",
    )
    got = {r.vec_id: (r.cell, r.kept) for r in
           semantic_dedup(df, thresh=0.99, centroids=cent).collect()}
    assert got[1][0] == 0 and got[2][0] == 0 and got[3][0] == 2
    # cos(v1, v2) ≈ 0.9994 ≥ 0.99 → min-id keep drops vec 2
    assert got == {1: (0, True), 2: (0, False), 3: (2, True)}


def test_semantic_dedup_far_from_centroid_vs_python(spark, vecs):
    """The paper-exact keep rule (SemDeDup §2: connected components of
    the within-cell threshold graph, keep the member LEAST similar to
    its centroid, ties by id) vs an independent python reference with
    its own union-find."""
    import numpy as np

    from dedup.simsearch import ivf_centroids, semantic_dedup

    cent = ivf_centroids(vecs, 8, order="id")
    got = sorted(
        (r.vec_id, r.cell, r.kept)
        for r in semantic_dedup(
            vecs, thresh=0.45, centroids=cent, keep="far_from_centroid"
        ).collect()
    )

    rows = sorted(vecs.collect(), key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    vn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = vn @ cent.T
    cell = np.argmax(sims, axis=1)
    cell_cos = sims[np.arange(len(ids)), cell]

    parent = {int(i): int(i) for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    pairs = []
    for c in range(8):
        idx = np.where(cell == c)[0]
        sub = vn[idx] @ vn[idx].T
        iu, ju = np.triu_indices(len(idx), 1)
        m = np.round(sub[iu, ju], 4) >= 0.45
        pairs += [(int(ids[a]), int(ids[b])) for a, b in zip(idx[iu[m]], idx[ju[m]])]
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    from collections import defaultdict

    groups = defaultdict(list)
    grouped_ids = {v for p in pairs for v in p}
    for k, i in enumerate(ids):
        if int(i) in grouped_ids:
            groups[find(int(i))].append((float(cell_cos[k]), int(i)))
    keepers = {min(v)[1] for v in groups.values()}
    exp = sorted(
        (int(i), int(cell[k]), int(i) not in grouped_ids or int(i) in keepers)
        for k, i in enumerate(ids)
    )
    assert got == exp
    # the two rules keep the same NUMBER per group (one), but can pick
    # different members — total keep count must match min_id's
    got_minid = semantic_dedup(vecs, thresh=0.45, centroids=cent).collect()
    n_kept_minid = sum(r.kept for r in got_minid)
    # min_id drops any row with a smaller-id above-threshold neighbor,
    # which can drop MORE than one-per-component (chains) — so the
    # paper rule keeps at least as many rows
    assert sum(k for _, _, k in got) >= n_kept_minid


# ---------------------------------------------------------------------------
# product quantization
# ---------------------------------------------------------------------------


def test_pq_codes_match_python_reference(spark, vecs):
    """with_pq_codes vs an independent numpy argmin reference (full
    (x−c)² distances, first-index ties), min-id codebook."""
    import numpy as np

    from dedup.simsearch import pq_codebook, with_pq_codes

    cb = pq_codebook(vecs, 16)
    got = {
        r.vec_id: list(r.codes)
        for r in with_pq_codes(vecs, cb, m=8).collect()
    }
    rows = sorted(vecs.collect(), key=lambda r: r.vec_id)
    mat = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    sub = mat.shape[1] // 8
    for s in range(8):
        d2 = (
            (mat[:, None, s * sub:(s + 1) * sub]
             - cb[None, :, s * sub:(s + 1) * sub]) ** 2
        ).sum(-1)
        want = np.argmin(d2, axis=1)
        for k, r in enumerate(rows):
            assert got[r.vec_id][s] == want[k], (r.vec_id, s)


def test_pq_topk_planted_twin_recall(spark, vecs):
    """PQ/ADC retrieval quality in the regime it exists for: 32 planted
    near-twins at cos ∈ [0.93, 0.99] with the ORIGINAL magnitude
    preserved (PQ quantizes raw geometry). Each planted query must
    retrieve its twin in ADC top-5 ≥ 90% of the time (numpy prototype
    measured 1.0 on this seed); ranks are deterministic (adist rounded
    6 dp, n_id tiebreak)."""
    import numpy as np

    from dedup.simsearch import pq_topk

    base = vecs.orderBy("vec_id").limit(32).collect()
    rng = np.random.default_rng(13)
    rows = []
    for i, r in enumerate(base):
        v = np.asarray(r.embedding, dtype=np.float64)
        mag = np.linalg.norm(v)
        v = v / mag
        t = float(rng.uniform(0.93, 0.99))
        g = rng.standard_normal(v.size)
        g -= g.dot(v) * v
        g /= np.linalg.norm(g)
        w = (t * v + np.sqrt(1 - t * t) * g) * mag
        rows.append((int(30_000_000 + i), [float(x) for x in w]))
    planted = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    corpus = vecs.selectExpr(
        "vec_id", "cast(embedding as array<double>) as embedding"
    ).unionByName(planted)

    out = pq_topk(corpus, planted, k=5).collect()
    twin_of = {30_000_000 + i: r.vec_id for i, r in enumerate(base)}
    got = {}
    for r in out:
        got.setdefault(r.q_id, set()).add(r.n_id)
    hits = sum(1 for q, ns in got.items() if twin_of[q] in ns)
    assert hits / 32 >= 0.9, f"twin recall {hits}/32"
    # ranks are 1..5 per query, unique
    from collections import Counter

    per_q = Counter(r.q_id for r in out)
    assert all(v == 5 for v in per_q.values())


def test_pq_topk_in_corpus_queries_get_k_rows(spark, vecs):
    """In-corpus queries on a single-batch corpus get exactly k
    neighbours, never themselves (self is masked before the per-batch
    cut), and the result does not depend on the batch layout."""
    from collections import Counter

    from dedup.simsearch import pq_codebook, pq_topk

    k = 5
    corpus = vecs.orderBy("vec_id").limit(200).coalesce(1).cache()
    queries = corpus.filter(F.col("vec_id") < 10)
    cb = pq_codebook(corpus, 16)
    one = pq_topk(corpus, queries, k=k, codebook=cb).collect()
    per_q = Counter(r.q_id for r in one)
    assert set(per_q) == {r.vec_id for r in queries.collect()}
    assert all(v == k for v in per_q.values()), per_q
    assert all(r.q_id != r.n_id for r in one)
    many = pq_topk(corpus.repartition(4), queries, k=k, codebook=cb).collect()
    assert sorted(many) == sorted(one)
    corpus.unpersist()


def test_cosine_qkeys_clear_rounding_boundaries(spark, monkeypatch):
    """``cosine_pairs_arrow`` rounds with numpy's binary half-even rule;
    Spark's ``round`` and the DuckDB oracle round HALF_UP on the decimal
    string. They can disagree only on a cosine at a 4-dp boundary
    (x.xxxx5). Over the driver corpus (sf0.01, the scale the oracle
    records run at), every cosine the two SQL-oracle qkeys that ride
    the kernel round — ``ann_ivf_full`` and ``semantic_dedup`` — lies
    more than 1e-9 from such a boundary. (sf0.001 and sf0.1 hold
    semantic_dedup cosines 4.8e-10 and 3.2e-10 from one: still ~10^5×
    the summation noise between engines, but under this margin.)"""
    import os

    import numpy as np

    from dedup import simsearch
    from dedup.queries import queries
    from dedup.simsearch import _batch_matrix

    orig = simsearch.cosine_pairs_arrow
    seen = []

    def capture(pairs, *a, **k):
        seen.append((pairs, k.get("va", "va"), k.get("vb", "vb")))
        return orig(pairs, *a, **k)

    monkeypatch.setattr(simsearch, "cosine_pairs_arrow", capture)
    driver_sf = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    for name in ("ann_ivf_full", "semantic_dedup"):
        seen.clear()
        assert queries()[name](spark, driver_sf).count() > 0
        assert seen, f"{name} no longer rides cosine_pairs_arrow"
        for pairs, va, vb in seen:
            t = pairs.select(va, vb).toArrow()
            a, b = _batch_matrix(t.column(va)), _batch_matrix(t.column(vb))
            cos = np.einsum("ij,ij->i", a, b) / np.sqrt(
                np.einsum("ij,ij->i", a, a) * np.einsum("ij,ij->i", b, b)
            )
            x = cos * 1e4
            margin = np.abs(x - np.floor(x) - 0.5) / 1e4
            assert len(cos) > 0 and margin.min() > 1e-9, (name, margin.min())
