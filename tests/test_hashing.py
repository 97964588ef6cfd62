"""Hash parity python↔Spark — everything downstream depends on this
(SURVEY.md §7 M0: doc ids, oracle replays, band keys)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from dedup.hashing import (
    minhash_from_hashes,
    mix64,
    perm_consts,
    simhash_from_hashes,
    xxh64_long,
    xxh64_str,
)

STRINGS = [
    "",
    "a",
    "abcd",
    "abcdefgh",
    "hello world",
    "the quick brown fox jumps over the lazy dog",
    "x" * 31,
    "x" * 32,
    "x" * 33,
    "x" * 100,
    "ünïcødé — ありがとう ✓",
    "w042 w001 w377",
    "https://src3.example.org/p/deadbeef1234",
    "tab\tnewline\nmixed",
    "0123456789" * 20,
]

LONGS = [0, 1, -1, 42, -42, 2**62, -(2**62), 123456789012345]


def test_xxh64_str_matches_spark(spark):
    df = spark.createDataFrame([(s,) for s in STRINGS], ["s"])
    got = {r["s"]: r["h"] for r in df.select("s", F.xxhash64("s").alias("h")).collect()}
    for s in STRINGS:
        assert got[s] == xxh64_str(s), f"xxh64 parity failed for {s!r}"


def test_xxh64_long_matches_spark(spark):
    df = spark.createDataFrame([(v,) for v in LONGS], ["v"])
    got = {r["v"]: r["h"] for r in df.select("v", F.xxhash64("v").alias("h")).collect()}
    for v in LONGS:
        assert got[v] == xxh64_long(v), f"xxh64 long parity failed for {v}"


def test_mix64_bijective_sample():
    x = np.random.default_rng(0).integers(0, 1 << 63, size=10000, dtype=np.uint64)
    assert len(np.unique(mix64(x))) == len(np.unique(x))


def test_perm_consts_deterministic_and_odd():
    a = perm_consts(128, 42)
    b = perm_consts(128, 42)
    assert (a == b).all()
    assert (a % 2 == 1).all()
    assert len(np.unique(a)) == 128


def test_minhash_properties():
    consts = perm_consts(128, 42)
    rng = np.random.default_rng(1)
    a = rng.integers(-(1 << 62), 1 << 62, size=500, dtype=np.int64)
    sig_a = minhash_from_hashes(a, consts)
    # permutation-invariance over input order
    assert (minhash_from_hashes(a[::-1].copy(), consts) == sig_a).all()
    # identical sets → identical signatures; estimate of J(a,a)=1
    assert (minhash_from_hashes(np.concatenate([a, a[:100]]), consts) == sig_a).all()
    # estimate tracks true Jaccard within ±0.15 at 128 perms
    b = np.concatenate([a[:400], rng.integers(-(1 << 62), 1 << 62, size=100, dtype=np.int64)])
    true_j = len(np.intersect1d(a, b)) / len(np.union1d(a, b))
    est = (sig_a == minhash_from_hashes(b, consts)).mean()
    assert abs(est - true_j) < 0.15


def test_minhash_empty_sentinel():
    consts = perm_consts(16, 42)
    sig = minhash_from_hashes(np.array([], dtype=np.int64), consts)
    assert (sig == np.iinfo(np.uint64).max).all()


def test_simhash_basic():
    rng = np.random.default_rng(2)
    a = rng.integers(-(1 << 62), 1 << 62, size=300, dtype=np.int64)
    sa = simhash_from_hashes(a)
    assert simhash_from_hashes(a[::-1].copy()) == sa  # order-invariant
    assert simhash_from_hashes(np.array([], dtype=np.int64)) == 0
    # small perturbation → small hamming distance
    b = a.copy()
    b[:10] = rng.integers(-(1 << 62), 1 << 62, size=10, dtype=np.int64)
    sb = simhash_from_hashes(b)
    ham = bin((sa ^ sb) & ((1 << 64) - 1)).count("1")
    assert ham <= 12


def test_batch_signatures_bit_match_per_doc():
    """minhash_batch/simhash_batch (the Arrow-batch fast path) must be
    bit-identical to the per-doc reference functions, including empty
    docs at every position."""
    import numpy as np

    from dedup.hashing import (
        minhash_batch,
        minhash_from_hashes,
        perm_consts,
        simhash_batch,
        simhash_from_hashes,
    )

    rng = np.random.default_rng(7)
    consts = perm_consts(128, 42)
    for _ in range(10):
        sizes = rng.integers(0, 60, size=int(rng.integers(1, 10)))
        arrs = [
            rng.integers(-(2**63), 2**63 - 1, size=int(n), dtype=np.int64)
            for n in sizes
        ]
        lengths = np.array([a.size for a in arrs])
        flat = (
            np.concatenate(arrs) if len(arrs) else np.empty(0, dtype=np.int64)
        )
        mb = minhash_batch(flat, lengths, consts)
        sb = simhash_batch(flat, lengths)
        for i, a in enumerate(arrs):
            assert (mb[i] == minhash_from_hashes(a, consts)).all()
            assert sb[i] == simhash_from_hashes(a)


def test_xxh64_matrix_parity():
    """Vectorized fixed-width XXH64 == the scalar reference at every
    width class (short path, 4-byte lane, 8-byte lanes, >=32 stripes)."""
    import random

    from dedup.hashing import xxh64, xxh64_matrix

    rng = random.Random(0)
    for L in [0, 1, 3, 4, 5, 7, 8, 9, 12, 16, 20, 31, 32, 33, 40, 64, 100]:
        rows = [bytes(rng.randrange(256) for _ in range(L)) for _ in range(40)]
        mat = np.frombuffer(b"".join(rows), dtype=np.uint8).reshape(40, L)
        got = xxh64_matrix(mat)
        want = np.array([xxh64(r) for r in rows], dtype=np.uint64)
        assert (got == want).all(), f"xxh64_matrix parity failed at L={L}"


def test_hash_char_kgrams_parity():
    """Batched k-gram hashing == per-window scalar xxh64 over char
    windows, distinct per doc — including unicode (multi-byte utf-8),
    short docs (< k chars), and empty docs."""
    from dedup.hashing import hash_char_kgrams, xxh64_str

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "",
        "ab",
        "aaaaaaaaaaaa",           # heavy duplicate windows
        "ünïcødé — ありがとう ✓ mixed ascii and cjk 日本語テキスト",
        "abcde",
        "x" * 200,
        "päällekkäisyys päällekkäisyys",
    ]
    k = 5
    data = b"".join(t.encode("utf-8") for t in texts)
    buf = np.frombuffer(data, dtype=np.uint8)
    offsets = np.zeros(len(texts) + 1, dtype=np.int64)
    np.cumsum([len(t.encode("utf-8")) for t in texts], out=offsets[1:])
    flat, lengths = hash_char_kgrams(buf, offsets, k)
    pos = 0
    for t, n in zip(texts, lengths):
        got = set(int(v) for v in flat[pos : pos + n].view(np.int64))
        if len(t) >= k:
            windows = {t[i : i + k] for i in range(len(t) - k + 1)}
        else:
            windows = {t}
        want = {xxh64_str(w) for w in windows}
        assert got == want, f"k-gram parity failed for {t!r}"
        # ascending order within doc (deterministic layout)
        seg = flat[pos : pos + n]
        assert (np.sort(seg) == seg).all()
        pos += n
    assert pos == len(flat)


def test_fused_signature_stage_matches_jvm_path(spark):
    """with_slim_signatures (numpy shingling, fused) must produce the
    JVM shingles_expr → with_signatures path's simhash, n_shingles, band
    keys and MinHash low bytes (the ``pre*`` longs), and
    hash_char_kgrams over the same texts the JVM expression's shingle
    SETS."""
    import pyarrow as pa

    from dedup.config import DEFAULT_CONFIG as cfg
    from dedup.datagen import gen_pages
    from dedup.hashing import hash_char_kgrams, str_buffers
    from dedup.ingest import representatives, to_docs
    from dedup.signatures import (
        band_hashes_expr,
        with_shingles,
        with_signatures,
        with_slim_signatures,
    )

    reps = representatives(to_docs(gen_pages(spark, 300, seed=9), cfg), cfg)
    fused = {
        r["doc_id"]: r
        for r in with_slim_signatures(reps, cfg).collect()
    }
    jvm = {
        r["doc_id"]: r
        for r in with_signatures(with_shingles(reps, cfg), cfg)
        .withColumn("band_hashes", band_hashes_expr(cfg))
        .collect()
    }
    jvm_sh = {
        r["doc_id"]: r for r in with_shingles(reps, cfg).collect()
    }
    texts = reps.select("doc_id", "norm_text").collect()
    flat, lengths = hash_char_kgrams(
        *str_buffers(pa.array([r["norm_text"] for r in texts])), cfg.k
    )
    ends = np.cumsum(lengths)
    np_sh = {
        r["doc_id"]: flat[e - n : e].view(np.int64).tolist()
        for r, n, e in zip(texts, lengths, ends)
    }
    assert set(fused) == set(jvm) and len(fused) > 0
    assert set(np_sh) == set(jvm_sh)
    n_longs = -(-cfg.num_perm // 8)
    for doc_id, f in fused.items():
        assert sorted(np_sh[doc_id]) == sorted(jvm_sh[doc_id]["shingles"])
        assert f["n_shingles"] == jvm_sh[doc_id]["n_shingles"]
        assert f["simhash"] == jvm[doc_id]["simhash"]
        assert f["band_hashes"] == jvm[doc_id]["band_hashes"]
        low = (np.array(jvm[doc_id]["minhash"], dtype=np.int64) & 0xFF).astype(np.uint8)
        packed = np.array([f[f"pre{i}"] for i in range(n_longs)], dtype=np.int64)
        assert (packed.view(np.uint8)[: cfg.num_perm] == low).all()


def test_oph_batch_matches_reference():
    """oph_minhash_batch must be bit-identical to the naive per-doc
    reference on mixed doc shapes: empty, single-shingle, sparse (most
    slots empty -> deep densification), dense (no empty slots)."""
    import numpy as np

    from dedup.hashing import oph_minhash_batch, oph_minhash_from_hashes

    rng = np.random.default_rng(7)
    num_perm = 128
    docs = [
        np.array([], dtype=np.uint64),
        rng.integers(0, 1 << 63, size=1, dtype=np.uint64),
        rng.integers(0, 1 << 63, size=5, dtype=np.uint64),
        rng.integers(0, 1 << 63, size=60, dtype=np.uint64),
        rng.integers(0, 1 << 63, size=900, dtype=np.uint64),
        # adversarial: all hashes in one slot (top bits equal)
        (np.uint64(3) << np.uint64(57)) | rng.integers(0, 1 << 40, size=40, dtype=np.uint64),
    ]
    docs = [np.unique(d) for d in docs]  # distinct + ascending (layout contract)
    flat = np.concatenate(docs)
    lengths = np.array([len(d) for d in docs], dtype=np.int64)
    got = oph_minhash_batch(flat, lengths, num_perm)
    for i, d in enumerate(docs):
        want = oph_minhash_from_hashes(d, num_perm)
        assert (got[i] == want).all(), f"doc {i} mismatch"


def test_oph_batch_unsorted_path():
    import numpy as np

    from dedup.hashing import oph_minhash_batch

    rng = np.random.default_rng(11)
    docs = [rng.integers(0, 1 << 63, size=s, dtype=np.uint64) for s in (80, 300)]
    docs = [np.unique(d) for d in docs]
    flat_sorted = np.concatenate(docs)
    lengths = np.array([len(d) for d in docs], dtype=np.int64)
    shuffled = [d.copy() for d in docs]
    for d in shuffled:
        rng.shuffle(d)
    got = oph_minhash_batch(
        np.concatenate(shuffled), lengths, 128, assume_sorted=False
    )
    want = oph_minhash_batch(flat_sorted, lengths, 128)
    assert (got == want).all()


def test_oph_estimator_tracks_jaccard():
    """Slot-agreement fraction of OPH signatures must approximate the
    true Jaccard of the underlying sets (the property the est filter
    and LSH banding rely on)."""
    import numpy as np

    from dedup.hashing import oph_minhash_batch

    rng = np.random.default_rng(3)
    # full-range uint64 like real xxh64 shingle hashes: every slot usable
    base = np.unique(rng.integers(0, 2**64, size=1200, dtype=np.uint64))
    for keep in (0.9, 0.7, 0.5):
        other = base[rng.random(len(base)) < keep]
        extra = np.unique(rng.integers(0, 2**64, size=120, dtype=np.uint64))
        other = np.unique(np.concatenate([other, extra]))
        inter = len(np.intersect1d(base, other))
        true_j = inter / (len(base) + len(other) - inter)
        flat = np.concatenate([base, other])
        lengths = np.array([len(base), len(other)], dtype=np.int64)
        sig = oph_minhash_batch(flat, lengths, 128)
        est = (sig[0] == sig[1]).mean()
        assert abs(est - true_j) < 0.12, (true_j, est)
