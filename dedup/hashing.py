"""Hash primitives shared by the Spark pipeline and the Python oracle.

Two families live here:

1. ``xxh64`` — a pure-Python XXH64 matching Spark's ``xxhash64`` SQL
   function bit-for-bit (Spark hashes a string's UTF-8 bytes with XXH64,
   default seed 42). Parity is asserted by tests/test_hashing.py against
   values produced by Spark itself; everything downstream (doc ids,
   oracle replays) depends on that test staying green.

2. splitmix64-based MinHash permutations and the SimHash bit-vote — the
   numpy cores called from the vectorized pandas UDFs in signatures.py
   AND from the brute-force oracle, so pipeline/oracle agreement is by
   construction (same function, same constants).

All numpy arithmetic is uint64 with wraparound (exact, no float).
"""

from __future__ import annotations

import numpy as np

_MASK = 0xFFFFFFFFFFFFFFFF

# ---------------------------------------------------------------------------
# XXH64 (pure python, standard algorithm; Spark's XXH64.java is standard)
# ---------------------------------------------------------------------------

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5

SPARK_XXHASH64_SEED = 42  # Spark's default seed for the xxhash64 SQL fn


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _MASK
    acc = _rotl(acc, 31)
    return (acc * _P1) & _MASK


def _merge_round(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return ((acc * _P1) + _P4) & _MASK


def xxh64(data: bytes, seed: int = SPARK_XXHASH64_SEED) -> int:
    """Standard XXH64 over ``data``; returns unsigned 64-bit int."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _MASK
        v2 = (seed + _P2) & _MASK
        v3 = seed & _MASK
        v4 = (seed - _P1) & _MASK
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _MASK
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + _P5) & _MASK
    h = (h + n) & _MASK
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = ((_rotl(h, 27) * _P1) + _P4) & _MASK
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _MASK
        h = ((_rotl(h, 23) * _P2) + _P3) & _MASK
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _MASK
        h = (_rotl(h, 11) * _P1) & _MASK
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _MASK
    h ^= h >> 29
    h = (h * _P3) & _MASK
    h ^= h >> 32
    return h


def xxh64_str(s: str, seed: int = SPARK_XXHASH64_SEED) -> int:
    """Signed 64-bit result matching Spark's ``xxhash64(string_col)``."""
    u = xxh64(s.encode("utf-8"), seed)
    return u - (1 << 64) if u >= (1 << 63) else u


def xxh64_strings(
    buf: np.ndarray, offsets: np.ndarray, seed: int = SPARK_XXHASH64_SEED
) -> np.ndarray:
    """XXH64 of each variable-width byte segment of ``buf`` (uint8 view
    of e.g. an Arrow StringArray data buffer; ``offsets`` int64[n+1]
    absolute) — width-grouped and row-vectorized via ``xxh64_matrix``,
    bit-identical to Spark's ``xxhash64(string_col)`` per segment.
    Returns uint64[n]; view as int64 for the Spark-signed form. Used by
    the fused docs kernel for ``doc_id = xxhash64(url)`` (urls cluster
    into a few dozen byte widths, so the gather stays vectorized)."""
    off = np.asarray(offsets, dtype=np.int64)
    n = len(off) - 1
    out = np.empty(n, dtype=np.uint64)
    width = np.diff(off)
    for L in np.unique(width):
        m = width == L
        starts = off[:-1][m]
        if L == 0:
            mat = np.empty((int(m.sum()), 0), dtype=np.uint8)
        else:
            mat = buf[starts[:, None] + np.arange(L, dtype=np.int64)]
        out[m] = xxh64_matrix(mat, seed)
    return out


def xxh64_long(v: int, seed: int = SPARK_XXHASH64_SEED) -> int:
    """Signed 64-bit result matching Spark's ``xxhash64(long_col)``
    (Spark hashes a LongType value as its 8 little-endian bytes via
    the XXH64 hashLong fast path — equivalent to hashing the 8 bytes)."""
    u = xxh64((v & _MASK).to_bytes(8, "little"), seed)
    return u - (1 << 64) if u >= (1 << 63) else u


# ---------------------------------------------------------------------------
# Vectorized XXH64 over fixed-width byte rows + batched char-k-gram hashing
# (the numpy replacement for the JVM `xxhash64(substring(...))` shingle
# expression — bit-identical by the same parity tests, ~30× cheaper per
# shingle, and it scales linearly with cores because it runs inside the
# Arrow-batch UDF instead of the codegen'd row interpreter)
# ---------------------------------------------------------------------------

_NP_P1 = np.uint64(_P1)
_NP_P2 = np.uint64(_P2)
_NP_P3 = np.uint64(_P3)
_NP_P4 = np.uint64(_P4)
_NP_P5 = np.uint64(_P5)


def _vrotl(x: np.ndarray, r: int) -> np.ndarray:
    r = np.uint64(r)
    return (x << r) | (x >> (np.uint64(64) - r))


def _vround(acc: np.ndarray, inp: np.ndarray) -> np.ndarray:
    return _vrotl(acc + inp * _NP_P2, 31) * _NP_P1


def xxh64_matrix(mat: np.ndarray, seed: int = SPARK_XXHASH64_SEED) -> np.ndarray:
    """XXH64 of every row of a ``(n, L)`` uint8 matrix — vectorized across
    rows, bit-identical to ``xxh64(row_bytes, seed)`` (asserted in
    tests/test_hashing.py). All rows share the one width L; variable-width
    inputs are grouped by width by the caller (``hash_char_kgrams``)."""
    n_rows, L = mat.shape
    i = 0
    if L >= 32:
        v1 = np.full(n_rows, np.uint64((seed + _P1 + _P2) & _MASK), dtype=np.uint64)
        v2 = np.full(n_rows, np.uint64((seed + _P2) & _MASK), dtype=np.uint64)
        v3 = np.full(n_rows, np.uint64(seed & _MASK), dtype=np.uint64)
        v4 = np.full(n_rows, np.uint64((seed - _P1) & _MASK), dtype=np.uint64)
        vs = [v1, v2, v3, v4]
        while i + 32 <= L:
            for lane_i, v in enumerate(vs):
                lane = (
                    np.ascontiguousarray(mat[:, i : i + 8])
                    .view("<u8")
                    .reshape(n_rows)
                )
                vs[lane_i] = _vround(v, lane)
                i += 8
        v1, v2, v3, v4 = vs
        h = _vrotl(v1, 1) + _vrotl(v2, 7) + _vrotl(v3, 12) + _vrotl(v4, 18)
        for v in vs:
            h ^= _vround(np.zeros_like(v), v)
            h = h * _NP_P1 + _NP_P4
    else:
        h = np.full(n_rows, np.uint64((seed + _P5) & _MASK), dtype=np.uint64)
    h = h + np.uint64(L)
    while i + 8 <= L:
        lane = np.ascontiguousarray(mat[:, i : i + 8]).view("<u8").reshape(n_rows)
        h ^= _vround(np.zeros_like(h), lane)
        h = _vrotl(h, 27) * _NP_P1 + _NP_P4
        i += 8
    if i + 4 <= L:
        lane = (
            np.ascontiguousarray(mat[:, i : i + 4])
            .view("<u4")
            .reshape(n_rows)
            .astype(np.uint64)
        )
        h ^= lane * _NP_P1
        h = _vrotl(h, 23) * _NP_P2 + _NP_P3
        i += 4
    while i < L:
        h ^= mat[:, i].astype(np.uint64) * _NP_P5
        h = _vrotl(h, 11) * _NP_P1
        i += 1
    h ^= h >> np.uint64(33)
    h *= _NP_P2
    h ^= h >> np.uint64(29)
    h *= _NP_P3
    h ^= h >> np.uint64(32)
    return h


#: windows per cache block of the k-gram hasher — sized so the block's
#: index/hash temporaries (~100 B/window) stay L2/L3-resident per worker
_KGRAM_BLOCK = 16384


def str_buffers(arr) -> tuple[np.ndarray, np.ndarray]:
    """Arrow StringArray → (uint8 data-buffer view, int64[n+1] absolute
    byte offsets) — the zero-copy form ``hash_char_kgrams`` consumes.
    Nulls are filled with '' first (empty doc ⇒ the pinned short-doc
    shingle rule applies)."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count:
        arr = pa.compute.fill_null(arr, "")
    n = len(arr)
    off_dtype = "<i8" if pa.types.is_large_string(arr.type) else "<i4"
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], dtype=off_dtype)[
        arr.offset : arr.offset + n + 1
    ].astype(np.int64)
    data = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.empty(0, dtype=np.uint8)
    )
    return data, offsets


def hash_char_kgrams(
    buf: np.ndarray, offsets: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Distinct hashed char k-grams for MANY utf-8 docs in one numpy pass.

    ``buf``: uint8 view of a utf-8 data buffer (e.g. an Arrow StringArray
    data buffer); ``offsets``: int64[n+1] absolute byte offsets of the n
    docs within ``buf``. Returns ``(flat, lengths)``: all docs' distinct
    shingle hashes concatenated (uint64, ascending per doc) and the
    per-doc counts.

    Semantics are pinned to the JVM expression ``array_distinct(
    transform(sequence(1, greatest(len-k+1, 1)), i -> xxhash64(
    substring(text, i, k))))`` — char (codepoint) windows, not byte
    windows; a doc shorter than k chars yields the single hash of the
    whole doc. Unicode is handled exactly: codepoint starts are the
    non-continuation bytes (b & 0xC0 != 0x80), windows are grouped by
    their BYTE width and each width group is hashed vectorized.
    """
    n = len(offsets) - 1
    if n == 0:
        return np.empty(0, dtype=np.uint64), np.zeros(0, dtype=np.int64)
    off = np.asarray(offsets, dtype=np.int64)
    lo, hi = off[0], off[n]
    seg = buf[lo:hi]
    # absolute byte position of every codepoint start, + end sentinel
    char_pos = np.flatnonzero((seg & np.uint8(0xC0)) != np.uint8(0x80)).astype(np.int64)
    char_pos += lo
    char_pos_ext = np.append(char_pos, hi)
    # per-doc char offsets (doc boundaries are codepoint boundaries)
    doc_char_off = np.searchsorted(char_pos, off)
    n_chars = np.diff(doc_char_off)
    w = np.maximum(n_chars - (k - 1), 1)  # windows per doc (short-doc rule)
    cum_w = np.cumsum(w)
    W = int(cum_w[-1])
    # Doc-aligned chunks of ~_KGRAM_BLOCK windows: the whole-batch form
    # materialized ~7 int64 arrays of W elements plus hash temporaries —
    # hundreds of MB per Arrow batch — and with every worker streaming
    # that from DRAM the kernel ran ~9× slower at 32 workers than at 8
    # (measured; same job). Chunked, the working set stays cache-resident
    # per worker and throughput scales with cores like the other blocked
    # kernels. Bit-identical output (chunks align to doc boundaries; the
    # per-doc distinct+sort never crosses a chunk).
    targets = np.arange(_KGRAM_BLOCK, W, _KGRAM_BLOCK, dtype=np.int64)
    split_docs = np.searchsorted(cum_w, targets, side="left") + 1
    doc_bounds = np.unique(np.concatenate(([0], split_docs[split_docs < n], [n])))
    flat_parts: list[np.ndarray] = []
    lengths = np.empty(n, dtype=np.int64)
    for d0, d1 in zip(doc_bounds[:-1], doc_bounds[1:]):
        wd = w[d0:d1]
        nd = d1 - d0
        Wd = int(wd.sum())
        seg_id = np.repeat(np.arange(nd, dtype=np.int64), wd)
        cwd = np.cumsum(wd)
        j = np.arange(Wd, dtype=np.int64) - np.repeat(cwd - wd, wd)
        win_char = np.repeat(doc_char_off[d0:d1], wd) + j
        end_char = np.minimum(win_char + k, np.repeat(doc_char_off[d0 + 1 : d1 + 1], wd))
        start_byte = char_pos_ext[win_char]
        end_byte = char_pos_ext[end_char]
        width = end_byte - start_byte
        hashes = np.empty(Wd, dtype=np.uint64)
        for L in np.unique(width):
            m = width == L
            starts = start_byte[m]
            if L == 0:
                mat = np.empty((len(starts), 0), dtype=np.uint8)
            else:
                mat = buf[starts[:, None] + np.arange(L, dtype=np.int64)]
            hashes[m] = xxh64_matrix(mat)
        # per-doc distinct (ascending within doc). Segments are contiguous
        # and non-empty (w >= 1), so an in-place introsort per doc slice +
        # one vectorized first-occurrence scan replaces the block-wide
        # 2-key stable lexsort — which cost HALF the whole kernel
        # (2 mergesort passes + 2 permutation gathers, all DRAM traffic).
        # Guard: with many tiny docs per block the per-segment python
        # loop overhead would dominate — fall back to lexsort there.
        seg_starts = cwd - wd
        if nd * 64 <= Wd:
            for s, e in zip(seg_starts, cwd):
                hashes[s:e].sort()
            hs, ss = hashes, seg_id
        else:
            order = np.lexsort((hashes, seg_id))
            hs = hashes[order]
            ss = seg_id[order]
        first = np.empty(Wd, dtype=bool)
        first[0] = True
        first[1:] = (hs[1:] != hs[:-1]) | (ss[1:] != ss[:-1])
        first[seg_starts] = True
        flat_parts.append(hs[first])
        lengths[d0:d1] = np.bincount(ss[first], minlength=nd)
    return np.concatenate(flat_parts), lengths


# ---------------------------------------------------------------------------
# splitmix64 mixer + MinHash permutation family (pinned in config.py)
# ---------------------------------------------------------------------------

def _vfmix(h: np.ndarray) -> np.ndarray:
    """XXH64 avalanche finalizer, vectorized uint64 (in place)."""
    h ^= h >> np.uint64(33)
    h *= _NP_P2
    h ^= h >> np.uint64(29)
    h *= _NP_P3
    h ^= h >> np.uint64(32)
    return h


def band_hashes_batch(
    mh: np.ndarray, bands: int, rows: int, seed: int = SPARK_XXHASH64_SEED
) -> np.ndarray:
    """LSH band keys for MANY signatures in one numpy pass — bit-identical
    to the Spark expression ``transform(sequence(0, b-1), i ->
    xxhash64(i, slice(minhash, i*r+1, r)))`` (parity asserted in tests).

    Spark's multi-argument xxhash64 folds: h = hashInt(i, seed); then
    h = hashLong(element, h) per array element. Both single-shot XXH64
    paths are closed-form, so each of the b×r fold steps is one
    vectorized expression over the doc axis.

    ``mh``: (n_docs, bands*rows) uint64 signature matrix.
    Returns (n_docs, bands) uint64.
    """
    n = mh.shape[0]
    out = np.empty((n, bands), dtype=np.uint64)
    eight = np.uint64(8)
    for i in range(bands):
        # hashInt(i, seed): the 4-byte single-shot path, scalar per band
        h0 = xxh64((i & 0xFFFFFFFF).to_bytes(4, "little"), seed)
        h = np.full(n, np.uint64(h0), dtype=np.uint64)
        for j in range(rows):
            lane = mh[:, i * rows + j]
            # hashLong(lane, h): h' = fmix(rotl(h+P5+8 ^ round(0,lane),27)*P1+P4)
            acc = h + (_NP_P5 + eight)
            acc ^= _vrotl(lane * _NP_P2, 31) * _NP_P1
            h = _vfmix(_vrotl(acc, 27) * _NP_P1 + _NP_P4)
        out[:, i] = h
    return out


_MIX1 = np.uint64(0xBF58476D1CE4E5B9)
_MIX2 = np.uint64(0x94D049BB133111EB)


def mix64(z: np.ndarray, copy: bool = True) -> np.ndarray:
    """splitmix64 finalizer — a bijection on uint64, vectorized.
    ``copy=False`` mutates ``z`` in place (only for fresh temporaries:
    halves the memory traffic of the hot minhash loop)."""
    z = z.astype(np.uint64, copy=copy)
    z ^= z >> np.uint64(30)
    z *= _MIX1
    z ^= z >> np.uint64(27)
    z *= _MIX2
    z ^= z >> np.uint64(31)
    return z


def perm_consts(num_perm: int, seed: int) -> np.ndarray:
    """The c_j additive constants (odd uint64) of the permutation family."""
    rng = np.random.default_rng(seed)
    c = rng.integers(0, 1 << 62, size=num_perm, dtype=np.uint64)
    return c * np.uint64(2) + np.uint64(1)


_SHINGLE_CHUNK = 8192  # bound perms × shingles working set per doc


def minhash_from_hashes(hashes: np.ndarray, consts: np.ndarray) -> np.ndarray:
    """MinHash signature: sig[j] = min_x mix64(x + c_j), x over shingle hashes.

    ``hashes``: 1-D array viewable as uint64 (int64 from Spark is fine).
    Returns uint64[num_perm]. Empty input → all-ones sentinel (max uint64),
    so empty docs never collide with real signatures in a band.
    """
    h = np.asarray(hashes).astype(np.int64, copy=False).view(np.uint64)
    num_perm = len(consts)
    if h.size == 0:
        return np.full(num_perm, np.iinfo(np.uint64).max, dtype=np.uint64)
    out = np.full(num_perm, np.iinfo(np.uint64).max, dtype=np.uint64)
    for s in range(0, h.size, _SHINGLE_CHUNK):
        chunk = h[s : s + _SHINGLE_CHUNK]
        # (num_perm, chunk) wraparound add then mix; min over shingles
        z = mix64(chunk[None, :] + consts[:, None])
        np.minimum(out, z.min(axis=1), out=out)
    return out


#: doc-group block size (elements) for the cache-blocked batch kernels:
#: block + two scratch buffers ≈ 768 KB — L2-resident on this class of
#: core, large enough that reduceat call overhead is negligible
_BATCH_BLOCK = 32768


def minhash_batch(flat: np.ndarray, lengths: np.ndarray, consts: np.ndarray) -> np.ndarray:
    """Batched MinHash: signatures for MANY docs in one numpy pass.

    ``flat``: all docs' shingle hashes concatenated (uint64-viewable);
    ``lengths``: per-doc shingle counts (sum == len(flat)).
    Returns (n_docs, num_perm) uint64. Bit-identical to calling
    ``minhash_from_hashes`` per doc (asserted in tests) — the per-batch
    segment-min (``np.minimum.reduceat``) replaces the per-doc Python
    loop, which is what makes the Arrow-batch UDF CPU-bound in numpy
    rather than in the interpreter.
    """
    n = len(lengths)
    num_perm = len(consts)
    out = np.full((n, num_perm), np.iinfo(np.uint64).max, dtype=np.uint64)
    if flat.size == 0 or n == 0:
        return out
    h = np.asarray(flat).astype(np.int64, copy=False).view(np.uint64)
    lengths = np.asarray(lengths, dtype=np.int64)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lengths[:-1], out=starts[1:])
    # reduceat over NON-EMPTY segments only: an empty segment would make
    # reduceat mis-read (and clipping a trailing empty start would
    # truncate the previous segment); consecutive non-empty starts span
    # exactly the right elements because empty docs contribute none.
    nonempty = lengths > 0
    ne_rows = np.flatnonzero(nonempty)
    starts_ne = starts[ne_rows]
    ends_ne = starts_ne + lengths[ne_rows]
    # CACHE BLOCKING, the load-bearing layout decision: a perm-outer loop
    # streams the whole flat array from DRAM once per permutation
    # (128 × data — measured memory-bandwidth-bound: ADDING cores made it
    # slower). Instead, group whole docs into ~_SHINGLE_CHUNK-element
    # blocks and run all 128 perms while the block is L2-resident; DRAM
    # traffic drops from 128× to ~1× the data. Same ops, same order per
    # segment → bit-identical results (asserted in tests).
    buf = np.empty(_BATCH_BLOCK * 2, dtype=np.uint64)
    tmp = np.empty(_BATCH_BLOCK * 2, dtype=np.uint64)
    g0 = 0
    n_ne = len(ne_rows)
    while g0 < n_ne:
        g1 = g0 + 1
        blk_end = starts_ne[g0] + _BATCH_BLOCK
        while g1 < n_ne and ends_ne[g1 - 1] < blk_end:
            g1 += 1
        lo, hi = starts_ne[g0], ends_ne[g1 - 1]
        block = h[lo:hi]
        m = hi - lo
        local_starts = starts_ne[g0:g1] - lo
        rows = ne_rows[g0:g1]
        b = buf[:m] if m <= buf.size else np.empty(m, dtype=np.uint64)
        t = tmp[:m] if m <= tmp.size else np.empty(m, dtype=np.uint64)
        for j in range(num_perm):
            np.add(block, consts[j], out=b)          # uint64 wraparound add
            # splitmix64 finalizer, fully in place (bit-identical to mix64)
            np.right_shift(b, 30, out=t)
            np.bitwise_xor(b, t, out=b)
            np.multiply(b, _MIX1, out=b)
            np.right_shift(b, 27, out=t)
            np.bitwise_xor(b, t, out=b)
            np.multiply(b, _MIX2, out=b)
            np.right_shift(b, 31, out=t)
            np.bitwise_xor(b, t, out=b)
            out[rows, j] = np.minimum.reduceat(b, local_starts)
        g0 = g1
    return out


_U64_MAX = np.uint64(0xFFFFFFFFFFFFFFFF)


def oph_minhash_from_hashes(hashes: np.ndarray, num_perm: int) -> np.ndarray:
    """One-permutation-hashing reference (naive per-doc loop, tests only).

    Slot ``j`` of the signature is the MINIMUM shingle hash whose top
    log2(num_perm) bits equal ``j`` (Li/Owen/Zhang 2012: one pass over
    the set fills all slots, vs num_perm full mix passes for the
    classic permutation family). Empty slots are densified with the
    value of the nearest filled slot to the LEFT, circularly
    (rotation densification, Shrivastava/Li 2014): a pure function of
    the doc's own slot pattern, so two docs agree on a densified slot
    iff they agree on the borrowed-from slot region — collision
    probability stays ≈ J. All-empty input stays all-sentinel."""
    k = int(num_perm).bit_length() - 1
    if (1 << k) != num_perm:
        raise ValueError(f"OPH needs power-of-two num_perm, got {num_perm}")
    h = np.asarray(hashes).astype(np.int64, copy=False).view(np.uint64)
    sig = np.full(num_perm, _U64_MAX, dtype=np.uint64)
    shift = np.uint64(64 - k)
    for x in h:
        b = int(x >> shift)
        if x < sig[b]:
            sig[b] = x
    filled = [j for j in range(num_perm) if sig[j] != _U64_MAX]
    if filled:
        for j in range(num_perm):
            if sig[j] == _U64_MAX:
                d = 1
                while sig[(j - d) % num_perm] == _U64_MAX:
                    d += 1
                sig[j] = sig[(j - d) % num_perm]
    return sig


def oph_minhash_batch(
    flat: np.ndarray, lengths: np.ndarray, num_perm: int,
    assume_sorted: bool = True,
) -> np.ndarray:
    """Batched one-permutation MinHash — bit-identical to
    ``oph_minhash_from_hashes`` per doc (asserted in tests), ~2 passes
    over the data instead of the classic family's num_perm mix passes.

    The scheme is chosen to exploit the k-gram hasher's layout contract:
    per-doc shingle hashes arrive DISTINCT and ASCENDING in unsigned
    order, so slot ids (top bits) are non-decreasing within a segment
    and the slot minimum is simply the FIRST element of each slot run —
    one first-occurrence scan fills every slot of every doc, no mix, no
    reduceat, no sort. This removes the pipeline's dominant DRAM load
    (the 128-pass splitmix kernel measured ~244 task-core-s at
    500k docs / local[32] and inflated with cores).

    Densification = nearest filled slot to the left (circular), computed
    by pointer doubling on the (docs, num_perm) slot matrix: after step
    k every empty slot holds the nearest filled value within 2^k, so
    log2(num_perm) vectorized rolls densify every doc. Only rows that
    still have empty slots participate in each round."""
    k = int(num_perm).bit_length() - 1
    if (1 << k) != num_perm:
        raise ValueError(f"OPH needs power-of-two num_perm, got {num_perm}")
    n = len(lengths)
    out = np.full((n, num_perm), _U64_MAX, dtype=np.uint64)
    if n == 0 or np.asarray(flat).size == 0:
        return out
    h = np.asarray(flat).astype(np.int64, copy=False).view(np.uint64)
    lengths = np.asarray(lengths, dtype=np.int64)
    rows = np.repeat(np.arange(n, dtype=np.int64), lengths)
    if not assume_sorted:
        order = np.lexsort((h, rows))
        h, rows = h[order], rows[order]
    slots = (h >> np.uint64(64 - k)).astype(np.int64)
    first = np.empty(len(h), dtype=bool)
    first[0] = True
    np.logical_or(slots[1:] != slots[:-1], rows[1:] != rows[:-1], out=first[1:])
    out[rows[first], slots[first]] = h[first]
    # densify: pointer-doubling nearest-filled-to-the-left, empty rows only
    need = np.flatnonzero((out == _U64_MAX).any(axis=1) & (lengths > 0))
    if len(need):
        sub = out[need]
        d = 1
        while d < num_perm:
            empty = sub == _U64_MAX
            if not empty.any():
                break
            cand = np.roll(sub, d, axis=1)
            np.copyto(sub, cand, where=empty & (cand != _U64_MAX))
            d <<= 1
        out[need] = sub
    return out


def simhash_batch(flat: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Batched SimHash: one int64 per doc, bit-identical to
    ``simhash_from_hashes`` per doc. Bit matrix comes from
    ``np.unpackbits`` on the little-endian byte view (bit b of the
    uint64 == column b), votes from a segmented ``add.reduceat``."""
    n = len(lengths)
    out = np.zeros(n, dtype=np.int64)
    if flat.size == 0 or n == 0:
        return out
    h = np.asarray(flat).astype(np.int64, copy=False).view(np.uint64)
    lengths = np.asarray(lengths, dtype=np.int64)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lengths[:-1], out=starts[1:])
    nonempty = lengths > 0  # see minhash_batch for the empty-segment rule
    ne_rows = np.flatnonzero(nonempty)
    starts_ne = starts[ne_rows]
    len_ne = lengths[ne_rows]
    ends_ne = starts_ne + len_ne
    # per-bit masked segment sums, cache-blocked by doc group exactly as
    # in minhash_batch: 64 whole-array passes were memory-bandwidth-bound;
    # running all 64 bits while a block is L2-resident reads the data
    # from DRAM once
    buf = np.empty(_BATCH_BLOCK * 2, dtype=np.uint64)
    one = np.uint64(1)
    n_ne = len(ne_rows)
    words_all = np.zeros(n_ne, dtype=np.uint64)
    g0 = 0
    while g0 < n_ne:
        g1 = g0 + 1
        blk_end = starts_ne[g0] + _BATCH_BLOCK
        while g1 < n_ne and ends_ne[g1 - 1] < blk_end:
            g1 += 1
        lo, hi = starts_ne[g0], ends_ne[g1 - 1]
        block = h[lo:hi]
        m = hi - lo
        local_starts = starts_ne[g0:g1] - lo
        seg_len = len_ne[g0:g1]
        b_buf = buf[:m] if m <= buf.size else np.empty(m, dtype=np.uint64)
        words = np.zeros(g1 - g0, dtype=np.uint64)
        for b in range(64):
            np.right_shift(block, np.uint64(b), out=b_buf)
            np.bitwise_and(b_buf, one, out=b_buf)
            cnt = np.add.reduceat(b_buf, local_starts)  # uint64 segment sums
            words |= (cnt.astype(np.int64) * 2 > seg_len).astype(np.uint64) << np.uint64(b)
        words_all[g0:g1] = words
        g0 = g1
    out[ne_rows] = words_all.view(np.int64)
    return out


#: 16-bit popcount lookup table (64 KB, built once per worker)
_POP16 = np.array([bin(i).count("1") for i in range(1 << 16)], dtype=np.uint8)


def popcount64(x: np.ndarray) -> np.ndarray:
    """Vectorized popcount of a uint64 array via four 16-bit LUT
    lookups (numpy<2 has no bitwise_count)."""
    x = np.asarray(x).view(np.uint64)
    m = np.uint64(0xFFFF)
    return (
        _POP16[(x & m).astype(np.int64)].astype(np.int64)
        + _POP16[((x >> np.uint64(16)) & m).astype(np.int64)]
        + _POP16[((x >> np.uint64(32)) & m).astype(np.int64)]
        + _POP16[((x >> np.uint64(48)) & m).astype(np.int64)]
    )


def simhash_from_hashes(hashes: np.ndarray) -> int:
    """64-bit SimHash: bit b = 1 iff strictly more shingle hashes have bit
    b set than clear. Returns signed int64 (Spark LongType). Empty → 0."""
    h = np.asarray(hashes).astype(np.int64, copy=False).view(np.uint64)
    if h.size == 0:
        return 0
    bits = (h[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)
    votes = bits.sum(axis=0, dtype=np.int64) * 2 - np.int64(h.size)
    word = 0
    for b in range(64):
        if votes[b] > 0:
            word |= 1 << b
    return word - (1 << 64) if word >= (1 << 63) else word
