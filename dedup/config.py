"""Pinned similarity semantics — the "same shingle/signature config" contract.

BASELINE.json:14 requires matching cluster assignments "at the same
shingle/signature configuration"; this module IS that configuration.
Every constant here is used identically by the Spark pipeline and by the
brute-force O(n²) oracle in tests/oracle.py, so the two are comparable
bit-for-bit. Defaults follow the standard MinHash-LSH literature
(Broder '97 shingling; Leskovec-Rajaraman-Ullman banding analysis).

Permutation family (pinned, deviation from the generic ``(a*x+b) mod p``
textbook form, recorded here deliberately): permutation ``j`` of a 64-bit
shingle hash ``x`` is ``mix64(x + c_j)`` over uint64 wraparound
arithmetic, where ``c_j`` are odd constants drawn from a seeded RNG and
``mix64`` is the splitmix64 finalizer (Steele/Lea/Flood 2014, public
domain). ``mix64`` is a bijection on uint64 and addition is a bijection,
so each ``j`` is a true permutation of the 64-bit space — the min-wise
property holds exactly as for the mod-p family, but the whole thing is
exact in numpy uint64 (no 128-bit mod-p arithmetic needed), which keeps
the vectorized pandas/Arrow UDFs fast and the Python oracle trivially
bit-identical.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, replace


@dataclass(frozen=True)
class DedupConfig:
    # --- shingling ---
    # Pinned to char k-grams over normalized text — every oracle,
    # recall gate, and est-floor model assumes exactly this. Word
    # w-gram shingling exists as a standalone operator surface
    # (signatures.word_shingles_expr, qkey `shingle_words`), not a
    # pipeline mode: a half-wired mode knob the kernels ignore would be
    # worse than no knob.
    k: int = 5                  # shingle width (chars)
    # shingle hash fn: Spark SQL xxhash64 (XXH64 over utf8 bytes, seed=42,
    # Spark's default seed). The oracle recomputes Jaccard over raw
    # shingle *strings*, which is identical modulo 64-bit hash collisions.

    # --- MinHash ---
    num_perm: int = 128
    perm_seed: int = 42         # seeds the c_j constants of the permutation family
    #: signature scheme: "oph" = one-permutation hashing (Li/Owen/Zhang
    #: 2012) with rotation densification (Shrivastava/Li 2014) — slot j
    #: holds the min shingle hash whose top log2(num_perm) bits equal j;
    #: ONE pass over the shingle hashes fills all slots, vs num_perm
    #: full mix passes for "perm" (the classic splitmix64 family above,
    #: kept as the oracle-parity twin). Both emit (num_perm,) uint64
    #: signatures consumed identically downstream; the est-filter floors
    #: adapt per pair under "oph" (verify.est_floor_*) because short
    #: docs fill fewer slots. Recall/precision gates in tests/ run
    #: against the exact-Jaccard oracle under the ACTIVE scheme.
    minhash_scheme: str = "oph"
    bands: int = 16
    rows_per_band: int = 8      # bands * rows_per_band == num_perm
    # s-curve threshold ≈ (1/bands)^(1/rows) ≈ 0.707 for 16×8

    # --- verification ---
    jaccard_thresh: float = 0.8   # verified-edge threshold on EXACT shingle Jaccard
    #: MinHash positions used by the pre-verification estimate filter.
    #: A PREFIX of the signature is itself an unbiased MinHash estimator;
    #: the filter floor adapts to its width (thresh − 4.5σ, σ =
    #: binomial sd at that width), keeping the per-true-pair miss
    #: probability ≈ 1e-6 — inside the 0.99-recall budget — while the
    #: candidate-pair join ships 4× fewer signature bytes (the largest
    #: shuffle of the pipeline at scale). Set = num_perm to use the full
    #: signature. Survivors are decided by EXACT shingle Jaccard either
    #: way; this knob never changes which pairs pass verification, only
    #: which non-pairs are discarded early.
    est_prefilter_perms: int = 32

    # --- SimHash secondary detector ---
    simhash_bits: int = 64
    hamming_thresh: int = 3

    # --- suffix-array substring containment detector ---
    substr_min_len: int = 50     # min exact char overlap to emit a containment edge

    # --- hygiene ---
    min_text_len: int = 10       # docs shorter than this (normalized chars) are passed through as singletons
    bucket_cap: int = 0          # 0 = off; else LSH buckets larger than this are capped (recall-accounted, logged)
    salt_hot_thresh: int = 0     # 0 = off; else buckets larger than this get salted self-join (skew.py)
    n_salt: int = 8              # salt fanout for hot buckets
    max_cc_iter: int = 25        # connected-components iteration cap

    def __post_init__(self) -> None:
        if self.bands * self.rows_per_band != self.num_perm:
            raise ValueError(
                f"bands*rows_per_band must equal num_perm "
                f"({self.bands}*{self.rows_per_band} != {self.num_perm})"
            )

    def config_hash(self) -> str:
        """Stable hash of the similarity-relevant knobs; keys resume snapshots."""
        payload = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha256(payload).hexdigest()[:16]

    def storage_hash(self) -> str:
        """Hash of only the knobs BAKED INTO committed table layouts
        (shingle width, signature scheme/size, band layout, simhash
        width): the streaming warehouse validates this every batch, so a
        stream restarted with a changed signature layout fails fast
        instead of silently probing mismatched band/chunk keys.
        Threshold-style knobs (jaccard_thresh, hamming_thresh, caps) are
        deliberately excluded — they are not persisted in any table and
        may change freely across restarts."""
        keys = (
            "k", "num_perm", "perm_seed", "minhash_scheme",
            "bands", "rows_per_band", "simhash_bits", "min_text_len",
        )
        d = asdict(self)
        payload = json.dumps({k: d[k] for k in keys}, sort_keys=True).encode()
        return hashlib.sha256(payload).hexdigest()[:16]

    def with_(self, **kw) -> "DedupConfig":
        return replace(self, **kw)


#: default preset — s-curve threshold ≈ 0.707; band curve
#: P(candidate | J=0.8) = 1 − (1 − 0.8^8)^16 ≈ 0.947
DEFAULT_CONFIG = DedupConfig()

#: high-recall preset — threshold ≈ (1/32)^(1/4) ≈ 0.42; band curve
#: P(cand | J=0.8) = 1 − (1 − 0.8^4)^32 ≈ 1 − 4.7·10⁻⁸.
#: Used for the recall ≥ 0.99 gate (BASELINE.json:2). Both presets ship.
HIGH_RECALL_CONFIG = DedupConfig(bands=32, rows_per_band=4)

#: normalization is pinned here as data, not prose: the exact regex used by
#: BOTH the Spark expression (Java regex) and the Python oracle. Restricted
#: to the ASCII whitespace class so Java \s vs Python \s unicode differences
#: cannot desynchronize the two.
WHITESPACE_RE = "[ \\t\\n\\r\\f\\x0B]+"

#: extract_text version tag (BASELINE.json:15 byte-identical invariant)
EXTRACTOR_VERSION = "xt-1"
