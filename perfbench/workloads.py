"""Seeded benchmark inputs and the truth near-pairs they contain.

Each workload is a pure function of ``(seed, n)``: the same seed writes
the same pages. The truth set follows ``tests/oracle.py``'s rules
(latest capture per url, exact groups by sha256 of the normalized text,
near pairs = exact 5-char-shingle Jaccard >= threshold between group
representatives of at least ``min_text_len`` chars), but the quadratic
search runs only inside each generator block (a family, or a 100-row
tile of the standard schedule). Pairs that cross blocks are not
enumerated here; the runner counts every verified cross-block edge as a
truth pair and reports how many there were.

Inputs and truth are computed once per (workload, seed, n) and cached
under the benchmark's cache directory.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import numpy as np

from dedup import datagen
from dedup.config import DEFAULT_CONFIG, HIGH_RECALL_CONFIG, DedupConfig
from dedup.hashing import xxh64_str
from dedup.text import extract_text, normalize_text_py

#: bump when a generator or the truth rule changes, so stale caches are
#: never reused
GEN_VERSION = 2

_EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)
_PAGE_FILES = 8


@dataclass
class Inputs:
    pages_path: str
    n_pages: int              # input rows, captures included
    doc_ids: np.ndarray       # int64, one per latest capture
    blocks: np.ndarray        # int64 generator block of each doc
    exact: set[tuple[int, int]]
    truth: set[tuple[int, int]]
    meta_path: str


# --- page construction ---------------------------------------------------


def _page(url: str, ts: datetime, tokens: list[str], lang: str) -> dict:
    """Same html template as ``dedup.datagen``; text = extract_text(html)."""
    title = " ".join(tokens[:4]) if tokens else "untitled"
    html = (
        f"<html><head><title>{title}</title></head>"
        f"<body><p>{' '.join(tokens)}</p></body></html>"
    ).encode("utf-8")
    return {"url": url, "warc_ts": ts, "html": html, "text": extract_text(html), "lang": lang}


def _draw_tokens(rng: np.random.Generator, n: int) -> list[str]:
    return list(datagen._VOCAB[rng.choice(500, size=n, p=datagen._VW)])


def _dup_heavy(seed: int, n: int) -> tuple[list[dict], list[int]]:
    """Mostly near-duplicate families:

    - near families with a skewed (zipf) size, members are exact copies
      or 1-10% token edits of the family base;
    - edit chains of 8-20 pages, each editing the previous one by 2-4%,
      so far ends fall below the threshold and components need depth;
    - three large template families (150-token boilerplate plus 0-20
      unique tokens) whose members share LSH buckets: the hot buckets;
    - ~15% singletons.

    The family shapes (kinds, sizes, lengths, edit rates) come from one
    fixed draw and only the tokens, edits and page order from ``seed``:
    every seed has the same amount of work, with different content.
    """
    shape = np.random.default_rng(11)
    rng = np.random.default_rng([seed, 11])
    fams: list[list[list[str]]] = []
    for _ in range(3):
        boiler = _draw_tokens(rng, 150)
        size = int(shape.integers(30, 61))
        fams.append([boiler + _draw_tokens(rng, int(shape.integers(0, 21))) for _ in range(size)])
    total = sum(len(f) for f in fams)
    while total < n:
        u = shape.random()
        if u < 0.15:
            fam = [_draw_tokens(rng, int(shape.integers(40, 401)))]
        elif u < 0.27:
            cur = _draw_tokens(rng, int(shape.integers(80, 401)))
            fam = [cur]
            for _ in range(int(shape.integers(7, 20))):
                cur = datagen._edit_tokens(cur, rng, float(shape.uniform(0.02, 0.04)))
                fam.append(cur)
        else:
            base = _draw_tokens(rng, int(shape.integers(40, 401)))
            fam = [base]
            for _ in range(min(int(shape.zipf(1.8)), 40)):
                if shape.random() < 0.25:
                    fam.append(list(base))
                else:
                    fam.append(datagen._edit_tokens(base, rng, float(shape.uniform(0.01, 0.10))))
        fams.append(fam)
        total += len(fam)
    docs = [(tok, b) for b, fam in enumerate(fams) for tok in fam][:n]
    langs = rng.choice(datagen._LANGS, size=len(fams), p=datagen._LANG_P)
    order = rng.permutation(len(docs))
    pages, blocks = [], []
    for i, j in enumerate(order):
        tok, b = docs[j]
        url = f"https://s{b % 211}.dupheavy.example/{seed}/{i:07d}"
        pages.append(_page(url, _EPOCH + timedelta(seconds=61 * i), tok, str(langs[b])))
        blocks.append(b)
    return pages, blocks


def _recrawl(seed: int, n: int) -> tuple[list[dict], list[int]]:
    """The standard ``dedup.datagen`` schedule (100-row tiles), with about
    a third of the urls captured again once or twice at later
    ``warc_ts``, each recapture a 0.5-3% token edit of the previous one."""
    rng = np.random.default_rng([seed, 12])
    pages, blocks = [], []
    for i in range(n):
        row = datagen._row(seed, i)
        pages.append({k: row[k] for k in ("url", "warc_ts", "html", "text", "lang")})
        blocks.append(i // 100)
        if rng.random() >= 1 / 3:
            continue
        tokens = datagen._tokens_and_base(seed, i)[0]
        for c in range(1, int(rng.integers(2, 4))):
            tokens = datagen._edit_tokens(tokens, rng, float(rng.uniform(0.005, 0.03)))
            ts = row["warc_ts"] + timedelta(days=30 * c)
            pages.append(_page(row["url"], ts, tokens, row["lang"]))
            blocks.append(i // 100)
    return pages, blocks


@dataclass(frozen=True)
class Workload:
    name: str
    n: int                 # generator rows (docs for dup-heavy, urls for recrawl-job)
    generate: Callable[[int, int], tuple[list[dict], list[int]]]  # (seed, n) -> pages, blocks
    cfg: DedupConfig
    recall_gate: float     # the repo's own gate for this preset
    job: bool              # True: jobrunner.run_dedup_job; False: pipeline.run_dedup


WORKLOADS = {
    "dup-heavy": Workload("dup-heavy", 2_500, _dup_heavy, HIGH_RECALL_CONFIG, 0.99, job=False),
    "recrawl-job": Workload("recrawl-job", 400, _recrawl, DEFAULT_CONFIG, 0.95, job=True),
}


# --- truth -------------------------------------------------------------------


def _shingle_codes(norm: str, k: int) -> np.ndarray:
    """Distinct k-char shingles of an ASCII string, each packed exactly
    into one uint64 (k <= 8 bytes), so set sizes and intersections equal
    the oracle's raw-string sets."""
    b = np.frombuffer(norm.encode("ascii"), dtype=np.uint8).astype(np.uint64)
    code = np.zeros(len(b) - k + 1, dtype=np.uint64)
    for j in range(k):
        code = (code << np.uint64(8)) | b[j : len(b) - k + 1 + j]
    return np.unique(code)


def _block_pairs(ids: np.ndarray, codes: list[np.ndarray], thresh: float):
    """All pairs with Jaccard >= thresh among one block's docs (dense
    0/1 matrix product; a block is at most a few hundred docs)."""
    allc, inv = np.unique(np.concatenate(codes), return_inverse=True)
    m = np.zeros((len(codes), len(allc)), dtype=np.float32)
    rows = np.repeat(np.arange(len(codes)), [len(c) for c in codes])
    m[rows, inv] = 1.0
    inter = (m @ m.T).astype(np.int64)
    size = np.diag(inter)
    jac = inter / (size[:, None] + size[None, :] - inter)
    a, b = np.nonzero(np.triu(jac >= thresh, 1))
    lo, hi = np.minimum(ids[a], ids[b]), np.maximum(ids[a], ids[b])
    return zip(lo.tolist(), hi.tolist())


def _truth(pages: list[dict], blocks: list[int], cfg: DedupConfig):
    latest: dict[str, tuple] = {}
    for p, b in zip(pages, blocks):
        cur = latest.get(p["url"])
        if cur is None or p["warc_ts"] > cur[0]["warc_ts"]:
            latest[p["url"]] = (p, b)
    ids, blk, norms = [], [], []
    for url, (p, b) in latest.items():
        ids.append(xxh64_str(url))
        blk.append(b)
        norms.append(normalize_text_py(p["text"]))
    ids_a = np.array(ids, dtype=np.int64)
    blk_a = np.array(blk, dtype=np.int64)
    groups: dict[str, list[int]] = {}
    for i, s in enumerate(norms):
        groups.setdefault(hashlib.sha256(s.encode("utf-8")).hexdigest(), []).append(i)
    exact: set[tuple[int, int]] = set()
    rep = np.zeros(len(ids), dtype=bool)
    for members in groups.values():
        members.sort(key=lambda i: ids[i])
        rep[members[0]] = True
        exact.update((ids[members[0]], ids[o]) for o in members[1:])
    keep = rep & np.array([len(s) >= cfg.min_text_len for s in norms])
    truth: set[tuple[int, int]] = set()
    by_block: dict[int, list[int]] = {}
    for i in np.nonzero(keep)[0]:
        by_block.setdefault(int(blk_a[i]), []).append(int(i))
    for members in by_block.values():
        if len(members) > 1:
            codes = [_shingle_codes(norms[i], cfg.k) for i in members]
            truth.update(_block_pairs(ids_a[members], codes, cfg.jaccard_thresh))
    return ids_a, blk_a, exact, truth


# --- cache ----------------------------------------------------------------


def _pairs_array(pairs: set[tuple[int, int]]) -> np.ndarray:
    return np.array(sorted(pairs), dtype=np.int64).reshape(-1, 2)


def prepare(w: Workload, seed: int, cache_root: str) -> Inputs:
    """Generate (or load the cached) pages and truth for one workload."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dedup.schema import PAGES

    d = os.path.join(cache_root, f"{w.name}-n{w.n}-s{seed}-v{GEN_VERSION}")
    pages_path = os.path.join(d, "pages")
    truth_path = os.path.join(d, "truth.npz")
    if not os.path.exists(truth_path):
        pages, blocks = w.generate(seed, w.n)
        ids, blk, exact, truth = _truth(pages, blocks, w.cfg)
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        schema = pa.schema(
            [pa.field(f.name, t, f.nullable) for f, t in zip(
                PAGES.fields,
                (pa.string(), pa.timestamp("us", tz="UTC"), pa.binary(), pa.string(), pa.string()),
            )]
        )
        table = pa.Table.from_pylist(pages, schema=schema)
        os.makedirs(os.path.join(tmp, "pages"))
        # several files, so the input scan fans out to every core
        step = -(-table.num_rows // _PAGE_FILES)
        for k in range(_PAGE_FILES):
            pq.write_table(
                table.slice(k * step, step),
                os.path.join(tmp, "pages", f"part-{k:02d}.parquet"),
            )
        np.savez(
            os.path.join(tmp, "truth.npz"),
            doc_ids=ids, blocks=blk,
            exact=_pairs_array(exact), truth=_pairs_array(truth),
            n_pages=np.int64(len(pages)),
        )
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    z = np.load(truth_path)
    return Inputs(
        pages_path=pages_path,
        n_pages=int(z["n_pages"]),
        doc_ids=z["doc_ids"],
        blocks=z["blocks"],
        exact={tuple(p) for p in z["exact"].tolist()},
        truth={tuple(p) for p in z["truth"].tolist()},
        meta_path=os.path.join(d, "digest.json"),
    )


def recorded_digest(meta_path: str, digest: str) -> str:
    """The cluster digest recorded for this (workload, seed) by the first
    run that passed its checks; records ``digest`` when there is none."""
    if not os.path.exists(meta_path):
        tmp = f"{meta_path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump({"digest": digest}, f)
        os.replace(tmp, meta_path)
    with open(meta_path) as f:
        return json.load(f)["digest"]
