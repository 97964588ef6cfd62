"""Stage graph: the end-to-end near-duplicate pipeline (SURVEY.md §3.2).

Every stage is a pure ``(DataFrame, DedupConfig) -> DataFrame`` — fully
lazy, nothing executes until an action. ``run_dedup`` wires them
together for library/driver use; jobs/run_dedup.py adds TableIO
commits, lineage, and resume on top for the spark-submit path.

    pages ──ingest──> docs ──reps──> shingles ──sig──> signatures
      docs ──────────exact edges──────────────┐            │bands
      signatures ──simhash candidates──┐      │            │
      bands ──lsh candidates──> union ─┴─verify(jaccard)──> edges
      edges ──connected components──> clusters ──assign──> output
"""

from __future__ import annotations

import atexit
import os
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark import StorageLevel

from dedup.candidates import (
    BROADCAST_SIDEBAND_MAX_BYTES,
    cap_buckets,
    estimate_sideband_bytes,
    fused_candidates_bcast,
    lsh_candidates_arrow,
    sig_lookup_arrays,
    simhash_candidates_arrow,
)
from dedup.skew import salted_lsh_candidates
from dedup.components import assign_clusters, connected_components
from dedup.config import DEFAULT_CONFIG, DedupConfig
from dedup.ingest import exact_edges, representatives, to_docs_arrow
from dedup.signatures import (
    with_bands,
    with_bands_pre,
    with_shingle_signatures,
    with_shingles_np,
    with_slim_signatures,
)
from dedup.verify import (
    BROADCAST_SIGS_MAX,
    est_filter_pairs,
    verify_containment,
    verify_jaccard_lazy,
)


#: spill dirs created by this process — removed at interpreter exit so
#: repeated runs don't fill the (RAM-backed) scratch space
_SPILL_DIRS: list[str] = []
#: spill dirs are named ``dedup-spill-<pid>-<name>-*`` so a later process
#: can tell whose they are: exit hooks never run on SIGKILL, so the
#: first spill of every process sweeps the dirs of pids no longer alive
#: (so processes sharing one scratch dir must share a pid namespace)
_SPILL_PREFIX = "dedup-spill-"
_SWEPT = False


def _cleanup_spills() -> None:
    import shutil

    for d in _SPILL_DIRS:
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_cleanup_spills)


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # exists, owned by another user
        return True
    return True


def _sweep_dead_spills(base: str) -> None:
    """Remove the spill dirs under ``base`` whose owning pid is gone (a
    killed run's leak). A live pid's dirs are never touched."""
    import re
    import shutil

    for entry in os.listdir(base):
        m = re.match(rf"{_SPILL_PREFIX}(\d+)-", entry)
        if m and not _pid_alive(int(m.group(1))):
            shutil.rmtree(os.path.join(base, entry), ignore_errors=True)


def _spill_dir(name: str) -> str:
    """A fresh spill dir owned by this process; the first call sweeps
    dead processes' leftovers."""
    import tempfile

    from dedup.session import scratch_dir

    global _SWEPT
    base = scratch_dir()
    os.makedirs(base, exist_ok=True)
    if not _SWEPT:
        _sweep_dead_spills(base)
        _SWEPT = True
    d = tempfile.mkdtemp(prefix=f"{_SPILL_PREFIX}{os.getpid()}-{name}-", dir=base)
    _SPILL_DIRS.append(d)
    return d


#: broadcast the rep-id frame (8 B/row) below this many docs — 20M ids
#: ≈ 160 MB broadcast, comfortably inside executor memory; beyond that
#: fall back to the shuffle join (bucketed layout at real scale)
BROADCAST_REP_IDS_MAX = 20_000_000


@contextmanager
def job_desc(spark, desc: str):
    """Label the Spark jobs of an eager action (profiling / Spark UI
    attribution; AQE sub-jobs inherit the description)."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try:
        yield
    finally:
        sc.setJobDescription(prev)


#: rows per spill file — decouples downstream task grain from the
#: parallelism of the run that WROTE the spill. Without it a local[8]
#: run writes ~11 fat files, and every later scan (including the hot
#: signature kernel) is stuck with ≤11 tasks whatever the session's
#: core count — profiled as a 1.4-ragged-wave stage costing ~10 s of
#: wall at 500k docs. 8192-row files (~5 MB of docs) give every level
#: even waves. At cluster scale the spill is a TableIO commit whose
#: bucketed layout fixes file counts explicitly.
SPILL_MAX_RECORDS_PER_FILE = 8192


def _spill(df: DataFrame, name: str) -> DataFrame:
    """Materialize via a parquet round-trip in a scratch dir (vectorized
    writer/reader — far cheaper than the columnar in-memory cache for
    wide array columns). Scratch is RAM-backed when available (see
    session.scratch_dir — the sandbox's single shared disk is not the
    at-scale model); at real scale this is a TableIO commit instead
    (jobs/run_dedup.py)."""
    from dedup.session import _is_tmpfs

    d = _spill_dir(name)
    w = df.write.option("maxRecordsPerFile", SPILL_MAX_RECORDS_PER_FILE)
    if _is_tmpfs(d):
        # RAM-backed scratch: snappy only burns shared DRAM bandwidth —
        # the spill is re-scanned by several downstream stages and every
        # scan would re-decompress bytes that already live in memory.
        # On a real cluster the spill is a TableIO commit to disk/object
        # storage where compression pays for itself (same rationale as
        # session.py's shuffle-compression toggle; both ways measured in
        # BENCH/BASELINE.md).
        w = w.option("compression", "uncompressed")
    with job_desc(df.sparkSession, f"dedup: spill {name}"):
        w.mode("overwrite").parquet(d)
        # explicit schema: the read-back otherwise runs a footer-sampling
        # schema-inference job per spill — pure driver-side latency that
        # does not shrink with cores
        out = df.sparkSession.read.schema(df.schema).parquet(d)
        # breadcrumb for driver-side native reads of the spilled files
        # (e.g. candidates.sig_lookup_arrays skips a Spark collect job)
        out._dedup_spill_dir = d
        return out


@dataclass
class DedupResult:
    docs: DataFrame
    #: pipeline signature spill — slimmed for scale: (doc_id,
    #: band_hashes array<long>(bands), mh_pre array<long>(prefilter
    #: perms), simhash, n_shingles). The full-width minhash frame is
    #: `signatures.with_shingle_signatures(reps, cfg)` when needed.
    signatures: DataFrame
    edges: DataFrame
    clusters: DataFrame  # docs + cluster_id (singletons included)


def build_edges(
    docs: DataFrame,
    cfg: DedupConfig,
    use_containment: bool = False,
    persist: bool = True,
):
    """docs → (edges, signatures, shingles): representatives, their
    signatures, then ``edges_from_signatures``."""
    # Hint-broadcast the rep-id frame when the doc count is known small:
    # without the hint the left-semi join map-writes the full docs text
    # column before AQE can demote it (306 MB at 500k docs, ~77 task-s of
    # shuffle write). In the persist path docs is parquet-backed, so the
    # count is a metadata-only job. Above the cap (or for lazy callers)
    # the safe shuffle join stands — at cluster scale the co-location
    # comes from bucketed table layout instead (SURVEY §4.3).
    n_docs = docs.count() if persist else None
    reps = representatives(
        docs, cfg, broadcast_ids=persist and n_docs <= BROADCAST_REP_IDS_MAX
    )
    # fused stage: shingle hashing + minhash + simhash in ONE Arrow
    # crossing (signatures.with_shingle_signatures) — the JVM shingle
    # expression + separate cache + separate UDF measured ~2× this cost
    # and scaled poorly with cores (substring/array_distinct churn)
    if persist:
        # fused slim signature stage (see signatures.with_slim_signatures):
        # band keys + est-prefilter minhash prefix + simhash in ONE Arrow
        # crossing, then one parquet round-trip materializes it for the
        # downstream consumers (band explode, simhash join, est prefilter
        # a/b). The vectorized writer/reader is far cheaper than the
        # columnar in-memory cache for array columns, and a lazy frame
        # here would be recomputed by every concurrent branch of the next
        # action (measured 6×). The full num_perm-wide minhash never
        # leaves the Python worker — pairs are decided by exact shingle
        # Jaccard, so the suffix is dead weight; committed signature I/O
        # shrinks ~2.5× and the pair-join shuffle ~4×.
        sigs = _spill(with_slim_signatures(reps, cfg), "sigsh")
    else:
        sigs = with_shingle_signatures(reps, cfg)
    edges = edges_from_signatures(docs, sigs, cfg, n_docs, use_containment)
    # lazy shingles frame, API compat for callers that want it
    return edges, sigs, with_shingles_np(reps, cfg)


def edges_from_signatures(
    docs: DataFrame,
    sigs: DataFrame,
    cfg: DedupConfig,
    n_docs: int | None,
    use_containment: bool = False,
) -> DataFrame:
    """docs + their representatives' signatures → edges (exact ∪ near
    [∪ substr]). The one edge builder of both entry points: run_dedup
    passes its signature spill, the spark-submit job
    (jobrunner.dedup_stages) its committed signatures snapshot.
    ``n_docs`` (the docs count, None when unknown) feeds the broadcast
    gates of ``candidates_from_signatures``."""
    # the slim signature frame (~136 B/doc) is broadcastable far below
    # the 8 B/doc id frame's cap — separate threshold (verify.py) plus
    # a BYTES bound on the candidate-kernel sideband: a config that
    # widens the per-doc payload must not ride a doc-count-only gate
    # into an oversized per-worker broadcast
    bcast_sigs = (
        n_docs is not None
        and n_docs <= BROADCAST_SIGS_MAX
        and estimate_sideband_bytes(n_docs, cfg) <= BROADCAST_SIDEBAND_MAX_BYTES
    )
    cands, pre_refined = candidates_from_signatures(sigs, cfg, bcast_sigs)
    # exact verification recomputes shingles only for est-passing docs
    # (with_shingles_np) — the full shingle table is never materialized
    near = verify_jaccard_lazy(
        cands,
        docs,
        cfg,
        signatures=sigs,
        broadcast_sigs=bcast_sigs,
        pre_refined=pre_refined,
    )
    # the union is duplicate-free by construction, no pair-distinct
    # shuffle needed: `near` derives 1:1 from the already-distinct
    # candidate pairs, whose endpoints are content-sha representatives
    # (one per sha, the group min); `exact` edges point canon → non-rep
    # member within one sha group, so no exact edge can coincide with a
    # rep↔rep pair; `substr` edges are anti-joined against `near` and
    # come from the same distinct candidate set.
    e = exact_edges(docs).unionByName(near)
    if use_containment:
        # E5: candidates that FAILED the near-Jaccard verify get the
        # suffix-array longest-common-substring check → 'substr' edges
        sub = verify_containment(
            cands.join(near.select("src", "dst"), ["src", "dst"], "left_anti"),
            docs,
            cfg,
        )
        e = e.unionByName(sub)
    return e


def candidates_from_signatures(
    sigs: DataFrame, cfg: DedupConfig, bcast_sigs: bool
) -> tuple[DataFrame, bool]:
    """Signatures → distinct candidate pairs (src, dst, est_jacc) past
    the stage-1 estimate filter, and whether the stage-2 refine already
    ran in-kernel. Full-width (non-slim) signatures yield (src, dst)
    and leave the estimate to the verifier.

    One candidate tier per data-size regime, picked by one gate:

    - **broadcast** (``fused_candidates_bcast``): slim signatures, no
      salting, and ``bcast_sigs`` (the doc count within
      ``BROADCAST_SIGS_MAX`` and the sideband within
      ``BROADCAST_SIDEBAND_MAX_BYTES``);
    - **Arrow shuffle** (``lsh_candidates_arrow`` +
      ``simhash_candidates_arrow``): slim signatures, no salting, above
      the gate — no driver collect;
    - **salted JVM join** (``skew.salted_lsh_candidates``):
      ``cfg.salt_hot_thresh`` > 0, or full-width (non-slim) signatures.

    Every tier yields the same pairs and estimates
    (tests/test_edge_tiers.py). Kernels are looked up as this module's
    globals, so instrumentation that wraps them here covers both entry
    points."""
    slim = all(c in sigs.columns for c in ("pre0", "pre1", "pre2", "pre3"))
    pre_refined = False
    if slim and cfg.salt_hot_thresh <= 0 and bcast_sigs:
        # Exchange-free broadcast candidate kernel
        # (candidates.fused_candidates_bcast): ALL per-doc metadata —
        # band hashes, simhash, n_shingles, packed MinHash bytes —
        # rides a ~(56 + 8·bands) B/doc numpy broadcast; one task per
        # bucket-space hash slice enumerates its buckets straight off
        # the broadcast. The 9M-row tagged band/chunk explode, its
        # exchange (row serialization + partition-id sort + ~330 MB
        # write+read at 500k docs) and the per-row Arrow crossing
        # disappear entirely — exchange cost was the worst 8→32-core
        # task-time inflater. The bucket cap folds in-kernel (no extra
        # stats pass).
        lookup = sig_lookup_arrays(
            sigs, cfg, parquet_dir=getattr(sigs, "_dedup_spill_dir", None)
        )
        # full-width packed bytes available → the kernel also runs the
        # stage-2 refine (verify.refine_est_pairs twin) in place, so
        # the JVM only ever sees final refined pairs
        pre_refined = "pre_full" in lookup
        spark = sigs.sparkSession
        cands = fused_candidates_bcast(
            spark,
            spark.sparkContext.broadcast(lookup),
            cfg,
            cap=cfg.bucket_cap,
            full_est=pre_refined,
        )
    elif slim and cfg.salt_hot_thresh <= 0:
        # fused numpy bucket scan (candidates.lsh_candidates_arrow):
        # pairing + stage-1 est filter run inside the task that owns the
        # bucket — the 10-100×-overcomplete pair flood never exists as
        # JVM join-probe rows, only as index arrays killed by vectorized
        # byte compares. ONE shuffle (bucket key); the pair-distinct sees
        # survivors only. Mega-bucket skew is handled by cap_buckets (a
        # bucket stays whole in one task); with caps off AND salting
        # requested, the salted JVM join below is the skew path. This is
        # the at-scale path (no driver collect): above the broadcast
        # gate the metadata travels through the exchange with the rows.
        bands, _hot = cap_buckets(with_bands_pre(sigs, cfg), cfg.bucket_cap)
        cands = lsh_candidates_arrow(bands, cfg).union(
            est_filter_pairs(
                simhash_candidates_arrow(sigs, cfg, dedupe=False), sigs, cfg
            )
        )
    else:
        # salted path when cfg.salt_hot_thresh > 0, plain equi-join
        # otherwise. Raw (non-distinct) floods from both generators: the
        # est prefilter runs fused into the join stage (pure codegen,
        # verify.est_filter_pairs) and the pair-distinct shuffle happens
        # on its survivors only.
        bands, _hot = cap_buckets(with_bands(sigs, cfg), cfg.bucket_cap)
        cands = salted_lsh_candidates(bands, cfg, dedupe=False).union(
            simhash_candidates_arrow(sigs, cfg, dedupe=False)
        )
        if slim:
            cands = est_filter_pairs(cands, sigs, cfg)
    return cands.dropDuplicates(["src", "dst"]), pre_refined


def run_dedup(
    pages: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    recompute_text: bool = False,
    use_containment: bool = False,
    edge_kinds: tuple[str, ...] = ("exact", "near"),
) -> DedupResult:
    """Full pipeline: pages → clusters. ``edge_kinds`` selects which edge
    kinds participate in clustering (pinned default: exact + verified
    Jaccard — the oracle in tests mirrors exactly this rule)."""
    # Runtime-adaptive latest-capture pick: one pruned scan of the url
    # column (count vs distinct-count — map-side partial agg, ~30 MB of
    # strings at 500k docs) decides whether any url has multiple
    # captures. When none does — the common case for pre-deduplicated /
    # curated crawls — the latest-by-url aggregation is the identity.
    # Same AQE-style runtime-stats-drive-the-plan rationale as the
    # broadcast switches.
    #
    # SPECULATIVE OVERLAP (trusted-text path): the probe used to run
    # serially BEFORE ingest (2.7 task-s at 4 cores, 19.8 at 32 — the
    # pipeline's worst per-core inflater, pure source-scan contention;
    # BENCH/BASELINE.md). Now the probe job runs from a daemon thread
    # while the main thread speculates the common case: ingest ALL
    # captures immediately (assume_unique_urls=True) carrying the 8 B
    # latest_by_url tie-break (`_tb`). If the probe reports duplicate
    # urls, the winning captures are picked AFTER the spill by
    # `ingest.latest_docs_by_url` — provably the same winners (parity
    # test), and the collapse agg now shuffles the slim html-free spill
    # instead of raw pages. Mis-speculation cost: the derived-column
    # kernel ran over losing captures too. The extractor path
    # (recompute_text=True) never speculates — extracting losing
    # captures would run the expensive UDF on rows the probe-first plan
    # provably skips.
    spark = pages.sparkSession
    speculate = not recompute_text
    probe_out: dict = {}

    def _probe() -> None:
        try:
            with job_desc(spark, "dedup: url-uniqueness probe"):
                probe_out["cnt"] = pages.agg(
                    F.count("*").alias("n"), F.count_distinct("url").alias("u")
                ).first()
        except BaseException as exc:  # noqa: BLE001 — re-raised on the caller
            # a daemon-thread exception would otherwise vanish and
            # surface as a bare KeyError('cnt') masking the real Spark
            # failure; carry it across the join instead
            probe_out["err"] = exc

    # `text` is never read past ingest (similarity runs on norm_text;
    # reporting on ids/metadata) — keeping it out of the persisted
    # working set cuts ~1/3 of the cache bytes and of every downstream
    # cache scan. The raw text stays available in `pages`.
    #
    # Materialization is a parquet round-trip, NOT an in-heap
    # deserialized cache: building ~1 GB of String/UnsafeRow cache
    # blocks from 16+ threads concurrently churns the shared heap —
    # profiled 6.3× task-time inflation (52→324 core-s, GC 0.4→33 s)
    # going local[4]→local[16] on identical work, the single worst
    # scaling pathology in the pipeline. The columnar file round-trip
    # keeps materialized bytes off-heap and every re-scan vectorized.
    # Arrow-kernel docs tail (ingest.to_docs_arrow, parity-tested): the
    # JVM regexp_replace+lower normalization dominated this stage and
    # inflated ~2.5× with cores; the kernel path is vectorized RE2 on
    # ASCII batches with the oracle's Python twin as fallback.
    # keep_text=False: the raw text never crosses Arrow back — the
    # pipeline reads only norm_text past ingest.
    if speculate:
        import threading

        t = threading.Thread(target=_probe, daemon=True)
        t.start()
        docs = _spill(
            to_docs_arrow(
                pages,
                cfg,
                recompute_text=False,
                assume_unique_urls=True,
                keep_text=False,
                carry_tiebreak=True,
            ),
            "docs",
        )
        t.join()
        if "err" in probe_out:
            raise RuntimeError("url-uniqueness probe failed") from probe_out["err"]
        cnt = probe_out["cnt"]
        if cnt["n"] != cnt["u"]:
            from dedup.ingest import latest_docs_by_url

            pre_dir = getattr(docs, "_dedup_spill_dir", None)
            docs = _spill(latest_docs_by_url(docs), "docs")
            # the collapsed spill fully materialized above — free the
            # superseded all-captures spill now instead of at process
            # exit (on a heavily multi-captured crawl it would roughly
            # double the docs footprint on the RAM-backed scratch for
            # the rest of the run; CLAUDE.md documents that budget as
            # already marginal at 2M local docs)
            if pre_dir:
                import shutil

                shutil.rmtree(pre_dir, ignore_errors=True)
                if pre_dir in _SPILL_DIRS:
                    _SPILL_DIRS.remove(pre_dir)
        else:
            docs = docs.drop("_tb")
    else:
        _probe()
        # same masking guard as the speculative branch: a Spark failure
        # inside the probe must surface as the chained cause, not as a
        # bare KeyError('cnt')
        if "err" in probe_out:
            raise RuntimeError("url-uniqueness probe failed") from probe_out["err"]
        cnt = probe_out["cnt"]
        docs = _spill(
            to_docs_arrow(
                pages,
                cfg,
                recompute_text=True,
                assume_unique_urls=cnt["n"] == cnt["u"],
                keep_text=False,
            ),
            "docs",
        )
    edges, sigs, _sh = build_edges(docs, cfg, use_containment=use_containment)
    edges = edges.persist(StorageLevel.MEMORY_AND_DISK_DESER)
    with job_desc(pages.sparkSession, "dedup: verify edges + cc"):
        comp = connected_components(
            edges.filter(F.col("kind").isin(*edge_kinds)), max_iter=cfg.max_cc_iter
        )
    clusters = assign_clusters(docs, comp)
    return DedupResult(docs=docs, signatures=sigs, edges=edges, clusters=clusters)


def cluster_report(clusters: DataFrame) -> DataFrame:
    """Cluster stats (F2/G2 surface): size, canonical member, span."""
    return clusters.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size"),
        F.min("doc_id").alias("canonical_doc_id"),
        F.min("warc_ts").alias("first_seen"),
        F.max("warc_ts").alias("last_seen"),
        F.round(F.avg("n_chars"), 2).alias("avg_n_chars"),
    )
