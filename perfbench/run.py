"""One benchmark run of the near-duplicate pipeline.

    python3 perfbench/run.py --workload dup-heavy --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. The run generates (or loads the
cached) input for ``--seed``, starts a ``local[<cores / 2>]`` session and
runs the pipeline once cold (the set-up ends there), then warm, one run
at a time, until ``--seconds`` have passed since the first warm run
began. It checks every run's output and prints one JSON object as its
last line: end-to-end metrics with ``--trace 0``; with ``--trace 1``,
per-layer metrics from a traced warm run. It exits 1 when an output
check failed and 2 when it cannot run at all. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import sys
import time
import traceback
from statistics import median

import pandas as pd

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")

E2E_UNITS = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "run_cpu_s": "s",
    "peak_rss_mb": "MB",
    "scratch_peak_mb": "MB",
    "pair_recall": "ratio",
}
_MB = 1e6
#: a traced run starts its last (fourth) run only this soon after start
TRACE_LAST_RUN_BY_S = 120


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _set_env(run, mem: str) -> None:
    """Everything the session, its JVM and its Python workers write goes
    under the run directory; workers import ``dedup`` from the checkout."""
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["DEDUP_SCRATCH"] = run.scratch
    # shuffle files live outside the scratch that scratch_peak_mb measures:
    # when the JVM's cleaner removes them is a matter of GC timing
    os.environ["SPARK_LOCAL_DIRS"] = run.path("spark-local")
    os.environ["TMPDIR"] = run.tmp
    # the spark-submit launcher is a JVM of its own
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={run.tmp}"
    os.environ["SPARK_DRIVER_MEM"] = mem
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


# --- session -------------------------------------------------------------


def _session_conf(run, evdir: str | None) -> dict:
    conf = {
        # no hsperfdata in /tmp; JVM temp files stay in the run directory
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={run.tmp}",
        "spark.sql.warehouse.dir": run.path("catalog"),
    }
    if evdir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{evdir}",
            "spark.eventLog.compress": "false",
        })
    return conf


def _series_mean(v: pd.Series) -> float:
    return v.mean()


def _start(run, cores: int, evdir: str | None):
    """Session start plus bench.py's warm-up job: a grouped pandas UDF,
    which starts JVM codegen, the shuffle machinery and the Python worker
    pool. The UDF is defined per session, because a UDF object stays
    bound to the JVM it was first used with."""
    from pyspark.sql import functions as F

    from dedup.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=max(cores, 8),
        extra_conf=_session_conf(run, evdir),
    )
    mean_udf = F.pandas_udf(_series_mean, "double")
    spark.range(1000).withColumn("g", F.col("id") % 8).groupBy("g").agg(mean_udf("id")).count()
    return spark


def _stop(spark) -> None:
    """Stop the session, if one started, and the JVM behind it, and wait
    for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


# --- output checks ------------------------------------------------------------


def _pairs(src, dst) -> set[tuple[int, int]]:
    import numpy as np

    return set(zip(np.minimum(src, dst).tolist(), np.maximum(src, dst).tolist()))


def check(inp, w, clusters, edges) -> dict:
    """Compare one run's clusters and edges with the truth of its input.
    Returns the problems found (empty when the run is correct) and the
    counts the metrics need."""
    import numpy as np

    problems = []
    ids = clusters["doc_id"].to_numpy()
    if len(ids) != len(inp.doc_ids) or set(ids.tolist()) != set(inp.doc_ids.tolist()):
        problems.append(f"clusters cover {len(ids)} docs, input has {len(inp.doc_ids)}")
    mins = clusters.groupby("cluster_id")["doc_id"].min()
    if not (mins.index.to_numpy() == mins.to_numpy()).all():
        problems.append("a cluster_id is not the min doc_id of its cluster")
    kind = edges["kind"].to_numpy()
    src, dst = edges["src"].to_numpy(), edges["dst"].to_numpy()
    exact = _pairs(src[kind == "exact"], dst[kind == "exact"])
    if exact != inp.exact:
        problems.append(f"exact edges: {len(exact)} found, {len(inp.exact)} expected")
    near = _pairs(src[kind == "near"], dst[kind == "near"])
    order = np.argsort(inp.doc_ids)
    sorted_ids, sorted_blocks = inp.doc_ids[order], inp.blocks[order]

    def block(x):
        pos = np.clip(np.searchsorted(sorted_ids, x), 0, len(sorted_ids) - 1)
        if (sorted_ids[pos] != x).any():
            return None
        return sorted_blocks[pos]

    cross = 0
    if near:
        arr = np.array(sorted(near), dtype=np.int64)
        ba, bb = block(arr[:, 0]), block(arr[:, 1])
        if ba is None or bb is None:
            problems.append("a near edge names a doc that is not in the input")
        else:
            same = ba == bb
            cross = int((~same).sum())
            false_pos = {p for p, s in zip(map(tuple, arr.tolist()), same) if s} - inp.truth
            if false_pos:
                problems.append(f"{len(false_pos)} near edges inside a block are not truth pairs")
    # a verified edge across blocks is a truth pair the block oracle did
    # not enumerate: it counts on both sides
    found = len(near & inp.truth) + cross
    total = len(inp.truth) + cross
    recall = found / total if total else 1.0
    if recall < w.recall_gate:
        problems.append(f"pair recall {recall:.4f} < gate {w.recall_gate}")
    digest = hashlib.sha256(
        clusters.sort_values("doc_id")[["doc_id", "cluster_id"]].to_numpy().astype("<i8").tobytes()
    ).hexdigest()
    return {
        "problems": problems,
        "recall": recall,
        "cross_block_edges": cross,
        "near_edges": len(near),
        "edges_in": len(exact) + len(near),
        "clusters": int(mins.size),
        "digest": digest,
    }


# --- one pass -------------------------------------------------------------------


class Bench:
    def __init__(self, spark, w, inp, run, spans=None):
        self.spark, self.w, self.inp, self.run, self.spans = spark, w, inp, run, spans
        self.n = 0

    def _clear_scratch(self) -> None:
        """Drop what a pass leaves behind, outside its timing: the
        program removes its spills only at interpreter exit."""
        self.spark.catalog.clearCache()
        for name in os.listdir(self.run.scratch):
            if name.startswith(("dedup-spill-", "wh-")):
                shutil.rmtree(os.path.join(self.run.scratch, name), ignore_errors=True)
        self.spark.sparkContext._jvm.System.gc()

    def run_pass(self, counts: bool = False) -> dict:
        """One pipeline run, timed from reading the pages to the clusters
        on the driver (in-process) or the report committed (job)."""
        import dedup.jobrunner as jr
        import dedup.pipeline as pl
        from pyspark.sql import functions as F

        from dedup.tableio import TableIO
        from perfbench.host import dir_bytes, tree_cpu_seconds

        self.n += 1
        spark, w = self.spark, self.w
        me = os.getpid()
        t_epoch = time.time() * 1000
        cpu0 = tree_cpu_seconds(me)
        t0 = time.perf_counter()
        if w.job:
            tio = TableIO(spark, os.path.join(self.run.scratch, f"wh-{self.n}"))
            jr.run_dedup_job(spark, tio, w.cfg, f"bench-{self.n}", spark.read.parquet(self.inp.pages_path))
            wall = time.perf_counter() - t0
            cpu = tree_cpu_seconds(me) - cpu0
            window = (t_epoch, time.time() * 1000)
            with pl.job_desc(spark, "perfbench: check"):
                clusters = tio.read("clusters").select("doc_id", "cluster_id").toPandas()
                edges = tio.read("edges").select("src", "dst", "kind").toPandas()
        else:
            res = pl.run_dedup(spark.read.parquet(self.inp.pages_path), w.cfg)
            with pl.job_desc(spark, "perfbench: materialize clusters"):
                clusters = res.clusters.select("doc_id", "cluster_id").toPandas()
            wall = time.perf_counter() - t0
            cpu = tree_cpu_seconds(me) - cpu0
            window = (t_epoch, time.time() * 1000)
            with pl.job_desc(spark, "perfbench: check"):
                edges = res.edges.filter(F.col("kind").isin("exact", "near")).select(
                    "src", "dst", "kind"
                ).toPandas()
        out = check(self.inp, w, clusters, edges)
        out.update(wall=wall, cpu=cpu, window=window)
        if counts and self.spans is not None and "verify.pairs" in self.spans.captured:
            with pl.job_desc(spark, "perfbench: counts"):
                out["pairs"] = self.spans.captured.pop("verify.pairs").count()
        # what the run left in scratch counts toward its peak, in case
        # the sampler fell between its high points
        out["scratch_end"] = dir_bytes(self.run.scratch)
        if not w.job:
            res.edges.unpersist()
        self._clear_scratch()
        return out


# --- the run ---------------------------------------------------------------------


class Loop:
    """Runs passes one at a time (a closed loop) and keeps what the
    metrics need; an exception or a failed check ends the loop."""

    def __init__(self, bench, sampler, tracer=None):
        self.b, self.sampler, self.tracer = bench, sampler, tracer
        self.passes: list[dict] = []
        self.crashes: list[str] = []
        self.attempted = 0

    def one(self, traced: bool = False) -> bool:
        self.attempted += 1
        tr = self.tracer
        if tr is not None:
            tr.start(traced)
        self.sampler.window()
        try:
            r = self.b.run_pass(counts=traced)
        except Exception:  # noqa: BLE001 — a failed run is counted and reported
            self.crashes.append(traceback.format_exc(limit=3))
            return False
        finally:
            if tr is not None:
                tr.stop()
        r["rss"], scratch, r["rss_by_process"] = self.sampler.window()
        r["scratch"] = max(scratch, r["scratch_end"])
        r["traced"] = traced
        if traced:
            r["layers"] = tr.layers(r["window"])
        self.passes.append(r)
        return not r["problems"]


class Tracer:
    """Spans plus the event log, on only for traced passes."""

    def __init__(self, spark, evdir: str):
        from perfbench import trace

        self.trace = trace
        self.spans = trace.Spans()
        self.spans.install()
        self.evlog = trace.EventLog(spark)
        self.evlog.detach()
        self.evdir = evdir

    def start(self, traced: bool) -> None:
        (self.evlog.attach if traced else self.evlog.detach)()
        self.spans.records.clear()
        self.spans.on = traced

    def stop(self) -> None:
        self.spans.on = False
        self.evlog.detach()

    def layers(self, window) -> dict:
        return self.trace.rollup(self.spans.records, self.evdir, window)


def _layer_metrics(loop: Loop, w, inp) -> dict:
    """Per-layer numbers of the traced warm run (the third), the tracing
    overhead — that run minus the mean of the untraced warm runs around
    it — and the cold run's one-time cost over that mean."""
    from dedup.components import SMALL_GRAPH_EDGES
    from perfbench import trace

    m = dict.fromkeys(trace.METRICS, 0.0)
    if len(loop.passes) < 3:
        return m
    cold, before, traced, *after = loop.passes
    untraced = sum(p["wall"] for p in [before, *after]) / (1 + len(after))
    m.update(traced["layers"])
    pairs = float(traced.get("pairs", 0))
    m["candidates.pairs_out"] = m["verify.pairs_in"] = pairs
    m["verify.edges_out"] = float(traced["near_edges"])
    m["verify.useful_ratio"] = traced["near_edges"] / pairs if pairs else 0.0
    m["verify.cross_block_edges"] = float(traced["cross_block_edges"])
    m["components.edges_in"] = float(traced["edges_in"])
    m["components.clusters"] = float(traced["clusters"])
    m["components.single_task"] = float(2 * traced["edges_in"] <= SMALL_GRAPH_EDGES)
    if not w.job:
        # nothing is written in process: rows out are the frames' sizes
        m["candidates.rows_out"] = pairs
        m["verify.rows_out"] = float(traced["near_edges"])
        m["components.rows_out"] = float(len(inp.doc_ids))
    m["pipeline.first_run_s"] = cold["wall"]
    m["pipeline.cold_extra_s"] = cold["wall"] - untraced
    m["tracing_overhead_s"] = traced["wall"] - untraced
    return m


def bench(args, run, details: dict) -> dict:
    from perfbench import host
    from perfbench.workloads import WORKLOADS, prepare, recorded_digest

    w = WORKLOADS[args.workload]
    # one task thread per two cores: each thread drives a Python worker
    # process, so local[<cores>] runs twice as many busy processes as
    # cores, plus the driver and the JVM's compiler and GC threads. On
    # 4 cores local[2] ran the pipeline faster than local[4], with a
    # third less CPU time and a narrower run-to-run spread.
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    t = time.perf_counter()
    inp = prepare(w, args.seed, os.path.join(STATE, "cache"))
    details["input_s"] = time.perf_counter() - t
    details.update(
        n_pages=inp.n_pages, n_docs=len(inp.doc_ids), truth_pairs=len(inp.truth), cores=cores
    )

    evdir = run.path("events") if args.trace else None
    if evdir:
        os.makedirs(evdir)
    spark = None
    try:
        t = time.perf_counter()
        spark = _start(run, cores, evdir)
        session_s = time.perf_counter() - t
        tracer = Tracer(spark, evdir) if evdir else None
        with host.Sampler([run.scratch]) as sampler:
            loop = Loop(Bench(spark, w, inp, run, tracer and tracer.spans), sampler, tracer)
            # the cold run ends the set-up: it pays the one-time costs
            # (JIT, code generation, worker imports) before timing
            ok = loop.one()
            if args.trace:
                # then a traced warm run between two untraced ones:
                # per-layer numbers describe steady work, and the cold
                # run's one-time costs are reported beside them. The last
                # untraced run is skipped on a host slow enough to put the
                # run near its 180 s limit.
                ok = ok and loop.one() and loop.one(traced=True)
                if ok and time.perf_counter() - T_START < TRACE_LAST_RUN_BY_S:
                    loop.one()
            else:
                t_loop = time.perf_counter()
                while ok and (len(loop.passes) < 2 or time.perf_counter() - t_loop < args.seconds):
                    ok = loop.one()
    finally:
        _stop(spark)

    passes = loop.passes
    good = [p for p in passes if not p["problems"]]
    if good:
        want = recorded_digest(inp.meta_path, good[0]["digest"])
        for p in passes:
            if p["digest"] != want:
                p["problems"].append("cluster digest differs from the one recorded for this seed")
    failed = len(loop.crashes) + sum(1 for p in passes if p["problems"])
    errors = loop.crashes + [e for p in passes for e in p["problems"]]
    cold, warm = passes[:1], passes[1:]
    setup_s = session_s + sum(p["wall"] for p in cold)
    details.update(
        setup_s=setup_s,
        session_s=session_s,
        first_run_s=cold[0]["wall"] if cold else None,
        first_run_cpu_s=cold[0]["cpu"] if cold else None,
        pass_walls=[round(p["wall"], 3) for p in passes],
        pass_cpu_s=[round(p["cpu"], 2) for p in passes],
        peak_mb_by_process=[
            {k: round(v / _MB) for k, v in p["rss_by_process"].items()} for p in passes
        ],
        cross_block_edges=passes[-1]["cross_block_edges"] if passes else None,
        errors=errors,
        failed_run_ratio=failed / loop.attempted,
    )
    if args.trace:
        metrics = _layer_metrics(loop, w, inp)
        units = {n: _unit(n) for n in metrics}
    else:
        metrics = {
            "setup_s": setup_s,
            "docs_per_s": inp.n_pages / median(p["wall"] for p in warm) if warm else 0.0,
            "run_cpu_s": median(p["cpu"] for p in warm) if warm else 0.0,
            "peak_rss_mb": max((p["rss"] for p in passes), default=0) / _MB,
            "scratch_peak_mb": max((p["scratch"] for p in passes), default=0) / _MB,
            "pair_recall": min((p["recall"] for p in passes), default=0.0),
        }
        units = E2E_UNITS
    return {
        "correct": failed == 0 and bool(warm),
        "attempted": loop.attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }


def _unit(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_s"):
        return "s"
    if last.endswith("_mb"):
        return "MB"
    if last in ("useful_ratio", "unlabelled_share", "single_task"):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "dedup", "pipeline.py")):
        print(f"perfbench: no dedup package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    # the script's own directory would shadow stdlib modules (trace)
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != here]
    sys.path.insert(0, ROOT)
    from perfbench import host
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # a kill must still run the finally below: stop Spark, drop the run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    details = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    details["swept_runs"] = host.sweep_dead_runs(STATE)
    run = host.RunDir(STATE)
    mem = host.driver_mem()
    details["spark_driver_mem"] = mem
    _set_env(run, mem)
    details["host_start"] = host.host_probe()
    try:
        result = bench(args, run, details)
    finally:
        run.close()
    details["host_end"] = host.host_probe()
    print(json.dumps({"perfbench_details": details}, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
