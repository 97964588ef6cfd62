"""Per-layer numbers for the traced run, recorded from outside the program.

Two sources, joined on wall-clock time:

- **Spans.** ``Spans.install`` wraps the public layer entry points at
  the module attribute their callers use, and records (name, start,
  end, parent) in memory. ``Runner.stage`` is wrapped so each stage's
  jobs carry ``job: <stage>`` as their description.
- **The Spark event log.** The session writes it only while a traced
  pass runs (``EventLog.attach`` / ``detach``). It is read with the
  event-file readers of ``BENCH/profile_jobs.py`` and rolled up per job
  by the ``job_desc`` labels the program sets, or by the stage span
  the job ran in.

``python_wait_s`` is task time that is neither JVM CPU nor GC: for the
Arrow/pandas kernels that is mostly time spent waiting on the Python
workers, plus I/O and other waits.
"""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH")
if _BENCH not in sys.path:
    sys.path.insert(0, _BENCH)

# profile_jobs only setdefaults SPARK_DRIVER_MEM, which run.py has set
from profile_jobs import _event_files, _open_events  # noqa: E402

#: layers of the in-process pipeline, keyed by the job_desc labels the
#: program sets (dedup/pipeline.py, verify.py, components.py); the
#: benchmark's own clusters collect evaluates assign_clusters
LABEL_LAYER = {
    "dedup: spill docs": "ingest",
    "dedup: spill sigsh": "signatures",
    "dedup: candidates + est-filter": "candidates",
    "dedup: verify + edge symmetrize": "verify",
    "dedup: verify edges + cc": "components",
    "perfbench: materialize clusters": "components",
}
PROBE_LABEL = "dedup: url-uniqueness probe"
#: layers of the spark-submit stage graph, keyed by Runner stage name
STAGE_LAYER = {
    "docs": "ingest",
    "signatures": "signatures",
    "edges": "verify",
    "clusters": "components",
    "report": "report",
}
JOB_STAGES = tuple(STAGE_LAYER)
LAYERS = ("ingest", "signatures", "candidates", "verify", "components", "tableio")
FIELDS = (
    "wall_s", "task_s", "jvm_cpu_s", "python_wait_s", "gc_s",
    "shuffle_write_mb", "shuffle_read_mb", "rows_out",
)
EXTRA = (
    "ingest.spill_mb", "signatures.spill_mb", "signatures.lookup_s",
    "candidates.pairs_out", "verify.pairs_in", "verify.edges_out",
    "verify.useful_ratio", "verify.cross_block_edges",
    "components.edges_in", "components.clusters", "components.single_task",
    "components.jobs",
    "pipeline.wall_s", "pipeline.task_s", "pipeline.url_probe.task_s",
    "pipeline.driver_idle_s", "pipeline.unlabelled_task_s",
    "pipeline.unlabelled_share", "pipeline.first_run_s", "pipeline.cold_extra_s",
    *(f"jobrunner.{s}.{f}" for s in JOB_STAGES for f in ("wall_s", "task_s")),
    "jobrunner.bookkeeping_s",
    "tableio.bytes_written_mb", "tableio.read_wall_s",
    "tracing_overhead_s",
)
#: every per-layer metric a traced run prints, in order
METRICS = tuple(f"{layer}.{f}" for layer in LAYERS for f in FIELDS) + EXTRA

_MB = 1e6


# --- spans ---------------------------------------------------------------


@dataclass
class Span:
    name: str
    t0: float  # epoch ms
    t1: float
    parent: str | None
    args: dict = field(default_factory=dict)


class Spans:
    """In-memory spans around layer entry points; ``on`` gates recording
    so untraced passes run the original functions' cost only."""

    def __init__(self):
        self.records: list[Span] = []
        #: frames handed to a layer, counted after the pass
        self.captured: dict = {}
        self.on = False
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, **args):
        if not self.on:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.time() * 1000
        try:
            yield
        finally:
            self._stack.pop()
            self.records.append(Span(name, t0, time.time() * 1000, parent, args))

    def _wrap(self, owner, attr: str, name: str, stage_desc: bool = False) -> None:
        orig = getattr(owner, attr)
        spans = self

        def wrapper(*a, **kw):
            if not spans.on:
                return orig(*a, **kw)
            args = {}
            if stage_desc:  # Runner.stage(self, name, fn, ...)
                args["stage"] = a[1] if len(a) > 1 else kw["name"]
            elif attr == "write":  # TableIO.write(self, df, table, ...)
                args["table"] = a[2] if len(a) > 2 else kw["table"]
            elif attr == "verify_jaccard_lazy":  # (pairs, docs, cfg, ...)
                spans.captured["verify.pairs"] = a[0] if a else kw["pairs"]
            with spans.span(name, **args):
                if not stage_desc:
                    return orig(*a, **kw)
                sc = a[0].spark.sparkContext
                prev = sc.getLocalProperty("spark.job.description")
                sc.setJobDescription(f"job: {args['stage']}")
                try:
                    return orig(*a, **kw)
                finally:
                    sc.setJobDescription(prev)

        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap the layer entry points where their callers look them up."""
        import dedup.jobrunner as jr
        import dedup.pipeline as pl
        import dedup.tableio as tio

        for attr, name in (
            ("run_dedup", "pipeline"),
            ("to_docs_arrow", "ingest"),
            ("with_slim_signatures", "signatures"),
            ("sig_lookup_arrays", "signatures.lookup"),
            ("fused_candidates_bcast", "candidates"),
            ("lsh_candidates_arrow", "candidates"),
            ("verify_jaccard_lazy", "verify"),
            ("connected_components", "components"),
            ("assign_clusters", "components.assign"),
        ):
            self._wrap(pl, attr, name)
        for attr, name in (
            ("run_dedup_job", "pipeline"),
            ("with_slim_signatures", "signatures"),
            ("verify_jaccard_lazy", "verify"),
            ("connected_components", "components"),
            ("assign_clusters", "components.assign"),
        ):
            self._wrap(jr, attr, name)
        self._wrap(jr.Runner, "stage", "jobrunner", stage_desc=True)
        self._wrap(tio.TableIO, "write", "tableio.write")
        self._wrap(tio.TableIO, "read", "tableio.read")


class EventLog:
    """Turns the session's event log on and off between passes by
    detaching its listener, so untraced passes pay no logging cost."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._listener = self._sc.eventLogger().get()
        self.attached = True

    def attach(self) -> None:
        if not self.attached:
            self._sc.addSparkListener(self._listener)
            self.attached = True

    def detach(self) -> None:
        if self.attached:
            # events are delivered asynchronously: let the bus drain so
            # the last jobs of a pass reach the log before it detaches
            self._sc.listenerBus().waitUntilEmpty()
            self._sc.removeSparkListener(self._listener)
            self.attached = False


# --- event-log rollup ---------------------------------------------------------


@dataclass
class Agg:
    jobs: int = 0
    task_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_w: int = 0
    shuffle_r: int = 0
    rows_out: int = 0
    bytes_out: int = 0

    def add(self, o: "Agg") -> None:
        for k in vars(self):
            setattr(self, k, getattr(self, k) + getattr(o, k))


def read_events(evdir: str):
    """jobs: id -> (start_ms, end_ms, desc); per-job task aggregates; and
    every task's (launch, finish) interval."""
    jobs: dict[int, tuple] = {}
    stage_job: dict[int, int] = {}
    per_job: dict[int, Agg] = {}
    tasks: list[tuple[float, float]] = []
    starts: dict[int, tuple] = {}
    for path in _event_files(evdir):
        with _open_events(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a log still being written ends mid-line
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    starts[jid] = (ev["Submission Time"], desc)
                    for s in ev["Stage Infos"]:
                        # a stage listed by several jobs ran in the first
                        stage_job.setdefault(s["Stage ID"], jid)
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in starts:
                    t0, desc = starts[ev["Job ID"]]
                    jobs[ev["Job ID"]] = (t0, ev["Completion Time"], desc)
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info") or {}
                    launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
                    tasks.append((launch, finish))
                    jid = stage_job.get(ev["Stage ID"])
                    if jid is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    out = m.get("Output Metrics") or {}
                    a = per_job.setdefault(jid, Agg())
                    a.task_ms += finish - launch
                    a.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
                    a.gc_ms += m.get("JVM GC Time", 0)
                    a.shuffle_w += sw.get("Shuffle Bytes Written", 0)
                    a.shuffle_r += sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
                    a.rows_out += out.get("Records Written", 0)
                    a.bytes_out += out.get("Bytes Written", 0)
    for jid in jobs:
        per_job.setdefault(jid, Agg()).jobs = 1
    return jobs, per_job, tasks


def _covered_ms(intervals: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Length of the union of ``intervals`` clipped to [t0, t1]."""
    total, end = 0.0, t0
    for a, b in sorted((max(a, t0), min(b, t1)) for a, b in intervals if b > t0 and a < t1):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _within(t: float, spans: list[Span]) -> Span | None:
    for s in spans:
        if s.t0 <= t <= s.t1:
            return s
    return None


def rollup(spans: list[Span], evdir: str, pass_window: tuple[float, float]) -> dict:
    """Per-layer numbers of one traced pass (all jobs submitted inside
    ``pass_window``, epoch ms)."""
    jobs, per_job, tasks = read_events(evdir)
    w0, w1 = pass_window
    mine = {j: v for j, v in jobs.items() if w0 <= v[0] <= w1}
    stage_spans = [s for s in spans if s.name == "jobrunner"]
    write_spans = [s for s in spans if s.name == "tableio.write"]
    layer: dict[str, Agg] = {}
    wall: dict[str, float] = {}
    stage_agg: dict[str, Agg] = {}
    probe, unlabelled, total = Agg(), Agg(), Agg()
    for jid, (t0, t1, desc) in mine.items():
        a = per_job.get(jid, Agg())
        total.add(a)
        st = _within(t0, stage_spans)
        if st is not None:
            stage_agg.setdefault(st.args["stage"], Agg()).add(a)
        if desc == PROBE_LABEL:
            name = None
            probe.add(a)
        elif desc == "dedup: candidates + est-filter" or st is None:
            name = LABEL_LAYER.get(desc)
        else:
            name = STAGE_LAYER[st.args["stage"]]
        if not desc:
            unlabelled.add(a)
        if name in LAYERS:
            layer.setdefault(name, Agg()).add(a)
            wall[name] = wall.get(name, 0.0) + (t1 - t0) / 1000
        if _within(t0, write_spans):
            layer.setdefault("tableio", Agg()).add(a)
    out: dict[str, float] = {}
    for name in LAYERS:
        a = layer.get(name, Agg())
        out.update({
            f"{name}.wall_s": wall.get(name, 0.0),
            f"{name}.task_s": a.task_ms / 1000,
            f"{name}.jvm_cpu_s": a.cpu_ms / 1000,
            f"{name}.python_wait_s": max(a.task_ms - a.cpu_ms - a.gc_ms, 0.0) / 1000,
            f"{name}.gc_s": a.gc_ms / 1000,
            f"{name}.shuffle_write_mb": a.shuffle_w / _MB,
            f"{name}.shuffle_read_mb": a.shuffle_r / _MB,
            f"{name}.rows_out": float(a.rows_out),
        })
    out["tableio.wall_s"] = sum(s.t1 - s.t0 for s in write_spans) / 1000
    out["tableio.bytes_written_mb"] = layer.get("tableio", Agg()).bytes_out / _MB
    out["tableio.read_wall_s"] = sum(s.t1 - s.t0 for s in spans if s.name == "tableio.read") / 1000
    out["ingest.spill_mb"] = layer.get("ingest", Agg()).bytes_out / _MB
    out["signatures.spill_mb"] = layer.get("signatures", Agg()).bytes_out / _MB
    out["signatures.lookup_s"] = sum(s.t1 - s.t0 for s in spans if s.name == "signatures.lookup") / 1000
    out["components.jobs"] = float(layer.get("components", Agg()).jobs)
    top = [s for s in spans if s.name == "pipeline"]
    p0, p1 = (top[0].t0, top[0].t1) if top else (w0, w1)
    out["pipeline.wall_s"] = (p1 - p0) / 1000
    out["pipeline.task_s"] = total.task_ms / 1000
    out["pipeline.url_probe.task_s"] = probe.task_ms / 1000
    out["pipeline.driver_idle_s"] = (p1 - p0 - _covered_ms(tasks, p0, p1)) / 1000
    out["pipeline.unlabelled_task_s"] = unlabelled.task_ms / 1000
    out["pipeline.unlabelled_share"] = unlabelled.task_ms / total.task_ms if total.task_ms else 0.0
    for stage in JOB_STAGES:
        ss = [s for s in stage_spans if s.args["stage"] == stage]
        out[f"jobrunner.{stage}.wall_s"] = sum(s.t1 - s.t0 for s in ss) / 1000
        out[f"jobrunner.{stage}.task_s"] = stage_agg.get(stage, Agg()).task_ms / 1000
    # commit bookkeeping: the lineage/metrics appends each stage makes
    # after its own table is committed
    out["jobrunner.bookkeeping_s"] = sum(
        s.t1 - s.t0 for s in write_spans if s.args.get("table") in ("lineage", "metrics")
    ) / 1000
    return out
