"""Counters and spans taken from outside the package.

* :class:`Tracer` keeps spans in memory (name, start, end, parent, pass
  id) and computes self time and coverage; the benchmark writes them out
  when it ends.
* :func:`instrument_pipeline` wraps the functions ``plans.pipeline``
  calls (``compute_hot_set``, ``write_partitioned``, ``read_table``,
  ``record_unit`` …) with spans for the length of one traced pass and
  tags the Spark jobs each layer submits with a job group.
* :class:`SparkCounters` reads job, stage and SQL plan metrics from the
  driver's status stores, which are kept with the UI disabled.
* :class:`RssSampler` follows peak resident memory of this process and
  its descendants (JVM, Python workers) through ``/proc``.
* :func:`walk_sinks` counts files, directories and bytes of a sink tree.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import threading
import time

GROUP = "perfbench:"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: dict | None = None

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, **attrs) -> dict:
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        span = {"id": next(self._ids), "name": name,
                "start": time.perf_counter(), "end": None,
                "parent": parent["id"] if parent else None,
                "pass": self._root["pass"] if self._root else None,
                "thread": threading.get_ident(), **attrs}
        with self._lock:
            self.spans.append(span)
        stack.append(span)
        return span

    def close(self, span: dict) -> None:
        if span["end"] is None:
            span["end"] = time.perf_counter()
        stack = self._stack()
        if span in stack:
            stack.remove(span)

    def current(self, name: str) -> dict | None:
        """The innermost open span called ``name`` on this thread."""
        return next((s for s in reversed(self._stack()) if s["name"] == name),
                    None)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = self.open(name, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    @contextlib.contextmanager
    def traced_pass(self, pass_id: str):
        """Root span of one pass; spans of any thread opened while it runs
        belong to it.  Spans still open when it ends are closed with it."""
        self._root = {"id": None, "pass": pass_id}
        root = self.open("pass")
        self._root = root
        try:
            yield root
        finally:
            end = time.perf_counter()
            for s in self.spans:
                if s["pass"] == pass_id and s["end"] is None:
                    s["end"] = end
            self._stack().clear()
            self._root = None

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def self_time(self, span: dict) -> float:
        covered = union_length(
            [(c["start"], c["end"]) for c in self.children(span)],
            span["start"], span["end"])
        return span["end"] - span["start"] - covered

    def coverage(self, root: dict) -> float:
        """Share of the root's wall covered by the union of its children."""
        wall = root["end"] - root["start"]
        kids = [(c["start"], c["end"]) for c in self.children(root)]
        return union_length(kids, root["start"], root["end"]) / wall

    def durations(self, name: str, pass_id: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["pass"] == pass_id]

    def self_time_table(self) -> dict:
        """Per span name: count, total and self seconds."""
        out: dict = {}
        for s in self.spans:
            t = out.setdefault(s["name"], {"n": 0, "total_s": 0.0,
                                           "self_s": 0.0})
            t["n"] += 1
            t["total_s"] += s["end"] - s["start"]
            t["self_s"] += self.self_time(s)
        return out

    def dump(self) -> list[dict]:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        return [{**s, "start": round(s["start"] - t0, 6),
                 "end": round(s["end"] - t0, 6),
                 "self_s": round(self.self_time(s), 6)} for s in self.spans]


def union_length(intervals: list[tuple[float, float]], lo: float,
                 hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def max_overlap(intervals: list[tuple[float, float]]) -> int:
    events = sorted([(s, 1) for s, _ in intervals] +
                    [(e, -1) for _, e in intervals])
    best = cur = 0
    for _, d in events:
        cur += d
        best = max(best, cur)
    return best


@contextlib.contextmanager
def job_group(sc, name: str):
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(GROUP + name, name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)


@contextlib.contextmanager
def instrument_pipeline(tracer: Tracer, sc):
    """Wrap the layer entry points as ``plans.pipeline`` calls them.

    Unit span: from ``lineage.clean_partial_unit`` (first call of a unit's
    thread) to the return of ``lineage.record_unit`` (its last).  Metrics
    span: from ``read_table`` to ``record_unit`` — the readback, the
    ``sink_metrics`` job and the partial write.  Merge span: from the
    first ``completed_units`` call after the units ran to the end of the
    pass.  Each wrapper tags the Spark jobs it causes with a job group.
    """
    from go_parsesyslog_spark.plans import lineage
    from go_parsesyslog_spark.plans import pipeline as P

    hot_sets: list[dict] = []
    patched = []

    def patch(mod, name, wrapper_factory):
        orig = getattr(mod, name)
        patched.append((mod, name, orig))
        setattr(mod, name, wrapper_factory(orig))

    def spanned(span_name, group=None, keep=None):
        def factory(orig):
            def wrapper(*a, **k):
                with tracer.span(span_name), (
                        job_group(sc, group) if group
                        else contextlib.nullcontext()):
                    out = orig(*a, **k)
                if keep is not None:
                    keep.append(out)
                return out
            return wrapper
        return factory

    def unit_start(orig):
        def wrapper(out_root, unit_id):
            tracer.open("pipeline.unit", unit=unit_id)
            return orig(out_root, unit_id)
        return wrapper

    def metrics_start(orig):
        def wrapper(*a, **k):
            tracer.open("metrics")
            sc.setJobGroup(GROUP + "metrics", "metrics")
            return orig(*a, **k)
        return wrapper

    def unit_end(orig):
        def wrapper(out_root, record):
            m = tracer.current("metrics")
            if m is not None:
                tracer.close(m)
                sc.setLocalProperty("spark.jobGroup.id", None)
            with tracer.span("lineage.record"):
                orig(out_root, record)
            u = tracer.current("pipeline.unit")
            if u is not None:
                tracer.close(u)
        return wrapper

    def merge_start(orig):
        def wrapper(out_root):
            if tracer.current("pipeline.merge") is None:
                tracer.open("pipeline.merge")
            return orig(out_root)
        return wrapper

    patch(P, "compute_hot_set", spanned("route.hot_set", "hot_set", hot_sets))
    patch(P, "parse_logs", spanned("parse.plan"))
    patch(P, "enrich", spanned("enrich.plan"))
    patch(P, "with_route_columns", spanned("route.plan"))
    patch(P, "write_partitioned", spanned("write", "write"))
    patch(P, "read_table", metrics_start)
    patch(lineage, "clean_partial_unit", unit_start)
    patch(lineage, "record_unit", unit_end)
    patch(lineage, "completed_units", merge_start)
    try:
        yield hot_sets
    finally:
        for mod, name, orig in reversed(patched):
            setattr(mod, name, orig)


class SparkCounters:
    """Job, stage and SQL-plan metrics from the driver's status stores."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.jvm = spark._jvm
        self._seq = self.jvm.scala.jdk.javaapi.CollectionConverters.asJava
        self._no_quantiles = spark.sparkContext._gateway.new_array(
            self.jvm.double, 0)

    def _list(self, seq) -> list:
        return list(self._seq(seq))

    def drain(self) -> None:
        """Wait until the listener bus has applied every pending event."""
        self.jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        self.drain()
        jobs = self._list(self.jsc.statusStore().jobsList(None))
        execs = self._list(
            self.spark._jsparkSession.sharedState().statusStore()
            .executionsList())
        return (max((j.jobId() for j in jobs), default=-1),
                max((e.executionId() for e in execs), default=-1))

    def jobs_since(self, mark) -> list[dict]:
        self.drain()
        out = []
        for j in self._list(self.jsc.statusStore().jobsList(None)):
            if j.jobId() > mark[0]:
                g = j.jobGroup()
                out.append({"id": j.jobId(),
                            "group": g.get() if g.isDefined() else None,
                            "stages": self._list(j.stageIds())})
        return out

    def stage_totals(self, jobs: list[dict]) -> dict:
        """Sum metrics over the completed stages of ``jobs``."""
        ids = {s for j in jobs for s in j["stages"]}
        tot = dict(stages=0, tasks=0, run_ms=0, gc_ms=0, shuffle_write=0,
                   shuffle_read=0, spill=0)
        seen = set()
        for st in self._list(self.jsc.statusStore().stageList(
                None, False, False, self._no_quantiles, None)):
            sid = st.stageId()
            if sid not in ids or sid in seen or \
                    st.status().toString() != "COMPLETE":
                continue
            seen.add(sid)
            tot["stages"] += 1
            tot["tasks"] += st.numCompleteTasks()
            tot["run_ms"] += st.executorRunTime()
            tot["gc_ms"] += st.jvmGcTime()
            tot["shuffle_write"] += st.shuffleWriteBytes()
            tot["shuffle_read"] += st.shuffleReadBytes()
            tot["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return tot

    def plan_since(self, mark) -> tuple[list[tuple[str, dict]], list[int]]:
        """(node name, metrics) of every SQL plan node run since ``mark``,
        and the job ids of those executions."""
        self.drain()
        store = self.spark._jsparkSession.sharedState().statusStore()
        nodes, job_ids = [], []
        for e in self._list(store.executionsList()):
            eid = e.executionId()
            if eid <= mark[1]:
                continue
            job_ids += self._list(e.jobs().keys())
            values = store.executionMetrics(eid)
            graph = store.planGraph(eid).allNodes()
            for n in self._list(graph):
                ms = {}
                for m in self._list(n.metrics()):
                    v = values.get(m.accumulatorId())
                    ms[m.name()] = v.get() if v.isDefined() else None
                nodes.append((n.name(), ms))
        return nodes, job_ids


def sql_count(text: str | None) -> int:
    """A plain count metric as the SQL store formats it (``'12,345'``)."""
    return int(text.replace(",", "")) if text else 0


class RssSampler:
    """Peak of Σ VmHWM over this process and its live descendants.

    Each live process contributes its own high-water mark, so the sum is an
    upper bound on the tree's simultaneous peak (pages shared between the
    Python worker daemon and its forks count once per process)."""

    def __init__(self, period_s: float = 0.25) -> None:
        self.period_s = period_s
        self.peak_kb = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def sample(self) -> None:
        total = sum(_hwm_kb(p) for p in _tree(os.getpid()))
        self.peak_kb = max(self.peak_kb, total)
        self.samples += 1

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


def _tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    todo += [int(c) for c in f.read().split()]
        except OSError:
            continue
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def walk_sinks(out_root: str) -> dict:
    """Data files, leaf directories holding them, and their bytes."""
    files = nbytes = 0
    dirs = set()
    for d, _, names in os.walk(os.path.join(out_root, "sinks")):
        data = [n for n in names if not n.startswith(("_", "."))]
        if data:
            dirs.add(d)
        files += len(data)
        nbytes += sum(os.path.getsize(os.path.join(d, n)) for n in data)
    return {"files": files, "dirs": len(dirs), "bytes": nbytes}
