"""Pipeline benchmark: one closed-loop client, one job at a time.

    python3 perfbench/run.py --workload pipeline_base --seed 1 --seconds 6 --trace 0

For the named workload the run generates the seeded input, starts a fresh
``local[nproc]`` session through ``session.get_spark`` and warms it the
way ``bench.py`` does, then drives the package's public entry points:
one first pass, then steady passes until ``--seconds`` have been spent
and at least ``MIN_STEADY`` have run.
Passes are checked against a reference computed untimed through the
exact engine (check.py).  ``--trace 1`` adds one traced pass and the
per-layer costs (tracing.py, README.md).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  The lines before it print
every metric with its unit and sample count.  Exit code 1 means an
output check failed, 2 that the program under test cannot be imported.

The package is imported inside the functions that use it, after
``main`` has checked that it can be imported at all.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

import pyarrow.parquet as pq

import check
import gen
from tracing import (RssSampler, SparkCounters, Tracer, instrument_pipeline,
                     max_overlap, sql_count, walk_sinks)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
N_UNITS = 4

WORKLOADS = {
    # The write span (lazy scan → parse → enrich → route, fan-out
    # shuffle, partitioned write, commit) is about 72% of unit time at
    # every size from 20k to 600k turns; 4 units × 32 buckets is the
    # shape the pipeline's recorded numbers were taken on.  A pass costs
    # about the same up to 100k; at 25k the cold pass is shorter, so a run
    # with MIN_STEADY steady passes fits the run budget on a busy host
    # (README.md, "Sizes").
    "pipeline_base": {"kind": "pipeline", "mix": "base", "rows": 25_000,
                      "files": 64, "n_buckets": 32},
    # The exact Python parser does most of the work and nothing is
    # written: parse-tier changes show here, write changes must not.
    # At 40k turns a pass was mostly per-pass planning and job overhead
    # and its median spread twice as wide as at 80k.
    "parse_rich": {"kind": "rich", "mix": "rich", "rows": 80_000,
                   "files": 64},
    # Hot set above the 1024-id literal cap: spill → re-read →
    # broadcast-join route and twice the sink cells of pipeline_base.
    "pipeline_hotspill": {"kind": "pipeline", "mix": "hotspill",
                          "rows": 200_000, "files": 64, "n_buckets": 64},
}

# The end-to-end metrics of the JSON result: measured on every workload
# and never 0.  The report lines add peak_rss_mb, failed_frac and, on
# pipeline workloads, output_files and sink_bytes_per_input_byte.
E2E = ("turns_per_s", "first_run_s", "setup_s")

# Steady passes per run, at least, however short --seconds is.  The pass
# right after the first one is still warming up; the median of two or
# more is far steadier than one pass.
MIN_STEADY = 2

PER_LAYER = [
    "session.start_s", "session.warmup_s", "session.peak_rss_mb",
    "scan.s", "scan.input_bytes",
    "parse.s", "parse.python_rows", "parse.python_frac", "parse.dlq_rows",
    "parse.exchange_bytes", "enrich.s", "enrich.exchanges",
    "route.hot_set_s", "route.hot_set_jobs", "route.hot_convs",
    "route.hot_spilled", "route.s", "write.s", "write.max_unit_s",
    "write.files", "write.dirs", "write.bytes", "write.bytes_per_input_byte",
    "write.shuffle_bytes", "write.spill_bytes", "write.tasks", "metrics.s",
    "metrics.rows", "lineage.record_s", "lineage.markers",
    "pipeline.unit_median_s", "pipeline.unit_max_s",
    "pipeline.units_in_flight_max", "pipeline.merge_s",
    "pipeline.core_busy_frac", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.task_s", "spark.gc_s", "trace.overhead_s", "trace.coverage",
]
LAYER_UNITS = {
    "session.peak_rss_mb": "MB", "scan.input_bytes": "bytes",
    "parse.exchange_bytes": "bytes", "write.bytes": "bytes",
    "write.shuffle_bytes": "bytes", "write.spill_bytes": "bytes",
    "parse.python_frac": "ratio", "write.bytes_per_input_byte": "ratio",
    "pipeline.core_busy_frac": "ratio", "trace.coverage": "ratio",
}


def layer_unit(name: str) -> str:
    if name in LAYER_UNITS:
        return LAYER_UNITS[name]
    return "s" if name.endswith(("_s", ".s")) else "count"


def process_age_s() -> float:
    """Seconds since this process started (kernel clock, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class Ops:
    """Attempted and failed operations: every pass and every check."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def record(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems += [f"{what}: {p}" for p in problems]


def set_up(work: str):
    import bench  # the frozen harness; its warm-up defines "ready"
    from go_parsesyslog_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    t1 = time.perf_counter()
    bench._warmup(spark)
    t2 = time.perf_counter()
    return spark, {"setup_s": process_age_s(), "session.start_s": t1 - t0,
                   "session.warmup_s": t2 - t1}


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def host_info(spark, loadavg) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {"nproc": len(os.sched_getaffinity(0)),
            "mem_gb": round(mem_kb / 2**20, 1),
            "spark": spark.version,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "loadavg_start": loadavg}


def pipeline_pass(spark, wl: dict, inp: str, out: str):
    from go_parsesyslog_spark.plans.pipeline import run_pipeline

    shutil.rmtree(out, ignore_errors=True)
    t = time.perf_counter()
    summary = run_pipeline(spark, inp, out, n_units=N_UNITS,
                           n_buckets=wl["n_buckets"], resume=False)
    return time.perf_counter() - t, summary


def rich_pass(spark, inp: str, tracer: Tracer | None = None):
    from go_parsesyslog_spark.operators.enrich import enrich
    from go_parsesyslog_spark.operators.parse import parse_logs
    from go_parsesyslog_spark.sources.transcripts import REF_NOW

    def span(name):
        return tracer.span(name) if tracer else contextlib.nullcontext()

    t = time.perf_counter()
    with span("scan.plan"):
        df = spark.read.parquet(inp)
    with span("parse.plan"):
        parsed = parse_logs(df, fmt="auto", ref_now=REF_NOW)
    with span("enrich.plan"):
        enriched = enrich(parsed, spark)
    with span("aggregate"):
        rows = check.aggregate_rows(check.rich_aggregate(enriched).collect())
    return time.perf_counter() - t, rows


def prefix_costs(spark, counters, files: list[str], route_args: dict | None):
    """Wall of cumulative lazy prefixes over one unit's files into a noop
    sink (scan; +parse; +enrich; +route), each timed once, and the plan
    metrics of each prefix."""
    from go_parsesyslog_spark.operators.enrich import enrich
    from go_parsesyslog_spark.operators.parse import parse_logs
    from go_parsesyslog_spark.operators.route import with_route_columns
    from go_parsesyslog_spark.sources.transcripts import REF_NOW

    def scan():
        return spark.read.parquet(*files)

    def parse():
        return parse_logs(scan(), fmt="auto", ref_now=REF_NOW)

    def enriched():
        return enrich(parse(), spark)

    steps = [("scan", scan), ("parse", parse), ("enrich", enriched)]
    if route_args is not None:
        steps.append(("route", lambda: with_route_columns(enriched(),
                                                          **route_args)))
    out = {}
    for name, build in steps:
        mark = counters.mark()
        t = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t
        nodes, jobs = counters.plan_since(mark)
        stages = counters.stage_totals(
            [j for j in counters.jobs_since(mark) if j["id"] in jobs])
        out[name] = {"s": wall, "nodes": nodes, "stages": stages}
    return out


def prefix_layers(pre: dict, unit_rows: int) -> dict:
    def wall(name):
        return pre[name]["s"] if name in pre else 0.0

    def exchanges(name):
        return sum(1 for n, _ in pre[name]["nodes"] if n == "Exchange")

    py_rows = sum(sql_count(m.get("number of output rows"))
                  for n, m in pre["parse"]["nodes"] if n == "ArrowEvalPython")
    return {
        "scan.s": wall("scan"),
        "parse.s": wall("parse") - wall("scan"),
        "parse.python_rows": py_rows,
        "parse.python_frac": py_rows / unit_rows,
        "parse.exchange_bytes": pre["parse"]["stages"]["shuffle_write"],
        "enrich.s": wall("enrich") - wall("parse"),
        "enrich.exchanges": exchanges("enrich") - exchanges("parse"),
        "route.s": wall("route") - wall("enrich") if "route" in pre else 0.0,
    }


def traced_pipeline_pass(spark, counters, tracer, wl, inp, out):
    shutil.rmtree(out, ignore_errors=True)
    mark = counters.mark()
    with tracer.traced_pass("traced") as root:
        with instrument_pipeline(tracer, spark.sparkContext) as hot_sets:
            wall, summary = pipeline_pass(spark, wl, inp, out)
    jobs = counters.jobs_since(mark)
    write_st = counters.stage_totals(
        [j for j in jobs if j["group"] == "perfbench:write"])
    units = [s for s in tracer.spans
             if s["name"] == "pipeline.unit" and s["pass"] == "traced"]
    unit_s = [s["end"] - s["start"] for s in units]
    writes = tracer.durations("write", "traced")
    hot = hot_sets[0] if hot_sets else {"count": 0, "path": None, "ids": []}
    sinks = walk_sinks(out)
    metrics_rows = sum(
        pq.ParquetFile(os.path.join(d, n)).metadata.num_rows
        for d, _, names in os.walk(os.path.join(out, "metrics_partial"))
        for n in names if n.endswith(".parquet"))
    layer = {
        "route.hot_set_s": sum(tracer.durations("route.hot_set", "traced")),
        "route.hot_set_jobs": sum(1 for j in jobs
                                  if j["group"] == "perfbench:hot_set"),
        "route.hot_convs": hot["count"],
        "route.hot_spilled": int(bool(hot.get("path"))),
        "write.s": sum(writes),
        "write.max_unit_s": max(writes, default=0.0),
        "write.files": sinks["files"], "write.dirs": sinks["dirs"],
        "write.bytes": sinks["bytes"],
        "write.shuffle_bytes": write_st["shuffle_write"],
        "write.spill_bytes": write_st["spill"],
        "write.tasks": write_st["tasks"],
        "metrics.s": sum(tracer.durations("metrics", "traced")),
        "metrics.rows": metrics_rows,
        "lineage.record_s": sum(tracer.durations("lineage.record", "traced")),
        "lineage.markers": sum(1 for n in os.listdir(
            os.path.join(out, "_lineage")) if n.endswith(".json")),
        "pipeline.unit_median_s": statistics.median(unit_s),
        "pipeline.unit_max_s": max(unit_s),
        "pipeline.units_in_flight_max": max_overlap(
            [(s["start"], s["end"]) for s in units]),
        "pipeline.merge_s": sum(tracer.durations("pipeline.merge", "traced")),
    }
    route_args = {"n_buckets": wl["n_buckets"], "hot_ids": hot.get("ids"),
                  "hot_df": (spark.read.parquet(hot["path"])
                             if hot.get("path") else None)}
    return wall, summary, root, jobs, layer, route_args


def trace_layers(spark, wl, inp, out, described, walls, full_check, record):
    """One traced pass plus the prefix timings; returns the layer metrics
    (0 for layers the workload does not run)."""
    from go_parsesyslog_spark.plans.pipeline import plan_units

    tracer = Tracer()
    counters = SparkCounters(spark)
    layer = {k: 0 for k in PER_LAYER}
    if wl["kind"] == "pipeline":
        wall, summary, root, jobs, pl_layer, route_args = \
            traced_pipeline_pass(spark, counters, tracer, wl, inp, out)
        layer.update(pl_layer)
        layer["write.bytes_per_input_byte"] = (
            layer["write.bytes"] / described["bytes"])
        full_check(summary, "check traced pass")
        got = check.summarize_rows(check.read_sink_rows(out))
        layer["parse.dlq_rows"] = sum(n for k, n in got["per_sink"].items()
                                      if k.startswith("dlq/"))
    else:
        mark = counters.mark()
        with tracer.traced_pass("traced") as root:
            wall, got = rich_pass(spark, inp, tracer)
        jobs = counters.jobs_since(mark)
        full_check(got, "check traced pass")
        layer["parse.dlq_rows"] = sum(r[4] for r in got if r[2] is not None)
        route_args = None
    st = counters.stage_totals(jobs)
    layer.update({
        "spark.jobs": len(jobs), "spark.stages": st["stages"],
        "spark.tasks": st["tasks"], "spark.task_s": st["run_ms"] / 1000,
        "spark.gc_s": st["gc_ms"] / 1000,
        "pipeline.core_busy_frac": st["run_ms"] / 1000 / (
            wall * spark.sparkContext.defaultParallelism),
        "trace.overhead_s": wall - statistics.median(walls),
        "trace.coverage": tracer.coverage(root),
    })
    unit_files = plan_units(inp, N_UNITS)[0][1]
    unit_rows = sum(pq.ParquetFile(f).metadata.num_rows for f in unit_files)
    layer.update(prefix_layers(
        prefix_costs(spark, counters, unit_files, route_args), unit_rows))
    layer["scan.input_bytes"] = sum(os.path.getsize(f) for f in unit_files)
    record["spans"] = tracer.dump()
    record["self_s"] = tracer.self_time_table()
    return layer


def run(args, work: str) -> tuple[list, Ops, dict]:
    """One benchmark run; returns ([(name, value, unit, samples)], ops,
    record)."""
    wl = WORKLOADS[args.workload]
    loadavg = os.getloadavg()
    ops = Ops()
    with RssSampler() as rss:
        spark, setup = set_up(work)
        inp = os.path.join(work, "input")
        gen.write_input(inp, wl["mix"], wl["rows"], wl["files"], args.seed)
        described = gen.describe_input(inp)
        rows = described["rows"]
        out = os.path.join(work, "out")
        pipeline = wl["kind"] == "pipeline"

        def one_pass():
            if pipeline:
                wall, summary = pipeline_pass(spark, wl, inp, out)
                done = summary["rows_valid"] + summary["rows_dlq"]
                ops.record("pass", [] if summary["complete"] and done == rows
                           else [f"incomplete run: {summary}"])
                return wall, summary
            wall, got = rich_pass(spark, inp)
            ops.record("pass", [])
            return wall, got

        def full_check(result, what):
            ops.record(what, check.check_pipeline(expected, out, result, rows)
                       if pipeline else check.check_rich(expected, result))

        first_s, first = one_pass()
        t = time.perf_counter()
        expected = (check.reference_routed(spark, inp, wl["n_buckets"])
                    if pipeline else check.reference_rich(spark, inp))
        t_ref = time.perf_counter() - t
        full_check(first, "check first pass")

        walls = []
        t_steady = time.perf_counter()
        while (len(walls) < MIN_STEADY
               or time.perf_counter() - t_steady < args.seconds):
            wall, result = one_pass()
            walls.append(wall)
            if not pipeline:
                full_check(result, f"check steady pass {len(walls)}")
        report = [
            ("turns_per_s", statistics.median(rows / w for w in walls),
             "turns/s", len(walls)),
            ("first_run_s", first_s, "s", 1),
            ("setup_s", setup["setup_s"], "s", 1),
        ]
        if pipeline:
            full_check(result, "check last steady pass")
            sinks = walk_sinks(out)
            report += [("output_files", sinks["files"], "count", 1),
                       ("sink_bytes_per_input_byte",
                        sinks["bytes"] / described["bytes"], "ratio", 1)]
        record = {"workload": args.workload, "seed": args.seed,
                  "input": described, "host": host_info(spark, loadavg),
                  "setup_s": setup,
                  "pass_walls_s": {"first": first_s, "steady": walls},
                  "reference_s": t_ref}
        if args.trace:
            layer = trace_layers(spark, wl, inp, out, described, walls,
                                 full_check, record)
        stop_spark(spark)
    report += [("peak_rss_mb", rss.peak_mb, "MB", rss.samples),
               ("failed_frac", ops.failed / ops.attempted, "ratio",
                ops.attempted)]
    record["e2e"] = {name: v for name, v, _, _ in report}
    if args.trace:
        layer.update({"session.start_s": setup["session.start_s"],
                      "session.warmup_s": setup["session.warmup_s"],
                      "session.peak_rss_mb": rss.peak_mb})
        n = {"session.peak_rss_mb": rss.samples}
        report = [(k, layer[k], layer_unit(k), n.get(k, 1))
                  for k in PER_LAYER]
    return report, ops, record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    sys.path.insert(0, ROOT)
    try:
        import bench  # noqa: F401
        import go_parsesyslog_spark.plans.pipeline  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}",
              file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    try:
        report, ops, record = run(args, work)
    finally:
        for d in ("input", "out", "tmp", "spark-local", "warehouse"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    record["ops"] = {"attempted": ops.attempted, "failed": ops.failed,
                     "problems": ops.problems}
    with open(os.path.join(work, "record.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    inp = record["input"]
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"input rows={inp['rows']} files={inp['files']} "
          f"bytes={inp['bytes']} digest={inp['digest']} "
          f"host={json.dumps(record['host'])}")
    for name, v, unit, n in report:
        print(f"  {name} = {v:.6g} {unit} (n={n})")
    for name, t in record.get("self_s", {}).items():
        print(f"  span {name}: n={t['n']} total={t['total_s']:.3f} s "
              f"self={t['self_s']:.3f} s")
    for p in ops.problems:
        print(f"  FAILED {p}")
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {name: {"value": v, "unit": unit}
                    for name, v, unit, _ in report
                    if args.trace or name in E2E},
    }))
    return 0 if ops.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
