"""Output checks against an independent reference.

The reference is a fresh plan over the same input files through the
exact engine (``parse_logs_arrow`` → ``enrich`` → ``with_route_columns``),
computed untimed.  The pipeline's sink tree is read back with pyarrow,
not Spark, so the check shares no reader with the program under test.

* Pipeline workloads: exact per-sink row counts plus an order-independent
  digest of ``(conv_id, turn_idx, sink_sev, sink_key, message)``; sink
  rows equal input rows and the run summary's valid + DLQ rows; the
  merged ``metrics`` table counts every sink row.
* ``parse_rich``: the collected aggregate equals the reference's exactly.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

KEY = ["conv_id", "turn_idx", "sink_sev", "sink_key", "message"]
SINK_PARTITIONING = ds.partitioning(
    pa.schema([("unit", pa.string()), ("sink_sev", pa.string()),
               ("sink_key", pa.string())]),
    flavor="hive",
)


def summarize_rows(rows: pd.DataFrame) -> dict:
    """Per-sink counts and an order-independent digest of ``KEY`` rows."""
    # Values as strings, so the Spark and the pyarrow readers' column
    # types cannot move the digest; one 64-bit hash per row, sorted.
    cells = pd.DataFrame({
        c: rows[c].astype(object).where(rows[c].notna(), "\x00").astype(str)
        for c in KEY})
    row_hashes = np.sort(pd.util.hash_pandas_object(cells, index=False).values)
    digest = hashlib.sha256(row_hashes.tobytes()).hexdigest()
    per_sink = rows.groupby(["sink_sev", "sink_key"]).size()
    return {
        "rows": len(rows),
        "per_sink": {f"{s}/{k}": int(n) for (s, k), n in per_sink.items()},
        "digest": digest[:32],
    }


def reference_routed(spark, input_path: str, n_buckets: int) -> dict:
    """Summary of the rows the pipeline must write, from a fresh plan
    through the exact Arrow parser (mirrors tests/test_pipeline.py's
    oracle)."""
    from pyspark.sql import functions as F

    from go_parsesyslog_spark.operators.enrich import enrich
    from go_parsesyslog_spark.operators.parse import parse_logs_arrow
    from go_parsesyslog_spark.operators.route import with_route_columns
    from go_parsesyslog_spark.sources.transcripts import REF_NOW

    parsed = parse_logs_arrow(spark.read.parquet(input_path), fmt="auto",
                              ref_now=REF_NOW)
    routed = with_route_columns(enrich(parsed, spark), n_buckets=n_buckets,
                                hot_ids=[])
    dlq = F.col("err_code").isNotNull()
    rows = routed.select(
        "conv_id", "turn_idx",
        F.when(dlq, F.lit("dlq")).otherwise(F.col("severity_class"))
        .alias("sink_sev"),
        F.when(dlq, F.col("err_code"))
        .otherwise(F.col("conv_bucket").cast("string")).alias("sink_key"),
        "message",
    ).toPandas()
    return summarize_rows(rows)


def read_sink_rows(out_root: str) -> pd.DataFrame:
    """Every row of the sink tree, ``KEY`` columns only, read with pyarrow."""
    data = ds.dataset(os.path.join(out_root, "sinks"), format="parquet",
                      partitioning=SINK_PARTITIONING)
    return data.to_table(columns=KEY).to_pandas()


def check_pipeline(expected: dict, out_root: str, summary: dict,
                   input_rows: int) -> list[str]:
    """Problems found in one pipeline pass's output (empty when correct)."""
    got = summarize_rows(read_sink_rows(out_root))
    problems = []
    if got["rows"] != input_rows:
        problems.append(f"sink rows {got['rows']} != input rows {input_rows}")
    done = summary["rows_valid"] + summary["rows_dlq"]
    if done != input_rows:
        problems.append(f"summary valid+dlq {done} != input rows {input_rows}")
    sinks = set(expected["per_sink"]) | set(got["per_sink"])
    bad = sorted(s for s in sinks
                 if expected["per_sink"].get(s) != got["per_sink"].get(s))
    if bad:
        problems.append("per-sink counts differ: " + ", ".join(
            f"{s} {expected['per_sink'].get(s)}→{got['per_sink'].get(s)}"
            for s in bad[:8]))
    if got["digest"] != expected["digest"]:
        problems.append("row digest differs")
    metrics_dir = os.path.join(out_root, "metrics")
    total = (pq.read_table(metrics_dir).column("turn_count").to_pandas().sum()
             if os.path.isdir(metrics_dir) else 0)
    if total != got["rows"]:
        problems.append(f"metrics turn_count {total} != sink rows {got['rows']}")
    return problems


def rich_aggregate(enriched):
    """The ``parse_rich`` consumer: per (format, severity class, error,
    app tier) turn counts and message bytes."""
    from pyspark.sql import functions as F

    return enriched.groupBy(
        "format", "severity_class", "err_code", "app_tier"
    ).agg(F.count(F.lit(1)).alias("turns"),
          F.sum("msg_length").alias("msg_bytes"))


def aggregate_rows(rows) -> list[tuple]:
    """Collected aggregate rows as a sorted, comparable list."""
    return sorted((tuple(r) for r in rows),
                  key=lambda t: tuple((v is None, str(v)) for v in t))


def reference_rich(spark, input_path: str) -> list[tuple]:
    from go_parsesyslog_spark.operators.enrich import enrich
    from go_parsesyslog_spark.operators.parse import parse_logs_arrow
    from go_parsesyslog_spark.sources.transcripts import REF_NOW

    parsed = parse_logs_arrow(spark.read.parquet(input_path), fmt="auto",
                              ref_now=REF_NOW)
    return aggregate_rows(rich_aggregate(enrich(parsed, spark)).collect())


def check_rich(expected: list[tuple], got: list[tuple]) -> list[str]:
    if got == expected:
        return []
    diff = set(got) ^ set(expected)
    return [f"aggregate differs in {len(diff)} rows, e.g. {sorted(map(str, diff))[:2]}"]
