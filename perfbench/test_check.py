"""Tests of the benchmark's own machinery (no Spark needed).

    python3 -m pytest perfbench -q
"""

import os
import shutil
import subprocess
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
from tracing import max_overlap, union_length, walk_sinks  # noqa: E402

ROWS = pd.DataFrame({
    "conv_id": ["c1", "c1", "c2", "c3", "c3", "c4"],
    "turn_idx": pd.array([0, 1, 0, 0, 1, 0], dtype="int32"),
    "sink_sev": ["info", "info", "error", "info", "dlq", "error"],
    "sink_key": ["3", "3", "7", "5", "invalid_prio", "7"],
    "message": ["a", "b", "c", "d", None, "f"],
})
SCHEMA = pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int32()),
                    ("message", pa.string())])


def write_tree(root, rows):
    """Lay ``rows`` out the way the pipeline's partitioned write does."""
    for (sev, key), g in rows.groupby(["sink_sev", "sink_key"]):
        d = os.path.join(root, "sinks", "unit=0000", f"sink_sev={sev}",
                         f"sink_key={key}")
        os.makedirs(d, exist_ok=True)
        table = pa.Table.from_pandas(
            g.drop(columns=["sink_sev", "sink_key"]), schema=SCHEMA,
            preserve_index=False)
        pq.write_table(table, os.path.join(d, "part-00000.parquet"))
    open(os.path.join(root, "sinks", "unit=0000", "_SUCCESS"), "w").close()
    os.makedirs(os.path.join(root, "metrics"))
    pq.write_table(pa.table({"turn_count": [len(rows)]}),
                   os.path.join(root, "metrics", "part-00000.parquet"))


def run_check(tmp_path, rows):
    root = str(tmp_path / "out")
    write_tree(root, rows)
    summary = {"rows_valid": 5, "rows_dlq": 1}
    return check.check_pipeline(check.summarize_rows(ROWS), root, summary,
                                len(ROWS))


def test_intact_sink_passes(tmp_path):
    assert run_check(tmp_path, ROWS) == []


def test_dropped_row_is_rejected(tmp_path):
    problems = run_check(tmp_path, ROWS.drop(index=2))
    assert any("per-sink counts differ: error/7 2→1" in p for p in problems)
    assert "row digest differs" in problems


def test_rerouted_row_is_rejected(tmp_path):
    moved = ROWS.copy()
    moved.loc[3, "sink_key"] = "6"
    problems = run_check(tmp_path, moved)
    assert any("info/5 1→None" in p and "info/6 None→1" in p
               for p in problems)
    assert "row digest differs" in problems


def test_changed_message_is_rejected(tmp_path):
    edited = ROWS.copy()
    edited.loc[0, "message"] = "A"
    assert run_check(tmp_path, edited) == ["row digest differs"]


def test_rich_aggregate_must_match_exactly():
    ref = check.aggregate_rows([("RFC3164", "info", None, "io", 10, 500),
                                ("RFC5424", None, "premature_eof", None, 2, 0)])
    assert check.check_rich(ref, list(ref)) == []
    off = [("RFC3164", "info", None, "io", 9, 500), ref[1]]
    assert check.check_rich(ref, check.aggregate_rows(off))


def test_span_arithmetic():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2)], 1, 10) == 1
    assert max_overlap([(0, 2), (1, 3), (2.5, 4), (5, 6)]) == 2


def test_walk_sinks_counts_data_files_only(tmp_path):
    root = str(tmp_path / "out")
    write_tree(root, ROWS)
    got = walk_sinks(root)
    assert (got["files"], got["dirs"]) == (4, 4)


def test_exits_nonzero_without_the_program(tmp_path):
    """With only BENCHMARK.json and the benchmark's files the run must fail
    fast and print no result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"),
                tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pipeline_base",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert "correct" not in proc.stdout
