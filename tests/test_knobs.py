"""Inventory of the package's ``SPARK_GRAFT_*`` environment knobs: adding
or removing one must be a deliberate change to this list."""

import pathlib
import re

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "go_parsesyslog_spark"

KNOBS = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_MASTER",
    "SPARK_GRAFT_MAX_PARTITION_BYTES",
    "SPARK_GRAFT_OPEN_COST_BYTES",
    "SPARK_GRAFT_SALT_TARGET_ROWS",
    "SPARK_GRAFT_STREAM_FILE_SINK_BYTES",
    "SPARK_GRAFT_VERIFY_BROADCAST_BYTES",
    "SPARK_GRAFT_VERIFY_BROADCAST_DOCS",
}


def test_knob_inventory():
    found = {
        name
        for path in PACKAGE.rglob("*.py")
        for name in re.findall(r"SPARK_GRAFT_[A-Z_]+", path.read_text())
    }
    assert found == KNOBS
