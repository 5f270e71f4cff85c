"""The parse operator: DataFrame in, DataFrame + parsed LogMsg columns out.

This is the Spark equivalent of the reference's whole ``Parser``
interface (parsesyslog.go:23-26): ONE narrow, shuffle-free projection
over the ``text`` column, an Arrow-batched pandas UDF returning a
struct.  Inside the UDF each format's batch parser runs its RE2 fast
path (operators/fastpath.py) and hands the rows it does not match to
the exact parser, so every row gets reference semantics.  No state
crosses rows, partitions, or batches — at 100 TB the parse
parallelizes embarrassingly.

Format dispatch happens *inside* the UDF per Arrow batch (a vectorized
mask split), so mixed-format tables are parsed in a single pass — using
``F.when`` over two separate UDFs would make Spark evaluate both UDFs
for every row.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from go_parsesyslog_spark.operators import registry
from go_parsesyslog_spark.operators.schema import PARSED_COLUMNS, PARSED_STRUCT

AUTO = "auto"

# Output struct: `format` tag + the LogMsg fields.
PARSED_WITH_FORMAT = T.StructType(
    [T.StructField("format", T.StringType())] + list(PARSED_STRUCT.fields)
)

# Octet-framing heuristic: RFC5424 wire messages start with the LENGTH
# token (digits + space, rfc5424.go:360-368); RFC3164 lines start with
# '<'.  Only used for fmt="auto".
_FRAMED_RE = r"^[0-9]+ "


# Output columns whose Spark type is string / array / struct-ish: cells
# must be None or a proper value, NEVER a float NaN.  pandas silently
# introduces NaN into object columns via Series.where / concat dtype
# inference (an all-None column collapsing to float64 turns every None
# into nan) — and the Arrow serializer then crashes trying to iterate a
# float as the array type.  One scrub at the UDF boundary guarantees the
# contract for every fast-slow split / batch mixture.
_OBJECT_COLS = [
    "format", "host", "app", "pid", "msgid", "structured_data",
    "message", "err_code",
]


def _scrub_object_nans(out: pd.DataFrame) -> pd.DataFrame:
    for c in _OBJECT_COLS:
        if c not in out.columns:
            continue
        col = out[c]
        arr = col.to_numpy(dtype=object, copy=True)
        mask = pd.isna(arr)
        if mask.any():
            arr[mask] = None
        if mask.any() or col.dtype != object:
            out[c] = pd.Series(arr, index=out.index, dtype=object)
    return out


def _dispatch_batch(texts: pd.Series, ref_now) -> pd.DataFrame:
    texts = texts.reset_index(drop=True)
    mask = texts.fillna("").str.match(_FRAMED_RE).to_numpy()
    parts = []
    if mask.any():
        p = registry.new(registry.RFC5424)(texts[mask])
        p.index = np.where(mask)[0]
        p.insert(0, "format", "RFC5424")
        parts.append(p)
    if (~mask).any():
        p = registry.new(registry.RFC3164)(texts[~mask], ref_now=ref_now)
        p.index = np.where(~mask)[0]
        p.insert(0, "format", "RFC3164")
        parts.append(p)
    out = pd.concat(parts).sort_index() if len(parts) > 1 else parts[0]
    return _scrub_object_nans(out)


def make_parse_udf(fmt: str = AUTO, ref_now: pd.Timestamp | None = None):
    """Build the Arrow-batched parse UDF for a format ('rfc3164',
    'rfc5424', or 'auto' for per-row wire-format detection)."""
    if fmt == AUTO:
        def fn(texts: pd.Series) -> pd.DataFrame:
            return _dispatch_batch(texts, ref_now)
    elif fmt == registry.RFC3164:
        def fn(texts: pd.Series) -> pd.DataFrame:
            out = registry.new(registry.RFC3164)(texts, ref_now=ref_now)
            out.insert(0, "format", "RFC3164")
            return _scrub_object_nans(out)
    else:
        batch = registry.new(fmt)  # raises ParserTypeUnknown eagerly (A2)
        tag = fmt.upper()

        def fn(texts: pd.Series) -> pd.DataFrame:
            out = batch(texts)
            out.insert(0, "format", tag)
            return _scrub_object_nans(out)

    return F.pandas_udf(fn, PARSED_WITH_FORMAT)


def parse_logs(
    df: DataFrame,
    text_col: str = "text",
    fmt: str = AUTO,
    ref_now: pd.Timestamp | None = None,
) -> DataFrame:
    """Attach the parsed LogMsg columns to ``df``.

    Equivalent of ParseString/ParseReader over every row (rfc3164.go:65-104,
    rfc5424.go:57-111): one Arrow-batched UDF per row batch, RE2 fast
    path with the exact parser as per-row fallback, one narrow
    projection (no exchange)."""
    # Nondeterministic so that Catalyst pushes no predicate over parsed
    # columns (a user filter, the inferred filter of explode, a join's
    # isnotnull) below this projection: each pushed copy would run the
    # UDF over every row a second time.  Predicates on passthrough
    # columns stop here too — filter the input before parse_logs for
    # partition pruning.
    udf = make_parse_udf(fmt, ref_now).asNondeterministic()
    parsed = df.withColumn("_parsed", udf(F.col(text_col)))
    return parsed.select(*df.columns, "_parsed.format", *[f"_parsed.{c}" for c in PARSED_COLUMNS])


# perfbench/check.py imports the former exact-engine name as its reference.
parse_logs_arrow = parse_logs


def sd_flat(sd_col: Column | str = "structured_data") -> Column:
    """Lossy-but-convenient map view of the structured data: keys are
    ``sd_id/param_key``; later duplicates win (the faithful nested
    Array(Struct) column keeps order and repeated keys — SURVEY §1.1.3).
    Pure Catalyst: flatten + transform + map_from_entries."""
    c = F.col(sd_col) if isinstance(sd_col, str) else sd_col
    entries = F.flatten(
        F.transform(
            c,
            lambda el: F.transform(
                el["params"],
                lambda p: F.struct(
                    F.concat_ws("/", el["sd_id"], p["key"]).alias("key"),
                    p["val"].alias("value"),
                ),
            ),
        )
    )
    return F.map_from_entries(entries)
