"""Plan-level tests of ``parse_logs``: the parse is one narrow Arrow
projection, and predicates over its output columns are safe."""

from pyspark.sql import functions as F

from go_parsesyslog_spark.corpus import (
    RFC3164_CASES,
    RFC5424_INVALID,
    RFC5424_VALID,
)
from go_parsesyslog_spark.operators.parse import parse_logs
from go_parsesyslog_spark.operators.parse_rfc3164 import DEFAULT_REF_NOW
from go_parsesyslog_spark.sources.transcripts import generate_transcripts


def test_native_filter_explode_after_parse(spark):
    """Regression (round-1 crash): Catalyst pushes predicates derived
    from parsed columns (e.g. the implicit filter of explode) through
    the parse projection.  Filtering on a parsed column and exploding
    the nested SD must work on a mixed valid/invalid table."""
    lines = RFC5424_VALID + RFC5424_INVALID + [c[1] for c in RFC3164_CASES]
    df = spark.createDataFrame(
        [(i, ln) for i, ln in enumerate(lines)], "i int, text string"
    )
    r = parse_logs(df, fmt="auto", ref_now=DEFAULT_REF_NOW)
    # filter on a parsed column, then explode the nested SD — both get
    # pushed/collapsed through the parse projection
    exploded = (
        r.filter(F.col("i") >= 0)
        .filter(F.col("err_code").isNull())
        .select("i", F.explode("structured_data").alias("sd"))
        .select("i", "sd.sd_id", F.explode("sd.params").alias("p"))
    )
    rows = exploded.collect()
    assert len(rows) > 0
    # and a direct predicate over a deep parsed field
    n = r.filter(F.col("msg_length") > 0).count()
    assert n > 0


def test_parse_is_one_arrow_projection(spark):
    """A mixed-format parse is one shuffle-free projection: no Exchange
    and exactly one ArrowEvalPython in the executed plan, also when a
    filter or an explode over parsed columns follows it."""
    df = generate_transcripts(2000, seed=9, corpus_frac=0.1)
    sdf = spark.createDataFrame(df[["text"]], "text string")
    parsed = parse_logs(sdf, fmt="auto")
    exploded = parsed.filter(F.col("err_code").isNull()).select(
        F.explode("structured_data").alias("sd")
    )
    for out in (parsed, exploded):
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 0, plan
        assert plan.count("ArrowEvalPython") == 1, plan
