"""go_parsesyslog_spark — a PySpark-native log/telemetry pipeline.

A from-scratch reimagination of the parsing capabilities of
``wneessen/go-parsesyslog`` (reference checkout: /root/reference) as a
parse → enrich → route → aggregate DataFrame DAG over tables of
multi-turn agent transcripts.  The reference is a single-message,
zero-allocation Go parser (RFC3164 / RFC5424); this package re-expresses
the same *semantics* (field extraction, validity decisions, error
taxonomy) as vectorized Arrow-batched column transformations that scale
horizontally on a Spark cluster.

Layout
------
``functions/``   scalar derivations (name tables, text stats)
``operators/``   DataFrame → DataFrame operators (parse, enrich, route, agg,
                 dedup, similarity)
``sources/``     transcript datagen + table loaders
``plans/``       end-to-end pipeline DAG + lineage/resume
``streaming/``   Structured Streaming variant of the pipeline
"""

__version__ = "0.1.0"

from go_parsesyslog_spark.errors import (  # noqa: F401
    ERR_INVALID_LENGTH,
    ERR_INVALID_NUMBER,
    ERR_INVALID_PRIO,
    ERR_INVALID_PROTO_VERSION,
    ERR_INVALID_TIMESTAMP,
    ERR_PREMATURE_EOF,
    ERR_WRONG_FORMAT,
    ERR_WRONG_SD_FORMAT,
)
