"""Parser registry — the Spark re-expression of the reference's
``Register``/``New`` factory machinery (/root/reference/parsesyslog.go:14-54).

In Go the registry maps a ``ParserType`` to a factory producing a
*stateful* parser (shared buffers, one per goroutine) and is guarded by
an RWMutex.  Here a parser is a pure batch function
``pd.Series -> pd.DataFrame`` — purity removes the need for any
concurrency machinery, and "constructing a parser" is a dict lookup.

Third parties extend the engine exactly as in the reference
(README.md:70-80): implement a batch function with the shared output
schema and ``register()`` it; ``parse_logs`` can then route to it.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd

from go_parsesyslog_spark.errors import ParserTypeUnknown
from go_parsesyslog_spark.operators.parse_rfc3164 import parse_rfc3164_batch
from go_parsesyslog_spark.operators.parse_rfc5424 import parse_rfc5424_batch

BatchParser = Callable[..., pd.DataFrame]

_REGISTRY: dict[str, BatchParser] = {}

RFC3164 = "rfc3164"  # rfc3164/rfc3164.go:30
RFC5424 = "rfc5424"  # rfc5424/rfc5424.go:39


def register(parser_type: str, fn: BatchParser) -> None:
    """Idempotent registration — first registration wins
    (parsesyslog.go:37-44)."""
    if parser_type in _REGISTRY:
        return
    _REGISTRY[parser_type] = fn


def new(parser_type: str) -> BatchParser:
    """Factory lookup; unknown type raises (parsesyslog.go:49-54).

    Note: the reference's type string for the emitted record is
    ``"RFC3164"``/``"RFC5424"``; the rfc5424 package contains a
    copy-paste bug (its ``MsgType`` is ``"RFC3164"``,
    rfc5424/rfc5424.go:41) which we deliberately do NOT replicate.
    """
    try:
        return _REGISTRY[parser_type]
    except KeyError:
        raise ParserTypeUnknown(f"unknown parser type: {parser_type!r}") from None


register(RFC3164, parse_rfc3164_batch)
register(RFC5424, parse_rfc5424_batch)
