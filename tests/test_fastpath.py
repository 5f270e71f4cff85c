"""Differential tests: the RE2 fast path + exact fallback must produce
byte-identical results to the exact parser alone, on corpus lines,
generated traffic, and randomized mutations."""

import random

import numpy as np
import pandas as pd
import pytest

from go_parsesyslog_spark.corpus import (
    RFC3164_CASES,
    RFC5424_INVALID,
    RFC5424_VALID,
)
from go_parsesyslog_spark.operators.parse_rfc3164 import (
    DEFAULT_REF_NOW,
    parse_rfc3164_batch,
    parse_rfc3164_exact,
)
from go_parsesyslog_spark.operators.parse_rfc5424 import (
    parse_rfc5424_batch,
    parse_rfc5424_exact,
)
from go_parsesyslog_spark.sources.transcripts import generate_transcripts


def _assert_equal(fast: pd.DataFrame, exact: pd.DataFrame, lines):
    assert list(fast.columns) == list(exact.columns)
    assert len(fast) == len(exact)
    for col in fast.columns:
        f, e = fast[col], exact[col]
        for i in range(len(fast)):
            fv, ev = f.iloc[i], e.iloc[i]
            f_na = fv is None or (not isinstance(fv, (list, np.ndarray)) and pd.isna(fv))
            e_na = ev is None or (not isinstance(ev, (list, np.ndarray)) and pd.isna(ev))
            if f_na and e_na:
                continue
            assert not (f_na or e_na), (
                f"row {i} col {col}: {fv!r} != {ev!r}  line={lines[i]!r}"
            )
            assert fv == ev, (
                f"row {i} col {col}: {fv!r} != {ev!r}  line={lines[i]!r}"
            )


def _check_3164(lines):
    s = pd.Series(lines)
    _assert_equal(
        parse_rfc3164_batch(s, ref_now=DEFAULT_REF_NOW, use_fast=True),
        parse_rfc3164_exact(s, ref_now=DEFAULT_REF_NOW),
        lines,
    )


def _check_5424(lines):
    s = pd.Series(lines)
    _assert_equal(
        parse_rfc5424_batch(s, use_fast=True),
        parse_rfc5424_exact(s),
        lines,
    )


def test_corpus_3164():
    _check_3164([c[1] for c in RFC3164_CASES])


def test_corpus_5424():
    _check_5424(RFC5424_VALID + RFC5424_INVALID)


def test_generated_traffic():
    df = generate_transcripts(20_000, seed=123)
    is5424 = df.text.str.match(r"^[0-9]+ ")
    _check_3164(df.text[~is5424].tolist())
    _check_5424(df.text[is5424].tolist())


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_mutated_lines(seed):
    """Random single-char mutations of canonical lines — fast path must
    either match exactly or fall back, never diverge."""
    rng = random.Random(seed)
    base3 = [c[1] for c in RFC3164_CASES if c[2]]
    base5 = RFC5424_VALID
    mut3, mut5 = [], []
    charset = "<>[]:\"\\ -.0123456789aZ\né"
    for _ in range(400):
        line = rng.choice(base3)
        i = rng.randrange(len(line))
        mut3.append(line[:i] + rng.choice(charset) + line[i + 1:])
        line = rng.choice(base5)
        i = rng.randrange(len(line))
        mut5.append(line[:i] + rng.choice(charset) + line[i + 1:])
    _check_3164(mut3)
    _check_5424(mut5)


def test_newline_terminated_frames():
    """Octet framing counts a terminating \\n into the frame, so every
    message read from an octet file ends with one: each framing-outcome
    class must parse byte-identically to the exact parser."""
    hdr = "<165>1 2024-01-02T03:04:05Z host app proc mid [ex@1 k=\"v\"] "
    body = "hello world #42\n"
    content = hdr + body
    exact = f"{len(content)} {content}"
    _check_5424([
        exact,                                    # exact frame incl. \n
        f"{len(content) + 1} {content}",          # short read → premature_eof
        f"{len(content) - 4} {content}",          # truncated body
        f"{len(hdr) + 2} {hdr}x\n",               # body < 3 → early accept
        f"{len(hdr) + 1} {hdr}\n",                # bare \n body → early
        f"{len(content)} {hdr}hello\nworld\n",    # interior \n
        exact.rstrip("\n"),                       # no newline: unchanged
    ])


def test_fast_path_actually_used():
    """Guard against silently losing the fast path: canonical generated
    traffic must be predominantly fast-matched."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from go_parsesyslog_spark.operators.fastpath import (
        FAST_3164_RE,
        FAST_5424_RE,
    )

    df = generate_transcripts(5_000, seed=9)
    is5424 = df.text.str.match(r"^[0-9]+ ")
    m3 = pc.extract_regex(pa.Array.from_pandas(df.text[~is5424]), FAST_3164_RE)
    m5 = pc.extract_regex(pa.Array.from_pandas(df.text[is5424]), FAST_5424_RE)
    assert pc.is_valid(m3).to_pandas().mean() > 0.80
    assert pc.is_valid(m5).to_pandas().mean() > 0.80


def test_all_slow_batch_keeps_object_dtype():
    """Regression: a (sub-)batch where EVERY row takes the exact
    fallback used to concat an all-None object column with an EMPTY
    fast frame — pandas collapses that to float64 and every None becomes
    a float NaN, which the Arrow serializer then tries to iterate as a
    list and crashes the job.  All object-expected columns must stay
    object-dtyped with only None/list/str cells, for every split of
    fast vs slow rows."""
    import pandas as pd

    from go_parsesyslog_spark.operators.parse import _dispatch_batch

    batches = [
        # all rows slow (invalid frames that die at early stages)
        ["38 <>1 2025-10-21T15:30:00Z h a p m - bad"],
        ["40 <34>1 2025-13-01T00:00:00Z h a p m - bad"],
        # slow + canonical mixed
        ["38 <>1 2025-10-21T15:30:00Z h a p m - bad",
         "47 <34>1 2024-01-02T03:04:05Z h a p m - hello frame x"],
        # slow 5424 + canonical 3164 (exercises the dispatch concat too)
        ["40 <34>1 2025-13-01T00:00:00Z h a p m - bad",
         "<34>Oct 11 22:14:15 h a: x"],
    ]
    for lines in batches:
        out = _dispatch_batch(pd.Series(lines), None)
        for col in ("structured_data", "message", "host", "app", "pid",
                    "msgid", "err_code"):
            assert out[col].dtype == object, (col, lines)
            for v in out[col]:
                assert v is None or isinstance(v, (list, str)), (
                    col, v, lines
                )


def test_cli_demo(capsys=None):
    """A20 parity: the stdin demo parses and pretty-prints (cmd/
    stdin-parser/main.go:19-65)."""
    import io
    import sys as _sys

    from go_parsesyslog_spark import cli

    old = _sys.stdin
    _sys.stdin = io.StringIO(
        "<34>Oct 11 22:14:15 mymachine su: hi\n"
    )
    try:
        rc = cli.main([])
    finally:
        _sys.stdin = old
    assert rc == 0
