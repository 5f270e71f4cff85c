"""Seeded input generators for the pipeline benchmark.

The benchmark owns its inputs: each workload's table is built here from
``--seed`` and written as plain parquet, and the package only ever sees
the files.  A change to the package's own generator
(``go_parsesyslog_spark/sources/transcripts.py``) therefore cannot move
a workload; :func:`describe_input` records row count, file count,
bytes and a content digest so a change here shows too.

Schema (the pipeline's input contract): ``conv_id string, turn_idx
int32, role string, text string, tool string, ts timestamp[us]``.  One
row is one agent turn whose ``text`` is a syslog wire message.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BASE_TS = pd.Timestamp("2025-10-21 15:30:00")  # the pipeline's REF_NOW
ROLES = np.array(["system", "user", "assistant", "tool"])
TOOLS = np.array(["bash", "search", "browser", "editor", "none", "python",
                  "fetch", "db"])
HOSTS = np.array([f"host-{i:02d}" for i in range(50)])
APPS = np.array([f"app{i}" for i in range(12)])

# Lines outside the canonical shapes, valid and invalid, in the spirit of
# the reference parsers' conformance suites.  Invalid ones land in the
# DLQ; valid ones take the exact Python parser.
ODD_LINES = [
    "<34>Oct 20 12:34:56 myhost app[123]: hello world\n",
    "<13>Jan  2 03:04:05 host tag: message",
    "<13>Apr 01 00:00:00 2001:db8::1 app: boot",
    "<14>Jun 07 07:08:09 srv app: wärme ✓",
    "<013>Aug 09 09:09:09 host app: ok",
    "<13Sep 09 09:09:09 host app: nope",
    "<ab>Sep 09 09:09:09 host app: nope",
    "<192>Sep 09 09:09:09 host app: nope",
    "<13>Foo 12 03:04:05 host app: nope",
    "<13>Jan 00 03:04:05 host app: nope",
    "<13>Jan 12 24:00:00 host app: nope",
    "<13>Jan 12 03:04:05 app: nope",
    "<13>Jan 12 03:04:05 ",
    "",
    "<13>Jan 12 03:04",
    '34 <14>1 - - - - - [id@1 k="v"] hello',
    '46 <0>1 2020-01-01T00:00:00Z h a p m [id k="v"] m',
    "37 <34>1 2025-10-21T15:30:00Z h a p m -",
    "72 <13>1 2022-06-01T12:00:00+02:00 host app - mid - No structured data here",
    "12 <34>1 2025-10-21T15:30:00Z h a p m -",
    "999 <34>1 2025-10-21T15:30:00Z h a p m - truncated",
    "40 <34>2 2025-10-21T15:30:00Z h a p m - v2",
    "x5 <34>1 2025-10-21T15:30:00Z h a p m -",
    "45 <34>1 2025-13-21T15:30:00Z h a p m - bad",
]

# Agent-transcript vocabulary for the rich mix.
_WORDS = np.array(
    "the test suite passed after I updated config file function returned "
    "error retry build step cache miss request timed out reading module "
    "import path tool call result summary next I will run check diff "
    "patch applied line column value expected got assert failed".split()
)
_WIDE = np.array(["→", "✓", "✗", "…", "•", "温度", "数据", "ошибка", "é",
                  "ü", "🙂", "🚀", "Δ", "λ"])
_TRACE = np.array([
    'Traceback (most recent call last):',
    '  File "/srv/app/main.py", line 42, in <module>',
    '    result = run(config)',
    '  File "/srv/app/core.py", line 118, in run',
    "    raise ValueError(f'bad value: {value!r}')",
    "ValueError: bad value: 'x'",
    "$ ls -la /srv/app",
    "drwxr-xr-x  5 app app 4096 Oct 20 12:00 .",
    "-rw-r--r--  1 app app 1832 Oct 20 11:58 main.py",
])


def _conv_assignment(rng, n_rows: int, n_convs: int, n_hot: int,
                     hot_share: float) -> np.ndarray:
    hot = rng.random(n_rows) < hot_share
    return np.where(
        hot,
        rng.integers(0, n_hot, n_rows),
        n_hot + rng.integers(0, max(1, n_convs - n_hot), n_rows),
    )


def _headers(rng, n: int) -> tuple[pd.Series, pd.Series]:
    """Return (rfc3164 prefix, rfc5424 header-without-length) per row."""
    pri = pd.Series(rng.integers(0, 192, n)).astype(str)
    host = pd.Series(HOSTS[rng.integers(0, len(HOSTS), n)])
    app = pd.Series(APPS[rng.integers(0, len(APPS), n)])
    pid = pd.Series(rng.integers(1, 32000, n)).astype(str)
    day = rng.integers(1, 21, n)
    hh = pd.Series(rng.integers(0, 14, n)).map("{:02d}".format)
    mi = pd.Series(rng.integers(0, 60, n)).map("{:02d}".format)
    ss = pd.Series(rng.integers(0, 60, n)).map("{:02d}".format)
    hms = hh + ":" + mi + ":" + ss
    h3 = ("<" + pri + ">Oct " + pd.Series(day).map("{:2d}".format) + " "
          + hms + " "
          + host + " " + app + "[" + pid + "]: ")
    iso = "2025-10-" + pd.Series(day).map("{:02d}".format) + "T" + hms + "Z"
    h5 = ("<" + pri + ">1 " + iso + " " + host + " " + app + " " + pid
          + " ID" + pd.Series(rng.integers(0, 97, n)).astype(str)
          + ' [graft@1 seq="' + pd.Series(np.arange(n)).astype(str) + '"] ')
    return h3, h5


def _frame(h3: pd.Series, h5: pd.Series, body: pd.Series,
           framed: np.ndarray) -> pd.Series:
    content = h5 + body
    blen = content.str.encode("utf-8").str.len().astype(str)
    return (h3 + body).where(~framed, blen + " " + content)


def _words(rng, n: int, k_lo: int, k_hi: int, vocab=_WORDS) -> pd.Series:
    k = rng.integers(k_lo, k_hi + 1, n)
    flat = vocab[rng.integers(0, len(vocab), int(k.sum()))]
    cuts = np.cumsum(k)[:-1]
    return pd.Series([" ".join(p) for p in np.split(flat, cuts)])


def _rich_body(rng, n: int) -> pd.Series:
    """Tool output the native pattern rejects: a third multi-line, a third
    non-ASCII, a third over 2,100 characters."""
    kind = rng.integers(0, 3, n)
    body = _words(rng, n, 6, 30)
    ml = kind == 0
    if ml.any():
        k = int(ml.sum())
        lines = _TRACE[rng.integers(0, len(_TRACE), (k, 6))]
        body[ml] = body[ml].values + "\n" + pd.Series(
            ["\n".join(r) for r in lines]).values
    wide = kind == 1
    if wide.any():
        k = int(wide.sum())
        body[wide] = body[wide].values + " " + _words(
            rng, k, 3, 10, _WIDE).values
    big = kind == 2
    if big.any():
        k = int(big.sum())
        # Enough repeats of the body that every big row is over 2100
        # characters, whatever the length of its base words.
        extra = rng.integers(0, 5, k)
        body[big] = [b + " " + " | ".join(
                         ["exit=0 out=" + b] * (-(-2100 // (len(b) + 14)) + e))
                     for b, e in zip(body[big].values, extra)]
    return body


def _table(rng, n_rows: int, conv_num: np.ndarray, text: pd.Series) -> pd.DataFrame:
    i = np.arange(n_rows)
    df = pd.DataFrame({
        "conv_id": pd.Series(conv_num).map("conv-{:08d}".format),
        "role": ROLES[rng.integers(0, len(ROLES), n_rows)],
        "text": text,
        "tool": TOOLS[rng.integers(0, len(TOOLS), n_rows)],
        "ts": (BASE_TS - pd.to_timedelta((n_rows - i) * 3 % 1_209_600,
                                         unit="s")).astype("datetime64[us]"),
    })
    df["turn_idx"] = df.groupby("conv_id").cumcount().astype(np.int32)
    return df[["conv_id", "turn_idx", "role", "text", "tool", "ts"]]


def base_mix(rng, n_rows: int) -> pd.DataFrame:
    """≈60% RFC3164, 30% octet-framed RFC5424, 10% odd/invalid lines;
    1% of conversations hold 30% of the rows."""
    n_convs = max(10, n_rows // 20)
    conv = _conv_assignment(rng, n_rows, n_convs, max(1, n_convs // 100), 0.30)
    u = rng.random(n_rows)
    framed = (u >= 0.60) & (u < 0.90)
    odd = u >= 0.90
    h3, h5 = _headers(rng, n_rows)
    body = ("turn status=ok latency=" + pd.Series(
        rng.integers(0, 900, n_rows)).astype(str) + "ms " + _words(rng, n_rows, 2, 8))
    text = _frame(h3, h5, body, framed)
    text[odd] = np.array(ODD_LINES, dtype=object)[
        rng.integers(0, len(ODD_LINES), int(odd.sum()))]
    return _table(rng, n_rows, conv, text)


def rich_mix(rng, n_rows: int) -> pd.DataFrame:
    """Agent transcript text: half the rows carry multi-line, non-ASCII or
    over-2,100-character tool output; the rest are canonical one-line
    turns, with 2% odd/invalid lines."""
    n_convs = max(10, n_rows // 20)
    conv = _conv_assignment(rng, n_rows, n_convs, max(1, n_convs // 100), 0.30)
    u = rng.random(n_rows)
    framed = rng.random(n_rows) < 0.33
    rich = u < 0.50
    odd = u >= 0.98
    h3, h5 = _headers(rng, n_rows)
    body = _words(rng, n_rows, 6, 30)
    body[rich] = _rich_body(rng, int(rich.sum())).values
    text = _frame(h3, h5, body, framed)
    text[odd] = np.array(ODD_LINES, dtype=object)[
        rng.integers(0, len(ODD_LINES), int(odd.sum()))]
    return _table(rng, n_rows, conv, text)


def hotspill_mix(rng, n_rows: int, n_hot: int = 1536,
                 hot_rows: int = 96) -> pd.DataFrame:
    """Base-mix text where 5% of conversations are hot: ``n_hot`` ids
    (above the route layer's 1024-id literal cap) with ``hot_rows`` turns
    each, well above the hot threshold max(64, 4 × mean rows/conv)."""
    df = base_mix(rng, n_rows)
    n_convs = n_hot * 20
    n_hot_total = min(n_rows, n_hot * hot_rows)
    conv = np.concatenate([
        np.repeat(np.arange(n_hot), hot_rows)[:n_hot_total],
        n_hot + rng.integers(0, n_convs - n_hot, n_rows - n_hot_total),
    ])
    rng.shuffle(conv)
    df["conv_id"] = pd.Series(conv).map("conv-{:08d}".format)
    df["turn_idx"] = df.groupby("conv_id").cumcount().astype(np.int32)
    return df


MIXES = {"base": base_mix, "rich": rich_mix, "hotspill": hotspill_mix}


def write_input(path: str, mix: str, n_rows: int, n_files: int,
                seed: int) -> None:
    """Generate ``n_rows`` turns of ``mix`` from ``seed`` and write them as
    ``n_files`` parquet files under ``path``."""
    df = MIXES[mix](np.random.default_rng(seed), n_rows)
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(df, preserve_index=False)
    bounds = np.linspace(0, n_rows, n_files + 1).astype(int)
    for part, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"part-{part:05d}.parquet"))


def input_files(path: str) -> list[str]:
    return sorted(os.path.join(path, f) for f in os.listdir(path)
                  if f.endswith(".parquet"))


def describe_input(path: str) -> dict:
    """Row count, file count, bytes and an order-sensitive content digest
    of the generated table (a hash of the values, not of the file bytes,
    so a pyarrow upgrade does not move it)."""
    h = hashlib.sha256()
    rows = nbytes = 0
    files = input_files(path)
    for f in files:
        nbytes += os.path.getsize(f)
        df = pq.read_table(f).to_pandas()
        rows += len(df)
        h.update(",".join(df.columns).encode())
        h.update(pd.util.hash_pandas_object(df, index=False).values.tobytes())
    return {"rows": rows, "files": len(files), "bytes": nbytes,
            "digest": h.hexdigest()[:16]}
