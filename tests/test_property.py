"""Property-based parser tests (hypothesis): randomly composed VALID
wire messages must round-trip every component through the engine —
the generative complement to the reference's table-driven corpus tests
(rfc3164_test.go / rfc5424_test.go pin fixed goldens; these pin the
grammar).  Each hypothesis example is a BATCH of messages so one Spark
job covers ~50 cases; a handful of examples keeps wall time sane while
shrinking still isolates single failing messages."""

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

REF_NOW = pd.Timestamp("2025-10-21 15:30:00")

_host = st.text("abcdefghijklmnopqrstuvwxyz0123456789.-", min_size=1,
                max_size=16).filter(lambda s: not s.startswith("-"))
# the RFC3164 tag FSM scans a 32-byte window for the colon
# (rfc3164.go:36-37,190) — "tag[pid]:" must fit or the tag is demoted
# into the message; 20 + "[99999]:" = 28 stays safely valid
_tag = st.text("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ",
               min_size=1, max_size=20)
_msg = st.text(
    st.characters(min_codepoint=0x20, max_codepoint=0x7E,
                  exclude_characters="<"),
    min_size=1, max_size=120,
).filter(lambda s: not s.startswith(" ") and not s.startswith("["))


@st.composite
def rfc3164_case(draw):
    pri = draw(st.integers(0, 191))
    day = draw(st.integers(1, 21))  # ≤ REF_NOW day ⇒ no year rollback
    h, m, s = (draw(st.integers(0, 23)), draw(st.integers(0, 59)),
               draw(st.integers(0, 59)))
    host = draw(_host)
    tag = draw(_tag)
    pid = draw(st.one_of(st.none(), st.integers(0, 99999)))
    msg = draw(_msg)
    tagpart = f"{tag}[{pid}]:" if pid is not None else f"{tag}:"
    wire = (f"<{pri}>Oct {day:2d} {h:02d}:{m:02d}:{s:02d} "
            f"{host} {tagpart} {msg}")
    want = dict(priority=pri, facility=pri >> 3, severity=pri & 7,
                host=host, app=tag,
                pid=str(pid) if pid is not None else None,
                message=msg,
                ts=f"2025-10-{day:02d} {h:02d}:{m:02d}:{s:02d}")
    return wire, want


@st.composite
def rfc5424_case(draw):
    pri = draw(st.integers(0, 191))
    day = draw(st.integers(1, 28))
    h, m, s = (draw(st.integers(0, 23)), draw(st.integers(0, 59)),
               draw(st.integers(0, 59)))
    host = draw(st.one_of(st.just("-"), _host))
    app = draw(st.one_of(st.just("-"), _tag))
    procid = draw(st.one_of(st.just("-"),
                            st.integers(0, 99999).map(str)))
    msgid = draw(st.one_of(st.just("-"), _tag))
    sd_key = draw(_tag.map(lambda t: t[:8]))
    sd_val = draw(st.text("abcdefghijklmnopqrstuvwxyz0123456789 ",
                          min_size=0, max_size=20))
    msg = draw(_msg)
    content = (f"<{pri}>1 2024-03-{day:02d}T{h:02d}:{m:02d}:{s:02d}Z "
               f"{host} {app} {procid} {msgid} "
               f'[ex@32473 {sd_key}="{sd_val}"] {msg}')
    wire = f"{len(content.encode('utf-8'))} {content}"
    # reference ParseString quirk (rfc5424.go:89-91): a body shorter
    # than the 3-byte BOM peek returns SUCCESS with an empty message —
    # found by this very test, confirmed against the Go source
    exp_msg = msg if len(msg.encode("utf-8")) >= 3 else ""
    want = dict(priority=pri,
                host=None if host == "-" else host,
                app=None if app == "-" else app,
                pid=None if procid == "-" else procid,
                msgid=None if msgid == "-" else msgid,
                sd_key=sd_key, sd_val=sd_val, message=exp_msg,
                ts=f"2024-03-{day:02d} {h:02d}:{m:02d}:{s:02d}")
    return wire, want


@settings(max_examples=4, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(st.lists(rfc3164_case(), min_size=20, max_size=50))
def test_rfc3164_roundtrip_property(spark, cases):
    from go_parsesyslog_spark.operators.parse import parse_logs

    df = spark.createDataFrame(
        [(i, w) for i, (w, _) in enumerate(cases)], "i long, text string"
    )
    p = parse_logs(df, fmt="rfc3164", ref_now=REF_NOW)
    rows = {r["i"]: r for r in p.withColumn(
        "ts_str", F.date_format("msg_ts", "yyyy-MM-dd HH:mm:ss")
    ).collect()}
    for i, (wire, want) in enumerate(cases):
        r = rows[i]
        assert r["err_code"] is None, (wire, r["err_code"])
        for k in ("priority", "facility", "severity", "host", "app",
                  "pid", "message"):
            assert r[k] == want[k], (k, wire, r[k], want[k])
        assert r["ts_str"] == want["ts"], (wire, r["ts_str"])
        assert r["msg_length"] == len(want["message"])


@settings(max_examples=4, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(st.lists(rfc5424_case(), min_size=20, max_size=50))
def test_rfc5424_roundtrip_property(spark, cases):
    from go_parsesyslog_spark.operators.parse import parse_logs

    df = spark.createDataFrame(
        [(i, w) for i, (w, _) in enumerate(cases)], "i long, text string"
    )
    p = parse_logs(df, fmt="rfc5424")
    rows = {r["i"]: r for r in p.withColumn(
        "ts_str", F.date_format("msg_ts", "yyyy-MM-dd HH:mm:ss")
    ).select(
        "i", "err_code", "priority", "host", "app", "pid", "msgid",
        "message", "msg_length", "ts_str", "structured_data",
    ).collect()}
    for i, (wire, want) in enumerate(cases):
        r = rows[i]
        assert r["err_code"] is None, (wire, r["err_code"])
        for k in ("priority", "host", "app", "pid", "msgid", "message"):
            assert r[k] == want[k], (k, wire, r[k], want[k])
        assert r["ts_str"] == want["ts"], (wire, r["ts_str"])
        assert r["msg_length"] == len(want["message"])
        sd = r["structured_data"]
        assert len(sd) == 1 and sd[0]["sd_id"] == "ex@32473", (wire, sd)
        params = sd[0]["params"]
        assert len(params) == 1
        assert params[0]["key"] == want["sd_key"], wire
        assert params[0]["val"] == want["sd_val"], wire
