"""Streaming funnel state machine (applyInPandasWithState) vs batch q36.

Transitions deliberately SPAN micro-batches (view / click / purchase land in
three separately-ingested files) so the test proves cross-batch state, and a
far-future flush event advances the watermark so incomplete users' event-time
timeouts fire — pinning the bounded-state claim via the state-store metrics.
"""

import datetime as dt
import json
import time

from img2table_spark.queries import _EV_US_SPARK, q36_funnel
from img2table_spark.streaming.funnel import stream_funnel
from img2table_spark.streaming.io import _EV_US

BASE = dt.datetime(2024, 1, 1)


def _mk(eid, minutes, user, etype):
    return (
        eid,
        BASE + dt.timedelta(minutes=minutes),
        user,
        etype,
        1.0,
        '{"k": 1}',
    )


def _corpus():
    """slice 1: views (+ u3's out-of-order purchase); slice 2: clicks;
    slice 3: u1/u3 purchases + a flush view 40 days out."""
    s1 = [
        _mk(0, 0, 1, "view"),
        _mk(1, 0, 2, "view"),
        _mk(2, 0, 3, "purchase"),  # before any view: must NOT count
        _mk(3, 1, 3, "view"),
        _mk(4, 2, 4, "click"),  # click with no view ever: no funnel
    ]
    s2 = [
        _mk(10, 30, 1, "click"),
        _mk(11, 31, 2, "click"),
        _mk(12, 32, 3, "click"),
        _mk(13, 33, 1, "error"),  # non-funnel event type: ignored
    ]
    s3 = [
        _mk(20, 60, 1, "purchase"),
        _mk(21, 61, 3, "purchase"),
        _mk(99, 40 * 24 * 60, 99, "view"),  # flush: watermark += 40 days
    ]
    return s1, s2, s3


SCHEMA = "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string"


def test_anchor_expressions_agree():
    assert _EV_US == _EV_US_SPARK


def test_stream_funnel_matches_batch_and_bounds_state(spark, tmp_path):
    s1, s2, s3 = _corpus()
    inp = str(tmp_path / "ein")
    for sl in (s1, s2, s3):
        spark.createDataFrame(sl, SCHEMA).coalesce(1).write.mode("append").parquet(inp)
        time.sleep(1.1)  # distinct mtimes → deterministic file order
    out, ckpt = str(tmp_path / "eout"), str(tmp_path / "eckpt")
    q = stream_funnel(spark, inp, out, ckpt)
    q.awaitTermination(300)

    got = {
        int(r.user_id): (int(r.t_view), int(r.t_click), int(r.t_purchase))
        for r in spark.read.parquet(out).collect()
    }
    # batch oracle: q36 over the same events written as one table
    batch_dir = tmp_path / "batch"
    spark.createDataFrame(s1 + s2 + s3, SCHEMA).coalesce(1).write.parquet(
        str(batch_dir / "events.parquet")
    )
    want = {
        int(r.user_id): (int(r.t_view), int(r.t_click), int(r.t_purchase))
        for r in q36_funnel(spark, str(batch_dir)).collect()
        if int(r.t_purchase) >= 0  # streaming emits completions only
    }
    assert got == want
    assert set(got) == {1, 3}  # u2 incomplete, u4 never viewed, u99 flush

    # bounded state: the 40-day flush pushed the watermark past every
    # (last activity + 1 day) timeout, so evictions fired — final state
    # holds at most the flush user itself
    progress = [json.loads(p.json) for p in q.recentProgress]
    finals = [
        op["numRowsTotal"]
        for p in progress[-1:]
        for op in p.get("stateOperators", [])
    ]
    assert finals and finals[0] <= 1, progress[-1].get("stateOperators")