"""Ordered funnel (operators/funnel.py): in-order matching, strict
ordering, abandonment NULLs, window span, stage counts."""

import datetime as dt

import pyspark.sql.functions as F

from phenobert_spark.operators.funnel import funnel

STAGES = ["view", "click", "purchase"]


def _ts(s):
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)


def _events(spark, rows):
    return spark.createDataFrame(
        [(i, u, _ts(s), t) for i, (u, s, t) in enumerate(rows)],
        "event_id bigint, user_id bigint, ts timestamp, event_type string",
    )


def test_funnel_in_order_matching(spark):
    ev = _events(
        spark,
        [
            (1, 10, "view"), (1, 20, "click"), (1, 30, "purchase"),
            # purchase BEFORE the click: stage 3 must not match
            (2, 10, "view"), (2, 30, "click"), (2, 20, "purchase"),
            # click before the first view: stage 2 must not match
            (3, 20, "view"), (3, 10, "click"),
            # equal timestamps: strictly-after semantics -> no match
            (4, 10, "view"), (4, 10, "click"),
            # stage-1-less user: absent from the result entirely
            (5, 10, "click"), (5, 20, "purchase"),
        ],
    )
    out = {
        r.user_id: (r.t1, r.t2, r.t3)
        for r in funnel(ev, STAGES).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    assert out[1] == (_ts(10), _ts(20), _ts(30))
    assert out[2] == (_ts(10), _ts(30), None)
    assert out[3] == (_ts(20), None, None)
    assert out[4] == (_ts(10), None, None)


def test_funnel_later_retry_still_converts(spark):
    # early purchase doesn't poison a later in-order one
    ev = _events(
        spark,
        [(1, 10, "view"), (1, 15, "purchase"), (1, 20, "click"),
         (1, 40, "purchase")],
    )
    [r] = funnel(ev, STAGES).collect()
    assert (r.t1, r.t2, r.t3) == (_ts(10), _ts(20), _ts(40))


def test_funnel_max_span_window(spark):
    ev = _events(
        spark,
        [(1, 0, "view"), (1, 50, "click"), (1, 4000, "purchase"),
         (2, 0, "view"), (2, 50, "click"), (2, 3000, "purchase")],
    )
    out = {
        r.user_id: r.t3
        for r in funnel(
            ev, STAGES, max_span=F.expr("INTERVAL 1 HOUR")
        ).collect()
    }
    assert out[1] is None          # 4000s > 3600s from t1
    assert out[2] == _ts(3000)     # inside the window


def test_funnel_max_span_later_anchor_converts(spark):
    # ClickHouse windowFunnel semantics: the user's FIRST window fails
    # (purchase lands outside view@0 + 1h) but a second stage-1 event
    # opens a window whose chain completes — the user still converts,
    # anchored at the later view.
    ev = _events(
        spark,
        [(1, 0, "view"), (1, 3000, "view"), (1, 3100, "click"),
         (1, 4000, "purchase"),
         # deeper-chain-wins tiebreak: view@0 reaches only click,
         # view@100's window completes all three stages
         (2, 0, "view"), (2, 50, "click"), (2, 100, "view"),
         (2, 200, "click"), (2, 3650, "purchase")],
    )
    out = {
        r.user_id: (r.t1, r.t2, r.t3)
        for r in funnel(
            ev, STAGES, max_span=F.expr("INTERVAL 1 HOUR")
        ).collect()
    }
    assert out[1] == (_ts(3000), _ts(3100), _ts(4000))
    assert out[2] == (_ts(100), _ts(200), _ts(3650))


def test_funnel_plan_no_cartesian(spark):
    ev = _events(spark, [(1, 10, "view"), (1, 20, "click")])
    plan = (
        funnel(ev, STAGES)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
