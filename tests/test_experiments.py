import datetime
import math

import pytest

from phenobert_spark.operators.experiments import ab_test_report, decayed_counts


def test_ab_test_hand_computed(spark):
    rows = (
        [("A", 1)] * 20 + [("A", 0)] * 80      # control: 20%
        + [("B", 1)] * 30 + [("B", 0)] * 70    # treatment: 30%
    )
    df = spark.createDataFrame(rows, "variant string, converted int")
    got = {r.variant: r for r in ab_test_report(df).collect()}
    a, b = got["A"], got["B"]
    assert (a.n_users, a.n_conv, a.rate) == (100, 20, 0.2)
    assert a.z_vs_control == 0.0 and a.lift_vs_control == 0.0
    assert b.rate == 0.3 and b.lift_vs_control == round(0.5, 6)
    pooled = 50 / 200
    se = math.sqrt(pooled * (1 - pooled) * (1 / 100 + 1 / 100))
    assert b.z_vs_control == round((0.3 - 0.2) / se, 6)


def test_ab_test_missing_control_raises(spark):
    df = spark.createDataFrame([("B", 1)], "variant string, converted int")
    with pytest.raises(ValueError):
        ab_test_report(df)


def test_decayed_counts_hand_computed(spark):
    anchor = "2024-02-01"
    rows = [
        # 7 days old -> weight 0.5; 14 days -> 0.25; 0 days -> 1.0
        ("u1", datetime.datetime(2024, 1, 25, 0, 0, 0), 10.0),
        ("u1", datetime.datetime(2024, 1, 18, 0, 0, 0), 4.0),
        ("u2", datetime.datetime(2024, 2, 1, 0, 0, 0), 8.0),
        # future event relative to anchor: excluded
        ("u2", datetime.datetime(2024, 2, 5, 0, 0, 0), 100.0),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, value double")
    got = {
        r.key: (r.decayed_n, r.decayed_value)
        for r in decayed_counts(df, anchor=anchor, value_col="value").collect()
    }
    assert got["u1"] == (round(0.5 + 0.25, 6), round(5.0 + 1.0, 6))
    assert got["u2"] == (1.0, 8.0)


def test_decayed_counts_halflife_scaling(spark):
    rows = [("u", datetime.datetime(2024, 1, 18, 0, 0, 0))]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    # 14 days old with half-life 14 -> weight 0.5
    r = decayed_counts(df, anchor="2024-02-01", half_life_days=14.0).collect()[0]
    assert r.decayed_n == 0.5
