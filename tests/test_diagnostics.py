"""key_skew_profile: heavy-hitter shuffle-key diagnostics."""

import pytest

from phenobert_spark.operators.diagnostics import key_skew_profile


def test_key_skew_profile_hand_computed(spark):
    # 10 rows: key h carries 5, k2 carries 3, k3/k4 one each + one 'a'
    rows = [("h",)] * 5 + [("k2",)] * 3 + [("k3",), ("a",)]
    df = spark.createDataFrame(rows, "k string")
    out = key_skew_profile(df, ["k"], top_n=3).collect()
    assert [(r.rank, r.key, r.cnt) for r in out] == [
        (1, "h", 5), (2, "k2", 3), (3, "a", 1)  # tie a < k3 on key
    ]
    assert out[0].share_ppm == 500000
    assert out[1].cum_share_ppm == 800000
    assert out[2].cum_share_ppm == 900000


def test_key_skew_profile_composite_key_and_errors(spark):
    df = spark.createDataFrame([(1, "x"), (1, "x"), (2, "y")], "a int, b string")
    out = key_skew_profile(df, ["a", "b"], top_n=10).collect()
    assert out[0].key == "1\x01x" and out[0].cnt == 2  # unambiguous sep
    assert len(out) == 2
    with pytest.raises(ValueError):
        key_skew_profile(df, [])
    with pytest.raises(ValueError):
        key_skew_profile(df.limit(0), ["a"])
