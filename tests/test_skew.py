from pyspark.sql import functions as F

from phenobert_spark.operators.skew import salted_join


def _fact(spark):
    # heavy skew: key 0 carries 80 of 100 rows
    rows = [(i, 0 if i < 80 else i % 5 + 1, f"v{i}") for i in range(100)]
    return spark.createDataFrame(rows, "row_id long, k long, payload string")


def _dim(spark):
    return spark.createDataFrame(
        [(i, f"name{i}") for i in range(6)], "k long, name string"
    )


def test_salted_join_matches_plain_inner(spark):
    fact, dim = _fact(spark), _dim(spark)
    plain = {
        tuple(r)
        for r in fact.join(dim, on="k").select("row_id", "k", "payload", "name").collect()
    }
    salted = {
        tuple(r)
        for r in salted_join(fact, dim, on="k", factor=4, salt_by=["row_id"])
        .select("row_id", "k", "payload", "name")
        .collect()
    }
    assert salted == plain and len(plain) == 100


def test_salted_join_spreads_hot_key(spark):
    fact, dim = _fact(spark), _dim(spark)
    f = fact.withColumn(
        "_salt", F.pmod(F.xxhash64("row_id"), F.lit(4))
    )
    # the hot key's 80 rows land in >1 salt bucket
    buckets = (
        f.filter(F.col("k") == 0).select("_salt").distinct().count()
    )
    assert buckets > 1


def test_salted_join_rejects_bad_args(spark):
    import pytest

    fact, dim = _fact(spark), _dim(spark)
    with pytest.raises(ValueError):
        salted_join(fact, dim, on="k", factor=0)
