import datetime

from pyspark.sql import functions as F

from phenobert_spark.operators.cohorts import retention_cohorts
from phenobert_spark.operators.layout import assign_zorder_files, morton_key


def _morton_py(x, y, bits=16):
    acc = 0
    for i in range(bits):
        acc |= ((x >> i) & 1) << (2 * i + 1)
        acc |= ((y >> i) & 1) << (2 * i)
    return acc


def test_morton_matches_python_twin(spark):
    rows = [(x, y) for x in (0, 1, 2, 3, 255, 65535) for y in (0, 1, 7, 65535)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r.x, r.y): r.z
        for r in df.select("x", "y", morton_key(F.col("x"), F.col("y")).alias("z")).collect()
    }
    for x, y in rows:
        assert got[(x, y)] == _morton_py(x, y), (x, y)


def test_morton_locality_property(spark):
    # interleaving: z(1,0)=2, z(0,1)=1, z(1,1)=3 — x owns the higher bit
    df = spark.createDataFrame([(1, 0), (0, 1), (1, 1)], "x long, y long")
    z = {
        (r.x, r.y): r.z
        for r in df.select("x", "y", morton_key(F.col("x"), F.col("y")).alias("z")).collect()
    }
    assert z == {(1, 0): 2, (0, 1): 1, (1, 1): 3}


def test_assign_zorder_files_exact_balanced(spark):
    df = spark.createDataFrame([(i, i % 13) for i in range(40)], "id long, zkey long")
    out = assign_zorder_files(df, "id", n_files=4, exact=True).collect()
    per_file = {}
    for r in out:
        per_file.setdefault(r.file_id, []).append(r.zkey)
    assert sorted(per_file) == [1, 2, 3, 4]
    assert all(len(v) == 10 for v in per_file.values())
    # files are zkey-range-ordered: max of file k <= min of file k+1
    for k in (1, 2, 3):
        assert max(per_file[k]) <= min(per_file[k + 1])


def test_assign_zorder_files_scale_form_covers_all_rows(spark):
    df = spark.createDataFrame([(i, (i * 7) % 29) for i in range(60)], "id long, zkey long")
    out = assign_zorder_files(df, "id", n_files=4, exact=False)
    assert out.count() == 60
    assert out.select("file_id").distinct().count() <= 4


def _ts(d, h=0):
    return datetime.datetime(2024, 1, d, h, 0, 0)


def test_retention_cohorts_hand_computed(spark):
    # week 0 = Jan 1-7, week 1 = Jan 8-14, week 2 = Jan 15-21
    rows = [
        ("u1", _ts(2)), ("u1", _ts(9)), ("u1", _ts(16)),   # cohort 0: 0,1,2
        ("u2", _ts(3)), ("u2", _ts(17)),                   # cohort 0: 0,2
        ("u3", _ts(10)), ("u3", _ts(11)), ("u3", _ts(15)), # cohort 1: 0,1 (two
        #   events in week 1 collapse to one (user, period) row)
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    got = {
        (r.cohort_period, r.period_offset): (r.n_users, r.cohort_size, r.retention)
        for r in retention_cohorts(df).collect()
    }
    assert got[(0, 0)] == (2, 2, 1.0)
    assert got[(0, 1)] == (1, 2, 0.5)
    assert got[(0, 2)] == (2, 2, 1.0)
    assert got[(1, 0)] == (1, 1, 1.0)
    assert got[(1, 1)] == (1, 1, 1.0)
    assert len(got) == 5


def test_zone_map_pruning_zorder_beats_naive(spark):
    from phenobert_spark.operators.layout import (
        assign_zorder_files,
        morton_key,
        scan_counts,
        zone_map_stats,
    )

    # 1024 rows on a 32x32 grid; zorder vs insertion-order layout
    rows = [(i, i % 32, (i * 7) % 32) for i in range(1024)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    z = df.withColumn("zkey", morton_key(F.col("x"), F.col("y"), bits=5))
    zf = assign_zorder_files(z, "id", n_files=16, exact=True)
    nf = assign_zorder_files(
        df.withColumn("zkey", F.col("id")), "id", n_files=16, exact=True
    )
    ranges = spark.createDataFrame(
        [(k, k * 8, k * 8 + 7) for k in range(4)], "range_id long, lo long, hi long"
    )
    sz = {
        r.range_id: r.files_scanned
        for r in scan_counts(zone_map_stats(zf, "file_id", "x"), ranges).collect()
    }
    sn = {
        r.range_id: r.files_scanned
        for r in scan_counts(zone_map_stats(nf, "file_id", "x"), ranges).collect()
    }
    # naive layout: x cycles 0..31 within every file -> nothing prunes
    assert all(v == 16 for v in sn.values())
    # zorder layout: each x-octile touches a strict subset of files
    assert all(v < 16 for v in sz.values())
    assert sum(sz.values()) < sum(sn.values())


def test_scan_counts_no_overlap_is_zero(spark):
    from phenobert_spark.operators.layout import scan_counts

    zones = spark.createDataFrame([(1, 0, 9)], "file_id long, vmin long, vmax long")
    ranges = spark.createDataFrame([(0, 100, 200)], "range_id long, lo long, hi long")
    r = scan_counts(zones, ranges).collect()[0]
    assert r.files_scanned == 0
