"""License detection / permissive filtering (operators/license.py)."""

from phenobert_spark.operators.license import (
    LICENSE_MARKERS,
    PERMISSIVE,
    license_column,
    license_rollup,
)

MIT = "Permission is hereby granted, free of charge, to any person."
APACHE = "Licensed under the Apache License, Version 2.0 (the License)."
GPL = "under the terms of the GNU General Public License as published"
BSD = "Redistribution and use in source and binary forms, with or without"


def _detect(df):
    return df.withColumn("license", license_column())


def _corpus(spark):
    rows = [
        ("r1", "a.py", MIT + " def f(): pass"),
        ("r1", "b.py", APACHE + " class C: ..."),
        ("r1", "c.py", GPL + " int main() {}"),
        ("r2", "d.py", BSD + " x = 1"),
        ("r2", "e.py", "no license header at all"),
        # BOTH MIT and GPL markers present -> priority order wins (MIT
        # is listed first in LICENSE_MARKERS)
        ("r2", "f.py", GPL + " " + MIT),
    ]
    return spark.createDataFrame(rows, "repo string, path string, content string")


def test_detect_license_classification_and_priority(spark):
    got = {
        r.path: r.license for r in _detect(_corpus(spark)).collect()
    }
    assert got == {
        "a.py": "MIT",
        "b.py": "Apache-2.0",
        "c.py": "GPL-3.0",
        "d.py": "BSD-3-Clause",
        "e.py": "unknown",
        "f.py": "MIT",  # priority: first marker in LICENSE_MARKERS wins
    }


def test_detect_license_case_insensitive(spark):
    df = spark.createDataFrame(
        [("r", "x", MIT.upper()), ("r", "y", MIT.lower())],
        "repo string, path string, content string",
    )
    assert {r.license for r in _detect(df).collect()} == {"MIT"}


def test_filter_permissive_gate(spark):
    gate = license_column().isin(*sorted(PERMISSIVE))
    kept = {r.path for r in _corpus(spark).filter(gate).collect()}
    assert kept == {"a.py", "b.py", "d.py", "f.py"}
    assert PERMISSIVE == {"MIT", "Apache-2.0", "BSD-3-Clause"}


def test_license_rollup_counts_and_flags(spark):
    got = {
        (r.repo, r.license): (r.n_files, r.is_permissive)
        for r in license_rollup(_corpus(spark)).collect()
    }
    assert got == {
        ("r1", "MIT"): (1, True),
        ("r1", "Apache-2.0"): (1, True),
        ("r1", "GPL-3.0"): (1, False),
        ("r2", "BSD-3-Clause"): (1, True),
        ("r2", "unknown"): (1, False),
        ("r2", "MIT"): (1, True),
    }


def test_detect_license_plan_is_map_only(spark):
    df = _corpus(spark)
    plan = _detect(df)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "Exchange" not in plan


def test_markers_are_lowercase_and_distinct():
    phrases = [m for _, m in LICENSE_MARKERS]
    assert all(p == p.lower() for p in phrases)
    assert len(set(phrases)) == len(phrases)
