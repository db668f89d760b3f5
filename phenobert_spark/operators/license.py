"""License detection + permissive filtering for source-code corpora.

The engine's target table is source-code repositories
(``documents(repo, path, commit, lang, content)``); the first gate
every code training-data pipeline applies is a license filter (The
Stack, Kocetkov et al. 2022: keep only permissively-licensed files).
This module is the Spark-first version of that gate:

* :func:`license_column` — classify each file by canonical license
  phrase, JVM-side (``Column.contains`` over a lowered projection, no
  UDF, whole-stage codegen); first marker wins, unmatched files are
  ``unknown``. The gate is a filter on it against ``PERMISSIVE``
  (MIT / Apache-2.0 / BSD-3-Clause).
* :func:`license_rollup` — per-(repo, license) file counts with a
  permissive flag: the corpus-audit table a release needs.

Scale notes: detection is a map-only pass (the license column is
derived before any shuffle and the content column is DROPPED by the
rollup projection, so the exchange carries only (repo, license));
the rollup aggregation is keyed on (repo, license) — combiner-
friendly, cardinality bounded by repos x licenses, and per-repo skew
is irrelevant because the map-side partial aggregation collapses
each partition's contribution to one row per key first.

Phrase matching (not regex) keeps Java and any SQL oracle engine
byte-for-byte agreed; markers are the SPDX-canonical first lines the
reference scancode-style detectors anchor on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: (SPDX id, lowercase canonical marker phrase), in priority order —
#: the FIRST matching marker classifies the file.
LICENSE_MARKERS: list[tuple[str, str]] = [
    ("MIT", "permission is hereby granted, free of charge"),
    ("Apache-2.0", "licensed under the apache license, version 2.0"),
    ("GPL-3.0", "gnu general public license"),
    ("BSD-3-Clause", "redistribution and use in source and binary forms"),
]

PERMISSIVE: frozenset[str] = frozenset({"MIT", "Apache-2.0", "BSD-3-Clause"})


def license_column(text_col: str = "content") -> F.Column:
    """Column expression classifying ``text_col`` by the first
    matching marker in :data:`LICENSE_MARKERS`, else 'unknown'."""
    lowered = F.lower(F.col(text_col))
    expr = F.lit("unknown")
    for spdx, marker in reversed(LICENSE_MARKERS):
        expr = F.when(lowered.contains(marker), F.lit(spdx)).otherwise(expr)
    return expr


def license_rollup(df: DataFrame) -> DataFrame:
    """Per-(repo, license) audit: (repo, license, n_files,
    is_permissive). The content column is dropped before the
    exchange — only the two grouping keys shuffle."""
    return (
        df.select(
            F.col("repo").alias("repo"),
            license_column("content").alias("license"),
        )
        .groupBy("repo", "license")
        .agg(F.count("*").alias("n_files"))
        .withColumn(
            "is_permissive",
            F.col("license").isin(*sorted(PERMISSIVE)),
        )
    )
