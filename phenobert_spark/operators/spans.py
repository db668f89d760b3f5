"""Span algebra: interval containment suppression and overlap
resolution (SURVEY.md §2.3 J3/J4; reference util.py:1053-1061 and
util.py:1171-1191).

The reference does pairwise O(n^2) loops per document over offset-sets.
Spans here are contiguous token runs, so set containment is exactly
char-interval containment — and "keep maximal spans" has a linearithmic
formulation that needs NO self-join:

    sort spans within a doc by (start ASC, end DESC);
    a span is contained in an earlier span  <=>  end <= running_max(end)
    over the strictly-preceding rows.

Proof sketch: every preceding row has start' <= start (sort order); a
preceding row with running-max end' >= end therefore contains the span.
Same-start rows sort end-DESC, so a preceding same-start row has
end' > end (strict containment). A later-start row can never contain an
earlier one. The reference's pairwise-removal loop is order-dependent
(SURVEY.md §7.4 risk 1); this formulation is its deterministic total-
order closure and is verified against a brute-force oracle in tests and
against a DuckDB NOT EXISTS oracle by the driver (q_maximal_intervals).

Scale: one shuffle on doc_id (window partition), O(n log n) per doc,
no join — survives 100x candidate blowup where a per-doc self-join
would be quadratic in the skewed-document tail.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def drop_same_extent(
    df: DataFrame, keys: list[str], tiebreak: tuple["F.Column", ...] = ()
) -> DataFrame:
    """Keep one row per (keys, start, end): the first in
    (start ASC, end DESC, *tiebreak) order. That order extends the
    maximal-span window's, so duplicates sit adjacent (a lag() finds
    them without a second exchange on the extent) and one sort serves
    this window and :func:`keep_maximal_spans` on the same ``keys``."""
    w = Window.partitionBy(*keys).orderBy(
        F.col("start").asc(), F.col("end").desc(), *tiebreak
    )
    return (
        df.withColumn("_ps", F.lag("start").over(w))
        .withColumn("_pe", F.lag("end").over(w))
        .filter(
            F.col("_ps").isNull()
            | (F.col("_ps") != F.col("start"))
            | (F.col("_pe") != F.col("end"))
        )
        .drop("_ps", "_pe")
    )


def keep_maximal_spans(
    df: DataFrame, keys: list[str] | None = None, gappy_col: str | None = None
) -> DataFrame:
    """J4 (the reference's use_longest): drop every span strictly contained in
    another span of the same document. Input must be unique on
    (doc_id, start, end) — pre-aggregate duplicates first.

    ``gappy_col``: optional boolean column marking conjunction-recovered
    spans whose char extent covers tokens they do not contain (elision
    recovery, candidates.py). The reference compares token-POSITION sets
    (util.py:261-269), under which sibling conjuncts are never subsets —
    so gappy spans must not act as CONTAINERS here (they can still be
    dropped when contained in a contiguous span)."""
    keys = keys or ["doc_id"]
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("start").asc(), F.col("end").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    end = F.col("end") if gappy_col is None else F.when(~F.col(gappy_col), F.col("end"))
    return (
        df.withColumn("_pme", F.max(end).over(w))
        .filter(F.col("_pme").isNull() | (F.col("end") > F.col("_pme")))
        .drop("_pme")
    )


def _probe_anchor_union(
    probe: DataFrame, anchors: DataFrame, keys: list[str]
) -> DataFrame:
    """Probe rows flagged ``_anchor`` 0 and the anchors' (keys, start,
    end) rows flagged ``_anchor`` 1, in one frame for one window pass."""
    p = probe.withColumn("_anchor", F.lit(0))
    a = anchors.select(*keys, "start", "end").withColumn("_anchor", F.lit(1))
    return p.unionByName(a, allowMissingColumns=True)


def suppress_contained_in(
    probe: DataFrame, anchors: DataFrame, keys: list[str] | None = None
) -> DataFrame:
    """J3: remove probe spans contained in ANY anchor span of the same
    document (reference: unmatched candidates inside an already
    dictionary-matched span skip the model stages, util.py:1053-1061).

    Implemented as a union + window (no join): anchors sort before
    equal probes via a flag, and only anchor ends feed the running max.
    """
    keys = keys or ["doc_id"]
    both = _probe_anchor_union(probe, anchors, keys)
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("start").asc(), F.col("end").desc(), F.col("_anchor").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    anchor_end = F.when(F.col("_anchor") == 1, F.col("end"))
    both = both.withColumn("_pme", F.max(anchor_end).over(w))
    return (
        both.filter(F.col("_anchor") == 0)
        .filter(F.col("_pme").isNull() | (F.col("end") > F.col("_pme")))
        .drop("_anchor", "_pme")
    )


def suppress_containing(probe: DataFrame, anchors: DataFrame) -> DataFrame:
    """Reverse of :func:`suppress_contained_in`: remove probe spans
    that CONTAIN any anchor span of the same document. Used to keep
    model-stage candidates from swallowing an exact dictionary match —
    under longest-span overlap resolution a longer fuzzy guess would
    otherwise displace the shorter exact match it contains (measured
    -0.3 F1 on ID-68 before this guard).

    Same union + window trick (no join): one pass ordered by start,
    a range frame over rows starting at or after the probe, and the
    MIN anchor end in that frame decides containment."""
    both = _probe_anchor_union(probe, anchors, ["doc_id"])
    w = (
        Window.partitionBy("doc_id")
        .orderBy(F.col("start").asc())
        .rangeBetween(0, Window.unboundedFollowing)
    )
    anchor_end = F.when(F.col("_anchor") == 1, F.col("end"))
    both = both.withColumn("_fme", F.min(anchor_end).over(w))
    return (
        both.filter(F.col("_anchor") == 0)
        .filter(F.col("_fme").isNull() | (F.col("_fme") > F.col("end")))
        .drop("_anchor", "_fme")
    )


def maximal_spans_bruteforce(df: DataFrame) -> DataFrame:
    """Quadratic NOT-EXISTS reference implementation (oracle for tests;
    never on the hot path)."""
    other = df.select(
        F.col("doc_id").alias("_o_doc_id"),
        F.col("start").alias("_o_start"),
        F.col("end").alias("_o_end"),
    )
    cond = (
        (F.col("_o_start") <= F.col("start"))
        & (F.col("end") <= F.col("_o_end"))
        & ((F.col("_o_start") != F.col("start")) | (F.col("_o_end") != F.col("end")))
        & (F.col("doc_id") == F.col("_o_doc_id"))
    )
    return df.join(other, on=cond, how="left_anti")


def coalesce_runs(
    df: DataFrame,
    keys: list[str],
    seq: str,
) -> DataFrame:
    """Gaps-and-islands run coalescing: collapse consecutive integer
    ``seq`` values per ``keys`` group into (keys..., run_start,
    run_end, run_len) intervals. The temporal-KG materialization
    primitive: a triple observed at commit sequence numbers
    {3,4,5, 9,10} becomes two validity intervals [3,5] and [9,10] —
    per-(subject, predicate, object) version ranges instead of one
    row per commit snapshot (the same trick coalesces per-day
    presence into date ranges).

    Formulation: island_id = seq - row_number() within the group
    ordered by seq — constant within a consecutive run, distinct
    across gaps (standard gaps-and-islands; duplicate seq values must
    be deduplicated first, which this does). Plan: ONE shuffle on the
    group keys shared by the dedup, the window, and the final
    aggregate (all three are keys-partitioned), O(n log n) per group,
    no join — at 10^12 rows this is a single exchange keyed by the
    triple, and runs are emitted map-side-combined per island.
    """
    kc = [F.col(k) for k in keys]
    runs = (
        df.select(*kc, F.col(seq).cast("bigint").alias("_seq"))
        .distinct()
        .withColumn("_island", F.col("_seq") - F.row_number().over(
            Window.partitionBy(*kc).orderBy(F.col("_seq").asc())
        ))
    )
    return runs.groupBy(*kc, "_island").agg(
        F.min("_seq").alias("run_start"),
        F.max("_seq").alias("run_end"),
        F.count("*").cast("bigint").alias("run_len"),
    ).drop("_island")
