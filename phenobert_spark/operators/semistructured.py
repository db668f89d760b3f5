"""Semi-structured (JSON) column extraction.

Web-scale event and crawl tables carry a schemaless JSON "properties"
string next to the typed columns (the sandbox `events` table models it
as ``props``: ``'{"k": 69}'``). The engine's job is to turn that
string into typed columns ONCE, JVM-side, and let every downstream
operator work on ordinary columns — never to re-parse per use and
never to ship raw JSON through a shuffle.

Scale notes: :func:`parse_json_props` is a narrow projection (one
``from_json`` per row, whole-stage codegen, no UDF, no shuffle); the
raw JSON string is dropped in the same projection, so an aggregation
over an extracted field shuffles only the typed columns. Malformed
rows parse to NULL rather than failing the job — at 10^12 rows some
rows ARE malformed, and a scrub pass must quarantine, not crash.

Reference parity: the reference engine has no semi-structured input
(documents arrive as plain text, `phenobert/utils/util.py:433-447`
reads whole files); this module is part of the training-data-pipeline
surface the brief adds on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def parse_json_props(
    df: DataFrame,
    json_col: str = "props",
    schema_ddl: str = "k INT",
    keep: list[str] | None = None,
) -> DataFrame:
    """Parse a JSON-string column into typed top-level columns.

    One ``from_json`` per row (single parse regardless of how many
    fields the schema pulls), fields hoisted to top level, the raw
    string dropped. ``keep`` limits the carried-through columns so the
    projection prunes at the scan.
    """
    cols = keep if keep is not None else [c for c in df.columns if c != json_col]
    parsed = F.from_json(F.col(json_col), schema_ddl).alias("_j")
    return df.select(*cols, parsed).select(*cols, "_j.*")


def props_rollup(df: DataFrame) -> DataFrame:
    """Aggregate the extracted JSON field ``k`` (INT) per event type:
    the canonical "schema-on-read analytics" pass (count, sum/avg of
    the JSON field, avg of the typed sibling column ``value``).

    Plan: parse-project → one hash aggregate. The combiner runs
    map-side, so the shuffle carries one row per (partition, group).
    """
    typed = parse_json_props(df, "props", "k INT", keep=["event_type", "value"])
    return (
        typed.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count("k").alias("n_with_field"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .orderBy("event_type")
    )
