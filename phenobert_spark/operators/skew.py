"""Explicit skew handling for large joins: salting.

The north-rule failure mode: a shuffle join keyed on a power-law
column (document host, hot HPO concept, mega-repo) sends one key's
entire row set to ONE reducer — the 999 idle executors watch the
1000th spill. AQE's skew-join splits oversized PARTITIONS, but it
cannot split a single oversized KEY; that needs salting, which is a
semantic rewrite and therefore an operator, not a config.

:func:`salted_join` gives the fact side a deterministic salt in
[0, factor) and EXPLODES the dimension side ``factor``× so every
(key, salt) bucket finds its dim row. One hot key now lands on
``factor`` reducers. Exact same join result as the unsalted join
(q204 proves it against a plain-SQL oracle), at the cost of
``factor``× the dim shuffle volume — the classic trade when the dim
is too big to broadcast and the fact is skewed.

The salt is ``pmod(xxhash64(id_cols), factor)`` — deterministic
(resumable/checkpoint-stable, unlike a random salt) and uniform over
the fact rows of a key regardless of their physical order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    factor: int = 8,
    salt_by: list[str] | None = None,
) -> DataFrame:
    """Equi-join ``fact ⋈ dim`` on ``on`` with the hot-key shuffle
    spread over ``factor`` salt buckets. ``salt_by``: fact columns
    that determine the salt (default: all fact columns — any
    deterministic spread works; pass a stable row id when available).
    Every dim row exists in every salt bucket, so no match is lost.

    Result columns = fact columns + dim's non-key columns, exactly
    like ``fact.join(dim, on)``.
    """
    if factor < 1:
        raise ValueError("factor must be >= 1")
    salt_cols = salt_by or fact.columns
    f = fact.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]), F.lit(factor)),
    )
    # dim explosion via explode(sequence(...)): map-only row growth,
    # no join node at all (a crossJoin against a salt range would
    # plan as a BroadcastNestedLoopJoin — harmless at factor rows,
    # but join-free is strictly better and plan-pinnable).
    d = dim.withColumn(
        "_salt",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"), F.lit(factor - 1).cast("long")
            )
        ),
    )
    return f.join(d, on=[on, "_salt"]).drop("_salt")
