"""Step-1 dictionary entity linking (SURVEY.md §2.3 J1; reference
``matchPhrase2HPO`` util.py:409-421 applied at util.py:1044-1052).

``TIERS`` is the one definition of the tiers, highest priority first:
each names the candidate column that probes it, the ``prio`` of the
dictionary rows it matches, and the score a hit stamps.

* prio 0-1 by ``key``: strict and simplified sorted-bag keys, score
  1.0;
* prio 0-1 by ``lemma_key``: the same rows for the misses, through the
  lemma/orthography-folded key, score 1.0;
* prio 3 by ``lemma_key``: combining-prefix splits and mined+seeded
  synonym variants in lemma space, score 0.9; only with the synonym
  tier;
* prio 2 by ``stem_key``: stemmed keys, score 0.85 (morphological-
  variant extension beyond the reference — ranked below the prio-3
  tier because stem matches are unvalidated suffix surgery: a mined
  swap keeps exact lemma tokens and is validated by >=10 same-concept
  co-variations, while "limbic"/"limb" both stem to "limb", so "limb
  malformation" would false-hit "limbic malformation" HP:0007343 if
  the stem tier won);
* prio 4 by ``lemma_key``: dictionary-side drop-one variants, score
  0.8; only with ``drop_one_dict``.

The pipeline links with :class:`DictLinker`: the tiers as hash tables
probed inside the candidate kernel (``generate_candidates``), so no
join enters the plan. :func:`dictionary_link` is the same tiers as
broadcast hash joins over a candidates frame — the Spark-join form,
kept for perfbench's traced cuts and as the kernel's equivalence
oracle in the tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# (candidate column, dictionary prios, score), in resolution order
TIERS = (
    ("key", (0, 1), 1.0),
    ("lemma_key", (0, 1), 1.0),
    ("lemma_key", (3,), 0.9),
    ("stem_key", (2,), 0.85),
    ("lemma_key", (4,), 0.8),
)
PROBE_COLUMNS = ("key", "lemma_key", "stem_key")


def active_tiers(has_syn_tier: bool, has_drop_one: bool) -> list[tuple]:
    """The ``TIERS`` a dictionary probes: the prio-3 tier only with the
    synonym tier, the prio-4 tier only with the drop-one rows."""
    return [
        t
        for t in TIERS
        if (has_syn_tier or 3 not in t[1]) and (has_drop_one or 4 not in t[1])
    ]


class DictLinker:
    """The dictionary tiers as driver-built hash tables, one per prio
    set (the two prio 0-1 tiers share one). ``linker(key, lemma_key,
    stem_key)`` is the (hpo_id, score) of the first tier holding the
    key it probes, or None: the answer of :func:`dictionary_link`'s
    left joins, exactly, because a key is unique within a tier's prios
    (checked here)."""

    def __init__(
        self, rows: list[tuple[str, str, int]], has_syn_tier: bool, has_drop_one: bool
    ):
        tables: dict[tuple, dict[str, str]] = {}
        self.tiers = []
        for col, prios, score in active_tiers(has_syn_tier, has_drop_one):
            if prios not in tables:
                table = {k: h for k, h, p in rows if p in prios}
                if len(table) != sum(p in prios for _, _, p in rows):
                    raise ValueError(f"dictionary keys repeat within prios {prios}")
                tables[prios] = table
            self.tiers.append((PROBE_COLUMNS.index(col), tables[prios], score))

    def __call__(self, *keys: str) -> tuple[str, float] | None:
        for i, table, score in self.tiers:
            hpo = table.get(keys[i])
            if hpo is not None:
                return hpo, score
        return None


def dictionary_link(
    candidates: DataFrame,
    dict_df: DataFrame,
    has_syn_tier: bool = True,
    has_drop_one: bool = True,
) -> DataFrame:
    """candidates(key, lemma_key, stem_key, ...) x dict(key, hpo_id,
    prio) -> + columns (hpo_id nullable, score nullable): one broadcast
    left join per active tier, the first hit winning via ``coalesce``.

    ``has_syn_tier`` / ``has_drop_one``: whether dict_df carries prio-3 /
    prio-4 rows. False skips that broadcast join entirely (probing an
    empty broadcast relation is not free at 10^12 rows).
    """
    out, hpo_tiers, score, drop_cols = candidates, [], None, []
    for i, (col, prios, tier_score) in enumerate(active_tiers(has_syn_tier, has_drop_one)):
        k, h = f"_k{i}", f"_h{i}"
        table = dict_df.filter(F.col("prio").isin(*prios)).select(
            F.col("key").alias(k), F.col("hpo_id").alias(h)
        )
        out = out.join(F.broadcast(table), F.col(col) == F.col(k), "left")
        hit = F.col(h).isNotNull()
        score = F.when(hit, tier_score) if score is None else score.when(hit, tier_score)
        hpo_tiers.append(F.col(h))
        drop_cols += [k, h]
    return (
        out.withColumn("hpo_id", F.coalesce(*hpo_tiers))
        .withColumn("score", score.cast("double"))
        .drop(*drop_cols)
    )
