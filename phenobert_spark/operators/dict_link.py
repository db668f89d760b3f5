"""Step-1 dictionary entity linking (SURVEY.md §2.3 J1; reference
``matchPhrase2HPO`` util.py:409-421 applied at util.py:1044-1052).

Tiered broadcast hash joins against the ontology surface-form
dimension, highest priority first via ``coalesce``. Each tier is named
by the ``prio`` of the dictionary rows it joins and the candidate
column that probes them (its join alias in brackets):

* prio 0-1 by ``key`` (``_h1``): strict and simplified sorted-bag
  keys, score 1.0;
* prio 0-1 by ``lemma_key`` (``_h2``): the same rows for the misses,
  through the lemma/orthography-folded key, score 1.0;
* prio 3 by ``lemma_key`` (``_h4``): combining-prefix splits and
  mined+seeded synonym variants in lemma space, score 0.9; only with
  the synonym tier;
* prio 2 by ``stem_key`` (``_h3``): stemmed keys, score 0.85
  (morphological-variant extension beyond the reference — ranked
  below the prio-3 tier because stem matches are unvalidated suffix
  surgery, see dictionary_link);
* prio 4 by ``lemma_key`` (``_h5``): dictionary-side drop-one
  variants, score 0.8; default-off.

The prio-3 and prio-4 tiers are skipped entirely — no join in the
plan — when their rows are absent (``has_syn_tier`` /
``has_drop_one``). The dictionary is ~50-150k rows depending on tiers
(BASELINE.md) — a textbook broadcast dimension; every join is a
BroadcastHashJoin with zero shuffle. Exact/lemma matches carry score
1.0 (util.py:1052).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dictionary_link(
    candidates: DataFrame,
    dict_df: DataFrame,
    has_syn_tier: bool = True,
    has_drop_one: bool = True,
) -> DataFrame:
    """candidates(key, lemma_key, ...) x dict(key, hpo_id, prio) ->
    + columns (hpo_id nullable, score nullable).

    (key, prio) is unique in dict_df. The strict-key match wins; lemma-key match fills the misses — the exact
    composition of the reference's two-probe lookup.

    ``has_syn_tier`` / ``has_drop_one``: whether dict_df carries prio-3 /
    prio-4 rows. False skips that broadcast join entirely (probing an
    empty broadcast relation is not free at 10^12 rows).
    """
    d1 = F.broadcast(
        dict_df.filter(F.col("prio") <= 1).select(
            F.col("key").alias("_k1"), F.col("hpo_id").alias("_h1")
        )
    )
    d2 = F.broadcast(
        dict_df.filter(F.col("prio") <= 1).select(
            F.col("key").alias("_k2"), F.col("hpo_id").alias("_h2")
        )
    )
    d3 = F.broadcast(
        dict_df.filter(F.col("prio") == 2).select(
            F.col("key").alias("_k3"), F.col("hpo_id").alias("_h3")
        )
    )
    out = (
        candidates.join(d1, F.col("key") == F.col("_k1"), "left")
        .join(d2, F.col("lemma_key") == F.col("_k2"), "left")
        .join(d3, F.col("stem_key") == F.col("_k3"), "left")
    )
    drop_cols = ["_k1", "_h1", "_k2", "_h2", "_k3", "_h3"]
    hpo_tiers = [F.col("_h1"), F.col("_h2")]
    score = F.when(
        F.coalesce(F.col("_h1"), F.col("_h2")).isNotNull(), F.lit(1.0)
    )
    if has_syn_tier:
        # prio 3: synonym-substituted variant keys in lemma space (mined
        # from same-concept surface forms + seeded anatomical pairs) —
        # probed by the same lemma_key column, one more broadcast join.
        # Ranked ABOVE the stem tier: a mined swap keeps exact lemma
        # tokens and is validated by >=10 same-concept co-variations,
        # while a stem match is unvalidated suffix surgery that can
        # conflate distinct lexemes ("limbic"/"limb" both stem to
        # "limb", so "limb malformation" would false-hit "limbic
        # malformation" HP:0007343 if the stem tier won).
        d4 = F.broadcast(
            dict_df.filter(F.col("prio") == 3).select(
                F.col("key").alias("_k4"), F.col("hpo_id").alias("_h4")
            )
        )
        out = out.join(d4, F.col("lemma_key") == F.col("_k4"), "left")
        drop_cols += ["_k4", "_h4"]
        hpo_tiers.append(F.col("_h4"))
        score = score.when(F.col("_h4").isNotNull(), F.lit(0.9))
    hpo_tiers.append(F.col("_h3"))
    score = score.when(F.col("_h3").isNotNull(), F.lit(0.85))
    if has_drop_one:
        # prio 4: dictionary-side drop-one variants (Ontology.dict_df
        # drop_one=True).
        d5 = F.broadcast(
            dict_df.filter(F.col("prio") == 4).select(
                F.col("key").alias("_k5"), F.col("hpo_id").alias("_h5")
            )
        )
        out = out.join(d5, F.col("lemma_key") == F.col("_k5"), "left")
        drop_cols += ["_k5", "_h5"]
        hpo_tiers.append(F.col("_h5"))
        score = score.when(F.col("_h5").isNotNull(), F.lit(0.8))
    return (
        out.withColumn("hpo_id", F.coalesce(*hpo_tiers))
        .withColumn("score", score.cast("double"))
        .drop(*drop_cols)
    )

