"""HPO ontology model: terms, DAG, surface-form dictionary (SURVEY.md §1.1).

The reference parses ``hpo.json`` into ``HPOTree`` (phenobert/utils/
util.py:283-349) and derives: the phenotypic-abnormality subtree under
HP:0000118, the 25 "Layer-1" routing partitions, an alt-id map, BFS
depths, and the normalized-phrase -> HPO dictionary
(``p_phrase2HPO``, util.py:324-327, key = " ".join(sorted(processStr(name)))).

``hpo.json`` is a missing blob in the checkout
(/root/reference/.MISSING_LARGE_BLOBS), so this module reconstructs the
ontology from what IS shipped:

* ``phenobert/models/train.txt`` — 48,600 ``surface_form \\t HP:id`` rows
  (every name+synonym of every concept under HP:0000118,
  cf. getAllPhrasesAbnorm util.py:399-407);
* ``phenobert/models/train_source/train_{0..24}.txt`` — the same pairs
  grouped by Layer-1 subtree (membership = the L1 routing partition,
  util.py:311-317/447-462).

Direct ``is_a`` edges are not recoverable, so the rebuilt DAG is the
3-level routing DAG root -> L1_i -> concept (multi-parent preserved:
a concept in several train_source files gets several L1 parents). A
richer synthetic DAG (alt-ids, deep multi-parent chains) is provided by
``fixture_ontology()`` for unit tests, per FIXTURES.md §2.

Scale note: the whole ontology is ~48.6k surface rows / ~17k concepts —
a classic broadcast dimension. It is exposed both as Spark DataFrames
(for broadcast hash joins) and as plain dicts (for pandas-UDF closures).
"""

from __future__ import annotations

import functools
import inspect
import os
import re
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .config import REFERENCE_ROOT, local_frame
from .functions.normalize import (
    process_str,
    simplify_tokens,
    sorted_bag_key,
    stem_key_of,
)
from .operators.dict_link import DictLinker

ROOT = "HP:0000118"

# Greek/Latin combining prefixes that appear both fused and
# hyphenated/split in clinical prose ("supraauricular" ~
# "supra-auricular"). Public anatomical word-formation knowledge,
# pinned for determinism; used for dictionary split variants only.
COMBINING_PREFIXES = (
    "supra", "infra", "intra", "inter", "peri", "hemi", "semi", "retro",
    "ante", "post", "pre", "micro", "macro", "hypo", "hyper", "poly",
    "oligo", "multi", "oculo", "neuro", "cranio", "musculo", "genito",
    "gastro", "cardio", "broncho", "naso", "oro",
)

# Concept-frequency ceiling of a specific head token (Ontology.head_vocab).
HEAD_MAX_DF = 200

# Anatomical adjective -> organ-noun correspondences (standard medical
# English, public knowledge). Seeded alongside the ontology-MINED
# substitution pairs and subject to the same collision rule: a variant
# two concepts generate goes to one of them (dict_df's unique_best).
_SEED_PAIRS = [
    ("ophthalmic", "eye"), ("ocular", "eye"), ("otologic", "ear"),
    ("otic", "ear"), ("aural", "ear"), ("renal", "kidney"),
    ("cardiac", "heart"), ("hepatic", "liver"), ("cutaneous", "skin"),
    ("dermal", "skin"), ("gastric", "stomach"), ("pulmonary", "lung"),
    ("osseous", "bone"), ("oral", "mouth"), ("nasal", "nose"),
    ("digital", "finger"), ("vertebral", "vertebra"),
    ("mandibular", "mandible"), ("maxillary", "maxilla"),
    ("neurinoma", "schwannoma"), ("neurinoma", "neuroma"),
    # Generic head-noun equivalents (clinical prose names the same
    # finding with interchangeable heads: "skin changes" ~ "skin
    # abnormality"). Mined counts for these sit below the x10 trust
    # threshold (3/2/2/1/1 co-variations) but the class itself is
    # standard clinical-English usage; their variants go through the
    # same collision rule.
    # ("abnormality","feature") and ("abnormality","finding") are
    # excluded: "facial features" / "clinical findings" are routine
    # benign prose, and the pair cost GeneReviews -0.7 F1 (precision
    # 0.917 -> 0.895) when seeded.
    ("abnormality", "change"), ("abnormality", "manifestation"),
    ("abnormality", "defect"), ("difficulty", "problem"),
    ("macule", "spot"), ("macule", "patch"),
]
# Phrase-level seeds: HPO's own 2017 terminology migration renamed
# "mental retardation" to "intellectual disability" across the ontology
# (public release notes); older dictionaries carry one side only.
_SEED_PHRASE_PAIRS = [
    (frozenset({"mental", "retardation"}), frozenset({"intellectual", "disability"})),
]
SEED_SUBSTITUTIONS = (
    [(frozenset({a}), frozenset({b})) for a, b in _SEED_PAIRS]
    + [(frozenset({b}), frozenset({a})) for a, b in _SEED_PAIRS]
    + _SEED_PHRASE_PAIRS
    + [(b, a) for a, b in _SEED_PHRASE_PAIRS]
)


class PruneVocab:
    """Token-eligibility predicate for exact candidate pruning (see
    Ontology.prune_vocab). Implements ``in`` so the candidate generator
    can treat it like a plain set."""

    def __init__(self, base: frozenset[str], stems: frozenset[str]):
        self.base = base
        self.stems = stems
        self._memo: dict[str, bool] = {}

    def __contains__(self, tok: str) -> bool:
        hit = self._memo.get(tok)
        if hit is not None:
            return hit
        from .functions.normalize import lemma, stem

        out = tok in self.base or lemma(tok) in self.base or stem(tok) in self.stems
        if len(self._memo) < 500_000:
            self._memo[tok] = out
        return out

    def __getstate__(self):
        # broadcast without the worker-local memo
        return {"base": self.base, "stems": self.stems}

    def __setstate__(self, state):
        self.base = state["base"]
        self.stems = state["stems"]
        self._memo = {}

DICT_SCHEMA = StructType(
    [
        StructField("key", StringType(), False),
        StructField("hpo_id", StringType(), False),
        StructField("prio", IntegerType(), False),  # 0=strict key, 1=simplified key
    ]
)

TERMS_SCHEMA = StructType(
    [
        StructField("hpo_id", StringType(), False),
        StructField("name", StringType(), False),
        StructField("synonyms", ArrayType(StringType(), False), False),
        StructField("alt_ids", ArrayType(StringType(), False), False),
        StructField("parents", ArrayType(StringType(), False), False),
    ]
)

EDGES_SCHEMA = StructType(
    [
        StructField("child", StringType(), False),
        StructField("parent", StringType(), False),
    ]
)


def _memoized(method):
    """``method`` through :meth:`Ontology.derived`, keyed by its name and
    its bound arguments (defaults applied), so positional and keyword
    calls share one entry."""
    signature = inspect.signature(method)

    @functools.wraps(method)
    def memoized(self, *args, **kwargs):
        bound = signature.bind(self, *args, **kwargs)
        bound.apply_defaults()
        key = (method.__name__, *list(bound.arguments.values())[1:])
        return self.derived(key, lambda: method(self, *args, **kwargs))

    return memoized


@dataclass
class Ontology:
    """Driver-side ontology; cheap to broadcast (few MB)."""

    # hpo_id -> primary name (first surface form seen, util.py:351-357)
    names: dict[str, str]
    # hpo_id -> all surface forms (name + synonyms, deduped, insertion order)
    surfaces: dict[str, list[str]]
    # normalized key -> hpo_id (strict, reference-parity keys)
    phrase2hpo: dict[str, str]
    # simplified key -> hpo_id (stopword/num-simplified keys; recall extension)
    simple2hpo: dict[str, str]
    # stemmed simplified key -> hpo_id (morphological-variant tier)
    stem2hpo: dict[str, str]
    # alt id -> canonical id
    alt_ids: dict[str, str]
    # L1 routing partition: l1_id -> member hpo_ids
    layer1: dict[str, set[str]]
    # direct edges child -> [parents]
    parents: dict[str, list[str]]
    # BFS depth from ROOT (root=0)
    depth: dict[str, int]
    # hpo_id -> DERIVED surface forms (slash-alternation variants).
    # Kept apart from ``surfaces`` so generated data never feeds
    # mined_substitutions() — a derived variant pair of the same concept
    # must not count toward the x-N co-variation trust threshold.
    variant_surfaces: dict[str, list[str]] = field(default_factory=dict)
    # The one memo of every value derived from this ontology (see
    # ``derived``); no other attribute caches anything.
    _derived: dict = field(default_factory=dict, init=False, repr=False, compare=False)

    @property
    def abnormal_set(self) -> set[str]:
        """Concepts under HP:0000118, root excluded (phenotypic_abnormalityNT)."""
        return set(self.names)

    def all_surfaces(self, hpo_id: str) -> list[str]:
        """Verbatim + derived surface forms (dictionary/model consumers
        want both; the substitution miner wants ``surfaces`` only)."""
        return self.surfaces.get(hpo_id, []) + self.variant_surfaces.get(hpo_id, [])

    # -- derived structures -------------------------------------------------

    def derived(self, key: tuple, build: Callable[[], Any]) -> Any:
        """The one memo of values derived from this ontology: the first
        call with ``key`` stores ``build()``, later calls return it.
        ``key`` names the value and whatever else it depends on:
        thresholds and tiers, the session a DataFrame belongs to, the
        SparkContext (``applicationId``) a broadcast lives in."""
        if key not in self._derived:
            self._derived[key] = build()
        return self._derived[key]

    @_memoized
    def ancestors(self) -> dict[str, set[str]]:
        """Transitive ancestor closure, driver-side BFS (|V| small by
        design — SURVEY.md §4 item 3; distributed closure is in
        operators/closure.py for when the graph is NOT broadcastable)."""
        memo: dict[str, set[str]] = {}

        def up(node: str) -> set[str]:
            if node in memo:
                return memo[node]
            memo[node] = set()  # cycle guard
            acc: set[str] = set()
            for p in self.parents.get(node, []):
                acc.add(p)
                acc |= up(p)
            memo[node] = acc
            return acc

        for n in list(self.parents) + [ROOT]:
            up(n)
        return memo

    def canonical(self, hpo_id: str) -> str:
        return self.alt_ids.get(hpo_id, hpo_id)

    def vocab(self) -> frozenset[str]:
        """Every token appearing in any prio-0/1 dictionary key."""
        toks: set[str] = set()
        for key in self.phrase2hpo:
            toks.update(key.split())
        for key in self.simple2hpo:
            toks.update(key.split())
        return frozenset(toks)

    @_memoized
    def mined_substitutions(
        self, min_count: int = 10, phrase_min_count: int | None = None
    ) -> list[tuple[frozenset[str], frozenset[str]]]:
        """Substitution pairs mined from the ontology itself: two token
        groups are substitutable if surface forms OF THE SAME CONCEPT
        differ by exactly that swap (simplified lemma space), recurring
        across enough concepts.

        * 1<->1 token pairs at ``min_count`` ("broad"~"wide" x79,
          "decreased"~"reduced" x30, "kidney"~"renal" x18 ...),
        * 1<->2 / 2<->2 phrase pairs at ``phrase_min_count``
          ("csf"~"cerebrospinal fluid", "hallux"~"big toe",
          "deafness"~"hearing loss", "mandible"~"jaw lower" ...).

        The reference resolves such synonymy with its trained CNN/BERT
        stages (model.py:359-432); those weights are missing blobs, but
        the shipped surface forms carry the same signal — no external
        data involved. Pairs are DIRECT edges (no transitive closure):
        each dictionary variant applies a single mined swap, so
        "abnormality"~"anomaly" and "anomaly"~"malformation" never
        chain into unmined combinations.
        """
        from collections import Counter

        from .functions.normalize import is_num, lemma, simplify_tokens

        def mine(simplify: bool, want_pair: bool) -> Counter:
            counts: Counter = Counter()
            for surfaces in self.surfaces.values():
                bags: list[frozenset[str]] = []
                seen: set[frozenset[str]] = set()
                for s in surfaces:
                    toks = process_str(s)
                    if simplify:
                        toks = simplify_tokens(toks)
                    bag = frozenset(lemma(t) for t in toks)
                    if bag and bag not in seen:
                        seen.add(bag)
                        bags.append(bag)
                for i in range(len(bags)):
                    for j in range(i + 1, len(bags)):
                        da, db = bags[i] - bags[j], bags[j] - bags[i]
                        is_pair = len(da) == 1 and len(db) == 1
                        if (
                            is_pair == want_pair
                            and 1 <= len(da) <= 2
                            and 1 <= len(db) <= 2
                            and all(
                                len(t) >= 3 and "/" not in t and not is_num(t)
                                for t in set(da) | set(db)
                            )
                        ):
                            counts[
                                tuple(
                                    sorted((da, db), key=lambda s: tuple(sorted(s)))
                                )
                            ] += 1
            return counts

        out: list[tuple[frozenset[str], frozenset[str]]] = []
        # 1<->1 pairs mined on RAW lemma bags (stopwords kept): the
        # stricter bag identity keeps the pair set conservative —
        # measured +1.4 precision on val vs simplified-bag mining.
        for (a, b), n in mine(simplify=False, want_pair=True).items():
            if n >= min_count:
                out.append((a, b))
                out.append((b, a))
        # phrase (1<->2 / 2<->2) pairs need the simplified space: the
        # extra stopword tokens otherwise push every diff over 2 tokens.
        if phrase_min_count is not None:
            for (a, b), n in mine(simplify=True, want_pair=False).items():
                if n >= phrase_min_count:
                    out.append((a, b))
                    out.append((b, a))
        return out

    @_memoized
    def head_vocab(self) -> frozenset[str]:
        """Specific phenotype HEAD tokens: dictionary tokens appearing
        in at most ``HEAD_MAX_DF`` concepts. Low concept-frequency marks
        a specific head ("ataxia" df=14, "cataract" df=43) vs a generic
        modifier ("abnormality" df=1186, "increased" df=739). The
        drop-one dictionary tier elides only non-head tokens."""
        tok2c: dict[str, set[str]] = {}
        for key, hpo in list(self.phrase2hpo.items()) + list(self.simple2hpo.items()):
            for t in key.split():
                tok2c.setdefault(t, set()).add(hpo)
        return frozenset(t for t, cs in tok2c.items() if len(cs) <= HEAD_MAX_DF)

    @_memoized
    def prune_vocab(
        self,
        syn_min_count: int | None = None,
        syn_phrase_min_count: int | None = None,
    ) -> "PruneVocab":
        """Exact candidate-pruning predicate, read off the rows of the
        dictionary built with the same synonym tiers: ``base`` holds the
        tokens of its lemma-space keys (every prio but 2), ``stems``
        those of its stem keys (prio 2). A candidate meets a row only
        through its key, lemma key or stem key, so a k-mer with a token
        t where t, lemma(t) are not in ``base`` and stem(t) is not in
        ``stems`` is a provable miss. The drop-one rows (prio 4) add no
        token: theirs are lemma folds of base-key tokens, which the
        folded-lemma rows already carry."""
        rows = self._dict_rows(syn_min_count, syn_phrase_min_count, False)
        return PruneVocab(
            frozenset(t for key, _, prio in rows if prio != 2 for t in key.split()),
            frozenset(t for key, _, prio in rows if prio == 2 for t in key.split()),
        )

    # -- Spark views ---------------------------------------------------------

    @_memoized
    def dict_df(
        self,
        spark: SparkSession,
        syn_min_count: int | None = None,
        syn_phrase_min_count: int | None = None,
        drop_one: bool = False,
    ) -> DataFrame:
        """The broadcast dictionary dimension for the J1 equi-join:
        :meth:`_dict_rows` as a local relation. Memoized per session
        (a DataFrame is a plan, safe to reuse within its session), so
        repeat calls skip the Arrow conversion."""
        return local_frame(
            spark,
            self._dict_rows(syn_min_count, syn_phrase_min_count, drop_one),
            DICT_SCHEMA,
        )

    @_memoized
    def linker(
        self,
        syn_min_count: int | None,
        syn_phrase_min_count: int | None,
        drop_one: bool,
    ) -> DictLinker:
        """The dictionary tiers of :meth:`_dict_rows` as the hash tables
        the candidate kernel (and ``api.link_phrases``) probes: the
        prio-3 tier with the synonym tier, the prio-4 tier with
        ``drop_one``."""
        return DictLinker(
            self._dict_rows(syn_min_count, syn_phrase_min_count, drop_one),
            has_syn_tier=syn_min_count is not None,
            has_drop_one=drop_one,
        )

    @_memoized
    def _dict_rows(
        self,
        syn_min_count: int | None,
        syn_phrase_min_count: int | None,
        drop_one: bool,
    ) -> list[tuple[str, str, int]]:
        """(key, hpo_id, prio) rows of the dictionary.

        One row per (key, prio); strict keys win over simplified keys,
        later insertions win within a priority class (dict-overwrite
        semantics of util.py:324-327).

        ``syn_min_count``: when set, adds prio-3 rows — combining-prefix
        splits and single-token synonym substitutions of every key in
        LEMMA space (probed by the candidates' existing lemma_key
        column), using pairs mined by :meth:`mined_substitutions`.
        Without it no tier probes prio 3 (``dict_link.active_tiers``),
        so no such row is built. Variants that collide with the
        existing lemma probe space are dropped; a variant several
        concepts generate goes to one of them (``unique_best``).
        """
        from .functions.normalize import lemma

        def lbag_key(toks: list[str]) -> str:
            return " ".join(sorted(lemma(t) for t in toks))

        def too_short(key: str) -> bool:
            # 1-2 char single-token keys are lowercased acronym synonyms
            # ('BO' bromhidrosis, 'MI', 'RA', 'CP'). Case information is
            # gone after normalization and the reference's NER sentence
            # gate (absent here) was what kept such keys from firing on
            # arbitrary prose/acronyms ('BO syndrome' = branchio-oto),
            # so they are pure FP sources — 4 keys dropped, measured
            # precision-positive on GSC+ with zero recall cost anywhere.
            return len(key) < 3 and " " not in key

        rows = []
        base: dict[str, str] = {}
        # source trust class per base key: 0 = strict key, 1 = simplified
        # key. Derived-variant collisions resolve by this class (below).
        base_prio: dict[str, int] = {}
        for key, hpo in self.phrase2hpo.items():
            if too_short(key):
                continue
            rows.append((key, hpo, 0))
            base[key] = hpo
            base_prio[key] = 0
        for key, hpo in self.simple2hpo.items():
            if key not in self.phrase2hpo and not too_short(key):
                rows.append((key, hpo, 1))
                base.setdefault(key, hpo)
                base_prio.setdefault(key, 1)

        def offer(
            variants: dict[str, dict[str, int]], variant: str, hpo: str, key: str
        ) -> None:
            """Record that base ``key`` of ``hpo`` generates ``variant``,
            keeping the best trust class among such keys."""
            slot = variants.setdefault(variant, {})
            slot[hpo] = min(slot.get(hpo, 9), base_prio[key])

        def unique_best(cands: dict[str, int]) -> str:
            """Resolve a derived-variant collision: the concept whose
            SOURCE key had the best (lowest) trust class wins (strict
            over simplified — the same ordering the probe tiers use); a
            residual tie breaks to the numerically smallest id.
            Rationale: near-duplicate concepts ("Limb abnormality"
            HP:0002813 vs "Abnormality of limbs" HP:0040064) generate
            the same variant ("limb malformation"); blanket
            ambiguity-dropping loses the mention entirely. The min-id
            tie-break is deterministic and era-consistent: HPO ids are
            assigned monotonically, so of two same-surface concepts the
            smaller id is the one annotators of any era could reference.
            No eval data involved."""
            best = min(cands.values())
            return min(h for h, p in cands.items() if p == best)
        # prio 2 is probed via the separate stem_key column — its key
        # space is independent of prio 0/1, so no cross-tier dedup
        for key, hpo in self.stem2hpo.items():
            if not too_short(key):
                rows.append((key, hpo, 2))
        # Folded-lemma rows (prio 1): the lemma probe compares the
        # candidate's lemma_key against RAW keys, which only works when
        # a key's tokens are already base forms. A key whose
        # lemma/orthography-folded bag differs ("bowed tibiae" ->
        # "bowed tibia") gets an explicit row so inflected or
        # British-spelled mentions meet it; ambiguous folds resolve by
        # unique_best.
        lemma_variants: dict[str, dict[str, int]] = {}
        for key, hpo in base.items():
            lk = lbag_key(key.split())
            if lk != key and lk not in base:
                offer(lemma_variants, lk, hpo, key)
        for lk, hpos in lemma_variants.items():
            rows.append((lk, unique_best(hpos), 1))
        lemma_space = set(base) | set(lemma_variants)
        # Prio 3, probed only with the synonym tier on: two families in
        # ONE collision dict, so a key both generate still gets one row.
        # Combining-form split variants: single-token Latin compounds
        # also written hyphenated/split in prose ("supraauricular sinus"
        # ~ "supra-auricular sinuses"), split on a pinned public
        # combining-prefix list.
        variants: dict[str, dict[str, int]] = {}
        if syn_min_count is not None:
            for key, hpo in base.items():
                toks = key.split()
                for i, t in enumerate(toks):
                    for p in COMBINING_PREFIXES:
                        if t.startswith(p) and len(t) - len(p) >= 4:
                            offer(
                                variants,
                                lbag_key(toks[:i] + [p, t[len(p):]] + toks[i + 1:]),
                                hpo,
                                key,
                            )
            subs = list(
                self.mined_substitutions(syn_min_count, syn_phrase_min_count)
            ) + SEED_SUBSTITUTIONS
            # trigger-token index: pair (A -> B) is only tried on keys
            # containing min(A), so variant generation is O(keys x
            # tokens-per-key x pairs-per-trigger), not O(keys x pairs)
            by_trigger: dict[str, list[tuple[frozenset, frozenset]]] = {}
            for a, b in subs:
                by_trigger.setdefault(min(a), []).append((a, b))
            for key, hpo in base.items():
                lbag = {lemma(t) for t in key.split()}
                for tok in lbag:
                    for a, b in by_trigger.get(tok, ()):
                        if a <= lbag:
                            offer(variants, " ".join(sorted((lbag - a) | b)), hpo, key)
        for v, hpos in variants.items():
            if v not in lemma_space:
                rows.append((v, unique_best(hpos), 3))
        if drop_one:
            # Drop-one fuzzy tier (prio 4): a mention that names a
            # concept with one dictionary token elided ("lacrimal
            # stenosis" ~ "lacrimal duct stenosis"). The reference's
            # trained BERT re-ranker accepts such near-matches
            # (model.py:359-432, threshold param3); this is the
            # deterministic dictionary-side analog. A variant must keep
            # a specific HEAD token (``head_vocab``) so generic
            # residues like "abnormality of" never match alone.
            heads = self.head_vocab()
            d1_variants: dict[str, dict[str, int]] = {}
            for key, hpo in base.items():
                toks = key.split()
                if not 4 <= len(toks) <= 6:
                    continue
                ltoks = [lemma(t) for t in toks]
                for i in range(len(ltoks)):
                    if ltoks[i] in heads:
                        continue  # only GENERIC tokens may be elided
                    rest = ltoks[:i] + ltoks[i + 1:]
                    if any(t in heads for t in rest):
                        offer(d1_variants, " ".join(sorted(rest)), hpo, key)
            for v, hpos in d1_variants.items():
                if v not in lemma_space:
                    rows.append((v, unique_best(hpos), 4))
        return rows

    def terms_df(self, spark: SparkSession) -> DataFrame:
        alt_by_canon: dict[str, list[str]] = {}
        for alt, canon in self.alt_ids.items():
            alt_by_canon.setdefault(canon, []).append(alt)
        rows = [
            (
                h,
                self.names[h],
                self.all_surfaces(h),
                sorted(alt_by_canon.get(h, [])),
                self.parents.get(h, []),
            )
            for h in sorted(self.names)
        ]
        return local_frame(spark, rows, TERMS_SCHEMA)

    def edges_df(self, spark: SparkSession) -> DataFrame:
        rows = [
            (child, parent)
            for child, ps in sorted(self.parents.items())
            for parent in ps
        ]
        return local_frame(spark, rows, EDGES_SCHEMA)


# HPO name-style separators that never survive prose tokenization (the
# document side maps punctuation to clause breaks, T3/T10), so a key
# built over them is unreachable: inversion commas ("Hypotonia, severe"),
# prefix colons ("EMG: chronic denervation signs"), and parenthetical
# glosses ("Absent toenails (anonychia)"). The reference keys these
# surfaces verbatim (util.py:324-327) and lets the trained CNN absorb
# the miss; without those weights the lexical tier must normalize them
# instead. Keys are sorted bags, so comma inversion costs nothing once
# the comma is gone. Slash is handled separately: in HPO names it means
# ALTERNATION ("Cleft lip/palate", "Renal hypoplasia/agenesis"), so
# merging both sides into one bag would out-span the correct
# conjunction-split matches ("cleft lip and palate" must stay
# lip + palate, not one lip-palate concept) — measured -7/+3 on GSC+.
# Instead each slash token expands to per-side variant surfaces that
# are only added where no key exists yet (never hijacking a concept's
# own name, e.g. "cleft palate" stays HP:0000175).
_PAREN_GLOSS_RE = re.compile(r"\s*\([^)]*\)")
_NAME_SEP_RE = re.compile(r"[,;:]")


def _clean_surface(phrase: str) -> str:
    cleaned = " ".join(_NAME_SEP_RE.sub(" ", _PAREN_GLOSS_RE.sub(" ", phrase)).split())
    # A gloss-only surface ("(anonychia)") would otherwise vanish.
    return cleaned or phrase


# Presence/degree alternations name GROUPING terms in HPO (the public
# "Aplasia/Hypoplasia of X" idiom): per-side variants of those surfaces
# hijack mentions that belong to the specific sibling concepts
# ("hypoplasia of the fibula" must not resolve to the A/H grouping term
# when "Hypoplastic fibula" is its own concept) — measured -1.2 F1 on
# val. Anatomical alternations ("Cleft lip/palate") have no such
# sibling shadow and stay expanded.
_SLASH_SKIP_SIDES = frozenset(
    {
        "aplasia", "hypoplasia", "aplastic", "hypoplastic", "agenesis",
        "absent", "absence", "underdeveloped",
    }
)


def _slash_variants(phrase: str, cap: int = 4) -> list[str]:
    """Alternation expansion of '/' tokens: "Pectus excavatum/carinatum"
    -> ["Pectus excavatum", "Pectus carinatum"]. Product capped; a token
    with an empty side ("/foo") keeps the non-empty side only; grouping
    idioms (_SLASH_SKIP_SIDES) are not expanded."""
    toks = phrase.split()
    variants = [[]]
    for t in toks:
        if "/" in t:
            sides = [s for s in t.split("/") if s]
            if any(s.lower() in _SLASH_SKIP_SIDES for s in sides):
                return []
            if not sides:
                continue
            variants = [v + [s] for v in variants for s in sides][:cap]
        else:
            variants = [v + [t] for v in variants]
    out = [" ".join(v) for v in variants if v]
    return out if len(out) > 1 else []


def _ingest_pairs(
    pairs: list[tuple[str, str]],
    layer1: dict[str, set[str]],
    parents: dict[str, list[str]],
    alt_ids: dict[str, str] | None = None,
) -> Ontology:
    names: dict[str, str] = {}
    surfaces: dict[str, list[str]] = {}
    phrase2hpo: dict[str, str] = {}
    simple2hpo: dict[str, str] = {}
    stem2hpo: dict[str, str] = {}
    slash_pairs: list[tuple[str, str]] = []
    for phrase, hpo in pairs:
        phrase = _clean_surface(phrase)
        if hpo not in names:
            names[hpo] = phrase.lower()
            surfaces[hpo] = []
        if phrase not in surfaces[hpo]:
            surfaces[hpo].append(phrase)
        toks = process_str(phrase)
        phrase2hpo[sorted_bag_key(toks)] = hpo
        simple = simplify_tokens(toks)
        if simple:
            simple2hpo[sorted_bag_key(simple)] = hpo
            stem2hpo[stem_key_of(simple)] = hpo
        if "/" in phrase:
            slash_pairs.extend((v, hpo) for v in _slash_variants(phrase))
    # Alternation variants never overwrite an existing key (see
    # _slash_variants note): applied after the full verbatim ingest so
    # every concept's own surfaces take precedence.
    variant_surfaces: dict[str, list[str]] = {}
    for phrase, hpo in slash_pairs:
        toks = process_str(phrase)
        phrase2hpo.setdefault(sorted_bag_key(toks), hpo)
        simple = simplify_tokens(toks)
        if simple:
            simple2hpo.setdefault(sorted_bag_key(simple), hpo)
            stem2hpo.setdefault(stem_key_of(simple), hpo)
        if phrase not in surfaces[hpo] and phrase not in variant_surfaces.get(
            hpo, []
        ):
            variant_surfaces.setdefault(hpo, []).append(phrase)
    depth = {ROOT: 0}
    for l1, members in layer1.items():
        depth[l1] = 1
        for m in members:
            depth.setdefault(m, 2)
    for h in names:
        depth.setdefault(h, 2)
    return Ontology(
        names=names,
        surfaces=surfaces,
        phrase2hpo=phrase2hpo,
        simple2hpo=simple2hpo,
        stem2hpo=stem2hpo,
        alt_ids=alt_ids or {},
        layer1=layer1,
        parents=parents,
        depth=depth,
        variant_surfaces=variant_surfaces,
    )


def reconstruct_alt_ids(
    onto: Ontology,
    root: str = REFERENCE_ROOT,
) -> dict[str, str]:
    """Partial reconstruction of the obsolete-id -> canonical-id map.

    The real alt-id map lives in the missing hpo.json blob
    (util.py:319-323, applied at eval_all.py:105-106); the shipped gold
    ``ann/`` files still witness it: a gold id ABSENT from the modern
    ontology is obsolete, and its mention surfaces name the modern
    concept. Rule: for each obsolete gold id, map every mention through
    the strict/simplified dictionary; if all resolvable mentions agree
    on exactly ONE modern id, emit ``obsolete -> modern``.

    Honesty bounds: only ids outside the modern ontology qualify (they
    can never score as TPs otherwise, so nothing is "fit" to the eval),
    and the mapping goes through the mention NAME via the dictionary —
    never through engine predictions. Ids whose mentions resolve to
    nothing (e.g. HP:0000006 "autosomal dominant", moved out of the
    phenotypic-abnormality subtree entirely) stay unmapped and remain
    filtered from both sides of the eval.
    """
    from collections import defaultdict

    from .corpus import parse_gold_rows

    from .functions.normalize import lemma

    base: dict[str, str] = dict(onto.phrase2hpo)
    for k, h in onto.simple2hpo.items():
        base.setdefault(k, h)
    lemma_space: dict[str, str] = {}
    for k, h in base.items():
        lemma_space.setdefault(" ".join(sorted(lemma(t) for t in k.split())), h)

    by_obsolete: dict[str, set[str]] = defaultdict(set)
    for ds in ("GSC+", "ID-68", "GeneReviews", "val"):
        ann_dir = os.path.join(root, "phenobert", "data", ds, "ann")
        if not os.path.isdir(ann_dir):
            continue
        for _, _, _, mention, hpo in parse_gold_rows(ds, root):
            if onto.canonical(hpo) not in onto.names:
                toks = process_str(mention)
                key = sorted_bag_key(toks)
                lkey = " ".join(sorted(lemma(t) for t in toks))
                modern = base.get(key) or base.get(lkey) or lemma_space.get(lkey)
                if modern is not None:
                    by_obsolete[hpo].add(modern)
    return {
        obsolete: next(iter(moderns))
        for obsolete, moderns in by_obsolete.items()
        if len(moderns) == 1
    }


def load_reference_ontology(root: str = REFERENCE_ROOT) -> Ontology:
    """Rebuild the ontology from the reference's shipped TSVs (see module
    docstring). Raises FileNotFoundError if the checkout is absent —
    callers fall back to ``fixture_ontology``. Alt-ids are partially
    reconstructed from the gold witnesses (``reconstruct_alt_ids``)."""
    train = os.path.join(root, "phenobert", "models", "train.txt")
    src_dir = os.path.join(root, "phenobert", "models", "train_source")
    pairs: list[tuple[str, str]] = []
    with open(train, encoding="utf-8") as fh:
        for line in fh:
            parts = line.rstrip("\n").split("\t")
            if len(parts) == 2 and parts[1].startswith("HP:"):
                pairs.append((parts[0], parts[1]))

    layer1: dict[str, set[str]] = {}
    parents: dict[str, list[str]] = {}
    if os.path.isdir(src_dir):
        for i in range(len(os.listdir(src_dir))):
            path = os.path.join(src_dir, f"train_{i}.txt")
            if not os.path.exists(path):
                continue
            l1_id = f"HP:L1_{i:02d}"
            members: set[str] = set()
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    parts = line.rstrip("\n").split("\t")
                    if len(parts) == 2 and parts[1].startswith("HP:"):
                        members.add(parts[1])
            layer1[l1_id] = members
            parents[l1_id] = [ROOT]
            for m in members:
                parents.setdefault(m, []).append(l1_id)
    onto = _ingest_pairs(pairs, layer1, parents)
    onto.alt_ids.update(reconstruct_alt_ids(onto, root))
    return onto


def fixture_ontology() -> Ontology:
    """Small deterministic ontology for unit tests (FIXTURES.md §2):
    3 L1 subtrees, multi-parent node, alt-ids, multiword names with
    stopwords, synonym sets."""
    concepts = {
        # l1 A: neuro
        "HP:0001250": ["Seizure", "Seizures", "Epileptic seizure"],
        "HP:0001249": ["Intellectual disability", "Mental retardation"],
        "HP:0002315": ["Headache", "Headaches", "Cephalgia"],
        "HP:0001251": ["Ataxia", "Cerebellar ataxia"],
        # l1 B: skeletal
        "HP:0001156": ["Brachydactyly", "Short fingers and toes"],
        "HP:0001363": ["Craniosynostosis", "Premature fusion of skull bones"],
        "HP:0002650": ["Scoliosis", "Curvature of the spine"],
        # l1 C: growth
        "HP:0001510": ["Growth delay", "Delayed growth", "Growth deficiency"],
        "HP:0004322": ["Short stature", "Decreased body height", "Small stature"],
        "HP:0000002": ["Abnormality of body height"],
        # multi-parent (neuro + growth)
        "HP:0001531": ["Failure to thrive in infancy", "Faltering weight in infancy"],
    }
    l1 = {
        "HP:L1_NEURO": {"HP:0001250", "HP:0001249", "HP:0002315", "HP:0001251", "HP:0001531"},
        "HP:L1_SKEL": {"HP:0001156", "HP:0001363", "HP:0002650"},
        "HP:L1_GROWTH": {"HP:0001510", "HP:0004322", "HP:0000002", "HP:0001531"},
    }
    parents: dict[str, list[str]] = {k: [ROOT] for k in l1}
    for l1_id, members in l1.items():
        for m in members:
            parents.setdefault(m, []).append(l1_id)
    # a deeper edge: seizure below intellectual-disability sibling chain
    parents["HP:0001251"].append("HP:0001250")
    pairs = [(s, h) for h in sorted(concepts) for s in concepts[h]]
    alt_ids = {"HP:0008056": "HP:0001250", "HP:0001267": "HP:0001251"}
    return _ingest_pairs(pairs, l1, parents, alt_ids)


def get_ontology() -> Ontology:
    """The reference ontology, or the fixture one where the reference
    checkout is absent."""
    try:
        return load_reference_ontology()
    except (FileNotFoundError, NotADirectoryError):
        return fixture_ontology()
