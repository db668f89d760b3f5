"""Candidate phrase generation (SURVEY.md §2.8 UDTF; reference
phenobert/utils/util.py:875-1018 ``process_text2phrases``).

One Arrow-batched ``mapInPandas`` generator: document chunks in,
exploded candidate k-mers out. Pure token logic — no external NER.
The reference gates fallback segmentation on Stanza ``PROBLEM``
sentences (util.py:898-922); that model is unavailable and
nondeterministic, so this rebuild treats every sentence as gated-in and
relies on dictionary precision + thresholds (SURVEY.md §7.4 risk 2).

Pipeline per chunk (all offsets index the raw ``content``):

1. length-preserving normalization (lower, accent-fold, punct->space,
   newline->'.'),
2. span tokenization,
3. clause segmentation on spliter tokens (',' '.' ';' 'to' 'which' ...),
4. negation flagging (any cue word in the clause -> negated=True,
   util.py:946-954),
5. conjunction split on {and, or, /} + A+B elision recovery
   ("hands and feet anomalies" -> "hands anomalies", util.py:956-995),
6. simplification (num->word, drop stopwords/numbers, util.py:239-252),
7. k-mer enumeration, k<=10, singleton stopword/number k-mers dropped
   (util.py:999-1014),
8. dictionary keys: sorted-bag key + lemma fallback key (util.py:409-421),
9. optionally, dictionary linking in place: the k-mer's keys probe the
   broadcast tier tables (operators/dict_link.DictLinker), so the
   pipeline's Step 1 adds no join to the plan.

Scale: this is the dominant narrow stage. It runs after the skew
chunker (corpus.chunked), so per-task work is bounded by
chunk_target_bytes regardless of document-length skew; Arrow batch size
bounds Python-side memory.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..functions.normalize import (
    NEGATIVE_WORDS,
    NLTK_STOPWORDS,
    SPLITERS,
    is_num,
    lemma,
    lemma_key_of,
    stem_key_of,
    normalize_text_keep_len,
    simplify_tokens,
    sorted_bag_key,
    tokenize_with_offsets,
)

CONJUNCTIONS = frozenset({"and", "or", "/"})
# Conjunctions are handled in step 5 (split + A+B recovery). "to",
# "both" and "that" are spliters in the reference's fallback path only
# because its NER path keeps phrases like "failure to thrive",
# "dilation of both lateral ventricles", "homocysteine that was
# elevated" intact (util.py:898-917); with no NER here, splitting on
# them makes such gold mentions structurally unreachable (the
# tools/punkt_parity.py audit counts the divergence), so they stay
# stopwords (dropped by simplify) but not clause breaks.
CLAUSE_SPLITERS = SPLITERS - CONJUNCTIONS - {"to", "both", "that"}

CANDIDATES_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("start", IntegerType(), False),
        StructField("end", IntegerType(), False),
        StructField("mention", StringType(), False),
        StructField("key", StringType(), False),
        StructField("lemma_key", StringType(), False),
        StructField("stem_key", StringType(), False),
        StructField("n_tokens", IntegerType(), False),
        StructField("negated", BooleanType(), False),
        StructField("gappy", BooleanType(), False),
    ]
)
# candidates linked in the kernel (generate_candidates(linker_bc=))
LINKED_SCHEMA = StructType(
    CANDIDATES_SCHEMA.fields
    + [
        StructField("hpo_id", StringType(), True),
        StructField("score", DoubleType(), True),
    ]
)

_Tok = tuple[str, int, int]

# k-mer keys repeat heavily across documents (Zipfian phrases); derived
# keys are pure functions of the sorted-bag key, so memoize per worker.
_KEY_MEMO: dict[str, tuple[str, str]] = {}


def _derived_keys(key: str) -> tuple[str, str]:
    hit = _KEY_MEMO.get(key)
    if hit is not None:
        return hit
    toks = key.split()
    out = (lemma_key_of(key), stem_key_of(toks))
    if len(_KEY_MEMO) < 1_000_000:
        _KEY_MEMO[key] = out
    return out


# A '.' after these tokens is an abbreviation dot, not a sentence end
# (NLTK Punkt — the reference's sentence splitter, util.py:578-595 —
# learns these from its pretrained abbreviation lists; pinned subset
# for determinism). Text is lowercased by normalization.
_ABBREVIATIONS = frozenset(
    {
        "dr", "mr", "mrs", "ms", "prof", "vs", "etc", "fig", "figs",
        "al", "cf", "approx", "ca", "resp", "spp", "syn",
    }
)


def _clauses(tokens: list[_Tok]) -> list[list[_Tok]]:
    out: list[list[_Tok]] = []
    cur: list[_Tok] = []
    prev = ""
    for tok in tokens:
        if tok[0] == "." and prev in _ABBREVIATIONS:
            pass  # abbreviation dot: neither a break nor a token
        elif tok[0] in CLAUSE_SPLITERS:
            if cur:
                out.append(cur)
            cur = []
        else:
            cur.append(tok)
        prev = tok[0]
    if cur:
        out.append(cur)
    return out


def _conjunction_phrases(clause: list[_Tok]) -> list[list[_Tok]]:
    """Split a clause on conjunctions; when it splits into exactly two
    parts, also emit the A+B elision recovery (util.py:983-995)."""
    parts: list[list[_Tok]] = []
    cur: list[_Tok] = []
    for tok in clause:
        if tok[0] in CONJUNCTIONS:
            if cur:
                parts.append(cur)
            cur = []
        else:
            cur.append(tok)
    if cur:
        parts.append(cur)
    # each phrase is (tokens, junction): junction = index of the first
    # token that is NOT char-contiguous with its predecessor (a recovered
    # elision), or None for plain contiguous phrases.
    phrases: list[tuple[list[_Tok], int | None]] = [(p, None) for p in parts]
    if len(parts) == 2:
        a, b = parts
        if len(a) >= 1 and len(b) == 1:
            if len(a) > 1:
                phrases.append((a[:-1] + b, len(a) - 1))
        elif len(a) == 1 and len(b) >= 1:
            phrases.append((a + b[1:], 1))
    if len(parts) >= 2:
        # n-ary head distribution (engine extension beyond the
        # reference's 2-part rule): "axial and appendicular hypotonia"
        # -> "axial hypotonia"; the shared head noun of the LAST part is
        # appended to each earlier conjunct.
        head = parts[-1][-1]
        for p in parts[:-1]:
            if p and p[-1][0] != head[0]:
                phrases.append((p + [head], len(p)))
    return [(p, j) for p, j in phrases if p]


def candidates_of_text(
    text: str,
    chunk_start: int = 0,
    max_kmer_len: int = 10,
    vocab: frozenset[str] | set[str] | None = None,
) -> list[tuple[int, int, str, str, str, str, int, bool, bool]]:
    """Plain-Python core (unit-testable without Spark). Returns tuples
    (start, end, mention, key, lemma_key, stem_key, n_tokens, negated,
    gappy) with offsets shifted by ``chunk_start``.

    ``vocab``: optional dictionary vocabulary for EXACT candidate
    pruning — a k-mer whose sorted-bag key (or lemma key) could ever
    hit the dictionary must have every token t with t in vocab or
    lemma(t) in vocab; other k-mers are provably join misses, so
    skipping them changes nothing downstream of the dictionary path
    while cutting candidate volume ~20-50x (the dominant Arrow/join
    traffic at 100 TB scale). Pass None to over-generate (model-stage
    input, reference-faithful)."""
    norm = normalize_text_keep_len(text)
    tokens = tokenize_with_offsets(norm)
    seen: set[tuple[int, int, str]] = set()
    out: list[tuple[int, int, str, str, str, int, bool]] = []
    for clause in _clauses(tokens):
        for phrase, junction in _conjunction_phrases(clause):
            # negation granularity: per conjunction-free phrase — the
            # reference's fallback path splits on and/or BEFORE flagging
            # (util.py:946-954), so "headache and no ataxia" negates
            # only the ataxia side
            negated = any(t[0] in NEGATIVE_WORDS for t in phrase)
            simple: list[_Tok] = []
            simple_src: list[int] = []  # original phrase index per simple token
            for pi_idx, (t, s, e) in enumerate(phrase):
                repl = simplify_tokens([t])
                if repl:
                    simple.append((" ".join(repl), s, e))
                    simple_src.append(pi_idx)
            if not simple:
                continue
            whole = " ".join(t for t, _, _ in simple)
            if is_num(whole) or len(whole) <= 1:
                continue
            n = len(simple)
            if vocab is not None:
                elig = [
                    all(w in vocab or lemma(w) in vocab for w in t.split())
                    for t, _, _ in simple
                ]
            else:
                elig = None
            for i in range(n):
                if elig is not None and not elig[i]:
                    continue
                for j in range(min(max_kmer_len, n - i)):
                    if elig is not None and not elig[i + j]:
                        break
                    kmer = simple[i : i + j + 1]
                    if j == 0:
                        t0 = kmer[0][0]
                        if t0 in NLTK_STOPWORDS or is_num(t0):
                            continue
                    start = kmer[0][1]
                    end = kmer[-1][2]
                    toks = [t for t, _, _ in kmer]
                    key = sorted_bag_key(toks)
                    lemma_key, stem_key = _derived_keys(key)
                    gappy = (
                        junction is not None
                        and simple_src[i] < junction <= simple_src[i + j]
                    )
                    sig = (start, end, key)
                    if sig in seen:
                        continue
                    seen.add(sig)
                    out.append(
                        (
                            chunk_start + start,
                            chunk_start + end,
                            text[start:end],
                            key,
                            lemma_key,
                            stem_key,
                            len(toks),
                            negated,
                            gappy,
                        )
                    )
    return out


def generate_candidates(
    chunks: DataFrame,
    max_kmer_len: int = 10,
    vocab_bc=None,
    linker_bc=None,
    keep_misses: bool = False,
) -> DataFrame:
    """chunks(doc_id, chunk_id, chunk_start, chunk_text) -> candidates DF.

    ``vocab_bc``: optional ``sc.broadcast(frozenset)`` of dictionary
    vocabulary tokens for exact candidate pruning (see
    candidates_of_text).

    ``linker_bc``: optional broadcast ``dict_link.DictLinker``. With it
    each candidate is linked in place and the rows carry ``hpo_id`` and
    ``score`` (LINKED_SCHEMA): only the linked ones, plus, with
    ``keep_misses``, the unlinked ones with both null (the model
    stages' input)."""
    schema = CANDIDATES_SCHEMA if linker_bc is None else LINKED_SCHEMA
    cols = schema.fieldNames()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        vocab = vocab_bc.value if vocab_bc is not None else None
        link = linker_bc.value if linker_bc is not None else None
        miss = (None, None) if keep_misses else None
        for pdf in batches:
            rows: list[tuple] = []
            for doc_id, cstart, ctext in zip(
                pdf["doc_id"], pdf["chunk_start"], pdf["chunk_text"]
            ):
                for cand in candidates_of_text(
                    ctext,
                    int(cstart),
                    max_kmer_len=max_kmer_len,
                    vocab=vocab,
                ):
                    if link is None:
                        rows.append((doc_id, *cand))
                        continue
                    hit = link(*cand[3:6]) or miss  # key, lemma_key, stem_key
                    if hit is not None:
                        rows.append((doc_id, *cand, *hit))
            yield pd.DataFrame(rows, columns=cols)

    return chunks.select(
        "doc_id", "chunk_start", "chunk_text"
    ).mapInPandas(gen, schema)
