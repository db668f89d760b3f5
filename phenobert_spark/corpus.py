"""Document sources and skew handling (SURVEY.md §2.1 S1, FIXTURES.md §1).

Input contract (north rule): an Iceberg table
``documents(repo, path, commit, lang, content)``. In the sandbox the
same rows come from parquet / in-memory fixtures; the schema and the
per-row invariant column ``doc_id = sha2(content, 256)`` are identical.

Skew handling: candidate generation cost is O(len(content)) with a long
tail (clinical notes vs whole books). A single giant row cannot be
split by ``repartition`` (row atomicity), so the engine *chunks* long
documents at sentence-safe boundaries BEFORE the candidate UDF and
re-aggregates afterwards. Chunks carry ``chunk_start`` so every emitted
span offset still indexes the original ``content``. Because the
candidate generator never crosses a clause spliter ('.', ';', newline —
functions/normalize.SPLITERS), splitting at those boundaries is
loss-free. This is the explicit skew-salting strategy the north rule
asks for: the shuffle key becomes (doc_id, chunk_id), bounded-size by
construction, so AQE never sees a straggler partition.
"""

from __future__ import annotations

import hashlib
import os
import random
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .config import REFERENCE_ROOT, local_frame

DOCUMENTS_SCHEMA = StructType(
    [
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("commit", StringType(), False),
        StructField("lang", StringType(), False),
        StructField("content", StringType(), False),
    ]
)

GOLD_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("start", IntegerType(), False),
        StructField("end", IntegerType(), False),
        StructField("mention", StringType(), False),
        StructField("hpo_id", StringType(), False),
    ]
)

# GSC+ gold row: "[348::362]\tHP_0003745 | sporadic cases"
# (reference: phenobert/utils/eval_all.py:93-97)
_GSC_RE = re.compile(r"^\[(\d+)::(\d+)\]\tHP_(\d+)\s*\|\s*(.*)$")


def with_doc_id(docs: DataFrame) -> DataFrame:
    """Attach the per-row invariant: doc_id = sha2(content, 256).

    ``content`` is never mutated anywhere in the engine — all normalized
    text lives in derived columns — so re-hashing at any stage
    reproduces doc_id exactly (BASELINE.json input_hint). Idempotent: a
    DataFrame that already carries doc_id passes through unchanged (so
    a caller that pre-hashed — e.g. the checkpointed materializer — is
    not re-hashed downstream).
    """
    if "doc_id" in docs.columns:
        return docs
    return docs.withColumn("doc_id", F.sha2(F.col("content"), 256))


def bucket_of(col: F.Column, n_buckets: int) -> F.Column:
    """The checkpoint bucket of a doc_id: the materializer's unit of
    resume and partitioned write. Every manifest on disk is keyed by
    this hash, so it never changes."""
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


CHUNK_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("chunk_id", IntegerType(), False),
        StructField("chunk_start", IntegerType(), False),
        StructField("chunk_text", StringType(), False),
    ]
)


def chunked(docs: DataFrame, target_bytes: int = 4096) -> DataFrame:
    """Split long documents into independent chunks at sentence-safe
    boundaries; output (doc_id, chunk_id, chunk_start, chunk_text).

    ONE scan of the input: a single Arrow-batched generator passes
    short documents through untouched (the overwhelming majority — one
    length check, no copying) and greedy-chunks the long tail in the
    same pass. The earlier two-branch form (``filter(len<=t)`` unioned
    with ``filter(len>t).mapInPandas``) scanned the source twice — a 2x
    read at 100 TB (VERDICT round 1, "What's wrong" #6). The candidate
    generator immediately downstream is itself mapInPandas, so content
    was crossing Arrow regardless; folding the passthrough here costs
    nothing extra and halves the scan volume.
    """

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            lens = pdf["content"].str.len()
            if (lens <= target_bytes).all():
                # vectorized passthrough: the common batch shape has no
                # long doc at all — no per-row Python loop
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "chunk_id": 0,
                        "chunk_start": 0,
                        "chunk_text": pdf["content"],
                    }
                )
                continue
            out = {"doc_id": [], "chunk_id": [], "chunk_start": [], "chunk_text": []}
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                if len(content) <= target_bytes:
                    out["doc_id"].append(doc_id)
                    out["chunk_id"].append(0)
                    out["chunk_start"].append(0)
                    out["chunk_text"].append(content)
                    continue
                for cid, (cstart, ctext) in enumerate(
                    split_sentence_safe(content, target_bytes)
                ):
                    out["doc_id"].append(doc_id)
                    out["chunk_id"].append(cid)
                    out["chunk_start"].append(cstart)
                    out["chunk_text"].append(ctext)
            yield pd.DataFrame(out)

    return docs.select("doc_id", "content").mapInPandas(gen, CHUNK_SCHEMA)


def split_sentence_safe(text: str, target: int) -> list[tuple[int, str]]:
    """Greedy chunker: cut at the last [.;\\n] boundary before ``target``
    bytes; hard-cut only if a single sentence exceeds 2x target."""
    out: list[tuple[int, str]] = []
    n = len(text)
    pos = 0
    while pos < n:
        if n - pos <= target:
            out.append((pos, text[pos:]))
            break
        window = text[pos : pos + target]
        cut = max(window.rfind("."), window.rfind(";"), window.rfind("\n"))
        if cut <= 0:
            # pathological sentence: extend to 2x target looking for a break
            window2 = text[pos : pos + 2 * target]
            cut = max(window2.rfind("."), window2.rfind(";"), window2.rfind("\n"))
            cut = cut if cut > 0 else min(2 * target, n - pos) - 1
        end = pos + cut + 1
        out.append((pos, text[pos:end]))
        pos = end
    return out


# ---------------------------------------------------------------------------
# Reference corpora (golden eval inputs) — data-only reads, no code reuse.
# ---------------------------------------------------------------------------

def load_reference_corpus(
    spark: SparkSession, dataset: str, root: str = REFERENCE_ROOT
) -> DataFrame:
    """Load GSC+/ID-68/GeneReviews/val corpus dirs into the documents
    schema (reference reads them file-per-doc at annotate.py:56-61)."""
    corpus_dir = os.path.join(root, "phenobert", "data", dataset, "corpus")
    rows = []
    for fname in sorted(os.listdir(corpus_dir)):
        with open(os.path.join(corpus_dir, fname), encoding="utf-8") as fh:
            rows.append((dataset, fname, "0" * 40, "en", fh.read()))
    return local_frame(spark, rows, DOCUMENTS_SCHEMA)


def parse_gold_rows(
    dataset: str, root: str = REFERENCE_ROOT
) -> list[tuple[str, int, int, str, str]]:
    """Driver-side gold parser: (fname, start, end, mention, hpo_id).

    Formats (eval_all.py:93-100): GSC+ ``[s::e]\\tHP_1234567 | mention``;
    ID-68 / GeneReviews / val ``start\\tend\\tmention\\tHP:id``.
    """
    ann_dir = os.path.join(root, "phenobert", "data", dataset, "ann")
    rows: list[tuple[str, int, int, str, str]] = []
    for fname in sorted(os.listdir(ann_dir)):
        with open(os.path.join(ann_dir, fname), encoding="utf-8") as fh:
            for line in fh:
                line = line.rstrip("\n")
                if not line:
                    continue
                m = _GSC_RE.match(line)
                if m:
                    rows.append(
                        (fname, int(m.group(1)), int(m.group(2)),
                         m.group(4), f"HP:{m.group(3)}")
                    )
                else:
                    parts = line.split("\t")
                    if len(parts) >= 4 and parts[3].startswith("HP:"):
                        rows.append(
                            (fname, int(parts[0]), int(parts[1]), parts[2], parts[3])
                        )
    return rows


def load_reference_gold(
    spark: SparkSession, dataset: str, root: str = REFERENCE_ROOT
) -> DataFrame:
    """Parse the shipped gold ``ann/`` dirs into gold_annotations rows,
    keyed by corpus file name (joinable to documents.path)."""
    return local_frame(spark, parse_gold_rows(dataset, root), GOLD_SCHEMA)


# ---------------------------------------------------------------------------
# Synthetic corpus (FIXTURES.md §1 synthesis rule) — deterministic, seeded.
# ---------------------------------------------------------------------------

_FILLER = (
    "patient clinic visit review history examination today report "
    "stable follow findings impression assessment plan noted presents"
).split()


def _clean_surfaces(ontology, hpo: str) -> list[str]:
    """Surface forms that survive candidate generation intact: no
    conjunction tokens (split by T14) and no negation cue words."""
    from .functions.normalize import NEGATIVE_WORDS

    bad = {"and", "or", "/"} | NEGATIVE_WORDS
    out = [
        s
        for s in ontology.all_surfaces(hpo)
        if not bad & set(s.lower().split())
    ]
    return out


def synthesize_corpus(
    spark: SparkSession,
    ontology,
    n_docs: int = 50,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic synthetic (documents, gold) pair.

    Sentences of filler tokens with HPO surface forms embedded at known
    offsets; negation contexts ("no X"); conjunction forms; and a x20
    long-document tail every 10th doc (skew exercise).
    Gold rows are emitted at insertion time with exact char offsets.
    """
    rng = random.Random(seed)
    hpos = [h for h in sorted(ontology.names) if _clean_surfaces(ontology, h)]
    doc_rows, gold_rows = [], []
    for d in range(n_docs):
        parts: list[str] = []
        pos = 0
        golds: list[tuple[int, int, str, str]] = []

        def emit(s: str) -> None:
            nonlocal pos
            parts.append(s)
            pos += len(s)

        n_sent = 4 * (20 if d % 10 == 0 and d > 0 else 1)
        for _ in range(n_sent):
            emit(" ".join(rng.choices(_FILLER, k=rng.randint(3, 8))) + " ")
            h = rng.choice(hpos)
            surface = rng.choice(_clean_surfaces(ontology, h)).lower()
            style = rng.random()
            if style < 0.15:
                emit("no ")  # negation context — excluded from gold
                start = pos
                emit(surface)
                golds.append((start, pos, surface, "NEG:" + h))
            elif style < 0.3 and len(_clean_surfaces(ontology, h)) > 1:
                start = pos
                emit(surface)
                golds.append((start, pos, surface, h))
                emit(" and ")
                h2 = rng.choice(hpos)
                s2 = _clean_surfaces(ontology, h2)[0].lower()
                start2 = pos
                emit(s2)
                golds.append((start2, pos, s2, h2))
            else:
                start = pos
                emit(surface)
                golds.append((start, pos, surface, h))
            emit(". ")
        content = "".join(parts)
        doc_id = hashlib.sha256(content.encode("utf-8")).hexdigest()
        doc_rows.append(("synth", f"doc_{d:05d}.txt", "0" * 40, "en", content))
        for s, e, m, h in golds:
            if not h.startswith("NEG:"):
                gold_rows.append((doc_id, s, e, m, h))
    docs = spark.createDataFrame(doc_rows, DOCUMENTS_SCHEMA)
    gold = spark.createDataFrame(gold_rows, GOLD_SCHEMA)
    return docs, gold
