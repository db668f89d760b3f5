"""Corpus-level text analysis for training-data pipelines.

Reusable Column builders (JVM-side, no UDFs) behind the q13/q14/q15
contract queries, plus the two corpus-scale compositions every
LLM-data pipeline runs before training:

* :func:`corpus_filter` — quality gating with per-row audit REASONS
  (the keep/drop decision must be explainable and re-derivable months
  later; a bare ``filter()`` is not).
* :func:`vocab_topk` — corpus vocabulary with term and document
  frequencies (tokenizer training, OOV analysis, min_df pruning).

Scale notes: everything here is one narrow projection or one
aggregation keyed on the token. The token aggregation relies on
map-side partial aggregation — heavy-hitter skew ("the" appearing in
every partition) is absorbed by the combiner, so the shuffle carries
one row per (partition, token), never one per occurrence.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


QUALITY_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "on",
]


def whitespace_tokens(text: Column) -> Column:
    return F.split(F.lower(F.trim(text)), r"\s+")


def stopword_ratio(toks: Column) -> Column:
    stop = F.array(*[F.lit(s) for s in QUALITY_STOPWORDS])
    nstop = F.size(F.filter(toks, lambda x: F.array_contains(stop, x)))
    return nstop / F.size(toks).cast("double")


def corpus_filter(
    df: DataFrame,
) -> DataFrame:
    """Append ``keep`` (boolean) and ``drop_reasons`` (sorted array of
    failed-rule names, empty when kept) to every row.

    Deliberately NOT a filter: at 100 TB the drop set is itself an
    artifact (audited, sampled, re-thresholded without re-reading the
    corpus). Callers do ``.filter("keep")`` for the training view and
    keep the full frame for the audit view — one narrow pass either
    way, no UDFs, rules re-derivable in any SQL engine."""
    toks = whitespace_tokens(F.col("text"))
    n = F.size(toks)
    cpt = F.length(F.col("text")) / n.cast("double")
    ratio = stopword_ratio(toks)
    rules = [
        ("too_short", n < 5),
        ("too_long", n > 100_000),
        ("low_stopword_ratio", ratio < 0.05),
        ("long_tokens", cpt > 20.0),
    ]
    reasons = F.array_sort(
        F.filter(
            F.array(
                *[
                    F.when(cond, F.lit(name)).otherwise(F.lit(None))
                    for name, cond in rules
                ]
            ),
            lambda x: x.isNotNull(),
        )
    )
    return df.withColumn("drop_reasons", reasons).withColumn(
        "keep", F.size("drop_reasons") == 0
    )


def repetition_scores(
    df: DataFrame,
) -> DataFrame:
    """Within-document repetition signals — the Gopher-rules family
    (Rae et al. 2021 §A1.1): machine-generated and boilerplate text is
    flagged by how much of a document a few n-grams cover.

    Per doc: ``n_tokens`` · ``ttr`` (type/token ratio) ·
    ``top_word_frac`` (count of the most frequent token / n_tokens) ·
    ``top_ngram_frac`` (fraction of 2-gram positions taken by the
    single most frequent 2-gram) · ``dup_ngram_frac`` (fraction of
    5-gram positions whose gram occurs more than
    once in the doc). Position fractions are bounded in [0, 1] — the
    paper's character-coverage variant is not engine-portable (overlap
    handling differs); position coverage is, and ranks docs the same.

    Plan: one explode + two-level hash aggregate per gram size (the
    (doc, gram) combiner absorbs within-partition repeats), then
    doc-keyed joins — every shuffle is keyed on ``doc_id`` or
    (doc, gram); nothing is corpus-global, so the op scales linearly
    and the doc-keyed exchanges co-partition."""
    from .dedup import _token_ngrams

    doc = F.col("doc_id").alias("doc_id")
    uni = df.select(doc, F.explode(whitespace_tokens(F.col("text"))).alias("t"))
    ustats = (
        uni.groupBy("doc_id", "t")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count("*").cast("bigint").alias("n_types"),
            F.max("c").cast("bigint").alias("top_tok"),
        )
    )

    def gram_stats(w, suffix):
        g = df.select(
            doc, F.explode_outer(_token_ngrams(w)).alias("g")
        )
        live = F.col("g").isNotNull()
        return (
            g.groupBy("doc_id", "g")
            .agg(F.count("*").alias("c"))
            .groupBy("doc_id")
            .agg(
                F.sum(F.when(live, F.col("c")).otherwise(0))
                .cast("bigint")
                .alias(f"n_pos{suffix}"),
                F.max(F.when(live, F.col("c")).otherwise(0))
                .cast("bigint")
                .alias(f"top{suffix}"),
                F.sum(
                    F.when(live & (F.col("c") > 1), F.col("c")).otherwise(0)
                )
                .cast("bigint")
                .alias(f"dup{suffix}"),
            )
        )

    t = gram_stats(2, "_t")
    d = gram_stats(5, "_d")
    frac = lambda num, den: (num / F.greatest(den, F.lit(1)).cast("double"))
    return (
        ustats.join(t, on="doc_id")
        .join(d, on="doc_id")
        .select(
            "doc_id",
            "n_tokens",
            frac(F.col("n_types"), F.col("n_tokens")).alias("ttr"),
            frac(F.col("top_tok"), F.col("n_tokens")).alias("top_word_frac"),
            frac(F.col("top_t"), F.col("n_pos_t")).alias("top_ngram_frac"),
            frac(F.col("dup_d"), F.col("n_pos_d")).alias("dup_ngram_frac"),
        )
    )


def vocab_topk(
    df: DataFrame,
    k: int = 100,
) -> DataFrame:
    """Top-k corpus vocabulary: (token, tf, df) by descending term
    frequency, ties broken by token — deterministic.

    Plan: explode -> one hash aggregate on the token (count + distinct
    doc count via a two-level aggregate so the combiner still applies)
    -> global top-k. The distinct-doc count pre-aggregates on
    (token, doc) first — the wire carries each (token, doc) once, and
    the heavy-hitter token rows collapse map-side."""
    tok = (
        df.select(
            F.col("doc_id").alias("_doc"),
            F.explode(whitespace_tokens(F.col("text"))).alias("token"),
        )
        .groupBy("token", "_doc")
        .agg(F.count("*").alias("_n"))
    )
    agg = tok.groupBy("token").agg(
        F.sum("_n").cast("bigint").alias("tf"),
        F.count("*").cast("bigint").alias("df"),
    )
    return agg.orderBy(F.col("tf").desc(), F.col("token").asc()).limit(k)


def tfidf_vectors(
    df: DataFrame,
) -> DataFrame:
    """L2-normalized tf-idf document vectors as a SPARSE (doc, token,
    weight) table: w = tf(doc,t) * ln(N/df(t)), divided by the doc's
    L2 norm — the classic IR representation, emitted relationally so
    every downstream op is a join/aggregate instead of an array UDF.

    Plan: one (token, doc) aggregate for tf (combiner absorbs heavy
    hitters), one token-keyed aggregate for df, a token-keyed join to
    attach idf (vocab-sized side), then a doc-keyed window for the
    norm. The corpus total N rides along as a broadcast 1-row
    aggregate — no driver collect.
    """
    from pyspark.sql import Window

    tf = (
        df.select(
            F.col("doc_id").alias("doc_id"),
            F.explode(whitespace_tokens(F.col("text"))).alias("token"),
        )
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count("*").cast("double").alias("df"))
    total = df.select(F.col("doc_id")).distinct().agg(
        F.count("*").cast("double").alias("_n")
    )
    w = tf.join(dfreq, on="token").crossJoin(F.broadcast(total)).select(
        "doc_id",
        "token",
        (F.col("tf") * F.log(F.col("_n") / F.col("df"))).alias("w"),
    )
    norm = F.sqrt(F.sum(F.col("w") * F.col("w")).over(Window.partitionBy("doc_id")))
    return (
        w.withColumn("_norm", norm)
        # an idf-0-only doc (every token in every doc) has norm 0; its
        # vector is empty rather than NaN
        .filter(F.col("_norm") > 0)
        .select("doc_id", "token", (F.col("w") / F.col("_norm")).alias("w"))
    )


def sparse_cosine_pairs(
    vectors: DataFrame,
    threshold: float = 0.3,
    max_df_ratio: float = 0.5,
) -> DataFrame:
    """Document-pair cosine similarity >= threshold over sparse
    L2-normalized vectors (:func:`tfidf_vectors`) via the inverted
    index: cos(a,b) = sum over SHARED tokens of w_a*w_b, so the join
    key is the token and a pair is ever materialized only if the docs
    share one — never an all-pairs product.

    ``max_df_ratio`` drops tokens present in more than that fraction
    of docs FROM THE JOIN (not from the vectors/norms): stopword-grade
    tokens are precisely the quadratic-bucket keys at crawl scale, and
    their idf weight is precisely what contributes least to cosine.
    This makes the score a documented LOWER BOUND wrt the pruned
    tokens; set it to 1.0 for the exact product (the q112 oracle runs
    both sides with the identical cut, so the contract check stays
    value-exact either way).

    Returns (doc_a, doc_b, cos), doc_a < doc_b.
    """
    # referenced four times (both join sides, df-prune, N) — pin it so
    # the upstream tf-idf plan is derived once, not per branch
    vectors = vectors.localCheckpoint(eager=False)
    n_docs = F.broadcast(
        vectors.select("doc_id").distinct().agg(
            F.count("*").cast("double").alias("_n")
        )
    )
    tok_df = (
        vectors.groupBy("token")
        .agg(F.count("*").cast("double").alias("_df"))
        .crossJoin(n_docs)
        .filter(F.col("_df") <= F.col("_n") * F.lit(max_df_ratio))
        .select("token")
    )
    v = vectors.join(tok_df, on="token")
    a = v.select("token", F.col("doc_id").alias("doc_a"), F.col("w").alias("wa"))
    b = v.select("token", F.col("doc_id").alias("doc_b"), F.col("w").alias("wb"))
    return (
        a.join(b, on="token")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def pmi_bigrams(
    docs: DataFrame,
    min_count: int = 5,
) -> DataFrame:
    """Pointwise mutual information for adjacent-token bigrams:

        pmi(a, b) = ln( (c_ab / N_bi) / ((c_a / N_uni) * (c_b / N_uni)) )

    the standard collocation / multi-word-expression miner (Church &
    Hanks 1990) — the corpus-scale analog of the reference's phrase
    statistics mined for dictionary substitutions (ontology.py's
    mined_substitutions trusts co-variation counts; PMI is the same
    signal normalized for unigram frequency). ``min_count`` drops the
    unstable low-count tail, exactly the Gopher/C4-style guard.

    Returns (w1, w2, c_ab, pmi). Plan: ONE token pass builds both the
    bigram stream (arrays_zip of the shifted token array — no
    self-join of positions) and the unigram stream; two combinable
    keyed counts; corpus totals ride along as a broadcast 1-row
    aggregate. PMI's ln takes exact-integer-derived arguments, so the
    value is engine-reproducible (q132's oracle recomputes it)."""
    toks = whitespace_tokens(F.col("text"))
    n = F.size(toks)
    big = docs.select(
        F.explode(
            F.arrays_zip(
                F.slice(toks, 1, F.greatest(n - 1, F.lit(0))).alias("w1"),
                F.slice(toks, 2, F.greatest(n - 1, F.lit(0))).alias("w2"),
            )
        ).alias("b")
    ).select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    uni = docs.select(F.explode(toks).alias("w"))
    c_uni = uni.groupBy("w").agg(F.count("*").alias("c"))
    n_uni = uni.agg(F.count("*").cast("double").alias("_n_uni"))
    c_bi = big.groupBy("w1", "w2").agg(F.count("*").alias("c_ab"))
    n_bi = big.agg(F.count("*").cast("double").alias("_n_bi"))
    return (
        c_bi.filter(F.col("c_ab") >= min_count)
        # unigram counts are vocabulary-sized (can be billions of keys
        # on a web corpus): leave the join strategy to AQE instead of
        # forcing a broadcast; only the 1-row totals are broadcast.
        .join(
            c_uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "_c1"),
            on="w1",
        )
        .join(
            c_uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "_c2"),
            on="w2",
        )
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .select(
            "w1",
            "w2",
            F.col("c_ab").cast("bigint").alias("c_ab"),
            F.log(
                (F.col("c_ab").cast("double") / F.col("_n_bi"))
                / (
                    (F.col("_c1").cast("double") / F.col("_n_uni"))
                    * (F.col("_c2").cast("double") / F.col("_n_uni"))
                )
            ).alias("pmi"),
        )
    )


def dsir_importance(
    docs: DataFrame,
    target: DataFrame,
    buckets: int = 4096,
) -> DataFrame:
    """Hashed n-gram importance weights for data selection (DSIR —
    Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling"): score every raw-corpus doc by how much
    more likely its hashed unigram+bigram features are under the
    TARGET distribution (e.g. curated/wiki-like text) than under the
    raw corpus itself; resampling by these weights shifts a 10^12-doc
    crawl toward the target domain without training a classifier.

    Features are word unigrams and space-joined bigrams under the
    q13/q144 whitespace convention, hashed into ``buckets`` via the
    first 8 hex chars of md5 (cross-engine exact — same idiom as
    q119/q120). Both bag-of-bucket distributions are add-one
    estimated; a doc's log-weight is::

        logw(d) = sum_{g in grams(d)} ln p_target[b(g)] - ln p_raw[b(g)]

    Returns (id, n_grams, logw) for every doc with >= 1 token.

    Scale: gram extraction is a narrow projection; each distribution
    is one map-side-combinable aggregation that collapses to at most
    ``buckets`` rows (broadcastable at any corpus size — THE point of
    feature hashing here); scoring is a broadcast join of per-doc
    bucket counts onto the ratio table plus one keyed-by-doc sum. No
    UDFs, no driver collect.
    """
    B = int(buckets)

    def _grams(df: DataFrame) -> DataFrame:
        base = df.select(
            F.col("doc_id").alias("_id"),
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                lambda x: x != F.lit(""),
            ).alias("_toks"),
        )
        n1 = F.greatest(F.size("_toks") - F.lit(1), F.lit(0))
        big = F.zip_with(
            F.slice("_toks", 1, n1),
            F.slice(F.col("_toks"), F.lit(2), n1),
            lambda p, c: F.concat_ws(" ", p, c),
        )
        return base.select(
            "_id", F.explode(F.concat(F.col("_toks"), big)).alias("_gram")
        ).select(
            "_id",
            (
                F.conv(F.substring(F.md5("_gram"), 1, 8), 16, 10).cast("long")
                % F.lit(B)
            ).alias("_b"),
        )

    raw_grams = _grams(docs).localCheckpoint(eager=True)
    tgt_counts = (
        _grams(target).groupBy("_b").agg(F.count("*").cast("double").alias("_ct"))
    )
    raw_counts = raw_grams.groupBy("_b").agg(
        F.count("*").cast("double").alias("_cr")
    )
    # ratio table: <= B rows, dense over the buckets the raw corpus
    # touches (raw is the scored corpus, so every scored gram has a row)
    s = 1.0  # add-one smoothing
    # coalesce: a gram-less target degrades to the uniform (smoothing-
    # only) distribution instead of null-ing every weight
    tt = tgt_counts.agg(F.coalesce(F.sum("_ct"), F.lit(0.0)).alias("_tt"))
    tr = raw_counts.agg(F.coalesce(F.sum("_cr"), F.lit(0.0)).alias("_tr"))
    ratio = F.broadcast(
        raw_counts.join(tgt_counts, on="_b", how="left")
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(tr))
        .select(
            "_b",
            (
                F.log(
                    (F.coalesce("_ct", F.lit(0.0)) + F.lit(s))
                    / (F.col("_tt") + F.lit(s) * F.lit(float(B)))
                )
                - F.log(
                    (F.col("_cr") + F.lit(s))
                    / (F.col("_tr") + F.lit(s) * F.lit(float(B)))
                )
            ).alias("_lr"),
        )
    )
    doc_buckets = raw_grams.groupBy("_id", "_b").agg(
        F.count("*").cast("double").alias("_n")
    )
    return (
        doc_buckets.join(ratio, on="_b")
        .groupBy(F.col("_id").alias("doc_id"))
        .agg(
            F.sum("_n").cast("bigint").alias("n_grams"),
            F.sum(F.col("_n") * F.col("_lr")).alias("logw"),
        )
    )


def dsir_select(
    docs: DataFrame,
    target: DataFrame,
    k: int,
    buckets: int = 4096,
) -> DataFrame:
    """The full DSIR recipe in one call: score every raw doc with
    :func:`dsir_importance`, then importance-RESAMPLE ``k`` of them
    without replacement with inclusion probability ∝ the importance
    ratio exp(logw) — sampling, not top-k, is what keeps the selected
    set diverse instead of k near-copies of the target mode (Xie et
    al. 2023 §3). The draw reuses
    :func:`~..sampling.weighted_order_sample`'s deterministic
    md5-priority order sampling, so the SELECTED SET is a pure
    function of (corpus, target) — any engine, any partitioning,
    any day re-derives it, which is what a reproducible training-data
    release needs.

    Returns (id, logw, priority) for the k selected docs; semi-join it
    back onto the corpus for the content. Scale: dsir_importance's
    broadcast scoring plus one TakeOrdered top-k — no global sort.
    """
    from .sampling import weighted_order_sample

    w = dsir_importance(docs, target, buckets=buckets)
    return (
        weighted_order_sample(
            w.select("doc_id", "logw", F.exp("logw").alias("_w")), "_w", k
        )
        .select("doc_id", "logw", "priority")
    )


def bigram_lm_scores(
    docs: DataFrame,
    k: float = 0.5,
) -> DataFrame:
    """Per-document negative log-likelihood under an add-k-smoothed
    bigram language model TRAINED ON THE CORPUS ITSELF — the CCNet /
    Gopher-style perplexity quality signal (docs whose avg_nll is far
    above the corpus median are boilerplate, OCR noise, or wrong-
    language; far below are degenerate repetition). Tokenization is
    the q13/q112 whitespace convention (lower, trim, split on \\s+)
    so the DuckDB oracle (q144) counts identically.

    P(cur | prev) = (c(prev,cur) + k) / (c(prev) + k·V), with c(prev)
    the corpus count of ``prev`` as a bigram history and V the corpus
    distinct-token count. Returns (id, n_bigrams, avg_nll) for every
    doc with at least one bigram; single-token docs have no bigram
    evidence and are omitted (score them by length rules instead).

    Scale: three aggregations (bigram counts, history counts, V) and
    one re-join of the bigram stream onto its count tables — all
    keyed on token/bigram keys whose Zipf skew is absorbed by
    map-side partial aggregation; the final reduce is keyed by doc.
    No UDFs; the model "fit" IS the aggregate, so the same code
    trains on 10^12 docs.
    """
    toks = docs.select(
        F.col("doc_id").alias("_id"),
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("_toks"),
    ).localCheckpoint(eager=True)
    # adjacent-token pairs, fully JVM-side: zip the array against its
    # own 1-shifted slice — no posexplode self-join, no extra shuffle
    pairs = (
        toks.select(
            "_id",
            F.explode(
                F.zip_with(
                    F.slice("_toks", 1, F.size("_toks") - F.lit(1)),
                    F.expr("slice(_toks, 2, size(_toks) - 1)"),
                    lambda p, c: F.struct(p.alias("prev"), c.alias("cur")),
                )
            ).alias("_bg"),
        )
        .select("_id", "_bg.prev", "_bg.cur")
        .localCheckpoint(eager=True)
    )
    bc = pairs.groupBy("prev", "cur").agg(
        F.count("*").cast("double").alias("_c")
    )
    hc = pairs.groupBy("prev").agg(F.count("*").cast("double").alias("_h"))
    v = F.broadcast(
        toks.select(F.explode("_toks").alias("_tok"))
        .agg(F.countDistinct("_tok").cast("double").alias("_v"))
    )
    return (
        pairs.join(bc, on=["prev", "cur"])
        .join(hc, on="prev")
        .crossJoin(v)
        .groupBy(F.col("_id").alias("doc_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            (
                -F.avg(
                    F.log(
                        (F.col("_c") + F.lit(k))
                        / (F.col("_h") + F.lit(k) * F.col("_v"))
                    )
                )
            ).alias("avg_nll"),
        )
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int = 8,
) -> "list[tuple[int, str, str, int]]":
    """Byte-pair-encoding merge-table training (Sennrich 2016 /
    GPT-2 style) over the corpus — the tokenizer-training pass of an
    LLM data pipeline, run distributed. Words are the q13 whitespace
    convention (lower, trim, split \\s+); symbols start as single
    characters (no end-of-word marker — documented deviation, the
    merge dynamics are identical); each round merges the globally
    most frequent adjacent symbol pair, ties broken by (left, right)
    ascending so the result is a pure function of the corpus.
    Returns [(merge_rank, left, right, pair_count), ...]; stops early
    when no adjacent pair remains.

    Scale: the corpus is touched ONCE (word count aggregate); every
    round then runs on the WORD-TYPE table (vocabulary-sized, ~1e8
    rows at web scale — distributed, never collected), as one
    weighted pair count + a 1-ROW TakeOrdered argmax to the driver +
    one narrow array-fold rewrite (F.aggregate, JVM lambda — no
    Python in the loop). The per-round driver collect is one row by
    construction; ``localCheckpoint`` flattens the n_merges-deep
    lineage.
    """
    wt = (
        docs.select(
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("count"))
        .select(
            "count",
            F.expr("filter(split(word, ''), x -> x <> '')").alias("syms"),
        )
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        pairs = (
            wt.filter(F.size("syms") >= 2)
            .select(
                "count",
                F.explode(
                    F.zip_with(
                        F.slice("syms", 1, F.size("syms") - F.lit(1)),
                        F.expr("slice(syms, 2, size(syms) - 1)"),
                        lambda l, r: F.struct(l.alias("l"), r.alias("r")),
                    )
                ).alias("p"),
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("count").alias("cnt"))
        )
        top = pairs.orderBy(F.desc("cnt"), "l", "r").limit(1).collect()
        if not top:
            break
        left, right, cnt = top[0]["l"], top[0]["r"], int(top[0]["cnt"])
        merges.append((rank, left, right, cnt))
        lc, rc = F.lit(left), F.lit(right)
        fold = F.aggregate(
            F.slice("syms", 2, F.size("syms") - F.lit(1)),
            F.slice("syms", 1, 1),
            lambda acc, s: F.when(
                (F.element_at(acc, -1) == lc) & (s == rc),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - F.lit(1)),
                    F.array(F.lit(left + right)),
                ),
            ).otherwise(F.concat(acc, F.array(s))),
        )
        wt = wt.select(
            "count",
            F.when(F.size("syms") < 2, F.col("syms"))
            .otherwise(fold)
            .alias("syms"),
        ).localCheckpoint(eager=True)
    return merges


#: PII patterns, restricted to lookahead-free syntax so Java regex
#: (Spark) and RE2 (DuckDB) match identical spans — same discipline as
#: q13's BPE pre-tokenizer. Conservative by design: scrubbing favors recall,
#: and a '<EMAIL>'/'<IP>' token is cheap to a language model.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b(\d{1,3}\.){3}\d{1,3}\b"


def pii_redact(
    df: DataFrame,
) -> DataFrame:
    """Scrub emails and IPv4 addresses from a corpus before release —
    the standard pre-training privacy pass (CCNet/Dolma-style rule
    scrubbing; the model-scale alternative is out of sandbox scope).

    Returns (id, redacted, n_emails, n_ips): the scrubbed text plus
    per-row hit counts, so the release manifest can report how much
    PII was removed per shard and an anomalous spike (a leaked dump
    inside the crawl) is visible BEFORE training.

    Emails are redacted first: '<EMAIL>'/'<IP>' contain no '@' or
    digits, so the two passes cannot create new matches for each
    other and the composition is order-stable.

    Scale: one narrow projection — two regexp_count + two
    regexp_replace per row, whole-stage codegen, no UDF, no shuffle.
    At 10^12 docs this is a map-only pass that pipelines with the
    scan.
    """
    t = F.col("text")
    return df.select(
        F.col("doc_id"),
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"),
            PII_IPV4_RE,
            "<IP>",
        ).alias("redacted"),
        F.regexp_count(t, F.lit(PII_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(t, F.lit(PII_IPV4_RE)).alias("n_ips"),
    )


def normalize_unicode(
    df: DataFrame,
    text_col: str = "text",
    form: str = "NFC",
) -> DataFrame:
    """Unicode normalization (NFC/NFKC/NFD/NFKD) of a text column into
    ``text_norm`` —
    the hygiene pass a multilingual web corpus runs before ANY
    string-keyed operation: the same visible string in composed vs
    decomposed form (``é`` vs ``e``+U+0301) hashes, dedups, joins and
    tokenizes as two different keys until normalized. The JVM has no
    built-in normalizer Column, so this is a declared Python
    boundary: a vectorized Arrow ``pandas_udf`` (batch transfer, no
    per-row pickling) over ``unicodedata.normalize`` — map-only, no
    shuffle, the one stage shape where a pandas UDF's Arrow cost is
    a pure stream. Cross-engine exact: DuckDB's ``nfc_normalize``
    reproduces the NFC form byte-for-byte (q202).
    """
    from pyspark.sql.types import StringType, StructField, StructType

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form: {form}")
    if "text_norm" in df.columns:
        raise ValueError("output column already exists: text_norm")
    out_schema = StructType(
        df.schema.fields + [StructField("text_norm", StringType())]
    )

    def _norm(batches):
        import unicodedata

        for pdf in batches:
            pdf["text_norm"] = pdf[text_col].map(
                lambda x: None if x is None else unicodedata.normalize(form, x)
            )
            yield pdf

    return df.mapInPandas(_norm, out_schema)


def script_profile(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Per-document Unicode-script profile: counts of Latin / CJK
    (Han) / Cyrillic letters, digits, whitespace and other chars,
    plus a deterministic dominant script — the routing signal a
    multilingual 100-TB corpus needs BEFORE language-id (script
    gates which langid models even apply; CJK vs Latin decides the
    tokenizer family; mixed-script docs are a spam signal).

    Pure JVM Column algebra: each count is
    ``length(s) - length(regexp_replace(s, class, ''))`` over a
    Unicode script class — map-only, no shuffle, no UDF. Dominance
    ties break by fixed priority latin > cjk > cyrillic; documents
    with no letters at all profile as 'none'.
    """
    s = F.col(text_col)
    n = F.length(s)

    def strip_count(cls: str):
        return n - F.length(F.regexp_replace(s, cls, ""))

    lat = strip_count(r"\p{IsLatin}")
    cjk = strip_count(r"\p{IsHan}")
    cyr = strip_count(r"\p{IsCyrillic}")
    dig = strip_count(r"[0-9]")
    spc = strip_count(r"\s")
    dom = (
        F.when((lat == 0) & (cjk == 0) & (cyr == 0), "none")
        .when((lat >= cjk) & (lat >= cyr), "latin")
        .when(cjk >= cyr, "cjk")
        .otherwise("cyrillic")
    )
    return df.withColumns(
        {
            "n_chars": n.cast("long"),
            "n_latin": lat.cast("long"),
            "n_cjk": cjk.cast("long"),
            "n_cyrillic": cyr.cast("long"),
            "n_digit": dig.cast("long"),
            "n_space": spc.cast("long"),
            "n_other": (n - lat - cjk - cyr - dig - spc).cast("long"),
            "dominant_script": dom,
        }
    )


def abbreviation_pairs(
    df: DataFrame,
) -> DataFrame:
    """Schwartz-Hearst (PSB 2003) abbreviation-definition extraction:
    every ``long form (SF)`` occurrence yields the (short_form,
    long_form) pair whose long form is the SHORTEST word suffix
    before the parenthesis matching all short-form characters in
    order, with the first SF char starting a word. The alias-mining
    pass of biomedical KG construction — the reference's clinical
    corpora define abbreviations exactly this way, and the pairs
    feed the synonym tiers of dict_link.

    Boundaries of the simplification, documented: SF must be 2-10
    chars, alphanumeric with at least one letter; the candidate
    window is the standard min(|sf|+5, 2*|sf|) preceding words;
    nested parentheses are not recursed.

    Runs as an Arrow ``mapInPandas`` batch (the backward char-match
    is genuinely iterative, not Column algebra) — map-only, no
    shuffle; one output row per (doc, SF occurrence) that matched.
    """
    from pyspark.sql.types import (
        StringType,
        StructField,
        StructType,
    )
    import re as _re

    out_schema = StructType(
        [
            df.schema["doc_id"],
            StructField("short_form", StringType()),
            StructField("long_form", StringType()),
        ]
    )
    paren = _re.compile(r"\(([^()]{2,10})\)")

    def _match(sf: str, words: list[str]) -> str | None:
        # shortest word-suffix of `words` containing sf's chars in
        # order, with sf[0] starting the first word of the suffix
        chars = sf.lower()
        for start in range(len(words) - 1, -1, -1):
            cand = " ".join(words[start:])
            low = cand.lower()
            i = len(low) - 1
            ok = True
            for c in reversed(chars[1:]):
                while i >= 0 and low[i] != c:
                    i -= 1
                if i < 0:
                    ok = False
                    break
                i -= 1
            # i >= 0: position 0 must still be unconsumed — the
            # backward scan for chars[1:] may otherwise have eaten the
            # first character, letting one character satisfy two SF
            # letters (each SF char must match a distinct LF char per
            # Schwartz-Hearst).
            if ok and i >= 0 and low.startswith(chars[0]):
                return cand
        return None

    def gen(batches):
        for pdf in batches:
            out_ids, out_sf, out_lf = [], [], []
            for rid, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                for m in paren.finditer(text):
                    sf = m.group(1).strip()
                    if not (2 <= len(sf) <= 10) or not sf[0].isalpha():
                        continue
                    if not all(c.isalnum() or c in "-." for c in sf):
                        continue
                    prefix = text[: m.start()].rstrip()
                    words = prefix.split()
                    window = min(len(sf) + 5, 2 * len(sf))
                    lf = _match(sf, words[-window:]) if words else None
                    if lf:
                        out_ids.append(rid)
                        out_sf.append(sf)
                        out_lf.append(lf)
            import pandas as pd

            yield pd.DataFrame(
                {
                    "doc_id": out_ids,
                    "short_form": out_sf,
                    "long_form": out_lf,
                }
            )

    return df.select("doc_id", "text").mapInPandas(gen, out_schema)
