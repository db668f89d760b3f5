"""Corpus text-analysis operators (operators/text.py)."""

import pyspark.sql.functions as F
import pytest

from phenobert_spark.operators.text import corpus_filter, vocab_topk

ROWS = [
    (1, "the cat sat on the mat and the cat slept"),
    (2, "the dog ran to the park and the dog barked"),
    (3, "xzqw"),                                   # too short, no stopwords
    (4, "supercalifragilisticexpialidocious " * 6),  # long tokens, no stopwords
]


def test_corpus_filter_reasons(spark):
    d = spark.createDataFrame(ROWS, "doc_id bigint, text string")
    got = {
        r.doc_id: (r.keep, list(r.drop_reasons))
        for r in corpus_filter(d).collect()
    }
    assert got[1] == (True, [])
    assert got[2] == (True, [])
    assert got[3] == (False, ["low_stopword_ratio", "too_short"])
    assert set(got[4][1]) >= {"long_tokens", "low_stopword_ratio"}
    assert got[4][0] is False
    # reasons are sorted (deterministic audit artifact)
    for _, reasons in got.values():
        assert reasons == sorted(reasons)


def test_corpus_filter_is_narrow(spark):
    d = spark.createDataFrame(ROWS, "doc_id bigint, text string")
    plan = corpus_filter(d)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_vocab_topk_counts(spark):
    d = spark.createDataFrame(ROWS, "doc_id bigint, text string")
    got = [(r.token, r.tf, r.df) for r in vocab_topk(d, k=3).collect()]
    # tf=6 tie between doc 4's repeated token and 'the'; token asc
    assert got[0] == ("supercalifragilisticexpialidocious", 6, 1)
    assert got[1] == ("the", 6, 2)
    assert got[2] in (("and", 2, 2), ("cat", 2, 1), ("dog", 2, 1))
    tfs = [tf for _, tf, _ in got]
    assert tfs == sorted(tfs, reverse=True)


def test_corpus_filter_composes_with_streaming(spark, tmp_path):
    """corpus_filter is stateless Column arithmetic, so it drops into a
    readStream pipeline unchanged — batch and streaming results are
    row-identical."""
    src, out, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    df = spark.createDataFrame(ROWS, "doc_id bigint, text string")
    df.write.parquet(src)
    stream = spark.readStream.schema("doc_id bigint, text string").parquet(src)
    q = (
        corpus_filter(stream)
        .select("doc_id", "keep", "drop_reasons")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.doc_id, r.keep, tuple(r.drop_reasons))
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.doc_id, r.keep, tuple(r.drop_reasons))
        for r in corpus_filter(df)
        .select("doc_id", "keep", "drop_reasons")
        .collect()
    }
    assert got == want


def test_repetition_scores_hand_cases(spark):
    from phenobert_spark.operators.text import repetition_scores

    df = spark.createDataFrame(
        [
            (1, "a a a a"),
            (2, "x y x y x"),
            (3, "p q r s t p q r s t p q r s t"),
            (4, "hello"),
        ],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in repetition_scores(df).collect()}
    assert set(rows) == {1, 2, 3, 4}

    r1 = rows[1]  # 4 tokens, 1 type; all three 2-gram positions are "a a"
    assert (r1.n_tokens, r1.ttr, r1.top_word_frac) == (4, 0.25, 1.0)
    assert r1.top_ngram_frac == 1.0
    assert r1.dup_ngram_frac == 0.0  # no 5-gram positions

    r2 = rows[2]  # x3 y2; 2-grams: "x y" x2, "y x" x2 over 4 positions
    assert (r2.n_tokens, r2.ttr, r2.top_word_frac) == (5, 0.4, 0.6)
    assert r2.top_ngram_frac == 0.5
    assert r2.dup_ngram_frac == 0.0  # single 5-gram position, count 1

    r3 = rows[3]  # period-5 text: every 5-gram position duplicated
    assert r3.n_tokens == 15
    assert r3.dup_ngram_frac == 1.0
    assert abs(r3.top_ngram_frac - 3 / 14) < 1e-12  # "p q" x3 / 14 positions

    r4 = rows[4]  # single token: no gram positions at either width
    assert (r4.n_tokens, r4.ttr, r4.top_word_frac) == (1, 1.0, 1.0)
    assert r4.top_ngram_frac == 0.0 and r4.dup_ngram_frac == 0.0


def test_pmi_bigrams_hand_computed(spark):
    import math

    from phenobert_spark.operators.text import pmi_bigrams

    docs = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "a c a c a c")],
        "doc_id bigint, text string",
    )
    got = {
        (r.w1, r.w2): r
        for r in pmi_bigrams(docs, min_count=2).collect()
    }
    # unigrams: a=6, b=3, c=3, N_uni=12; bigrams per doc: 5 -> N_bi=10
    # counts: (a,b)=3 (b,a)=2 (a,c)=3 (c,a)=2
    assert got[("a", "b")].c_ab == 3
    assert got[("b", "a")].c_ab == 2

    def pmi(cab, c1, c2):
        return math.log((cab / 10) / ((c1 / 12) * (c2 / 12)))

    assert abs(got[("a", "b")].pmi - pmi(3, 6, 3)) < 1e-12
    assert abs(got[("c", "a")].pmi - pmi(2, 3, 6)) < 1e-12
    # min_count drops nothing here; raise it and the table shrinks
    assert pmi_bigrams(docs, min_count=3).count() == 2


def test_bigram_lm_scores_hand_computed(spark):
    """Two docs 'a b a' / 'a b': c(a,b)=2 c(b,a)=1, h(a)=2 h(b)=1,
    V=2, k=0.5 -> P(b|a)=2.5/3, P(a|b)=1.5/2."""
    import math

    from phenobert_spark.operators.text import bigram_lm_scores

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "a b")], "doc_id int, text string"
    )
    got = {
        r.doc_id: (r.n_bigrams, r.avg_nll)
        for r in bigram_lm_scores(docs, k=0.5).collect()
    }
    p_ab = 2.5 / 3
    p_ba = 1.5 / 2
    assert got[1][0] == 2
    assert got[1][1] == pytest.approx(
        -(math.log(p_ab) + math.log(p_ba)) / 2, abs=1e-12
    )
    assert got[2] == (1, pytest.approx(-math.log(p_ab), abs=1e-12))


def test_bigram_lm_scores_skips_single_token_docs(spark):
    from phenobert_spark.operators.text import bigram_lm_scores

    docs = spark.createDataFrame(
        [(1, "lonely"), (2, "two tokens")], "doc_id int, text string"
    )
    got = {r.doc_id for r in bigram_lm_scores(docs).collect()}
    assert got == {2}


def test_bpe_train_hand_computed(spark):
    """'low low lower': merges in order (l,o,3) (lo,w,3) (e,r,1)
    (low,er,1) — ties broken by ascending pair; early-stop when no
    adjacent pairs remain."""
    from phenobert_spark.operators.text import bpe_train

    docs = spark.createDataFrame(
        [(1, "low low"), (2, "lower")], "doc_id int, text string"
    )
    got = bpe_train(docs, n_merges=10)
    assert got == [
        (1, "l", "o", 3),
        (2, "lo", "w", 3),
        (3, "e", "r", 1),
        (4, "low", "er", 1),
    ]


def test_bpe_train_overlapping_pairs_merge_left_to_right(spark):
    """'aaa': pair (a,a) has count 2 but one merge pass produces
    [aa, a] (non-overlapping, left-to-right), so round 2 merges
    (aa, a) — the canonical BPE behavior."""
    from phenobert_spark.operators.text import bpe_train

    docs = spark.createDataFrame([(1, "aaa")], "doc_id int, text string")
    got = bpe_train(docs, n_merges=3)
    assert got == [(1, "a", "a", 2), (2, "aa", "a", 1)]


# ---------------------------------------------------------------------------
# dsir_importance
# ---------------------------------------------------------------------------

def _dsir_twin(doc_rows, target_texts, buckets=4096, s=1.0):
    """Pure-python re-derivation of the DSIR weight (same md5 feature
    hashing) for cross-checking the distributed version."""
    import hashlib
    import math
    import re as _re

    def grams(text):
        toks = [t for t in _re.split(r"\s+", text.strip().lower()) if t]
        return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % buckets

    tgt, raw = {}, {}
    for t in target_texts:
        for g in grams(t):
            b = bucket(g)
            tgt[b] = tgt.get(b, 0) + 1
    for _, t in doc_rows:
        for g in grams(t):
            b = bucket(g)
            raw[b] = raw.get(b, 0) + 1
    tt, tr = sum(tgt.values()), sum(raw.values())
    out = {}
    for did, t in doc_rows:
        gs = grams(t)
        if not gs:
            continue
        logw = sum(
            math.log((tgt.get(bucket(g), 0) + s) / (tt + s * buckets))
            - math.log((raw[bucket(g)] + s) / (tr + s * buckets))
            for g in gs
        )
        out[did] = (len(gs), logw)
    return out


def test_dsir_importance_matches_python_twin(spark):
    from phenobert_spark.operators.text import dsir_importance

    rows = [
        ("d1", "the cat sat on the mat"),
        ("d2", "stock market prices fell sharply today"),
        ("d3", "the cat chased the dog on the mat"),
        ("d4", "buy cheap pills online now click here"),
        ("d5", "a dog sat near the cat"),
    ]
    target = [r for r in rows if r[0] in ("d1", "d3", "d5")]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    tgt = spark.createDataFrame(target, "doc_id string, text string")
    got = {
        r.doc_id: (r.n_grams, r.logw)
        for r in dsir_importance(docs, tgt).collect()
    }
    want = _dsir_twin(rows, [t for _, t in target])
    assert set(got) == set(want)
    for did, (n, w) in want.items():
        assert got[did][0] == n
        assert got[did][1] == pytest.approx(w, abs=1e-9)
    # target-like docs outrank the spam doc under the target measure
    assert min(got[d][1] for d in ("d1", "d3", "d5")) > got["d4"][1]


def test_dsir_importance_empty_and_single_token_docs(spark):
    from phenobert_spark.operators.text import dsir_importance

    docs = spark.createDataFrame(
        [("e", ""), ("w", "word"), ("t", "two tokens")],
        "doc_id string, text string",
    )
    got = {
        r.doc_id: r.n_grams
        for r in dsir_importance(docs, docs.filter("doc_id = 'w'")).collect()
    }
    # empty doc contributes no grams and is omitted; "word" has one
    # unigram and no bigram; "two tokens" has 2 unigrams + 1 bigram
    assert got == {"w": 1, "t": 3}


def test_dsir_select_deterministic_and_target_biased(spark):
    from phenobert_spark.operators.text import dsir_importance, dsir_select

    tgt_vocab = "genome protein variant phenotype clinical allele"
    junk_vocab = "buy cheap click now free winner prize offer"
    rows = []
    for i in range(20):
        w = tgt_vocab.split()
        rows.append((f"t{i:02d}", " ".join(w[i % 3:] + w[: i % 3])))
    for i in range(20):
        w = junk_vocab.split()
        rows.append((f"j{i:02d}", " ".join(w[i % 4:] + w[: i % 4])))
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    target = docs.filter(F.col("doc_id").startswith("t")).limit(8)

    sel = dsir_select(docs, target, k=10)
    got = sorted(r.doc_id for r in sel.collect())
    assert len(got) == 10
    # deterministic: identical selection on a repartitioned rerun
    again = sorted(
        r.doc_id
        for r in dsir_select(docs.repartition(7), target, k=10).collect()
    )
    assert got == again
    # biased toward the target: selected mean logw above corpus mean
    allw = {r.doc_id: r.logw for r in dsir_importance(docs, target).collect()}
    sel_mean = sum(allw[d] for d in got) / len(got)
    corpus_mean = sum(allw.values()) / len(allw)
    assert sel_mean > corpus_mean
    # and the target-like half dominates the selection
    assert sum(d.startswith("t") for d in got) >= 7


def test_normalize_unicode_nfc_composes(spark):
    from phenobert_spark.operators.text import normalize_unicode

    rows = [(1, "Café"), (2, "Café"), (3, "plain"), (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.text_norm for r in normalize_unicode(df).collect()}
    assert out[1] == out[2] == "Café"
    assert out[3] == "plain" and out[4] is None


def test_normalize_unicode_nfkc_folds_compat(spark):
    from phenobert_spark.operators.text import normalize_unicode

    # NFKC folds the ligature and fullwidth forms; NFC does not
    rows = [(1, "ﬁle ａbc")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    nfkc = normalize_unicode(df, form="NFKC").collect()[0].text_norm
    nfc = normalize_unicode(df, form="NFC").collect()[0].text_norm
    assert nfkc == "file abc"
    assert nfc == "ﬁle ａbc"


def test_normalize_unicode_rejects_bad_form(spark):
    import pytest as _pytest

    from phenobert_spark.operators.text import normalize_unicode

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        normalize_unicode(df, form="NFX")


def test_script_profile_counts(spark):
    from phenobert_spark.operators.text import script_profile

    rows = [
        (1, "abc 12"),
        (2, "中文文本"),
        (3, "привет мир"),
        (4, "mix中ж1 !"),
        (5, "!!! ???"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in script_profile(df).collect()}
    r = got[1]
    assert (r.n_latin, r.n_digit, r.n_space, r.n_cjk) == (3, 2, 1, 0)
    assert r.dominant_script == "latin"
    assert got[2].n_cjk == 4 and got[2].dominant_script == "cjk"
    assert got[3].n_cyrillic == 9 and got[3].dominant_script == "cyrillic"
    r4 = got[4]
    assert (r4.n_latin, r4.n_cjk, r4.n_cyrillic, r4.n_digit) == (3, 1, 1, 1)
    assert r4.n_other == 1  # '!'
    assert r4.dominant_script == "latin"
    assert got[5].dominant_script == "none"
    assert got[5].n_other == 6


def test_script_profile_tie_priority(spark):
    from phenobert_spark.operators.text import script_profile

    df = spark.createDataFrame([(1, "a中"), (2, "中ж")], "doc_id long, text string")
    got = {r.doc_id: r.dominant_script for r in script_profile(df).collect()}
    assert got[1] == "latin"  # latin ties cjk -> latin wins
    assert got[2] == "cjk"    # cjk ties cyrillic -> cjk wins


def test_abbreviation_pairs_schwartz_hearst(spark):
    from phenobert_spark.operators.text import abbreviation_pairs

    rows = [
        (1, "defined by the Human Phenotype Ontology (HPO) project"),
        # shortest-suffix rule: only 'magnetic resonance imaging'
        (2, "scan with magnetic resonance imaging (MRI) today"),
        # inner char matching mid-word: deoxyribonucleic acid (DNA)
        (3, "strand of deoxyribonucleic acid (DNA)"),
        # no plausible long form -> no pair
        (4, "random text (XYZ)"),
        # parenthetical that is not an abbreviation (too long / spaces)
        (5, "some aside (this is a remark) here"),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.short_form): r.long_form
        for r in abbreviation_pairs(df).collect()
    }
    assert got[(1, "HPO")] == "Human Phenotype Ontology"
    assert got[(2, "MRI")] == "magnetic resonance imaging"
    assert got[(3, "DNA")] == "deoxyribonucleic acid"
    assert (4, "XYZ") not in got
    assert not any(d == 5 for d, _ in got)


def test_abbreviation_pairs_multiple_per_doc(spark):
    from phenobert_spark.operators.text import abbreviation_pairs

    df = spark.createDataFrame(
        [(1, "the World Health Organization (WHO) and the "
             "Human Phenotype Ontology (HPO) agree")],
        "doc_id long, text string",
    )
    got = {r.short_form: r.long_form for r in abbreviation_pairs(df).collect()}
    assert got == {
        "WHO": "World Health Organization",
        "HPO": "Human Phenotype Ontology",
    }
