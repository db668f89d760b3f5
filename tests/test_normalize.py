"""Unit tests for normalization primitives (SURVEY.md §2.7 T1-T9)."""

from phenobert_spark.functions import normalize as N


def test_type_notation_regex():
    # T1: "B-12" -> "B12" only for UPPER-dash-digit (util.py:714 semantics)
    assert N.process_str("vitamin B-12 deficiency") == [
        "vitamin", "b12", "deficiency",
    ]
    assert N.process_str("x-12") == ["x", "12"]  # lowercase: no merge


def test_punct_to_space_and_lower():
    assert N.process_str("Short\tstature_with-deformity") == [
        "short", "stature", "with", "deformity",
    ]


def test_accent_fold_keeps_length():
    s = "café naïve"
    out = N.strip_accents_keep_len(s)
    assert out == "cafe naive"
    assert len(out) == len(s)


def test_is_num():
    assert N.is_num("3.5") and N.is_num("-2") and not N.is_num("b12")


def test_lemma_rules():
    assert N.lemma("seizures") == "seizure"
    assert N.lemma("anomalies") == "anomaly"
    assert N.lemma("branches") == "branch"
    assert N.lemma("glass") == "glass"
    assert N.lemma("status") == "status"


def test_lemma_irregular_plurals():
    assert N.lemma("nevi") == "nevus"
    assert N.lemma("phalanges") == "phalanx"
    assert N.lemma("vertebrae") == "vertebra"  # Latin -ae plural fold
    assert N.lemma("teeth") == "tooth"


def test_lemma_orthography_fold():
    # British -> American folds (both sides of the lemma join fold, so
    # consistency is the contract, not linguistic perfection)
    assert N.lemma("anaemia") == "anemia"
    assert N.lemma("haemorrhage") == "hemorrhage"
    assert N.lemma("oedema") == "edema"
    assert N.lemma("oesophagus") == "esophagus"
    assert N.lemma("diarrhoea") == "diarrhea"
    assert N.lemma("tumours") == "tumor"      # plural strip THEN fold
    assert N.lemma("behaviour") == "behavior"
    assert N.lemma("lachrymal") == "lacrimal"
    assert N.lemma("leucocytes") == "leukocyte"
    assert N.lemma("mineralisation") == "mineralization"
    # short/common English words are exempt
    assert N.lemma("hour") == "hour"
    assert N.lemma("shoe") == "shoe"
    assert N.lemma("toes") == "toe"


def test_sorted_bag_and_lemma_key():
    key = N.sorted_bag_key(["stature", "short"])
    assert key == "short stature"
    # lemma key lemmatizes WITHOUT re-sorting (util.py:416 composition)
    assert N.lemma_key_of("statures short") == "stature short"


def test_simplify_tokens():
    # num->word, stopwords and numerics dropped (util.py:239-252)
    assert N.simplify_tokens(["decrease", "in", "fetal", "movements"]) == [
        "decrease", "fetal", "movements",
    ]
    assert N.simplify_tokens(["2", "cysts"]) == ["two", "cysts"]
    assert N.simplify_tokens(["3.5", "cm"]) == ["cm"]


def test_normalize_text_keep_len():
    t = "Head-ache noted\nNo fever."
    out = N.normalize_text_keep_len(t)
    assert len(out) == len(t)
    # newline after a word char becomes a sentence break (util.py:889);
    # newline after punctuation is plain whitespace.
    assert out == "head ache noted.no fever."
    assert N.normalize_text_keep_len("done.\nNext") == "done. next"
