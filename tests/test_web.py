import pytest

from phenobert_spark.operators.web import canonicalize_urls


def _canon(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return {
        r.url: (r.scheme, r.host, r.reg_domain, r.canon_url)
        for r in canonicalize_urls(df).collect()
    }


def test_canonicalize_core_rules(spark):
    got = _canon(
        spark,
        [
            # case, www, default port, tracking params, unsorted
            # query, fragment — all collapse to one canonical key
            "HTTP://WWW.Example.COM:80/a?utm_source=x&b=2&a=1#frag",
            "http://example.com/a?a=1&b=2",
            # https keeps :80 (non-default), drops :443
            "https://example.com:80/a",
            "https://example.com:443/a",
            # empty path -> '/'; trailing host dot stripped
            "https://Example.com.",
            # non-default port kept; path case preserved
            "http://h.example.com:8080/Docs/X",
            # every param is tracking -> no '?' at all
            "http://example.com/p?utm_a=1&fbclid=z&ref=q",
        ],
    )
    assert got["HTTP://WWW.Example.COM:80/a?utm_source=x&b=2&a=1#frag"] == (
        "http", "example.com", "example.com", "http://example.com/a?a=1&b=2"
    )
    assert (
        got["http://example.com/a?a=1&b=2"][3]
        == "http://example.com/a?a=1&b=2"
    )
    assert got["https://example.com:80/a"][3] == "https://example.com:80/a"
    assert got["https://example.com:443/a"][3] == "https://example.com/a"
    assert got["https://Example.com."][3] == "https://example.com/"
    assert (
        got["http://h.example.com:8080/Docs/X"][3]
        == "http://h.example.com:8080/Docs/X"
    )
    assert got["http://h.example.com:8080/Docs/X"][2] == "example.com"
    assert got["http://example.com/p?utm_a=1&fbclid=z&ref=q"][3] == (
        "http://example.com/p"
    )


def test_canonicalize_malformed_and_single_label(spark):
    got = _canon(spark, ["not a url", "", "http://localhost:9000/x"])
    assert got["not a url"] == (None, None, None, None)
    assert got[""] == (None, None, None, None)
    # single-label host: reg_domain falls back to the host itself
    assert got["http://localhost:9000/x"] == (
        "http", "localhost", "localhost", "http://localhost:9000/x"
    )


def _bcubed_ref(rows):
    from collections import Counter

    gold = Counter(g for _, g, _ in rows)
    pred = Counter(p for _, _, p in rows)
    both = Counter((g, p) for _, g, p in rows)
    ps = [both[(g, p)] / pred[p] for _, g, p in rows]
    rs = [both[(g, p)] / gold[g] for _, g, p in rows]
    ap, ar = sum(ps) / len(ps), sum(rs) / len(rs)
    return ap, ar, 2 * ap * ar / (ap + ar)


def test_bcubed_matches_reference_and_extremes(spark):
    from phenobert_spark.operators.entity_resolution import bcubed_scores

    rows = [
        (1, "g1", "c1"), (2, "g1", "c1"), (3, "g1", "c2"),
        (4, "g2", "c2"), (5, "g2", "c2"), (6, "g3", "c3"),
    ]
    df = spark.createDataFrame(rows, "item bigint, gold string, pred string")
    r = bcubed_scores(df).collect()[0]
    ap, ar, f1 = _bcubed_ref(rows)
    assert r.n_items == 6
    assert abs(r.bcubed_precision - ap) < 1e-6
    assert abs(r.bcubed_recall - ar) < 1e-6
    assert abs(r.bcubed_f1 - f1) < 1e-6

    # perfect clustering -> all three are exactly 1.0
    perfect = spark.createDataFrame(
        [(i, g, g) for i, g, _ in rows], "item bigint, gold string, pred string"
    )
    p = bcubed_scores(perfect).collect()[0]
    assert (p.bcubed_precision, p.bcubed_recall, p.bcubed_f1) == (1.0, 1.0, 1.0)

    # one mega-cluster: precision collapses, recall is perfect
    mega = spark.createDataFrame(
        [(i, g, "all") for i, g, _ in rows], "item bigint, gold string, pred string"
    )
    m = bcubed_scores(mega).collect()[0]
    assert m.bcubed_recall == 1.0
    ap2, _, _ = _bcubed_ref([(i, g, "all") for i, g, _ in rows])
    assert abs(m.bcubed_precision - ap2) < 1e-6
