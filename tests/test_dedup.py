"""First-class dedup operators (operators/dedup.py)."""

import pyspark.sql.functions as F
import pytest

from phenobert_spark.operators.dedup import (
    hamming_neighbors,
    hamming_neighbors_banded,
    jaccard_pairs,
    jaccard_pairs_prefix,
    lsh_candidate_pairs,
    lsh_star_edges,
    minhash_signatures,
    simhash,
)

ROWS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),          # exact dup of 1
    (3, "the quick brown fox jumps over a lazy dog today"),      # near dup of 1
    (4, "completely different content about spark shuffles"),
    (5, "completely different content about spark shuffles"),    # exact dup of 4
    (6, "unrelated words entirely separate topic here now"),
]


def _docs(spark):
    return spark.createDataFrame(ROWS, "doc_id int, text string")


def test_minhash_identical_signatures(spark):
    sig = minhash_signatures(_docs(spark)).collect()
    by_id = {r.doc_id: (r.mh1, r.mh2, r.mh3, r.mh4) for r in sig}
    assert by_id[1] == by_id[2]           # identical text -> identical sig
    assert by_id[1] != by_id[6]
    shared = sum(a == b for a, b in zip(by_id[1], by_id[3]))
    assert shared >= 1                     # near dup shares some minhashes


def test_lsh_pairs_contain_duplicates(spark):
    pairs = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(minhash_signatures(_docs(spark))).collect()
    }
    assert (1, 2) in pairs and (4, 5) in pairs
    assert (1, 6) not in pairs and (4, 6) not in pairs


def test_simhash_and_hamming(spark):
    fp = simhash(_docs(spark), n_bits=16)
    vals = {r.doc_id: r.simhash for r in fp.collect()}
    assert vals[1] == vals[2]
    assert 0 <= vals[1] < (1 << 16)
    near = {
        (r.doc_a, r.doc_b): r.dist
        for r in hamming_neighbors(fp, max_dist=4).collect()
    }
    assert near[(1, 2)] == 0
    assert (1, 6) not in near


def test_jaccard_pairs(spark):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(_docs(spark), threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert 0.5 <= pairs[(1, 3)] < 1.0
    assert (1, 6) not in pairs


def _corpus(spark, n=80):
    """Deterministic word-set corpus with heavy vocabulary overlap so
    near-dup pairs exist at every threshold."""
    vocab = [f"w{i}" for i in range(30)]
    rows = [
        (i, " ".join(vocab[j % 30] for j in range(i, i + 12 + (i % 5))))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def _pairs(df):
    return sorted(tuple(r) for r in df.collect())


def test_hamming_banded_equals_bruteforce(spark):
    """Pigeonhole banding is exact: identical output to the O(n^2) twin."""
    fp = simhash(_corpus(spark), n_bits=16)
    for max_dist in (1, 2, 4):
        brute = _pairs(hamming_neighbors(fp, max_dist=max_dist))
        banded = _pairs(hamming_neighbors_banded(fp, max_dist=max_dist, n_bits=16))
        assert banded == brute and len(brute) > 0


def test_jaccard_prefix_equals_bruteforce(spark):
    """PPJoin prefix filter is exact: identical output to the O(n^2) twin."""
    d = _corpus(spark)
    for thr in (0.2, 0.5, 0.8):
        brute = _pairs(jaccard_pairs(d, threshold=thr))
        prefix = _pairs(jaccard_pairs_prefix(d, threshold=thr))
        assert prefix == brute and len(brute) > 0


def test_scale_paths_have_no_cross_join(spark):
    """The banded/prefix scale paths must plan as equi-joins — never a
    cartesian product or nested-loop join (the 10^12-doc criterion)."""
    fp = simhash(_corpus(spark), n_bits=16)
    for df in (
        hamming_neighbors_banded(fp, max_dist=2, n_bits=16),
        jaccard_pairs_prefix(_corpus(spark), threshold=0.2),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_default_63_bits(spark):
    """Library default is 63 bits; 16-bit fingerprints saturate (small
    distances between unrelated docs) while 63-bit ones stay far apart."""
    d = _docs(spark)
    fp63 = {r.doc_id: r.simhash for r in simhash(d).collect()}
    assert all(0 <= v < (1 << 63) for v in fp63.values())
    assert fp63[1] == fp63[2]  # identical text, identical fingerprint
    fp16 = {r.doc_id: r.simhash for r in simhash(d, n_bits=16).collect()}
    dist63 = bin(fp63[1] ^ fp63[6]).count("1")
    dist16 = bin(fp16[1] ^ fp16[6]).count("1")
    assert dist63 > dist16  # deterministic md5 -> stable pin
    assert dist63 >= 16     # unrelated docs are far apart at 63 bits


def test_cdc_chunks_tile_and_survive_insertion(spark):
    """Chunks tile each document exactly, and an insertion near the
    start only disturbs chunks up to the next boundary — the defining
    CDC property fixed-size blocking lacks."""
    import hashlib

    from phenobert_spark.operators.dedup import cdc_chunks

    base = (
        "The patient presented with recurrent seizures and delayed "
        "growth over several months of observation. Follow-up imaging "
        "demonstrated no structural abnormality of the brain. "
    ) * 6
    edited = "INSERTED TEXT. " + base
    docs = spark.createDataFrame(
        [(1, base), (2, edited)], "doc_id long, text string"
    )
    rows = cdc_chunks(docs, window=16).collect()
    by_doc = {1: [], 2: []}
    for r in rows:
        by_doc[r.doc_id].append(r)
    texts = {1: base, 2: edited}
    for did, cs in by_doc.items():
        cs.sort(key=lambda r: r.chunk_idx)
        pos = 1
        for c in cs:
            assert c.chunk_start == pos
            seg = texts[did][c.chunk_start - 1 : c.chunk_start - 1 + c.chunk_len]
            assert hashlib.md5(seg.encode()).hexdigest() == c.chunk_hash
            pos = c.chunk_start + c.chunk_len
        assert pos - 1 == len(texts[did])
    # boundary resync: most of the unedited document's chunk hashes
    # reappear in the edited one
    h1 = {c.chunk_hash for c in by_doc[1]}
    h2 = {c.chunk_hash for c in by_doc[2]}
    shared = len(h1 & h2) / len(h1)
    assert shared >= 0.7, f"only {shared:.0%} of chunks survived the insertion"


def test_connected_components_chain_and_singleton(spark):
    """A 5-node chain (diameter 4 — forces several propagation rounds),
    a separate 2-clique, and an edge-less singleton."""
    from phenobert_spark.operators.closure import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "src bigint, dst bigint"
    )
    nodes = spark.createDataFrame(
        [(n,) for n in [1, 2, 3, 4, 5, 10, 11, 99]], "node bigint"
    )
    got = {
        (r.node, r.component)
        for r in connected_components(edges, nodes=nodes).collect()
    }
    want = {(1, 1), (2, 1), (3, 1), (4, 1), (5, 1), (10, 10), (11, 10), (99, 99)}
    assert got == want


def test_connected_components_matches_bruteforce_on_lsh_pairs(spark):
    """Components over real near-dup candidate pairs == a driver-side
    union-find on the collected edges (small-n oracle)."""
    from phenobert_spark.operators.closure import connected_components

    d = spark.createDataFrame(ROWS, "doc_id bigint, text string")
    pairs = jaccard_pairs(d, threshold=0.2).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    got = {
        (r.node, r.component)
        for r in connected_components(pairs, nodes=d.select("doc_id")).collect()
    }

    parent = {r.doc_id: r.doc_id for r in d.select("doc_id").collect()}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs.collect():
        a, b = find(r.src), find(r.dst)
        if a != b:
            parent[max(a, b)] = min(a, b)
    want = {(n, find(n)) for n in parent}
    assert got == want


def test_dedup_corpus_job_end_to_end(spark, tmp_path):
    """jobs/dedup_corpus.py: pairs -> components -> one canonical doc
    per near-dup cluster, original columns preserved."""
    import sys

    sys.path.insert(0, "/root/repo")
    from jobs.dedup_corpus import main

    src = str(tmp_path / "docs")
    out = str(tmp_path / "out")
    spark.createDataFrame(ROWS, "doc_id bigint, text string").write.parquet(src)
    main(
        ["--input", src, "--output", out, "--keep-assignments"],
        spark=spark,
    )
    kept = spark.read.parquet(f"{out}/deduped")
    asg = {
        (r.doc_id, r.component)
        for r in spark.read.parquet(f"{out}/assignments").collect()
    }
    kept_ids = {r.doc_id for r in kept.collect()}
    # canonical = min id per component; every component keeps exactly one
    comps = {}
    for d, c in asg:
        comps.setdefault(c, set()).add(d)
    assert kept_ids == {min(m) for m in comps.values()}
    assert set(kept.columns) == {"doc_id", "text"}
    # docs 1,2,3 are (near-)dups of each other -> single survivor
    assert len({1, 2, 3} & kept_ids) == 1


def test_dup_ngram_stats_flags_shared_run(spark):
    """Docs sharing an 8-token run each get exactly that gram counted
    duplicated; a unique doc gets zero; n_grams = len - w + 1."""
    from phenobert_spark.operators.dedup import dup_ngram_stats

    shared = "a b c d e f g h"
    docs = spark.createDataFrame(
        [
            (1, f"p q r {shared} s t u"),
            (2, f"m n {shared} o"),
            (3, "entirely different tokens with no overlap at all here ok"),
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in dup_ngram_stats(docs, w=8).collect()}
    assert out[1].n_grams == 14 - 8 + 1 and out[2].n_grams == 11 - 8 + 1
    assert out[1].n_dup == 1 and out[2].n_dup == 1 and out[3].n_dup == 0
    assert out[1].dup_ratio == round(1 / 7, 4)


def test_dup_ngram_stats_short_doc(spark):
    from phenobert_spark.operators.dedup import dup_ngram_stats

    docs = spark.createDataFrame(
        [(1, "too short"), (2, "also short")], "doc_id bigint, text string"
    )
    out = {r.doc_id: r for r in dup_ngram_stats(docs, w=8).collect()}
    assert out[1].n_grams == 0 and out[1].n_dup == 0
    assert out[1].dup_ratio == 0.0


def test_winnow_shared_run_guarantee(spark):
    """Winnowing guarantee: any shared token run of >= k+window-1
    (= 8) tokens yields at least one shared fingerprint; disjoint
    token sets share none (fingerprints are md5 of literal grams)."""
    from phenobert_spark.operators.dedup import winnow_fingerprints

    shared = "v w x y z aa bb cc"  # 8 tokens = k + window - 1
    docs = spark.createDataFrame(
        [
            (1, f"one two three {shared} four five"),
            (2, f"alpha beta {shared} gamma delta epsilon"),
            (3, "totally disjoint vocabulary in this document right here"),
        ],
        "doc_id bigint, text string",
    )
    fp = winnow_fingerprints(docs, k=5, window=4).collect()
    by_doc = {}
    for r in fp:
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert by_doc[1] & by_doc[2], "shared 8-token run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])


def test_winnow_short_docs(spark):
    """<k tokens -> no fingerprints; k..k+window-2 tokens -> exactly
    the single global-min fingerprint."""
    from phenobert_spark.operators.dedup import winnow_fingerprints

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c d e f")], "doc_id bigint, text string"
    )
    fp = winnow_fingerprints(docs, k=5, window=4).collect()
    by_doc = {}
    for r in fp:
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert 1 not in by_doc
    assert len(by_doc[2]) == 1


def _driver_components(node_ids, edge_rows):
    """Driver-side union-find oracle: {(node, min-id component label)}."""
    parent = {n: n for n in node_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {(n, find(n)) for n in parent}


def test_lsh_star_edges_same_components_as_pair_clique(spark):
    """lsh_star_edges is the clustering-scale twin of
    lsh_candidate_pairs: O(n x bands) edges, IDENTICAL connected
    components. Checked on a corpus with a fat exact-dup bucket (where
    the clique goes quadratic), a near-dup pair, and singletons."""
    from phenobert_spark.operators.closure import connected_components

    rows = [(i, "mass duplicated crawl page boilerplate text") for i in range(1, 9)]
    rows += [
        (20, "the quick brown fox jumps over the lazy dog"),
        (21, "the quick brown fox jumps over the lazy dog"),
        (30, "a singleton document with entirely private words"),
        (31, "another loner nothing shared with anyone else at all"),
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    sig = minhash_signatures(d)
    nodes = [r.doc_id for r in d.select("doc_id").collect()]

    clique = _driver_components(
        nodes,
        [(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(sig).collect()],
    )
    star_edges = lsh_star_edges(sig)
    star = _driver_components(
        nodes, [(r.src, r.dst) for r in star_edges.collect()]
    )
    assert star == clique

    # distributed components over the star edges agree too
    got = {
        (r.node, r.component)
        for r in connected_components(
            star_edges, nodes=d.select("doc_id")
        ).collect()
    }
    assert got == clique

    # star contraction: the 8-doc exact-dup bucket contributes c-1=7
    # edges per band, never the clique's c(c-1)/2=28
    fat = [r for r in star_edges.collect() if r.src in range(1, 9)]
    assert len(fat) == 7


def test_star_components_equals_connected_components(spark):
    """Two-level star_components == one-level connected_components on
    star edges: same labels on a corpus with a fat dup bucket,
    chained buckets, and singletons."""
    from phenobert_spark.operators.closure import (
        connected_components,
        star_components,
    )

    rows = [(i, "mass duplicated crawl page boilerplate text") for i in range(1, 9)]
    rows += [
        (20, "the quick brown fox jumps over the lazy dog"),
        (21, "the quick brown fox jumps over the lazy dog"),
        (22, "the quick brown fox jumps over a lazy dog today"),
        (30, "a singleton document with entirely private words"),
        (31, "another loner nothing shared with anyone else at all"),
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    edges = lsh_star_edges(minhash_signatures(d))
    nodes = d.select("doc_id")
    want = {
        (r.node, r.component)
        for r in connected_components(edges, nodes=nodes).collect()
    }
    got = {
        (r.node, r.component)
        for r in star_components(edges, nodes=nodes).collect()
    }
    assert got == want


def test_star_components_random_graphs(spark):
    """Randomized star graphs (reps = min of each synthetic bucket;
    docs shared across buckets chain them): label parity with
    connected_components and with a driver union-find."""
    import random

    from phenobert_spark.operators.closure import (
        connected_components,
        star_components,
    )

    rng = random.Random(42)
    for trial in range(3):
        n_docs = 40
        buckets = []
        pool = list(range(1, n_docs + 1))
        for _ in range(rng.randint(4, 10)):
            size = rng.randint(1, 6)
            buckets.append(rng.sample(pool, size))
        star = []
        for b in buckets:
            m = min(b)
            star.extend((m, x) for x in b if x != m)
        if not star:
            continue
        edges = spark.createDataFrame(star, "src bigint, dst bigint")
        nodes = spark.createDataFrame([(i,) for i in pool], "doc_id bigint")
        want = {
            (r.node, r.component)
            for r in connected_components(edges, nodes=nodes).collect()
        }
        # both the driver union-find path (default threshold) and the
        # distributed label-propagation path (threshold 0)
        for thr in (2_000_000, 0):
            got = {
                (r.node, r.component)
                for r in star_components(
                    edges, nodes=nodes, driver_threshold=thr
                ).collect()
            }
            assert got == want, f"trial {trial} thr {thr}"


def test_ngram_contamination_hand_case(spark):
    from phenobert_spark.operators.dedup import ngram_contamination

    leak = "alpha beta gamma delta epsilon zeta"          # 6 toks, w=4 -> 3 grams
    train = spark.createDataFrame(
        [
            (1, "intro text then " + leak + " and more trailing words"),
            (2, "completely clean training document nothing shared here"),
            (3, leak),                                     # full leak
        ],
        "doc_id bigint, text string",
    )
    test = spark.createDataFrame(
        [
            (100, leak + " with novel continuation tokens"),
            (101, "totally original test document zero overlap present"),
        ],
        "doc_id bigint, text string",
    )
    rows = {
        (r.test_doc, r.train_doc): (r.n_shared, r.test_grams, r.frac)
        for r in ngram_contamination(train, test, w=4).collect()
    }
    # doc 100 has 10 tokens -> 10-4+1 = 7 distinct grams; the 3 leak
    # grams appear in train docs 1 and 3
    assert rows[(100, 1)][0] == 3 and rows[(100, 3)][0] == 3
    assert rows[(100, 1)][1] == 7
    assert rows[(100, 1)][2] == pytest.approx(3 / 7)
    assert not any(t == 101 for t, _ in rows)
    assert not any(tr == 2 for _, tr in rows)


def test_ngram_contamination_train_df_cut_and_hash_twin(spark):
    from phenobert_spark.operators.dedup import ngram_contamination

    boiler = "standard header boilerplate appears in every train doc"
    train = spark.createDataFrame(
        [(i, boiler) for i in range(1, 6)],
        "doc_id bigint, text string",
    )
    test = spark.createDataFrame(
        [(100, boiler)], "doc_id bigint, text string"
    )
    # without a cut: 5 contaminated pairs; with max_train_df=3 the
    # ubiquitous grams vanish -> no pairs
    assert ngram_contamination(train, test, w=4).count() == 5
    assert (
        ngram_contamination(train, test, w=4, max_train_df=3).count() == 0
    )


def test_incremental_dedup_statuses_and_priority(spark):
    from phenobert_spark.operators.dedup import incremental_dedup_status

    text_a = "the quick brown fox jumps over the lazy dog today"
    # near-dup of text_a: one token changed -> shares minhash bands
    # often; craft instead an EXACT shingle-subset overlap by reusing
    # text_a verbatim for near-case via whitespace/case normalization
    text_a_norm = "  The QUICK brown fox jumps over the lazy dog today "
    text_b = "completely different content about spark catalyst plans"
    text_c = "yet another unrelated document mentioning ontologies"
    seen = spark.createDataFrame(
        [(1, text_a), (2, text_b)], "doc_id bigint, text string"
    )
    incoming = spark.createDataFrame(
        [
            (10, text_a_norm),  # exact dup of seen (normalized key)
            (11, text_c),       # new
            (12, text_c),       # exact dup within batch (first = 11)
            (13, text_b),       # exact dup of seen AND batch-unique
        ],
        "doc_id bigint, text string",
    )
    got = {
        r.doc_id: r.status
        for r in incremental_dedup_status(incoming, seen).collect()
    }
    assert got == {
        10: "exact_dup_seen",
        11: "new",
        12: "exact_dup_batch",
        13: "exact_dup_seen",
    }
    # snapshot docs are never classified — output covers incoming only
    assert set(got) == {10, 11, 12, 13}


def test_incremental_dedup_near_via_bands(spark):
    from phenobert_spark.operators.dedup import (
        incremental_dedup_status,
        minhash_signatures,
    )
    import pyspark.sql.functions as F

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    variant = base + " lambda"  # same prefix shingles -> likely band hit
    seen = spark.createDataFrame([(1, base)], "doc_id bigint, text string")
    inc = spark.createDataFrame(
        [(10, variant)], "doc_id bigint, text string"
    )
    # the status must agree with a direct band comparison (no false
    # assumption that the variant always collides)
    sigs = minhash_signatures(seen.unionByName(inc)).collect()
    by_id = {r.doc_id: r for r in sigs}
    b_seen = {
        ("0", by_id[1].mh1, by_id[1].mh2),
        ("1", by_id[1].mh3, by_id[1].mh4),
    }
    b_inc = {
        ("0", by_id[10].mh1, by_id[10].mh2),
        ("1", by_id[10].mh3, by_id[10].mh4),
    }
    expect = "near_dup_seen" if (b_seen & b_inc) else "new"
    (row,) = incremental_dedup_status(inc, seen).collect()
    assert row.status == expect
