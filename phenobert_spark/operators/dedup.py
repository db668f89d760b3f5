"""Deduplication operators for training-data pipelines (task brief:
first-class components alongside the KG operators).

All are pure DataFrame compositions (JVM-side, whole-stage codegen —
no UDFs), portable hashing via md5 so every operator has an exact
DuckDB oracle (plans/contract_queries q12/q16/q17/q18 call these
functions and the driver value-checks them):

* ``minhash_signatures`` — k seeded MinHashes over w-token shingles.
* ``lsh_candidate_pairs``— banding + bucket self-join (the scale path:
  only same-band pairs materialize, never the full cross-join).
* ``simhash``            — n-bit majority-vote fingerprint.
* ``hamming_neighbors_banded`` — pigeonhole bit-band equi-join (scale
  path for Hamming-radius pairs; exact superset, never a cross join).
* ``jaccard_pairs``      — token-set Jaccard above a threshold
  (brute-force oracle twin; O(n^2), small-n only).
* ``jaccard_pairs_prefix`` — exact PPJoin prefix-filtered similarity
  join (the Jaccard scale path; equi-join on rarest-first prefix
  tokens, identical output to the twin).

Scale notes: signatures/fingerprints are one narrow pass per document.
The LSH join shuffles on the band hash — at 10^12 docs the band key
spreads uniformly (md5), and near-dup clusters bound bucket sizes;
pathological buckets are handled by AQE skew-join splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._scale import fanout


def _shingles(text_col, w: int = 3):
    toks = F.split(F.lower(F.trim(text_col)), r"\s+")
    n = F.greatest(F.size(toks) - (w - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(toks, i, w), " "),
    )


def minhash_signatures(
    df: DataFrame,
    n_hashes: int = 4,
    shingle_w: int = 3,
) -> DataFrame:
    """(id, mh1..mhN): per-document MinHash signature, the q17
    DuckDB-oracle-portable family: ONE md5 per shingle, split into N
    disjoint 8-hex-char windows — each window is an independent 32-bit
    hash, so taking the per-window lexicographic min gives N
    independent minhashes with a quarter of the digest work of N
    seeded md5 calls. n_hashes <= 4.

    Plan shape: the md5 runs ONCE per shingle inside a single
    transform(); the struct-accumulator aggregate then only slices
    it. A per-seed ``array_min(transform(...))`` would re-tokenize and
    re-shingle the text per seed (lambdas block common-subexpression
    elimination).

    The input is fanned out to cluster parallelism first: the digest
    pass is pure per-row CPU, and a single-row-group parquet scan
    otherwise pins it to one task (measured q17 sf0.1: 3.63s -> 0.83s
    on local[32]; no-op when the scan is already parallel)."""
    df = fanout(df, "doc_id")
    sh = _shingles(F.col("text"), shingle_w)
    names = [f"mh{i+1}" for i in range(n_hashes)]
    if n_hashes > 4:
        raise ValueError("n_hashes <= 4 (one md5 split into 8-hex windows)")
    hs = F.transform(sh, F.md5)
    init = F.struct(*[F.lit("~").alias(n) for n in names])  # '~' > any hex

    def step(acc, h):
        return F.struct(
            *[
                F.least(acc[n], F.substring(h, 1 + 8 * i, 8)).alias(n)
                for i, n in enumerate(names)
            ]
        )

    agg = F.aggregate(hs, init, step)
    return df.select(
        F.col("doc_id").alias("doc_id"), *[agg[n].alias(n) for n in names]
    )


def _bands_and_signatures(
    signatures: DataFrame,
) -> tuple[list[list[str]], DataFrame]:
    """The bands, the mh* signature columns split in two halves (one
    band for a single column), and the signatures, checkpointed so
    that the per-band branches do not re-derive them."""
    sig_cols = [c for c in signatures.columns if c.startswith("mh")]
    half = max(len(sig_cols) // 2, 1)
    bands = [sig_cols[:half], sig_cols[half:] or sig_cols[:half]]
    return bands, signatures.localCheckpoint(eager=False)


def lsh_candidate_pairs(signatures: DataFrame) -> DataFrame:
    """Band the signature columns and self-join on band hash ->
    (doc_a < doc_b) near-duplicate candidate pairs."""
    bands, sig = _bands_and_signatures(signatures)
    banded = None
    for cols in bands:
        b = sig.select("doc_id", F.md5(F.concat(*cols)).alias("band"))
        banded = b if banded is None else banded.unionByName(b)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def lsh_star_edges(signatures: DataFrame) -> DataFrame:
    """Star-contracted LSH edges for CLUSTERING: every doc is linked to
    its band-bucket REPRESENTATIVE (the min doc_id in the bucket)
    instead of to every bucket-mate.

    A bucket of c docs produces c-1 edges, not c(c-1)/2 — same
    connected components as the pair clique (every bucket-mate reaches
    every other through the representative), so downstream
    ``connected_components`` labels are identical, but the edge table
    is O(n x bands) regardless of bucket skew. This is the 100-TB path
    for dedup CLUSTERING (a crawl's exact-duplicate buckets hold
    thousands of docs; the clique is quadratic in exactly those
    buckets). Use :func:`lsh_candidate_pairs` only when the pairs
    themselves are the product (e.g. to verify Jaccard per pair).

    Plan: one window-min per band over the bucket key + a filter — one
    shuffle per band, no self-join at all. Band keys are 8-byte
    xxhash64, not 32-byte md5 hex — the band shuffle is the
    corpus-sized wire cost here, and bucket equality only needs a
    collision-free key, not a stable hex digest (unlike
    lsh_candidate_pairs, whose md5 banding is pinned by the q17
    oracle). The band INDEX rides along as a separate 1-byte grouping
    column rather than being folded into the hash: buckets from
    different bands then live in disjoint keyspaces, so the birthday
    pool is per-band (n docs, not n x bands) and a 64-bit key holds
    its collision bound at ~10^10-doc scale instead of sharing one
    pool across every band.
    """
    bands, sig = _bands_and_signatures(signatures)
    banded = None
    for i, cols in enumerate(bands):
        b = sig.select(
            "doc_id",
            F.lit(i).cast("int").alias("band_idx"),
            F.xxhash64(*cols).alias("band"),
        )
        banded = b if banded is None else banded.unionByName(b)
    rep = F.min("doc_id").over(Window.partitionBy("band_idx", "band"))
    return (
        banded.select("doc_id", rep.alias("rep"))
        .filter(F.col("doc_id") != F.col("rep"))
        .select(F.col("rep").alias("src"), F.col("doc_id").alias("dst"))
        .distinct()
    )


def simhash(
    df: DataFrame,
    n_bits: int = 63,
    fan: bool = True,
) -> DataFrame:
    """(id, simhash BIGINT): per-bit majority vote over token md5 hex
    digits, expressed with aggregate() — zero explode.

    The library default is 63 bits (the widest that fits a signed
    BIGINT without touching the sign bit): 16 bits saturates quickly on
    short same-vocabulary documents (birthday collisions by ~500 docs —
    tests/test_dedup.py pins the saturation contrast). The oracle-checked
    contract query q18 passes n_bits=16 explicitly to keep its DuckDB
    twin small.

    ``fan=False`` skips the input fan-out (see minhash_signatures):
    simhash is a pure per-row map, so a consumer that prunes the
    fingerprint column (e.g. a bare count) would pay the repartition
    exchange for nothing. Pair-finding consumers (q36 banding) keep
    the default."""
    if fan:
        df = fanout(df, "doc_id")  # per-row CPU pass; see minhash_signatures
    hs = F.transform(F.split(F.lower(F.trim("text")), r"\s+"), F.md5)
    out = df.select(F.col("doc_id").alias("doc_id"), hs.alias("_hs"))
    high = F.array([F.lit(c) for c in "89abcdef"])
    positions = F.sequence(F.lit(1), F.lit(n_bits))

    # ONE pass over the token-hash array: the accumulator is an
    # array<int> of n_bits majority counters, each token contributes
    # +/-1 per bit via zip_with (vote p = high hex digit at position p
    # of the token's md5). The per-bit formulation (n_bits separate
    # aggregate() traversals) costs ~n_bits x the array walks for the
    # same result — measured 4.7s -> 3.6s on sf0.1 documents at 63
    # bits with identical fingerprints (the shared md5 token hashing
    # dominates what remains).
    votes = F.aggregate(
        "_hs",
        F.transform(positions, lambda _: F.lit(0)),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                positions,
                lambda p: F.when(
                    F.array_contains(high, F.substring(h, p, F.lit(1))), 1
                ).otherwise(-1),
            ),
            lambda a, v: a + v,
        ),
    )
    # pack: bit p set iff counter p > 0
    weights = F.array(
        *[F.lit(1 << p).cast("bigint") for p in range(n_bits)]
    )
    fingerprint = F.aggregate(
        F.zip_with(
            votes,
            weights,
            lambda v, w: F.when(v > 0, w).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, w: acc + w,
    )
    return out.select("doc_id", fingerprint.alias("simhash"))


def hamming_neighbors(fingerprints: DataFrame, max_dist: int = 2) -> DataFrame:
    """SimHash pairs within a Hamming radius (bit_count of XOR).

    SMALL-N / ORACLE ONLY: this is an O(n^2) non-equi self-join kept as
    the brute-force twin for correctness checks. The scale path is
    ``hamming_neighbors_banded`` (equi-join, identical output)."""
    a = fingerprints.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa")
    )
    b = fingerprints.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb")
    )
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .withColumn("dist", F.bit_count(F.expr("sa ^ sb")))
        .filter(F.col("dist") <= max_dist)
        .select("doc_a", "doc_b", "dist")
    )


def hamming_neighbors_banded(
    fingerprints: DataFrame, max_dist: int = 2, n_bits: int = 16
) -> DataFrame:
    """Scale path for ``hamming_neighbors``: pigeonhole banding.

    Split the ``n_bits`` fingerprint into ``max_dist + 1`` contiguous
    bit-bands. Any pair within Hamming distance ``max_dist`` differs in
    at most ``max_dist`` bits, so by pigeonhole it agrees EXACTLY on at
    least one band -> equi-join on (band_idx, band_bits) is a guaranteed
    superset of the answer (exact, not probabilistic). Verify survivors
    with bit_count(sa ^ sb). One narrow explode per side, one shuffle on
    the band key; never a cross join — at 10^12 docs the O(n^2) form is
    impossible while this is a plain equi-join whose bucket sizes are
    bounded by fingerprint collisions (AQE skew-split handles heavy
    buckets).

    Output is identical to ``hamming_neighbors`` (pytest pins equality;
    contract q36 value-matches the all-pairs DuckDB oracle).
    """
    n_bands = max_dist + 1
    width = -(-n_bits // n_bands)  # ceil
    mask = (1 << width) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_idx"),
                F.shiftright(F.col("simhash"), i * width)
                .bitwiseAND(F.lit(mask))
                .alias("band_bits"),
            )
            for i in range(n_bands)
        ]
    )
    banded = fingerprints.select(
        "doc_id", "simhash", F.explode(bands).alias("b")
    ).select("doc_id", "simhash", "b.band_idx", "b.band_bits")
    a = banded.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("sa"),
        "band_idx",
        "band_bits",
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sb"),
        "band_idx",
        "band_bits",
    )
    return (
        a.join(b, ["band_idx", "band_bits"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sa", "sb")
        .distinct()  # a pair may collide on several bands
        .withColumn("dist", F.bit_count(F.expr("sa ^ sb")))
        .filter(F.col("dist") <= max_dist)
        .select("doc_a", "doc_b", "dist")
    )


def jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.2,
) -> DataFrame:
    """Token-set Jaccard pairs above ``threshold``.

    SMALL-N / ORACLE ONLY: O(n^2) non-equi self-join kept as the
    brute-force twin. The scale path is ``jaccard_pairs_prefix``
    (PPJoin-style prefix filter, identical output)."""
    toks = F.array_distinct(F.split(F.lower(F.trim("text")), r"\s+"))
    t = df.select(F.col("doc_id").alias("doc_id"), toks.alias("toks"))
    a = t.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"))
    b = t.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb")).cast("double")
    union = F.size("ta") + F.size("tb") - F.size(F.array_intersect("ta", "tb"))
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
    )


def jaccard_pairs_prefix(
    df: DataFrame,
    threshold: float = 0.2,
) -> DataFrame:
    """Scale path for ``jaccard_pairs``: exact prefix-filtered set
    similarity join (AllPairs/PPJoin family — Bayardo et al. WWW'07).

    Sort each document's token set by a global total order (ascending
    document frequency, ties by token — rarest first minimizes
    candidates). If Jaccard(a, b) >= t, then |a ∩ b| >= ceil(t * |a|),
    so a and b MUST share at least one token among each one's first
    ``|s| - ceil(t * |s|) + 1`` tokens: the candidate equi-join on
    prefix tokens is a guaranteed superset (exact, not probabilistic).
    Survivors are verified with the same intersect/union expression as
    the brute-force twin, so outputs are identical (contract q35
    value-matches the all-pairs DuckDB oracle).

    Shuffles: one agg for token frequencies, one window per doc for the
    prefix rank, one equi-join on token, two hash joins back to the
    token sets for verification. No cross join anywhere — this survives
    10^12 docs where the O(n^2) twin cannot. Frequent-token prefix
    buckets are bounded by the rarest-first order; AQE skew-split
    handles the residue. Epsilon guards on ceil()/length-filter only
    ever LENGTHEN the prefix (keeps the superset guarantee under
    floating-point rounding).
    """
    eps = 1e-9
    toks = F.array_distinct(F.split(F.lower(F.trim("text")), r"\s+"))
    t = df.select(F.col("doc_id").alias("doc_id"), toks.alias("toks"))
    exploded = t.select(
        "doc_id", F.size("toks").alias("sz"), F.explode("toks").alias("tok")
    )
    freq = exploded.groupBy("tok").agg(F.count("*").alias("df_cnt"))
    w = Window.partitionBy("doc_id").orderBy("df_cnt", "tok")
    prefix_len = F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz") - eps) + 1
    prefix = (
        exploded.join(freq, "tok")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= prefix_len)
        .select("doc_id", "sz", "tok")
    )
    a = prefix.select(
        F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza"), "tok"
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb"), "tok"
    )
    cand = (
        a.join(b, "tok")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            # length filter: J >= t forces t*|a| <= |b| and t*|b| <= |a|
            & (F.col("szb") >= F.lit(threshold) * F.col("sza") - eps)
            & (F.col("sza") >= F.lit(threshold) * F.col("szb") - eps)
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    ta = t.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"))
    tb = t.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb")).cast("double")
    union = F.size("ta") + F.size("tb") - F.size(F.array_intersect("ta", "tb"))
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
    )


def cdc_chunks(
    docs: DataFrame,
    window: int = 16,
) -> DataFrame:
    """Content-defined chunking (rolling-hash fingerprinting for
    SUB-document dedup): a position ends a chunk when the hash of the
    ``window``-char sequence ending there has a zero high nibble
    (P=1/16, expected chunk ~16+window chars) — so chunk boundaries
    survive insertions/deletions elsewhere in the document, unlike
    fixed-size blocks.

    Returns (id, chunk_idx, chunk_start, chunk_len, chunk_hash) — one
    narrow JVM-side pass (sequence/transform/filter higher-order
    functions + md5, whole-stage codegen; no UDF, no shuffle). md5 of
    the window is the deterministic, DuckDB-checkable stand-in for a
    production gear/buzhash rolling polynomial; the boundary RULE and
    plan shape are identical.
    """
    w = int(window)
    # documents shorter than one window have no interior boundary and
    # become a single whole-document chunk (the tail-append below)
    ends = F.expr(
        f"""CASE WHEN length(text) < {w} THEN CAST(array() AS ARRAY<INT>)
            ELSE filter(
              transform(sequence(1, length(text) - {w} + 1),
                        i -> CASE WHEN substr(md5(substring(text, i, {w})), 1, 1) = '0'
                                  THEN i + {w} - 1 END),
              x -> x IS NOT NULL) END"""
    )
    docs = docs.withColumn("_ends", ends).withColumn(
        "_ends",
        F.when(
            (F.size("_ends") == 0)
            | (F.element_at("_ends", -1) != F.length("text")),
            F.concat("_ends", F.array(F.length("text"))),
        ).otherwise(F.col("_ends")),
    )
    starts = F.expr(
        "transform(_ends, (e, i) -> CASE WHEN i = 0 THEN 1 ELSE _ends[i-1] + 1 END)"
    )
    chunks = F.expr(
        f"""transform(_starts, (s, i) ->
              struct(i AS chunk_idx, s AS chunk_start,
                     _ends[i] - s + 1 AS chunk_len,
                     md5(substring(text, s, _ends[i] - s + 1)) AS chunk_hash))"""
    )
    return (
        docs.withColumn("_starts", starts)
        .withColumn("_c", F.explode(chunks))
        .select(
            F.col("doc_id"),
            F.col("_c.chunk_idx").cast("bigint").alias("chunk_idx"),
            F.col("_c.chunk_start").cast("bigint").alias("chunk_start"),
            F.col("_c.chunk_len").cast("bigint").alias("chunk_len"),
            F.col("_c.chunk_hash").alias("chunk_hash"),
        )
        .filter(F.col("chunk_len") > 0)
    )


def _token_ngrams(w: int):
    """Per-row array of w-token n-gram STRINGS over the whitespace
    tokens of ``text`` (shorter docs get an empty array — Spark's
    ``sequence(1, 0)`` is DESCENDING, so the length guard is
    load-bearing)."""
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    return F.when(
        F.size(toks) >= w,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - w + 1),
            lambda i: F.array_join(F.slice(toks, i, w), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def dup_ngram_stats(
    docs: DataFrame,
    w: int = 8,
) -> DataFrame:
    """Exact duplicated-substring signal per document: for every doc,
    how many of its w-token n-gram positions occur in >= 2 DISTINCT
    documents — the corpus-level memorization/boilerplate
    measure behind substring-level training-data dedup (flag/trim docs
    whose dup_ratio is high instead of whole-doc near-dup matching).

    Returns (doc_id, n_grams, n_dup, dup_ratio).

    Plan: one (gram, doc) pre-aggregate (map-side combiner absorbs
    within-doc repeats), one gram-keyed distinct-doc count, one join
    back, one doc-keyed sum — every shuffle is keyed, nothing is
    O(n^2). Grams stay strings so DuckDB re-derives values exactly
    (q106)."""
    grams = _token_ngrams(int(w))
    g = docs.select(
        F.col("doc_id").alias("_doc"),
        F.size(grams).alias("n_grams"),
        F.explode_outer(grams).alias("gram"),
    )
    per_doc = g.groupBy("_doc").agg(F.max("n_grams").alias("n_grams"))
    gd = (
        g.filter(F.col("gram").isNotNull())
        .groupBy("gram", "_doc")
        .agg(F.count("*").alias("_k"))
    )
    dup = (
        gd.groupBy("gram")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") >= 2)
        .select("gram")
    )
    ndup = (
        gd.join(dup, on="gram")
        .groupBy("_doc")
        .agg(F.sum("_k").cast("bigint").alias("n_dup"))
    )
    return (
        per_doc.join(ndup, on="_doc", how="left")
        .select(
            F.col("_doc").alias("doc_id"),
            F.col("n_grams").cast("bigint").alias("n_grams"),
            F.coalesce("n_dup", F.lit(0)).cast("bigint").alias("n_dup"),
            F.round(
                F.when(F.col("n_grams") == 0, F.lit(0.0)).otherwise(
                    F.coalesce("n_dup", F.lit(0))
                    / F.col("n_grams").cast("double")
                ),
                4,
            ).alias("dup_ratio"),
        )
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every k-token n-gram, slide a
    window of ``window`` consecutive hashes, keep each window's MINIMUM;
    the distinct selected hashes are the document's fingerprint set.
    Guarantees any shared run of >= k+window-1 tokens between two docs
    shares at least one fingerprint, at ~2/(window+1) selection density
    — the standard sub-document overlap sketch.

    Returns (doc_id, fingerprint) distinct.

    Plan: everything up to the final distinct is per-row array math
    (whole-stage codegen, zero shuffle); the distinct is one keyed
    exchange on (doc, fingerprint). md5-hex is the hash — identical
    byte-for-byte in DuckDB, so q107 value-checks every fingerprint."""
    grams = _token_ngrams(int(k))
    hashes = F.transform(grams, F.md5)
    win = int(window)
    fps = F.when(
        F.size(hashes) >= win,
        F.transform(
            F.sequence(F.lit(1), F.size(hashes) - win + 1),
            lambda i: F.array_min(F.slice(hashes, i, win)),
        ),
    ).otherwise(
        # shorter docs fingerprint as the single global minimum so no
        # document is unrepresented (matches the algorithm's intent)
        F.when(F.size(hashes) > 0, F.array(F.array_min(hashes))).otherwise(
            F.array().cast("array<string>")
        )
    )
    return (
        docs.select(F.col("doc_id"), F.explode(fps).alias("fingerprint"))
        .distinct()
    )


def ngram_contamination(
    train: DataFrame,
    test: DataFrame,
    w: int = 8,
    max_train_df: int | None = None,
) -> DataFrame:
    """Benchmark decontamination (the GPT-3/Pile recipe): for every
    test document, which train documents share at least one distinct
    w-token n-gram, and how much of the test doc they cover.

    Returns (test_doc, train_doc, n_shared, test_grams, frac) where
    ``n_shared`` counts DISTINCT shared grams and ``frac`` =
    n_shared / test_grams (test doc's distinct gram count).

    Plan: distinct (gram, doc) per side — the within-doc repeat
    collapse happens map-side — then one gram-keyed equi-join (the
    inverted index: a pair exists only if it shares a gram, never a
    cross product) and one pair-keyed count. ``max_train_df`` drops
    grams present in more than that many train docs from the join:
    ubiquitous boilerplate is a skewed hot key AND precisely the gram
    that signals template reuse rather than benchmark leakage —
    removing it is standard practice, and both q115 engines apply the
    identical cut."""
    grams = _token_ngrams(int(w))

    def side(df, name):
        return df.select(
            F.col("doc_id").alias(name), F.explode(grams).alias("gram")
        ).distinct()

    tr = side(train, "train_doc")
    te = side(test, "test_doc")
    if max_train_df is not None:
        keep = (
            tr.groupBy("gram")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= int(max_train_df))
            .select("gram")
        )
        tr = tr.join(keep, on="gram")
    totals = te.groupBy("test_doc").agg(F.count("*").alias("test_grams"))
    return (
        te.join(tr, on="gram")
        .groupBy("test_doc", "train_doc")
        .agg(F.countDistinct("gram").alias("n_shared"))
        .join(totals, on="test_doc")
        .select(
            "test_doc",
            "train_doc",
            "n_shared",
            "test_grams",
            (F.col("n_shared") / F.col("test_grams")).alias("frac"),
        )
    )


def incremental_dedup_status(
    incoming: DataFrame,
    seen: DataFrame,
) -> DataFrame:
    """Incremental (new-vs-seen) dedup: classify every INCOMING doc
    against an already-ingested SEEN snapshot without ever re-pairing
    the snapshot with itself. Returns (doc_id, status) with status in
    priority order:

      exact_dup_seen   content key already in the snapshot
      exact_dup_batch  an earlier (min-id) incoming doc has the same
                       content key
      near_dup_seen    shares a MinHash LSH band with a snapshot doc
      new              none of the above

    This is the shape a continuously-ingesting training pipeline
    actually runs: the snapshot never re-shuffles — only its DISTINCT
    content keys and DISTINCT band keys participate, both tiny,
    append-only side tables a real deployment persists next to the
    corpus (so day N+1 costs O(|batch|), not O(|corpus|)). All three
    probes are equi-joins on hash keys; the only batch-internal
    shuffle is one groupBy on the content key. Keys are md5-derived,
    so any engine can re-verify membership (q124's oracle recomputes
    every status row in DuckDB).
    """
    ck = F.md5(F.lower(F.trim(F.col("text"))))
    inc = incoming.select(F.col("doc_id").alias("doc_id"), ck.alias("_ck"))
    seen_ck = (
        seen.select(ck.alias("_ck"))
        .distinct()
        .withColumn("_seen_exact", F.lit(True))
    )
    batch_min = inc.groupBy("_ck").agg(F.min("doc_id").alias("_first"))

    def _bands(df):
        sig = minhash_signatures(df)
        out = None
        for i, cols in enumerate((["mh1", "mh2"], ["mh3", "mh4"])):
            b = sig.select(
                "doc_id", F.md5(F.concat(F.lit(str(i)), *cols)).alias("_band")
            )
            out = b if out is None else out.unionByName(b)
        return out

    seen_bands = (
        _bands(seen).select("_band").distinct()
        .withColumn("_seen_near", F.lit(True))
    )
    near = (
        _bands(incoming)
        .join(seen_bands, on="_band", how="left")
        .groupBy("doc_id")
        .agg(F.max(F.coalesce("_seen_near", F.lit(False))).alias("_near"))
    )
    return (
        inc.join(seen_ck, on="_ck", how="left")
        .join(batch_min, on="_ck")
        .join(near, on="doc_id", how="left")
        .select(
            "doc_id",
            F.when(F.coalesce("_seen_exact", F.lit(False)), "exact_dup_seen")
            .when(F.col("doc_id") != F.col("_first"), "exact_dup_batch")
            .when(F.coalesce("_near", F.lit(False)), "near_dup_seen")
            .otherwise("new")
            .alias("status"),
        )
    )
