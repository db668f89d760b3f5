"""Embedding similarity search: brute-force and bucketed ANN.

Two execution paths for cosine top-k over an ``array<float>`` column:

* **Relational** (plans/contract_queries.q19/q20): ``zip_with`` +
  ``aggregate`` dot products, window top-k — stays JVM-side, best when
  k and the query set are small.
* **Vectorized pandas UDF** (here): the query block is broadcast as a
  numpy matrix; each Arrow batch of candidate vectors is scored with
  one BLAS matmul. This is the path that wins when the query set is
  large (matmul amortizes) — the per-batch cost is O(batch x dim x nq)
  with numpy, ~100x faster than per-row Python.

The IVF scale path: q20's coarse assignment buckets vectors by nearest
centroid; searches then shuffle only their bucket (centroid id becomes
the partition key), turning a full cross-join into per-bucket local
top-k. ivf_topk below composes the two stages.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._scale import fanout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

TOPK_SCHEMA = StructType(
    [
        StructField("qid", LongType(), False),
        StructField("nid", LongType(), False),
        StructField("cos", DoubleType(), False),
    ]
)


def cosine_topk_pandas(
    spark: SparkSession,
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 3,
) -> DataFrame:
    """Brute-force cosine via numpy matmul inside mapInPandas, with a
    PARTIAL top-k inside the UDF: each partition emits at most
    n_queries x k rows (its own exact top-k per query under the final
    (cos desc, nid asc) order), so the merge window shuffles
    partitions x n_queries x k rows instead of every score — an ~n/k
    reduction on the only exchange in the plan. Partial-then-merge is
    exact: any global top-k row is necessarily in its home partition's
    top-k under the same total order (rounding applied BEFORE selection
    so tie-breaks match the merge window's). Queries = vec_id <
    n_queries (deterministic)."""
    q_rows = (
        embeddings.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    )
    q_ids = np.array([r.vec_id for r in q_rows], dtype=np.int64)
    q_mat = np.array([r.embedding for r in q_rows], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)
    bq = spark.sparkContext.broadcast((q_ids, q_mat, q_norm))

    def _topk_per_query(ids, nids, sims):
        """Exact per-query top-k of a (nq, n_cand) rounded score block
        under (cos desc, nid asc); excludes self-matches."""
        qs, ns, cs = [], [], []
        for qi in range(sims.shape[0]):
            row, cand_ids = sims[qi], nids
            keep = cand_ids != ids[qi]
            row, cand_ids = row[keep], cand_ids[keep]
            if not len(row):
                continue
            order = np.lexsort((cand_ids, -row))[:k]
            qs.append(np.full(len(order), ids[qi]))
            ns.append(cand_ids[order])
            cs.append(row[order])
        if not qs:
            return None
        return np.concatenate(qs), np.concatenate(ns), np.concatenate(cs)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, mat, norms = bq.value
        acc_q: list[np.ndarray] = []
        acc_n: list[np.ndarray] = []
        acc_c: list[np.ndarray] = []
        for pdf in batches:
            if pdf.empty:
                continue
            cand = np.array(list(pdf["embedding"]), dtype=np.float64)
            nids = pdf["vec_id"].to_numpy(dtype=np.int64)
            sims = np.round(
                (mat @ cand.T)
                / (norms[:, None] * np.linalg.norm(cand, axis=1)[None, :]),
                4,
            )
            top = _topk_per_query(ids, nids, sims)
            if top is not None:
                acc_q.append(top[0])
                acc_n.append(top[1])
                acc_c.append(top[2])
        if not acc_q:
            return
        all_q = np.concatenate(acc_q)
        all_n = np.concatenate(acc_n)
        all_c = np.concatenate(acc_c)
        # final partition-level reduce: top-k per query over the kept rows
        out_q, out_n, out_c = [], [], []
        for qid in np.unique(all_q):
            m = all_q == qid
            order = np.lexsort((all_n[m], -all_c[m]))[:k]
            out_q.append(np.full(len(order), qid))
            out_n.append(all_n[m][order])
            out_c.append(all_c[m][order])
        yield pd.DataFrame(
            {
                "qid": np.concatenate(out_q),
                "nid": np.concatenate(out_n),
                "cos": np.concatenate(out_c),
            }
        )

    scored = fanout(
        embeddings.select("vec_id", "embedding"), "vec_id"
    ).mapInPandas(score, TOPK_SCHEMA)
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
        .orderBy("qid", F.col("cos").desc(), "nid")
    )


def _centroid_buckets(
    spark: SparkSession,
    df: DataFrame,
    centroids,
    nprobe: int,
    out_id: str,
    out_emb: str,
) -> DataFrame:
    """NARROW coarse-quantizer stage shared by assignment (nprobe=1)
    and query probe selection (nprobe>=1): one BLAS matmul per Arrow
    batch against the BROADCAST centroid matrix, then a stable per-row
    top-nprobe (ties break to the lowest centroid id). Zero Exchange
    nodes — the old crossJoin(broadcast)+Window form shuffled the full
    n x n_centroids scored product (4e12 rows at 1e9 vectors x 4096
    centroids); this emits nprobe rows per input row with no shuffle at
    all (tests/test_plans.py pins the plan).

    ``centroids``: a DataFrame of (vec_id, embedding) rows, or a
    prebuilt ``(ids, mat)`` numpy pair (e.g. from :func:`kmeans_fit`).
    """
    if isinstance(centroids, tuple):
        cids, cmat = centroids
        cids = np.asarray(cids, dtype=np.int64)
        cmat = np.asarray(cmat, dtype=np.float64)
    else:
        cent_rows = centroids.select("vec_id", "embedding").collect()
        cids = np.array([r.vec_id for r in cent_rows], dtype=np.int64)
        cmat = np.array([r.embedding for r in cent_rows], dtype=np.float64)
    cnorm = np.linalg.norm(cmat, axis=1)
    order = np.argsort(cids, kind="stable")
    cids, cmat, cnorm = cids[order], cmat[order], cnorm[order]
    bc = spark.sparkContext.broadcast((cids, cmat, cnorm))
    out_schema = StructType(
        [
            StructField(out_id, LongType(), False),
            StructField(out_emb, df.schema["embedding"].dataType, False),
            StructField("cid", LongType(), False),
        ]
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, mat, norms = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            cand = np.array(list(pdf["embedding"]), dtype=np.float64)
            sims = (cand @ mat.T) / (
                np.linalg.norm(cand, axis=1)[:, None] * norms[None, :]
            )
            # stable argsort on (-sim, cid): cid order is the array
            # order (sorted above), so kind="stable" keeps the lowest
            # cid first among ties — same tie-break as the old window
            top = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
            n, p = top.shape
            yield pd.DataFrame(
                {
                    out_id: np.repeat(pdf["vec_id"].to_numpy(np.int64), p),
                    out_emb: np.repeat(pdf["embedding"].to_numpy(), p),
                    "cid": ids[top].reshape(-1),
                }
            )

    # fan out the per-row BLAS pass (single-row-group scans otherwise
    # pin it to one task; no-op on parallel inputs — operators/_scale)
    return fanout(df.select("vec_id", "embedding"), "vec_id").mapInPandas(
        assign, out_schema
    )


def kmeans_fit(
    spark: SparkSession,
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 5,
) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic Lloyd's k-means TRAINING of the IVF coarse
    quantizer (the analog of faiss's trained quantizer; the untrained
    alternative — centroids = first k vectors — is what it replaces).

    Scale shape: each iteration is (1) the NARROW cosine-argmax
    assignment of :func:`_centroid_buckets` (broadcast centroid
    matmul, zero exchange) and (2) a mapInPandas pass emitting
    per-partition (cid, count, sum-vector) PARTIALS — at most k rows
    of dim floats per partition cross the wire, reduced on the driver
    in content-sorted order. Nothing reshuffles the vectors
    themselves. Deterministic: first-k-by-id init, fixed iteration
    count, float64 partials, sorted reduce; an empty cluster keeps its
    previous centroid."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField

    init_rows = (
        embeddings.orderBy("vec_id")
        .limit(k)
        .select("vec_id", "embedding")
        .collect()
    )
    cmat = np.array([r[1] for r in init_rows], dtype=np.float64)
    cids = np.arange(len(cmat), dtype=np.int64)
    part_schema = StructType(
        [
            StructField("cid", LongType(), False),
            StructField("n", LongType(), False),
            StructField("vec_sum", ArrayType(DoubleType()), False),
        ]
    )
    base = embeddings.select(
        F.col("vec_id").alias("vec_id"), F.col("embedding").alias("embedding")
    )
    for _ in range(iters):
        assigned = _centroid_buckets(
            spark, base, (cids, cmat), 1, "vec_id", "embedding"
        )

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            sums: dict[int, np.ndarray] = {}
            counts: dict[int, int] = {}
            for pdf in batches:
                for cid, emb in zip(pdf["cid"], pdf["embedding"]):
                    v = np.asarray(emb, dtype=np.float64)
                    c = int(cid)
                    if c in sums:
                        sums[c] += v
                        counts[c] += 1
                    else:
                        sums[c] = v.copy()
                        counts[c] = 1
            yield pd.DataFrame(
                {
                    "cid": list(sums),
                    "n": [counts[c] for c in sums],
                    "vec_sum": [sums[c] for c in sums],
                }
            )

        parts = assigned.mapInPandas(partials, part_schema).collect()
        new = cmat.copy()
        agg_n: dict[int, int] = {}
        agg_s: dict[int, np.ndarray] = {}
        for r in sorted(parts, key=lambda r: (r.cid, r.n, tuple(r.vec_sum))):
            agg_n[r.cid] = agg_n.get(r.cid, 0) + r.n
            s = np.asarray(r.vec_sum)
            agg_s[r.cid] = agg_s.get(r.cid, 0) + s
        for c, n in agg_n.items():
            if n > 0:
                new[c] = agg_s[c] / n
        cmat = new
    return cids, cmat


def ivf_topk(
    spark: SparkSession,
    embeddings: DataFrame,
    queries: DataFrame,
    n_centroids: int = 8,
    k: int = 3,
    nprobe: int = 2,
    quantizer: str = "first",
    kmeans_iters: int = 5,
) -> DataFrame:
    """IVF ANN: assign vectors to their nearest centroid, then search
    only the nprobe closest buckets per query. The coarse stages are
    NARROW (broadcast centroid matmul + per-row argmax, no exchange);
    the single shuffle in the whole plan is the bucket equi-join.

    ``quantizer``: "first" = the first n_centroids vectors (cheap,
    deterministic), "kmeans" = Lloyd-trained centroids
    (:func:`kmeans_fit`) — tighter buckets, higher recall at the same
    nprobe. At nprobe = n_centroids both are EXACTLY brute force (the
    q37/q97 oracle property)."""

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    def cos(a, b):
        return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))

    if quantizer == "kmeans":
        cent = kmeans_fit(spark, embeddings, k=n_centroids, iters=kmeans_iters)
    else:
        cent = embeddings.filter(F.col("vec_id") < n_centroids)
    assigned = _centroid_buckets(
        spark, embeddings, cent, 1, "vec_id", "embedding"
    )
    probes = _centroid_buckets(spark, queries, cent, nprobe, "qid", "qe")
    # bucket-local scoring: equi-join on cid (the one shuffle)
    w_top = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid").asc())
    return (
        probes.join(assigned, on="cid")
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("nid"),
            F.round(cos(F.col("qe"), F.col("embedding")), 4).alias("cos"),
        )
        .withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") <= k)
        .drop("rn")
        .orderBy("qid", F.col("cos").desc(), "nid")
    )


BANDS_SCHEMA = StructType(
    [
        StructField("vec_id", LongType(), False),
        StructField("band_idx", LongType(), False),
        StructField("band_key", LongType(), False),
    ]
)


def cosine_neardup_lsh(
    spark: SparkSession,
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 64,
    band_bits: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via random-hyperplane LSH —
    the SCALE path twin of the all-pairs q32 oracle (which is O(n²) and
    capped small by design).

    Plan shape: one mapInPandas pass signs each vector against a fixed
    hyperplane matrix (one BLAS matmul per Arrow batch), packs the sign
    bits into ``n_planes/band_bits`` band keys, and the pair candidates
    come from a self-EQUI-join on (band_idx, band_key) — never a cross
    join. Exact cosine then verifies each candidate once. At 10⁹+
    vectors the shuffle is bounded by bucket population, and skewed
    buckets fall to AQE skew-join handling.

    Probabilistic contract: a pair at cosine c collides on one band
    with p = (1 - arccos(c)/π)^band_bits; recall over all bands is
    1-(1-p)^n_bands. Callers pick (n_planes, band_bits) for their
    threshold — at the defaults a 0.9-cosine pair is missed with
    probability < 1e-9, and LOWER band_bits trades candidate volume for
    recall at lower thresholds. The hyperplanes are a fixed seeded
    matrix, so results are deterministic and resumable.
    """
    n_bands = n_planes // band_bits
    dim = len(embeddings.select("embedding").first()[0])
    rng = np.random.RandomState(0x5EED)  # fixed: deterministic planes
    planes = rng.standard_normal((dim, n_planes))
    bp = spark.sparkContext.broadcast(planes)

    def sign_bands(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pl = bp.value
        weights = 1 << np.arange(band_bits, dtype=np.int64)
        for pdf in batches:
            mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            bits = (mat @ pl) >= 0.0  # (n, n_planes)
            keys = (
                bits.reshape(len(mat), n_bands, band_bits) @ weights
            ).astype(np.int64)
            n = len(mat)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, n_bands),
                    "band_idx": np.tile(np.arange(n_bands, dtype=np.int64), n),
                    "band_key": keys.reshape(-1),
                }
            )

    bands = fanout(
        embeddings.select(F.col("vec_id").alias("vec_id"), F.col("embedding")),
        "vec_id",
    ).mapInPandas(sign_bands, BANDS_SCHEMA)
    a = bands.select(
        F.col("vec_id").alias("id_a"), "band_idx", "band_key"
    )
    b = bands.select(
        F.col("vec_id").alias("id_b"), "band_idx", "band_key"
    )
    cand = (
        a.join(b, on=["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    ea = embeddings.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("_ea")
    )
    eb = embeddings.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("_eb")
    )
    cos = dot(F.col("_ea"), F.col("_eb")) / (
        F.sqrt(dot(F.col("_ea"), F.col("_ea")))
        * F.sqrt(dot(F.col("_eb"), F.col("_eb")))
    )
    return (
        cand.join(ea, on="id_a")
        .join(eb, on="id_b")
        .withColumn("_cos", cos)
        .filter(F.col("_cos") >= threshold)
        .select("id_a", "id_b", F.round("_cos", 4).alias("cos"))
    )


def quantize_embeddings(
    embeddings: DataFrame,
) -> DataFrame:
    """Symmetric per-vector int8 quantization: (id, scale, q, max_err).

    ``q[i] = round(x[i] / scale)`` with ``scale = max|x| / 127`` — the
    standard storage/serving compression for embedding columns (4x
    smaller than float32, 8x than float64; cosine on int8 with one
    rescale is the usual serving path). One narrow JVM pass — array
    higher-order functions only, no UDF, no shuffle; every value
    (including the reconstruction-error audit column ``max_err``) is
    re-derivable in plain SQL, which q105 does verbatim.

    An all-zero vector would make ``scale`` 0 and every code NaN; the
    ``greatest(absmax, 1e-30)`` floor (mirrored in the q105 oracle)
    maps it to zero codes with zero error instead."""
    x = F.col("embedding")
    absmax = F.array_max(F.transform(x, lambda v: F.abs(v)))
    scale = F.greatest(absmax, F.lit(1e-30)) / F.lit(127.0)
    q = F.transform(x, lambda v: F.round(v / scale).cast("int"))
    err = F.array_max(
        F.zip_with(
            x, q, lambda v, qi: F.abs(v - qi.cast("double") * scale)
        )
    )
    return embeddings.select(
        F.col("vec_id").alias("vec_id"),
        F.round(scale, 6).alias("scale"),
        q.alias("q"),
        F.round(err, 6).alias("max_err"),
    )


def quantized_cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
) -> DataFrame:
    """Serving-path ANN: cosine top-k computed ON int8-quantized codes
    (:func:`quantize_embeddings`) — (qid, nid, cos) with cos rounded.

    Per-vector symmetric scales CANCEL in cosine, so the quantized
    cosine needs no dequantization at all: three INTEGER dot products
    per pair (exact in int64 up to ~5.7e14-dim vectors at |q|<=127)
    and one float division at the end. That makes the whole scorer
    bit-reproducible across engines — the q111 oracle re-derives it in
    plain SQL — unlike float-accumulation cosine, where summation
    order matters. Storage is 4x smaller than float32; the ranking
    differs from exact cosine only by quantization error (max_err is
    audited by quantize_embeddings/q105).

    Plan shape: quantize both sides (narrow), broadcast the query
    codes, one crossJoin + JVM-side zip_with/aggregate, window top-k
    partial per partition then global — identical skeleton to the
    float brute-force (q19), so IVF bucketing composes in front of it
    unchanged for the 100-TB path.
    """
    base = quantize_embeddings(fanout(embeddings, "vec_id"))
    qs = quantize_embeddings(queries).select(
        F.col("vec_id").alias("qid"), F.col("q").alias("qq")
    )

    def idot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    scored = (
        F.broadcast(qs)
        .crossJoin(base.select(F.col("vec_id").alias("nid"), "q"))
        .filter(F.col("nid") != F.col("qid"))
        .select(
            "qid",
            "nid",
            # try_divide: an all-zero vector (zero codes, zero norm)
            # yields NULL cos instead of an ANSI divide-by-zero error;
            # the q111 oracle mirrors this with NULLIF on the norm
            F.round(
                F.try_divide(
                    idot(F.col("qq"), F.col("q")).cast("double"),
                    F.sqrt(idot(F.col("qq"), F.col("qq")).cast("double"))
                    * F.sqrt(idot(F.col("q"), F.col("q")).cast("double")),
                ),
                4,
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def dbscan_cosine(
    spark: SparkSession,
    embeddings: DataFrame,
    eps_cos: float = 0.4,
    min_pts: int = 4,
) -> DataFrame:
    """Density-based clustering (DBSCAN, Ester et al. 1996) with a
    cosine-similarity neighborhood, composed entirely from this
    engine's verified scale paths: the eps-neighborhood graph comes
    from :func:`cosine_neardup_lsh` (band equi-join, never all-pairs),
    core points are one keyed degree count, clusters are
    :func:`~phenobert_spark.operators.closure.connected_components`
    over the CORE-CORE subgraph, and border points attach to the
    minimum-labeled core neighbor (the deterministic resolution of
    DBSCAN's order-dependent border assignment — classic DBSCAN gives
    border points to whichever cluster scans them first, which is
    irreproducible on a cluster; min-label is the canonical choice).

    Returns (vec_id, role in {core, border, noise}, cluster —
    null for noise). A point's eps-neighborhood includes itself
    (degree + 1 >= min_pts), matching the original paper.

    Scale shape: every stage is an equi-join or keyed aggregate on the
    node key; the only iteration is the component fixpoint, bounded by
    core-graph diameter (tiny for density clusters). Embedding
    clustering at this shape is the SemDeDup/IVF sibling for corpus
    curation: q133 value-checks the full composition against a
    brute-force + recursive-CTE oracle."""
    from .closure import connected_components  # local: avoid cycle at import

    pairs = cosine_neardup_lsh(
        spark,
        embeddings,
        threshold=eps_cos,
        band_bits=2,
    ).select("id_a", "id_b")
    sym = pairs.unionByName(
        pairs.select(
            F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
        )
    ).localCheckpoint(eager=True)
    deg = sym.groupBy(F.col("id_a").alias("v")).agg(
        F.count("*").alias("_nn")
    )
    core = deg.filter(F.col("_nn") + 1 >= min_pts).select("v")
    core_edges = (
        sym.join(core.withColumnRenamed("v", "id_a"), on="id_a")
        .join(core.withColumnRenamed("v", "id_b"), on="id_b")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    comp = connected_components(core_edges, nodes=core).select(
        F.col("node").alias("v"), F.col("component").alias("cluster")
    )
    border = (
        sym.join(core.withColumnRenamed("v", "id_a"), on="id_a", how="left_anti")
        .join(comp.withColumnRenamed("v", "id_b"), on="id_b")
        .groupBy(F.col("id_a").alias("v"))
        .agg(F.min("cluster").alias("cluster"))
    )
    ids = embeddings.select(F.col("vec_id").alias("v"))
    return (
        ids.join(comp.withColumn("role", F.lit("core")), on="v", how="left")
        .join(
            border.withColumnRenamed("cluster", "_bcluster"),
            on="v",
            how="left",
        )
        .select(
            F.col("v").alias("vec_id"),
            F.coalesce(
                "role",
                F.when(F.col("_bcluster").isNotNull(), "border").otherwise(
                    "noise"
                ),
            ).alias("role"),
            F.coalesce("cluster", "_bcluster").alias("cluster"),
        )
    )


GRAM_SCHEMA = StructType(
    [
        StructField("i", LongType(), False),
        StructField("j", LongType(), False),
        StructField("g", DoubleType(), False),
    ]
)


def gram_matrix(embs: DataFrame) -> DataFrame:
    """Distributed Gram matrix G = X^T X over an ``array<float>``
    column — the building block of exact distributed PCA / covariance
    (the classic "tall-and-skinny" decomposition: for n rows x d dims
    with d small, X^T X is d x d; eigendecompose THAT driver-side and
    the principal components of 10^12 rows cost one pass and a
    d^2-sized reduce). This is how every large-scale PCA actually
    runs — never materialize n x n.

    Plan shape: one ``mapInPandas`` pass computes a PARTIAL d x d gram
    per Arrow batch with a single BLAS ``X.T @ X`` (no per-row
    Python), emitted as (i, j, partial) rows for the upper triangle
    only; the final groupBy(i, j).sum is map-side combinable and its
    shuffle is partitions x d(d+1)/2 rows — independent of n. The
    relational twin (explode + self-join on the row key, the q178
    oracle's shape) is O(n * d^2) shuffled rows and exists only as
    the correctness oracle.

    Returns (i, j, g) for 0 <= i <= j < d, rounded to 4 decimals.
    """

    def partial_gram(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: np.ndarray | None = None
        for b in batches:
            if not len(b):
                continue
            x = np.stack(b["embedding"].to_numpy()).astype(np.float64)
            g = x.T @ x
            acc = g if acc is None else acc + g
        if acc is not None:
            iu, ju = np.triu_indices(acc.shape[0])
            yield pd.DataFrame(
                {"i": iu.astype(np.int64), "j": ju.astype(np.int64), "g": acc[iu, ju]}
            )

    partials = embs.select("embedding").mapInPandas(partial_gram, schema=GRAM_SCHEMA)
    return (
        partials.groupBy("i", "j")
        .agg(F.round(F.sum("g"), 4).alias("g"))
        .orderBy("i", "j")
    )
