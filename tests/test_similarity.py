"""Similarity-search operators (operators/similarity.py)."""

import pyspark.sql.functions as F

from phenobert_spark.operators.similarity import cosine_topk_pandas, ivf_topk

SF = "/root/testdata/sf0.001"


def test_pandas_topk_matches_relational_oracle(spark):
    """The numpy path must agree with the relational q19 implementation."""
    from phenobert_spark.plans.contract_queries import QUERIES

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    a = {tuple(r) for r in cosine_topk_pandas(spark, e, n_queries=5, k=3).collect()}
    b = {tuple(r) for r in QUERIES["q19_cosine_topk"](spark, SF).collect()}
    assert a == b


def test_ivf_recall_vs_bruteforce(spark):
    """IVF with nprobe=4 over 8 buckets must recover most of the true
    top-3 neighbors (approximate by design, bounded loss)."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = e.filter(F.col("vec_id") < 10)
    exact = cosine_topk_pandas(spark, e, n_queries=10, k=3)
    approx = ivf_topk(spark, e, queries, n_centroids=8, k=3, nprobe=4)
    exact_set = {(r.qid, r.nid) for r in exact.collect()}
    approx_set = {(r.qid, r.nid) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"IVF recall {recall}"
    # every query answered with k results
    assert approx.groupBy("qid").count().filter("count != 3").count() == 0


def test_ivf_full_probe_equals_bruteforce(spark):
    """nprobe == n_centroids searches every bucket -> exact results."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet").filter(F.col("vec_id") < 120)
    queries = e.filter(F.col("vec_id") < 5)
    exact = cosine_topk_pandas(spark, e, n_queries=5, k=3)
    full = ivf_topk(spark, e, queries, n_centroids=8, k=3, nprobe=8)
    assert {(r.qid, r.nid) for r in exact.collect()} == {
        (r.qid, r.nid) for r in full.collect()
    }


def test_lsh_neardup_finds_planted_duplicates(spark):
    """Planted near-duplicates (copy + small perturbation, cosine>0.95)
    must all surface through the banded LSH path; verified against the
    brute-force pair set, and the plan must contain no cartesian
    product (the pair source is an equi-join on band keys)."""
    import numpy as np

    from phenobert_spark.operators.similarity import cosine_neardup_lsh

    rng = np.random.RandomState(7)
    basev = rng.standard_normal((40, 16))
    rows = []
    for i, v in enumerate(basev):
        rows.append((i, [float(x) for x in v]))
    # plant 10 near-dups of vectors 0..9
    for i in range(10):
        noisy = basev[i] + 0.05 * rng.standard_normal(16)
        rows.append((100 + i, [float(x) for x in noisy]))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    got = cosine_neardup_lsh(spark, e, threshold=0.9, n_planes=64, band_bits=4)
    pairs = {(r.id_a, r.id_b) for r in got.collect()}
    for i in range(10):
        assert (i, 100 + i) in pairs, f"planted dup {i} missed"

    # brute-force ground truth: nothing else reaches 0.9 here
    m = np.array([r[1] for r in rows], dtype=np.float64)
    ids = [r[0] for r in rows]
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = mn @ mn.T
    expected = {
        (ids[i], ids[j])
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if sims[i, j] >= 0.9 and ids[i] < ids[j]
    }
    assert pairs == expected

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sample_frames_alignment(spark):
    """Frames are stride-aligned byte windows; identity and sum match a
    direct computation; payloads shorter than one frame emit nothing."""
    import hashlib

    from phenobert_spark.operators.multimodal import sample_frames

    payload = bytes(range(200))
    rows = [(1, bytearray(payload)), (2, bytearray(b"short"))]
    blobs = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = sample_frames(blobs, frame_size=64, stride=48).collect()
    assert {r.doc_id for r in got} == {1}
    exp_frames = [(k, k * 48) for k in range((200 - 64) // 48 + 1)]
    assert [(r.frame_idx, r.frame_off) for r in sorted(got, key=lambda r: r.frame_idx)] == exp_frames
    for r in got:
        seg = payload[r.frame_off : r.frame_off + 64]
        assert r.frame_sha == hashlib.md5(seg).hexdigest()
        assert r.sum_byte == sum(seg)


def test_resize_grids_area_average(spark):
    """Area-average pooling matches a direct numpy computation; grids
    smaller than the target are dropped."""
    import hashlib

    import numpy as np

    from phenobert_spark.operators.multimodal import resize_grids

    rng = np.random.RandomState(11)
    grid = rng.randint(0, 256, size=(24, 16), dtype=np.uint8)
    rows = [
        (1, bytearray(grid.tobytes()), 16),
        (2, bytearray(b"tiny"), 2),
    ]
    blobs = spark.createDataFrame(rows, "doc_id long, payload binary, width int")
    got = resize_grids(blobs, out_size=8).collect()
    assert {r.doc_id for r in got} == {1}
    expected = (
        grid.reshape(8, 3, 8, 2).mean(axis=(1, 3)).round().astype(np.uint8)
    )
    r = got[0]
    assert bytes(r.grid) == expected.tobytes()
    assert r.grid_sha == hashlib.sha256(expected.tobytes()).hexdigest()


def test_kmeans_fit_deterministic_and_converging(spark):
    import numpy as np

    from phenobert_spark.operators.similarity import kmeans_fit

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ids1, m1 = kmeans_fit(spark, e, k=8, iters=3)
    ids2, m2 = kmeans_fit(spark, e, k=8, iters=3)
    assert np.array_equal(ids1, ids2)
    assert np.allclose(m1, m2, atol=0)  # bitwise-deterministic reduce

    # Lloyd objective (sum of cosine distance to assigned centroid)
    # must not increase with more iterations
    rows = e.select("embedding").collect()
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)

    def objective(cm):
        cn = cm / np.maximum(np.linalg.norm(cm, axis=1, keepdims=True), 1e-12)
        return float((1.0 - (Xn @ cn.T).max(axis=1)).sum())

    _, m_early = kmeans_fit(spark, e, k=8, iters=1)
    assert objective(m1) <= objective(m_early) + 1e-9


def test_ivf_kmeans_full_probe_equals_bruteforce(spark):
    from phenobert_spark.operators.similarity import ivf_topk

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = e.filter(F.col("vec_id") < 3)
    full = ivf_topk(
        spark, e, queries, n_centroids=8, k=3, nprobe=8,
        quantizer="kmeans", kmeans_iters=2,
    )
    brute = ivf_topk(spark, e, queries, n_centroids=8, k=3, nprobe=8)
    assert [tuple(r) for r in full.collect()] == [
        tuple(r) for r in brute.collect()
    ]


def test_cosine_topk_partial_is_partition_invariant(spark):
    """The in-UDF partial top-k must be exact regardless of how the
    candidate vectors are split across partitions (each partition emits
    its own top-k under the merge window's exact tie order)."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    want = [tuple(r) for r in cosine_topk_pandas(spark, e.coalesce(1), n_queries=5, k=3).collect()]
    for nparts in (3, 17):
        got = [
            tuple(r)
            for r in cosine_topk_pandas(
                spark, e.repartition(nparts), n_queries=5, k=3
            ).collect()
        ]
        assert got == want, nparts


def test_quantize_embeddings_roundtrip(spark):
    import numpy as np

    from phenobert_spark.operators.similarity import quantize_embeddings

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = quantize_embeddings(e).collect()
    src = {r.vec_id: np.array(r.embedding) for r in e.collect()}
    assert len(got) == len(src)
    for r in got:
        x = src[r.vec_id]
        q = np.array(r.q, dtype=np.int64)
        assert np.abs(q).max() <= 127
        scale = np.abs(x).max() / 127.0
        # reconstruction error bounded by half a quantization step
        err = np.abs(x - q * scale).max()
        assert err <= scale / 2 + 1e-12
        assert abs(r.max_err - err) < 1e-5  # audit column is honest


def test_quantized_topk_tracks_float_ranking(spark):
    """Quantized cosine top-k == float brute-force top-k on real
    embeddings up to quantization error: top-1 neighbor agrees for
    every query, and quantized cos is within 2*sum(max_err-ish) of the
    float cos. Also an identical vector scores cos 1.0 exactly."""
    import numpy as np

    from phenobert_spark.operators.similarity import quantized_cosine_topk

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = e.filter(F.col("vec_id") < 5)
    got = quantized_cosine_topk(e, queries, k=3).collect()
    assert {r.qid for r in got} == {0, 1, 2, 3, 4}
    assert all(len([r for r in got if r.qid == q]) == 3 for q in range(5))

    src = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in e.collect()}

    def fcos(a, b):
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

    for q in range(5):
        top = sorted(
            ((fcos(src[q], src[n]), -n) for n in src if n != q), reverse=True
        )
        float_best = -top[0][1]
        quant_best = next(
            r.nid for r in got if r.qid == q and r.cos == max(
                x.cos for x in got if x.qid == q
            )
        )
        assert quant_best == float_best
        for r in got:
            if r.qid == q:
                assert abs(r.cos - fcos(src[q], src[r.nid])) < 0.02


def test_quantized_topk_identical_vector_scores_one(spark):
    from phenobert_spark.operators.similarity import quantized_cosine_topk

    rows = [
        (0, [1.0, 2.0, -3.0, 0.5]),
        (1, [1.0, 2.0, -3.0, 0.5]),   # exact copy of 0
        (2, [-1.0, 0.0, 3.0, 2.0]),
        (3, [0.0, 0.0, 0.0, 0.0]),    # all-zero: guarded scale
    ]
    e = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    got = {
        (r.qid, r.nid): r.cos
        for r in quantized_cosine_topk(e, e.filter("vec_id = 0"), k=2).collect()
    }
    assert got[(0, 1)] == 1.0
    # the all-zero vector has zero codes -> 0/0 cos is NaN or null,
    # never a crash; it must not rank above a real neighbor
    best_two = sorted(got.items(), key=lambda kv: -(kv[1] or -2))
    assert best_two[0][0] == (0, 1)


def test_dbscan_cosine_roles_vs_replica(spark):
    """Two dense direction-clusters + noise: roles and labels match a
    driver-side replica of the same rules (cosine eps-graph, degree+1
    core cut, core-core components, min-label border assignment)."""
    import itertools

    import numpy as np

    from phenobert_spark.operators.similarity import dbscan_cosine

    rng = np.random.RandomState(3)
    base1 = rng.standard_normal(16)
    base2 = rng.standard_normal(16)
    vecs = {}
    for i in range(5):  # cluster around base1
        vecs[i] = base1 + 0.05 * rng.standard_normal(16)
    for i in range(5, 9):  # cluster around base2
        vecs[i] = base2 + 0.05 * rng.standard_normal(16)
    for i in range(9, 12):  # isolated noise
        vecs[i] = rng.standard_normal(16) * (i + 1)
    df = spark.createDataFrame(
        [(k, [float(x) for x in v]) for k, v in vecs.items()],
        "vec_id bigint, embedding array<float>",
    )
    eps, min_pts = 0.9, 3
    got = {
        r.vec_id: (r.role, r.cluster)
        for r in dbscan_cosine(spark, df, eps_cos=eps, min_pts=min_pts).collect()
    }

    # replica on float32-rounded vectors (Spark stores array<float>)
    v32 = {k: np.asarray(v, dtype=np.float32).astype(np.float64) for k, v in vecs.items()}

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    nbrs = {k: set() for k in v32}
    for a, b in itertools.combinations(sorted(v32), 2):
        if cos(v32[a], v32[b]) >= eps:
            nbrs[a].add(b)
            nbrs[b].add(a)
    core = {k for k in v32 if len(nbrs[k]) + 1 >= min_pts}
    parent = {k: k for k in core}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a in core:
        for b in nbrs[a]:
            if b in core:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for k in v32:
        if k in core:
            want[k] = ("core", find(k))
        else:
            cands = [find(n) for n in nbrs[k] if n in core]
            want[k] = ("border", min(cands)) if cands else ("noise", None)
    assert got == want
    # the scenario is non-degenerate: both clusters and noise exist
    roles = {r for r, _ in got.values()}
    assert roles == {"core", "border", "noise"} or roles == {"core", "noise"}
    assert len({c for r, c in got.values() if r == "core"}) == 2


def test_ivf_partial_probe_recall_floor(spark):
    """Serving-config evidence (VERDICT r4 item 6): recall@10 of the
    IVF index at nprobe << n_centroids against brute-force ground
    truth, on the sf0.01 embeddings (500 vectors, 8 centroids).

    Measured curve (tools/ivf_recall.py, r5): kmeans quantizer
    0.465 / 0.61 / 0.82 / 1.0 at nprobe 1/2/4/8 — floors pinned with
    margin so a quantizer/bucketing regression fails here. The
    synthetic embeddings are near-uniform on the sphere (no planted
    cluster structure), which bounds low-nprobe recall; production
    text embeddings cluster far more sharply, so these floors are
    conservative."""
    import sys

    sys.path.insert(0, ".")
    from tools.ivf_recall import recall_curve

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    rec = recall_curve(
        spark, emb, n_centroids=8, k=10, n_queries=20, nprobes=[2, 4, 8]
    )["kmeans"]
    assert rec[2] >= 0.50
    assert rec[4] >= 0.70
    assert rec[8] == 1.0            # full probe == brute force, exact
    assert rec[2] <= rec[4] <= rec[8]   # monotone in nprobe


def test_gram_matrix_matches_numpy(spark):
    import numpy as np

    from phenobert_spark.operators.similarity import gram_matrix

    rng = np.random.default_rng(7)
    x = rng.normal(size=(40, 6)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<float>",
    ).repartition(5)
    out = gram_matrix(df).collect()
    g = x.astype(np.float64).T @ x.astype(np.float64)
    assert len(out) == 6 * 7 // 2  # upper triangle only
    for r in out:
        assert r.i <= r.j
        assert abs(r.g - round(g[r.i, r.j], 4)) < 1e-9, (r.i, r.j)


def test_lsh_neardup_recall_floor(spark):
    """Serving-config evidence for the LSH dedup family (the q38/q32
    pairing, quantified): on a near-dup-rich corpus (one seeded noisy
    replica per vector, true-pair cosines ~0.90-0.999) the DEFAULT
    banding (64 planes x 4-bit bands) must recover essentially every
    true pair, and the documented failure mode — too-selective bands
    (16-bit) — must measurably degrade. Full sf0.01 curve:
    tools/lsh_recall.py -> defaults 1.0, (64,16) 0.7575 on 499 true
    pairs."""
    from tools.lsh_recall import measured_recall, with_near_dups

    emb = with_near_dups(
        spark, spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    )
    out = measured_recall(
        spark, emb, threshold=0.9, configs=[(64, 4), (64, 16)]
    )
    assert out["n_true_pairs"] >= 30
    assert out["recall"]["planes=64,bits=4"] >= 0.99
    assert out["recall"]["planes=64,bits=16"] <= out["recall"]["planes=64,bits=4"]
