"""knn_lsh (rebuilt): multi-table hyperplane LSH — recall, portability,
and plan-shape guarantees the round-1 version lacked.

- recall@10 >= 0.9 vs exact brute force on the sf0.01 embeddings (the
  corpus is near-random — 10th neighbor at ~74 deg — so the test uses a
  low-selectivity config: 4 planes x 24 tables; clustered corpora reach
  the same recall with the 8x8 default at far lower candidate volume);
- the plane matrix is md5-derived (cross-engine portable) and never
  enters the Spark plan as literals;
- no driver-side Spark action at plan-build time.
"""

import hashlib

import numpy as np
import pytest

from docstrange_spark.operators import similarity

SF001 = "/root/testdata/sf0.01"


@pytest.mark.parametrize(
    "build, args, shape, idx, key",
    [
        (similarity.hyperplanes, (8, 2, 3), (6, 8), (1 * 2 + 0, 5), "1|0|5"),
        (similarity.ivf_centroids, (8, 4), (4, 8), (3, 5), "ivf|3|5"),
        (similarity.projection_planes, (4, 8), (4, 8), (2, 7), "proj|2|7"),
        (similarity.pq_codebooks, (2, 4, 3), (2, 4, 3), (1, 3, 2), "pq|1|3|2"),
    ],
    ids=["hyperplanes", "ivf_centroids", "projection_planes", "pq_codebooks"],
)
def test_md5_matrix_derivation_and_cache(build, args, shape, idx, key):
    M = build(*args)
    assert M.shape == shape
    h = hashlib.md5(key.encode()).hexdigest()[:8]
    assert M[idx] == int(h, 16) / 2**31 - 1.0
    assert np.all(M >= -1.0) and np.all(M < 1.0)
    assert build(*args) is M  # cached
    assert any(v is M for v in similarity._MATRIX_CACHE.values())


def test_md5_matrix_namespaces_do_not_collide():
    # three (4, 8) matrices from different builders: the cache key
    # carries the key prefix, so none is served another's entries
    mats = [
        similarity.hyperplanes(8, n_planes=1, n_tables=4),
        similarity.ivf_centroids(8, 4),
        similarity.projection_planes(4, 8),
    ]
    assert all(m.shape == (4, 8) for m in mats)
    for i in range(3):
        for j in range(i + 1, 3):
            assert not np.array_equal(mats[i], mats[j])


def test_pq_error_rejects_indivisible_dim(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "vec_id long, embedding array<float>"
    )
    for fn in (similarity.pq_encode, similarity.pq_error):
        with pytest.raises(Exception, match="not divisible"):
            fn(emb, m=2, k=4).collect()


def test_knn_lsh_no_plan_literals_and_no_driver_action(spark):
    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    # plan-build must not launch a job (round-1 bug: .first() at build)
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    df = similarity.knn_lsh(emb, [0, 1], top_k=5)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before
    plan = df._jdf.queryExecution().toString()
    # planes live inside the pandas UDF, not as per-dimension literals
    assert plan.count("0.") < 50


def test_knn_lsh_recall_vs_bruteforce(spark):
    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    qids = [0, 1, 2, 3, 4]
    bf = similarity.knn_bruteforce(emb, qids, top_k=10).toPandas()
    ls = similarity.knn_lsh(emb, qids, top_k=10, n_planes=4, n_tables=24).toPandas()
    hits = 0
    for q in qids:
        truth = set(bf[bf.query_id == q].neighbor_id)
        got = set(ls[ls.query_id == q].neighbor_id)
        hits += len(truth & got)
    recall = hits / (10 * len(qids))
    assert recall >= 0.9, f"recall@10 = {recall}"


def test_knn_lsh_deterministic_across_runs(spark):
    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    a = similarity.knn_lsh(emb, [0, 1], top_k=5).orderBy("query_id", "rank").collect()
    b = similarity.knn_lsh(emb, [0, 1], top_k=5).orderBy("query_id", "rank").collect()
    assert a == b and len(a) > 0


def test_knn_lsh_candidates_subset_of_brute_cosines(spark):
    """Every LSH neighbor's cosine must equal the exact cosine brute force
    computes for that pair (the re-rank is exact, only the candidate set
    is approximate)."""
    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    bf = similarity.knn_bruteforce(emb, [0], top_k=499).toPandas()
    ls = similarity.knn_lsh(emb, [0], top_k=10, n_planes=4, n_tables=8).toPandas()
    exact = dict(zip(bf.neighbor_id, bf.cosine))
    assert len(ls) > 0
    for _, row in ls.iterrows():
        assert exact[row.neighbor_id] == pytest.approx(row.cosine, abs=1e-9)


def test_knn_ivf_full_probe_equals_bruteforce(spark):
    """nprobe = n_cells degenerates IVF to exact search: results must
    equal knn_bruteforce rank-for-rank."""
    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    exact = similarity.knn_bruteforce(emb, [0, 1], top_k=10).orderBy(
        "query_id", "rank"
    ).collect()
    ivf = similarity.knn_ivf(
        emb, [0, 1], top_k=10, n_cells=8, nprobe=8
    ).orderBy("query_id", "rank").collect()
    assert ivf == exact


def test_ivf_train_reduces_inertia(spark):
    import numpy as np

    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    X = np.array([r["embedding"] for r in emb.collect()], dtype=np.float64)

    def inertia(C):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        return float(d.min(axis=1).sum())

    C0 = similarity.ivf_centroids(X.shape[1], 8)
    C1 = similarity.ivf_train(emb, n_cells=8, iters=2)
    assert inertia(C1) < inertia(C0)


def test_embedding_dedup_identical_vectors_and_cap(spark):
    import numpy as np
    import pandas as pd

    n = 100
    vec = [0.1] * 8
    pdf = pd.DataFrame({"vec_id": range(n), "embedding": [vec] * n})
    emb = spark.createDataFrame(pdf, "vec_id long, embedding array<float>")
    # identical vectors share every bucket; cap 10 -> chain pairing
    capped = similarity.embedding_dedup_pairs(
        emb, threshold=0.9, n_planes=4, n_tables=2, max_bucket_size=10
    ).collect()
    assert len(capped) == n - 1  # consecutive chain, connected component
    assert all(r["cosine"] == 1.0 for r in capped)
    assert {r["doc_b"] for r in capped} == set(range(1, n))


def test_ivf_train_empty_raises(spark):
    import pytest as _pytest

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with _pytest.raises(ValueError, match="empty"):
        similarity.ivf_train(empty, n_cells=2, iters=1)


def test_lsh_bucket_candidates_plan_is_vector_free(spark):
    """VERDICT r2 #7: the candidate-generation subplan must never carry
    the embedding column — the hyperplane projection reads it map-side,
    then every exchange/aggregate/pair-expansion is scalar-only."""
    from docstrange_spark import plans

    embeddings = spark.read.parquet(f"{SF001}/embeddings.parquet")
    cand = similarity.lsh_bucket_candidates(embeddings, max_bucket_size=64)
    plan = plans.executed_plan(cand)
    assert "Exchange" in plan  # the bucket groupBy shuffle exists
    # the vector column may appear only at the map-side projection
    # (ArrowEvalPython bucket UDF) and the scan itself — never in any
    # exchange/aggregate/window/join node above them
    offenders = [
        ln for ln in plan.splitlines()
        if "embedding" in ln
        and not any(ok in ln for ok in ("ArrowEvalPython", "FileScan", "ReadSchema"))
    ]
    assert not offenders, offenders


def test_knn_lsh_probe_over_persisted_index(spark, tmp_path):
    """ANN serving shape: build_lsh_index materialized to parquet once,
    then probed — results must equal the self-contained knn_lsh."""
    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    idx_path = str(tmp_path / "lsh_index")
    similarity.build_lsh_index(emb).write.parquet(idx_path)
    idx = spark.read.parquet(idx_path)
    from pyspark.sql import functions as F

    probed = {
        tuple(r)
        for r in similarity.knn_lsh_probe(
            idx, idx.where(F.col("vid").isin([0, 1, 2])), top_k=5,
            exclude_self=True,  # queries come from the index itself
        ).collect()
    }
    direct = {
        tuple(r) for r in similarity.knn_lsh(emb, [0, 1, 2], top_k=5).collect()
    }
    assert probed == direct and probed


def test_knn_lsh_probe_scalar_index_and_external_queries(spark, tmp_path):
    """Scalar-only index (no vector duplication per table) + re-join
    through lsh_vector_table must reproduce the vector-carrying probe;
    external queries (exclude_self=False) must NOT drop an index vector
    whose id coincides with a query id."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    scalar_idx = similarity.build_lsh_index(emb, include_vectors=False)
    assert "vec" not in scalar_idx.columns
    vecs = similarity.lsh_vector_table(emb)
    queries = similarity.build_lsh_index(emb).where(F.col("vid").isin([0, 1]))

    via_scalar = {
        tuple(r)
        for r in similarity.knn_lsh_probe(
            scalar_idx, queries, top_k=5, vectors=vecs
        ).collect()
    }
    via_full = {
        tuple(r)
        for r in similarity.knn_lsh_probe(
            similarity.build_lsh_index(emb), queries, top_k=5
        ).collect()
    }
    assert via_scalar == via_full and via_scalar
    # external semantics: the identically-bucketed index vector with the
    # SAME id is itself a (cosine 1.0) candidate when not excluded
    assert any(
        r[0] == 0 and r[1] == 0 and r[3] == 1.0 for r in via_full
    ), sorted(via_full)[:3]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="scalar-only"):
        similarity.knn_lsh_probe(scalar_idx, queries, top_k=5).collect()


def test_quantize_embeddings_roundtrip_and_bounds(spark):
    from docstrange_spark.operators import similarity as sim

    df = spark.createDataFrame(
        [(0, [1.0, -0.5, 0.25, 0.0]), (1, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {r["vec_id"]: r for r in sim.quantize_embeddings(df).collect()}
    # max-abs element maps to +/-127 exactly; zero vector -> scale 0, all-0
    assert rows[0]["codes"][0] == 127
    assert all(-127 <= c <= 127 for c in rows[0]["codes"])
    assert rows[1]["scale"] == 0.0 and rows[1]["codes"] == [0, 0, 0, 0]
    # reconstruction error bounded by scale/2 per element (plus the
    # 6-dp scale rounding slack)
    s = rows[0]["scale"]
    for x, c in zip([1.0, -0.5, 0.25, 0.0], rows[0]["codes"]):
        assert abs(x - c * s) <= s / 2 + 1e-4


def test_quant_error_report(spark):
    from docstrange_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    r = sim.quant_error(emb).collect()[0]
    dim = len(emb.limit(1).collect()[0]["embedding"])
    assert r["n_elems"] == r["n_vectors"] * dim
    assert 0.0 <= r["mean_abs_err"] <= r["max_abs_err"]
    # int8 with per-vector scale: max error is half a quantization step
    # of the largest-magnitude vector — far below the unit scale
    assert r["max_abs_err"] < 0.05, r


def test_kmeans_step_partition_and_training_shrinks_shift(spark):
    """Every vector lands in exactly one cell; Lloyd training moves
    centroids toward the data, so the post-training M-step shift is
    strictly smaller on average than the seed step's."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    seed = similarity.kmeans_step(emb).collect()
    assert sum(r["n_vecs"] for r in seed) == n
    assert all(0 <= r["cell"] < 16 for r in seed)
    assert all(r["shift"] >= 0 and r["mean_dist"] >= 0 for r in seed)
    C = similarity.ivf_train(emb, n_cells=16, iters=2)
    trained = similarity.kmeans_step(emb, centroids=C).collect()
    assert sum(r["n_vecs"] for r in trained) == n
    mean_seed = sum(r["shift"] for r in seed) / len(seed)
    mean_trained = sum(r["shift"] for r in trained) / len(trained)
    assert mean_trained < mean_seed


def test_embedding_project_shape_and_linearity(spark):
    """16 components per vector; projection is linear, so a doubled
    vector projects to doubled components (within 4-dp rounding)."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    one = emb.where(F.col("vec_id") == 0)
    doubled = one.withColumn(
        "embedding",
        F.transform(F.col("embedding"), lambda x: x * F.lit(2.0)).cast(
            "array<float>"
        ),
    )
    p1 = similarity.embedding_project(one).collect()[0]["proj"]
    p2 = similarity.embedding_project(doubled).collect()[0]["proj"]
    assert len(p1) == 16 and len(p2) == 16
    for a, b in zip(p1, p2):
        assert abs(b - 2 * a) < 2e-3
    # deterministic across invocations
    again = similarity.embedding_project(one).collect()[0]["proj"]
    assert again == p1
