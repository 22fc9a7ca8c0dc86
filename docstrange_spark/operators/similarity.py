"""Similarity search and vector tooling over an embedding column
(array<float>).

- ``knn_bruteforce``: exact cosine top-k — broadcast the (small) query
  set against the corpus; the dot product runs JVM-side via zip_with +
  aggregate (no Python), one shuffle for the per-query top-k window.
  ``hard_negatives`` is the same shape with a label-mismatch predicate.
- ``knn_lsh`` / ``build_lsh_index`` + ``knn_lsh_probe``: the scale path
  — random-hyperplane LSH bucketing (deterministic seeded planes);
  candidates share a bucket, exact cosine re-rank inside the bucket. At
  10^12 rows the bucket join replaces the full cross product; recall is
  tunable by planes/tables. ``lsh_bucket_candidates`` and
  ``embedding_dedup_pairs`` reuse the bucketing for near-dup pairs.
- ``knn_ivf`` / ``ivf_train`` / ``kmeans_step`` / ``semantic_dedup``:
  inverted-file cells from md5 seed or trained centroids.
- ``quantize_embeddings`` / ``quant_error`` (int8), ``pq_encode`` /
  ``pq_error`` (product quantization) and ``embedding_project``
  (random projection).

Shared pieces: one md5 matrix builder (``_md5_matrix``) behind
``hyperplanes``, ``ivf_centroids``, ``projection_planes`` and
``pq_codebooks``; one (vid, vec, nrm) frame (``lsh_vector_table``); one
per-query rank step (``_rank_per_query``) for every knn-shaped output;
one nearest-codeword kernel (``_pq_nearest``) for both PQ operators.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SEED = 42


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# Round-6 measurement note (guide §1.2): a static-width expansion of
# this fold (a chain of element_at products, bit-identical addition
# order) was tried and measured SLOWER — 4.2 s vs 2.6 s for 400k
# 64-dim pairs — because the depth-128 Add tree defeats whole-stage
# codegen and falls back to per-node interpreted eval. The fold stays;
# the pair-scoring hot loop is optimized structurally instead (see
# semantic_dedup's per-cell kernel).


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )


def knn_bruteforce(
    embeddings: DataFrame,
    query_ids: list[int],
    top_k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k for the given query ids against all other rows.

    Result: (query_id, neighbor_id, rank, cosine) — cosine rounded to 4
    decimals; ties broken by neighbor_id for determinism.
    """
    base = lsh_vector_table(embeddings, id_col, vec_col)
    q = base.where(F.col("vid").isin(query_ids)).select(
        F.col("vid").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qnrm"),
    )
    joined = base.crossJoin(F.broadcast(q)).where(F.col("vid") != F.col("query_id"))
    scored = joined.select(
        "query_id",
        F.col("vid").alias("neighbor_id"),
        F.round(
            _dot(F.col("qvec"), F.col("vec")) / (F.col("qnrm") * F.col("nrm")), 4
        ).alias("cosine"),
    )
    return _rank_per_query(scored, top_k, "int")


def _rank_per_query(scored: DataFrame, top_k: int, rank_type: str = "long") -> DataFrame:
    """Per-query top-k of a (query_id, neighbor_id, ..., cosine) frame:
    row_number over query_id by cosine desc, neighbor_id asc, kept while
    ``<= top_k`` and inserted as ``rank`` (cast to ``rank_type``) just
    before the trailing cosine column."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select(
            *[c for c in scored.columns if c != "cosine"],
            F.col("rank").cast(rank_type).alias("rank"),
            "cosine",
        )
    )


_MATRIX_CACHE: dict[tuple[str, tuple[int, ...]], np.ndarray] = {}


def _md5_matrix(
    prefix: str, shape: tuple[int, ...], out_shape: tuple[int, ...] | None = None
) -> np.ndarray:
    """Deterministic float64 matrix of ``shape``: the entry at index
    ``(j0, j1, ...)`` is ``int(h, 16) / 2**31 - 1.0``, uniform in
    [-1, 1), where ``h`` is the first 8 hex chars of md5 of
    ``"{prefix}|{j0}|{j1}|..."`` (no prefix segment when ``prefix`` is
    empty). The construction is cross-engine portable (DuckDB rebuilds
    the exact same matrix in SQL). Reshaped to ``out_shape`` if given,
    and cached per (prefix, shape) per process."""
    key = (prefix, shape)
    mat = _MATRIX_CACHE.get(key)
    if mat is None:
        head = [prefix] if prefix else []
        keys = ("|".join(map(str, [*head, *idx])) for idx in np.ndindex(*shape))
        vals = [
            int(hashlib.md5(k.encode()).hexdigest()[:8], 16) / 2**31 - 1.0
            for k in keys
        ]
        mat = _MATRIX_CACHE[key] = np.array(vals, dtype=np.float64).reshape(
            out_shape or shape
        )
    return mat


def hyperplanes(dim: int, n_planes: int = 8, n_tables: int = 8) -> np.ndarray:
    """Deterministic hyperplanes, shape (n_tables * n_planes, dim).

    Entries are uniform in [-1, 1), derived from md5 of ``"{t}|{p}|{i}"``
    (:func:`_md5_matrix`, no prefix) — a cross-engine-portable
    construction, so the LSH bucketing itself is oracle-checkable and no
    plane literals ever enter the Spark plan. Sign-projection LSH only
    needs a distribution symmetric around zero, so uniform works as well
    as Gaussian here.
    """
    return _md5_matrix("", (n_tables, n_planes, dim), (n_tables * n_planes, dim))


def _bucket_udf(n_planes: int, n_tables: int):
    """Scalar pandas UDF: embedding -> array of per-table bucket strings.

    The plane matrix is a broadcast-sized numpy constant built lazily on
    the worker from the row dimensionality (no driver-side Spark action,
    no per-dimension literals in the plan); the projection is one
    vectorized ``X @ P.T`` per Arrow batch.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def buckets(vecs: pd.Series) -> pd.Series:
        if vecs.empty:
            return pd.Series([], dtype=object)
        X = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        P = hyperplanes(X.shape[1], n_planes, n_tables)
        # '0'/'1' chars (NOT bool.astype(U1), which yields 'T'/'F') so
        # bucket ids literally match the DuckDB oracle's bitstrings
        bits = np.where(X @ P.T >= 0, "1", "0")  # (n, L*b)
        out = []
        for row in bits:
            s = "".join(row)
            out.append([s[t * n_planes : (t + 1) * n_planes] for t in range(n_tables)])
        return pd.Series(out)

    return buckets


def lsh_bucket_candidates(
    embeddings: DataFrame,
    n_planes: int = 8,
    n_tables: int = 8,
    max_bucket_size: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ID-ONLY LSH candidate generation: distinct (vid_a, vid_b) pairs
    sharing any (table, bucket). The hyperplane projection runs map-side
    on the vectors, but the bucket shuffle and pair expansion downstream
    carry ONLY (vid, tbl, bucket) scalars — at dim 768+ this halves (or
    better, with multi-table collisions) the shuffle bytes of a
    vector-carrying bucket self-join. Pair expansion is the same
    JVM-side sorted-members transform/slice as ``dedup``'s banded LSH;
    ``max_bucket_size`` chain-caps degenerate buckets identically
    (consecutive links, component preserved)."""
    from docstrange_spark.operators.dedup import bucket_pairs

    ids = embeddings.select(
        F.col(id_col).alias("vid"),
        F.posexplode(
            _bucket_udf(n_planes, n_tables)(
                F.col(vec_col).cast("array<double>")
            )
        ).alias("tbl", "bucket"),
    )
    # same within-bucket pair expansion + chain-capping as the MinHash
    # band path — one shared implementation (dedup.bucket_pairs)
    return bucket_pairs(
        ids, ["tbl", "bucket"], "vid",
        max_bucket_size=max_bucket_size,
        out_a="vid_a", out_b="vid_b",
    )


def embedding_dedup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 8,
    n_tables: int = 8,
    max_bucket_size: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a, b, cosine) for every
    LSH-bucket-sharing pair with rounded cosine >= threshold, a < b.

    The bucket self-join replaces the O(n^2) all-pairs comparison — at
    corpus scale candidates are bucket-local and the exact cosine runs
    only on them (the same LSH→exact re-rank shape as MinHash→Jaccard).
    ``max_bucket_size`` chain-caps degenerate buckets (e.g. a corpus of
    zero vectors) exactly like ``dedup.lsh_candidate_pairs``: oversized
    buckets link consecutive members only, preserving the cluster's
    connected component with linear output.

    Candidate pairs come from ``lsh_bucket_candidates`` — only id
    scalars cross the bucket shuffle — and the distinct pairs re-join
    the vectors for the exact re-rank, computing each pair's cosine
    ONCE instead of once per colliding table."""
    base = lsh_vector_table(embeddings, id_col, vec_col)
    pairs = lsh_bucket_candidates(
        embeddings, n_planes, n_tables, max_bucket_size, id_col, vec_col
    )
    va = base.select(
        F.col("vid").alias("vid_a"), F.col("vec").alias("vec_a"),
        F.col("nrm").alias("nrm_a"),
    )
    vb = base.select(
        F.col("vid").alias("vid_b"), F.col("vec").alias("vec_b"),
        F.col("nrm").alias("nrm_b"),
    )
    joined = pairs.join(va, "vid_a").join(vb, "vid_b")
    scored = joined.select(
        F.col("vid_a").alias("doc_a"),
        F.col("vid_b").alias("doc_b"),
        F.round(
            _dot(F.col("vec_a"), F.col("vec_b")) / (F.col("nrm_a") * F.col("nrm_b")),
            4,
        ).alias("cosine"),
    )
    return (
        scored.where(F.col("cosine") >= threshold)
        .groupBy("doc_a", "doc_b")
        .agg(F.max("cosine").alias("cosine"))
    )


# ---------------------------------------------------------------------------
# IVF: coarse-quantizer cells + nprobe search (the classic inverted-file
# ANN construction — public knowledge)


def ivf_centroids(dim: int, n_cells: int = 16) -> np.ndarray:
    """Deterministic md5-derived centroids (same portable construction
    as the hyperplanes, key prefix 'ivf'): the untrained starting point
    and the oracle-checkable configuration. Production would pass
    ``ivf_train(...)`` output instead."""
    return _md5_matrix("ivf", (n_cells, dim))


def _probe_udf(centroids: np.ndarray | None, nprobe: int, n_cells: int = 16):
    """vec -> the nprobe nearest cell ids (squared-L2, ties by cell id).
    The centroid matrix ships in the UDF closure (k x dim floats — for
    very large k, move it to a Spark broadcast). ``centroids=None``
    builds the ``n_cells`` md5 seed centroids worker-side from the row
    dimensionality (no driver action), as :func:`_assign_batches`
    does."""
    from pyspark.sql.functions import pandas_udf

    C0 = None if centroids is None else np.ascontiguousarray(centroids)

    @pandas_udf("array<int>")
    def probes(vecs: pd.Series) -> pd.Series:
        if vecs.empty:
            return pd.Series([], dtype=object)
        X = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        C = C0 if C0 is not None else ivf_centroids(X.shape[1], n_cells)
        cn = (C * C).sum(axis=1)
        d = cn[None, :] - 2.0 * (X @ C.T)  # ||x||^2 constant per row
        order = np.argsort(d, axis=1, kind="stable")[:, :nprobe]
        return pd.Series([row.astype("int32").tolist() for row in order])

    return probes


def knn_ivf(
    embeddings: DataFrame,
    query_ids: list[int],
    top_k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    centroids: np.ndarray | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: every vector is assigned to its nearest
    coarse cell; a query probes its ``nprobe`` nearest cells and exact-
    re-ranks only their members. Same output schema as the other knn
    ops. One equi-join on cell id — never a cross product; recall is
    tuned by nprobe (nprobe = n_cells degenerates to exact search)."""
    base = embeddings.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    # corpus side: ONE mapInPandas matmul pass assigning the nearest
    # cell (nprobe=1 semantics — identical to element_at(probes, 1)).
    # The previous shape — one probes column UDF shared by the corpus
    # branch and the query branch — was duplicated by Catalyst into
    # CHAINED ArrowEvalPython nodes (the full-corpus matmul executed
    # twice per row, 4 Python stages in the audited plan).
    assigned = _assign_batches(base, centroids, n_cells=n_cells).select(
        "vid", "vec", "cell"
    ).withColumn("nrm", _norm(F.col("vec")))
    # query side: filter FIRST (the IN pushes into the scan), then run
    # the nprobe probe UDF over the handful of query rows only
    q = (
        base.where(F.col("vid").isin(query_ids))
        .withColumn("probes", _probe_udf(centroids, nprobe, n_cells)(F.col("vec")))
        .select(
            F.col("vid").alias("query_id"),
            F.col("vec").alias("qvec"),
            _norm(F.col("vec")).alias("qnrm"),
            F.explode("probes").alias("cell"),
        )
    )
    cand = assigned.join(
        F.broadcast(q), (assigned["cell"] == q["cell"]) & (F.col("vid") != F.col("query_id"))
    )
    scored = cand.select(
        "query_id",
        F.col("vid").alias("neighbor_id"),
        F.round(
            _dot(F.col("qvec"), F.col("vec")) / (F.col("qnrm") * F.col("nrm")), 4
        ).alias("cosine"),
    ).groupBy("query_id", "neighbor_id").agg(F.max("cosine").alias("cosine"))
    return _rank_per_query(scored, top_k)


def ivf_train(
    embeddings: DataFrame,
    n_cells: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Distributed Lloyd's k-means for IVF centroids: assign via the
    probe UDF (map-side), recompute means relationally (posexplode +
    groupBy(cell, dim) with partial aggregation), pull only the k x dim
    centroid matrix to the driver per iteration. Deterministic: md5
    centroids seed the first assignment; empty cells keep their previous
    centroid."""
    base = embeddings.select(F.col(vec_col).cast("array<double>").alias("vec"))
    # training is a sequence of jobs by nature; one tiny action reads dim
    head = base.select(F.size("vec").alias("d")).limit(1).collect()
    if not head:
        raise ValueError(
            "ivf_train: embeddings DataFrame is empty — cannot infer "
            "dimensionality; train on a non-empty corpus or build seed "
            "centroids directly with ivf_centroids(dim, n_cells)"
        )
    dim = head[0]["d"]
    C = ivf_centroids(dim, n_cells)
    for _ in range(iters):
        assigned = base.withColumn(
            "cell", F.element_at(_probe_udf(C, 1)(F.col("vec")), 1)
        )
        means = (
            assigned.select("cell", F.posexplode("vec").alias("i", "v"))
            .groupBy("cell", "i")
            .agg(F.avg("v").alias("m"))
            .collect()
        )
        nxt = C.copy()
        for r in means:
            nxt[r["cell"], r["i"]] = r["m"]
        C = nxt
    return C


def build_lsh_index(
    embeddings: DataFrame,
    n_planes: int = 8,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    include_vectors: bool = True,
) -> DataFrame:
    """Materializable LSH index for ANN: one row per (vector, table)
    with its per-table bucket. Persist this (parquet/Iceberg, bucketed
    by (tbl, bucket)) once per corpus snapshot; every subsequent
    ``knn_lsh_probe`` call reads it instead of re-hashing 10^12 vectors
    per query batch — the production ANN-serving shape.

    ``include_vectors=True`` stores (vid, vec, nrm, tbl, bucket) —
    probe-ready but the vector bytes are duplicated once per table
    (n_tables x the corpus's vector storage). At dim 768+ prefer
    ``include_vectors=False``: the index is scalar-only
    (vid, tbl, bucket) and ``knn_lsh_probe(vectors=...)`` joins the
    single-copy vector table back for matched candidates only."""
    base = lsh_vector_table(embeddings, id_col, vec_col)
    cols = ["vid", "vec", "nrm"] if include_vectors else ["vid"]
    return base.select(
        *cols,
        F.posexplode(_bucket_udf(n_planes, n_tables)(F.col("vec"))).alias(
            "tbl", "bucket"
        ),
    )


def lsh_vector_table(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """The (vid, vec as array<double>, nrm) frame every cosine scorer
    starts from; also the single-copy companion table for a scalar-only
    ``build_lsh_index(include_vectors=False)`` index."""
    return embeddings.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    ).withColumn("nrm", _norm(F.col("vec")))


def knn_lsh_probe(
    index: DataFrame,
    queries: DataFrame,
    top_k: int = 10,
    exclude_self: bool = False,
    vectors: DataFrame | None = None,
) -> DataFrame:
    """Probe a (persisted) ``build_lsh_index`` table with a query frame
    of the SAME bucket layout (vid, vec, nrm, tbl, bucket — typically
    ``build_lsh_index`` over the query vectors with the SAME
    planes/tables; a mismatch silently empties the join): broadcast
    equi-join on (tbl, bucket), exact cosine re-rank, per-query top-k.
    Output matches ``knn_bruteforce``.

    ``exclude_self=True`` drops candidates whose index vid equals the
    query vid — correct ONLY when queries are drawn from the index
    itself (the ``knn_lsh`` self-query path). For external query batches
    leave it False: a query id coinciding with an unrelated index id
    must not silently lose that neighbor.

    ``vectors``: required when the index is scalar-only
    (``include_vectors=False``) — the (vid, vec, nrm) table joined back
    for MATCHED candidates only, keeping vector bytes out of both the
    persisted index and the bucket join."""
    q = queries.select(
        F.col("vid").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qnrm"),
        F.col("tbl").alias("qtbl"),
        F.col("bucket").alias("qbucket"),
    )
    if "vec" not in index.columns:
        if vectors is None:
            raise ValueError(
                "index is scalar-only (no vec column): pass vectors= the "
                "(vid, vec, nrm) table from lsh_vector_table"
            )
        # scalar bucket join first, distinct candidate ids, then one
        # vector join per matched candidate
        qk = q.select("query_id", "qtbl", "qbucket")
        cand_ids = (
            index.join(
                F.broadcast(qk),
                (F.col("tbl") == F.col("qtbl"))
                & (F.col("bucket") == F.col("qbucket")),
            )
            .select("query_id", F.col("vid").alias("neighbor_id"))
            .distinct()
        )
        qv = q.select("query_id", "qvec", "qnrm").distinct()
        cand = cand_ids.join(
            vectors.select(
                F.col("vid").alias("neighbor_id"), "vec", "nrm"
            ),
            "neighbor_id",
        ).join(F.broadcast(qv), "query_id")
        cand = cand.withColumn("vid", F.col("neighbor_id"))
    else:
        cand = index.join(
            F.broadcast(q),
            (F.col("tbl") == F.col("qtbl"))
            & (F.col("bucket") == F.col("qbucket")),
        )
    if exclude_self:
        cand = cand.where(F.col("vid") != F.col("query_id"))
    scored = cand.select(
        "query_id",
        F.col("vid").alias("neighbor_id"),
        F.round(
            _dot(F.col("qvec"), F.col("vec")) / (F.col("qnrm") * F.col("nrm")), 4
        ).alias("cosine"),
    )
    dedup = scored.groupBy("query_id", "neighbor_id").agg(
        F.max("cosine").alias("cosine")
    )
    return _rank_per_query(dedup, top_k)


def knn_lsh(
    embeddings: DataFrame,
    query_ids: list[int],
    top_k: int = 10,
    n_planes: int = 8,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH
    (OR-construction over ``n_tables`` independent hash tables), exact
    cosine re-rank over the unioned candidate set. Same output schema as
    ``knn_bruteforce``; recall is tuned by (n_planes, n_tables) — fewer
    planes / more tables raises recall at the cost of candidate volume.

    Scale shape: candidates come from a broadcast equi-join on
    (table, bucket) — never a cross product; the per-table collision
    rows carry only scalars into the dedup shuffle (vectors stay on the
    probe side of the broadcast join). For repeated query batches over a
    stable corpus, materialize ``build_lsh_index`` once and call
    ``knn_lsh_probe`` instead of this self-contained form.
    """
    flat = build_lsh_index(
        embeddings, n_planes, n_tables, id_col=id_col, vec_col=vec_col
    )
    return knn_lsh_probe(
        flat, flat.where(F.col("vid").isin(query_ids)), top_k=top_k,
        exclude_self=True,
    )


def quantize_embeddings(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric int8 scalar quantization — the standard 4x memory
    reduction for serving ANN indexes (public practice, e.g. FAISS
    ScalarQuantizer): per-vector ``scale = round(max|x| / 127, 6)``,
    ``code_i = clamp(round(x_i / scale), -127, 127)`` (the clamp
    absorbs the one-code overshoot the rounded scale can introduce).
    A zero vector quantizes to all-zero codes with scale 0.

    Pure projection (array transforms in codegen, no shuffle); the
    rounded scale makes every code bit-reproducible in the DuckDB twin.
    Returns (vec_id, scale, codes:array<int>).
    """
    vec = F.col(vec_col).cast("array<double>")
    t = df.select(
        F.col(id_col).alias("vec_id"),
        vec.alias("vec"),
        F.round(
            F.array_max(F.transform(vec, lambda x: F.abs(x))) / F.lit(127.0),
            6,
        ).alias("scale"),
    )
    codes = F.when(
        F.col("scale") > 0,
        F.transform(
            F.col("vec"),
            lambda x: F.least(
                F.lit(127),
                F.greatest(
                    F.lit(-127),
                    F.round(x / F.col("scale"), 0).cast("int"),
                ),
            ),
        ),
    ).otherwise(F.transform(F.col("vec"), lambda x: F.lit(0)))
    return t.select("vec_id", "scale", codes.alias("codes"))


def quant_error(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Corpus-level reconstruction-error report for the int8
    quantization — the "is 4x compression safe for my vectors" check.
    ONE row: (n_vectors, n_elems, mean_abs_err, max_abs_err).

    Per-element absolute errors fold inside the array as exact
    nano-unit integers (``round(err * 1e9)`` — errors live at the
    1e-3 scale, so nano-units keep ~6 significant digits) and sum
    exactly across the corpus; the max folds as plain doubles (order-
    free). Everything is a projection plus one scalar aggregation.
    """
    q = quantize_embeddings(df, id_col=id_col, vec_col=vec_col)
    base = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    j = base.join(q, "vec_id")
    err = F.zip_with(
        F.col("vec"),
        F.col("codes"),
        lambda x, c: F.abs(x - c.cast("double") * F.col("scale")),
    )
    per_vec = j.select(
        F.aggregate(
            F.transform(err, lambda e: F.round(e * F.lit(1e9), 0).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("err_nano"),
        F.array_max(err).alias("max_err"),
        F.size("vec").cast("long").alias("n_elems"),
    )
    return per_vec.agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.sum("n_elems").cast("long").alias("n_elems"),
        F.round(
            F.sum("err_nano") / (F.lit(1e9) * F.sum("n_elems")), 6
        ).alias("mean_abs_err"),
        F.round(F.max("max_err"), 6).alias("max_abs_err"),
    )


# ---------------------------------------------------------------------------
# SemDeDup: semantic near-duplicate pruning (Abbas et al. 2023, public
# knowledge) — cluster the embedding space coarsely, then drop, within
# each cluster, every vector whose cosine to a LOWER-id cluster-mate
# reaches tau. The coarse clustering is the IVF cell assignment above
# (deterministic md5 centroids, so the DuckDB oracle reproduces it);
# within-cell comparison is the bucketed pair join — never a global
# all-pairs. At 100 TB the cluster count scales with the corpus (cells
# ~ sqrt(N) in the paper's regime), keeping per-cell membership -- and
# hence the quadratic within-cell term -- bounded; ``max_cell_size``
# additionally chain-caps degenerate cells exactly like the LSH
# hot-bucket defusal (linear output, trades pair recall).


def semantic_dedup(
    embeddings: DataFrame,
    tau: float = 0.9,
    n_cells: int = 16,
    centroids: np.ndarray | None = None,
    max_cell_size: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One row per input vector: (vec_id, cell, keep). ``keep`` is
    false iff some cluster-mate with a smaller id has
    round(cosine, 4) >= tau — the deterministic keep-the-first rule
    (smallest id survives each duplicate relation; no transitive
    closure, matching SemDeDup's greedy prune).

    Round-6 plan shape (guide §8 "decide with small rows, move big rows
    once"): the within-cell scoring is ONE ``applyInPandas`` kernel per
    cell, so each vector crosses the cell shuffle exactly once. The
    previous relational formulation expanded the pair list first and
    then joined BOTH endpoint vectors onto every pair — |pairs| >> |vectors|
    copies of the payload — and paid the interpreted
    ``aggregate(zip_with(...))`` fold per pair (measured: the fold alone
    was ~0.9 s of the 2.1 s total at sf0.1). The kernel reproduces the
    relational semantics bit-for-bit: fold-order float accumulation for
    dot and norm, Spark's BigDecimal HALF_UP rounding at the tau
    boundary (exact Decimal check for borderline values), NaN compares
    greater (Spark ordering), chain pairing over sorted ids for cells
    above ``max_cell_size``. Oracle-checked against the same DuckDB
    twin as before."""
    base = embeddings.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    assigned = base.withColumn(
        "cell", F.element_at(_probe_udf(centroids, 1, n_cells)(F.col("vec")), 1)
    )
    # fan-out point: the assignment feeds both the scoring kernel and
    # the output projection; without a checkpoint the pandas UDF would
    # run twice
    assigned = assigned.localCheckpoint(eager=False)
    dropped = (
        assigned.select("cell", "vid", "vec")
        .groupBy("cell")
        .applyInPandas(
            _semantic_dedup_cell_kernel(float(tau), max_cell_size),
            schema="vid long",
        )
        .withColumn("_dropped", F.lit(True))
    )
    return (
        assigned.join(dropped, "vid", "left")
        .select(
            F.col("vid").alias("vec_id"),
            F.col("cell").cast("int").alias("cell"),
            F.coalesce(~F.col("_dropped"), F.lit(True)).alias("keep"),
        )
    )


def _semantic_dedup_cell_kernel(tau: float, max_cell_size: int | None):
    """Per-cell scorer for :func:`semantic_dedup`: returns the vids to
    drop. Numerics replicate the relational formulation exactly:

    - dot and squared-norm accumulate dimension-by-dimension in index
      order starting from 0.0 — the identical float-addition sequence
      of ``aggregate(zip_with(a,b,*), 0.0, +)`` — vectorized ACROSS
      pairs, sequential across dims, so every scalar op matches;
    - the predicate ``round(cosine, 4) >= tau`` uses Spark's double
      rounding (BigDecimal.valueOf == Decimal(repr(x)), HALF_UP).
      Values more than 2e-4 from tau are decided vectorized; the rare
      borderline values get the exact Decimal check; NaN (zero-norm
      vectors) compares GREATER, as in Spark's ordering;
    - cells above ``max_cell_size`` link consecutive sorted ids only
      (the chain-cap contract of ``dedup.bucket_pairs``); smaller cells
      score every i<j pair, blocked so peak memory stays bounded by
      ~4M pairs regardless of cell size.
    """
    from decimal import ROUND_HALF_UP, Decimal

    q4 = Decimal("0.0001")
    t_hi = tau + 2e-4
    t_lo = tau - 2e-4

    def pred(c: np.ndarray) -> np.ndarray:
        out = np.isnan(c) | (c >= t_hi)
        mid = np.nonzero(~out & (c > t_lo))[0]
        for idx in mid:
            v = float(c[idx])
            r = float(Decimal(repr(v)).quantize(q4, rounding=ROUND_HALF_UP))
            out[idx] = r >= tau
        return out

    def fold_dot(X: np.ndarray, ia: np.ndarray, ib: np.ndarray) -> np.ndarray:
        acc = np.zeros(len(ia), dtype=np.float64)
        for d in range(X.shape[1]):
            acc = acc + X[ia, d] * X[ib, d]
        return acc

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        empty = pd.DataFrame({"vid": pd.array([], dtype="int64")})
        if m < 2:
            return empty
        pdf = pdf.sort_values("vid")
        vids = pdf["vid"].to_numpy()
        X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["vec"]])
        acc = np.zeros(m, dtype=np.float64)
        for d in range(X.shape[1]):
            x = X[:, d]
            acc = acc + x * x
        nrm = np.sqrt(acc)
        dropped = np.zeros(m, dtype=bool)

        def mark(ia: np.ndarray, ib: np.ndarray) -> None:
            # zero-norm vectors: the relational form RAISES under ANSI
            # (DIVIDE_BY_ZERO); here the NaN cosine conservatively
            # counts as a duplicate (Spark orders NaN greatest) — a
            # strictly more robust behavior on an input the contract
            # corpora never contain
            with np.errstate(divide="ignore", invalid="ignore"):
                c = fold_dot(X, ia, ib) / (nrm[ia] * nrm[ib])
            dropped[ib[pred(c)]] = True

        if max_cell_size is not None and m > max_cell_size:
            idx = np.arange(m - 1)
            mark(idx, idx + 1)
        else:
            block = max(1, 4_000_000 // m)
            for s in range(0, m - 1, block):
                e = min(s + block, m - 1)
                anchors = np.arange(s, e)
                ia = np.repeat(anchors, m - anchors - 1)
                ib = np.concatenate([np.arange(i + 1, m) for i in anchors])
                mark(ia, ib)
        return pd.DataFrame({"vid": vids[dropped].astype("int64")})

    return kernel


def _assign_batches(
    df: DataFrame,
    centroids: np.ndarray | None = None,
    n_cells: int = 16,
) -> DataFrame:
    """(vid, vec) -> (vid, vec, cell, dist): nearest centroid by
    squared L2 (ties by cell id — np.argsort stable, matching the
    oracle's ORDER BY d, c) plus the FULL squared distance. One
    mapInPandas pass with one X @ C.T per Arrow batch — a struct-
    returning column UDF would be DUPLICATED by Catalyst's field
    extraction (one ArrowEvalPython per extracted field), running the
    matmul twice; mapInPandas structurally executes once.
    ``centroids=None`` builds the md5 seed centroids worker-side from
    the batch dimensionality (no driver action)."""
    C0 = None if centroids is None else np.ascontiguousarray(centroids)

    def assign(batches):
        C, cn = C0, None if C0 is None else (C0 * C0).sum(axis=1)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.vstack(
                [np.asarray(v, dtype=np.float64) for v in pdf["vec"]]
            )
            if C is None:
                C = np.ascontiguousarray(ivf_centroids(X.shape[1], n_cells))
                cn = (C * C).sum(axis=1)
            d = cn[None, :] - 2.0 * (X @ C.T)
            cell = np.argsort(d, axis=1, kind="stable")[:, 0]
            xn = (X * X).sum(axis=1)
            out = pdf[["vid", "vec"]].copy()
            out["cell"] = cell.astype("int32")
            out["dist"] = d[np.arange(len(cell)), cell] + xn
            yield out

    schema = "vid long, vec array<double>, cell int, dist double"
    return df.select("vid", "vec").mapInPandas(assign, schema)


def kmeans_step(
    embeddings: DataFrame,
    n_cells: int = 16,
    centroids: np.ndarray | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One Lloyd's k-means iteration as a relational report — the
    oracle-checkable window into the :func:`ivf_train` loop: assign
    every vector to its nearest centroid (squared L2, ties by cell id),
    then per NON-EMPTY cell report membership, mean assigned distance,
    and how far the M-step would move the centroid. Returns
    (cell, n_vecs, mean_dist, shift), shift = L2 norm between the
    cell's current centroid and its members' mean.

    ``centroids=None`` uses the deterministic md5 seed centroids
    (:func:`ivf_centroids`) — the configuration the DuckDB oracle
    reproduces; pass ``ivf_train(...)`` output to monitor convergence
    (shift -> 0) across iterations.

    Scale shape: assignment is one vectorized X @ C.T per Arrow batch
    (the centroid matrix rides in the closure — for very large k move
    it to a Spark broadcast); the M-step means aggregate relationally
    via posexplode + groupBy(cell, dim) with map-side partial
    aggregation (never a vector collect); the k x dim current-centroid
    table joins back as a BROADCAST literal relation. The driver holds
    only k x dim floats at any point.
    """
    base = embeddings.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    if centroids is None:
        head = base.select(F.size("vec").alias("d")).limit(1).collect()
        if not head:
            raise ValueError(
                "kmeans_step: embeddings DataFrame is empty — pass "
                "explicit centroids to report on an empty corpus"
            )
        C = ivf_centroids(head[0]["d"], n_cells)
    else:
        C = np.asarray(centroids, dtype=np.float64)
        n_cells = C.shape[0]
    assigned = _assign_batches(base, C)
    # ONE pass over the assigned stream (the matmul UDF must not
    # re-execute per report branch): aggregate at (cell, dim)
    # granularity, carrying the per-vector stats alongside — every
    # i-group of a cell sees exactly the cell's member set, so its
    # count/dist-sum equal the per-cell values and the final rollup
    # just picks them up with max() while folding the shift norm.
    per_dim = (
        assigned.select("cell", "dist", F.posexplode("vec").alias("i", "v"))
        .groupBy("cell", "i")
        .agg(
            F.avg("v").alias("m"),
            F.count("*").cast("long").alias("cnt"),
            F.sum("dist").alias("sd"),
        )
    )
    spark = embeddings.sparkSession
    cent = spark.createDataFrame(
        [
            (c, i, float(C[c, i]))
            for c in range(n_cells)
            for i in range(C.shape[1])
        ],
        "cell int, i int, w double",
    )
    return (
        per_dim.join(F.broadcast(cent), ["cell", "i"])
        .groupBy("cell")
        .agg(
            F.max("cnt").alias("n_vecs"),
            F.round(F.max("sd") / F.max("cnt"), 6).alias("mean_dist"),
            F.round(
                F.sqrt(F.sum((F.col("m") - F.col("w")) * (F.col("m") - F.col("w")))),
                6,
            ).alias("shift"),
        )
        .select(
            F.col("cell").cast("int").alias("cell"),
            "n_vecs",
            "mean_dist",
            "shift",
        )
    )


def projection_planes(out_dim: int, dim: int) -> np.ndarray:
    """Deterministic md5-derived signed projection matrix (key prefix
    'proj' — its own namespace next to the LSH hyperplanes and IVF
    centroids, same portable construction both engines can rebuild)."""
    return _md5_matrix("proj", (out_dim, dim))


def embedding_project(
    embeddings: DataFrame,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-projection dimensionality reduction: y = P x with the
    deterministic signed md5 plane matrix — the classic
    Johnson-Lindenstrauss cosine-preserving shrink that cuts ANN index
    storage/bandwidth dim/out_dim-fold while approximately preserving
    angles. Returns (vec_id, proj: array<double> length ``out_dim``,
    4-dp rounded).

    Scale shape: a PURE projection — each output coordinate is a
    zip_with/aggregate fold over the vector against a literal plane
    row, entirely JVM-side inside whole-stage codegen (deterministic
    left-fold summation, no Python stage, zero shuffles). The plan
    carries out_dim x dim literals; for very high dim x out_dim move to
    the vectorized-UDF path (one X @ P.T per batch, _probe_udf shape).
    """
    head = embeddings.select(F.size(vec_col).alias("d")).limit(1).collect()
    if not head:
        raise ValueError("embedding_project: embeddings DataFrame is empty")
    dim = head[0]["d"]
    P = projection_planes(out_dim, dim)
    vec = F.col(vec_col).cast("array<double>")
    comps = []
    for j in range(out_dim):
        pj = F.array(*[F.lit(float(P[j, i])) for i in range(dim)])
        comps.append(
            # + 0.0 normalizes IEEE -0.0 to +0.0: engines disagree on
            # the sign round() leaves on a tiny negative sum (DuckDB
            # keeps -0.0, Spark does not), and a signed zero is a
            # value-hash mismatch even though -0.0 == 0.0
            F.round(
                F.aggregate(
                    F.zip_with(vec, pj, lambda x, w: x * w),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                4,
            )
            + F.lit(0.0)
        )
    return embeddings.select(
        F.col(id_col).alias("vec_id"), F.array(*comps).alias("proj")
    )


def pq_codebooks(m: int, k: int, dsub: int) -> np.ndarray:
    """Deterministic md5-derived product-quantization codebooks, shape
    (m, k, dsub) — key prefix 'pq|s|c|i', same portable construction as
    the hyperplanes/centroids so DuckDB rebuilds the identical
    codebooks in SQL. Production would train each subspace codebook
    with k-means (ivf_train restricted to the subvector slice); the
    seed books are the oracle-checkable configuration."""
    return _md5_matrix("pq", (m, k, dsub))


def _pq_nearest(vecs: pd.Series, m: int, k: int) -> tuple[np.ndarray, np.ndarray, int]:
    """Nearest seed codeword per subspace for one non-empty batch of
    vectors: (codes int32 (n, m), squared reconstruction error (n,),
    dim). Squared L2, ties by codeword id; raises when ``m`` does not
    divide the dimensionality."""
    X = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
    n, dim = X.shape
    if dim % m:
        raise ValueError(f"PQ: dim {dim} not divisible by m={m}")
    B = pq_codebooks(m, k, dim // m)
    Xs = X.reshape(n, m, dim // m)
    codes = np.empty((n, m), dtype=np.int32)
    err = np.zeros(n)
    for s in range(m):
        d = ((Xs[:, s, None, :] - B[s][None, :, :]) ** 2).sum(-1)
        codes[:, s] = np.argsort(d, axis=1, kind="stable")[:, 0]
        err += d[np.arange(n), codes[:, s]]
    return codes, err, dim


def pq_encode(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product quantization encode (Jégou et al. 2011, public
    knowledge): split each vector into ``m`` equal subvectors and store
    only the index of the nearest of ``k`` codewords per subspace
    (squared L2, ties by codeword id) — the memory layer of the IVF-PQ
    index every web-scale ANN deployment runs: m*log2(k) bits per
    vector (4 bytes here) instead of dim*4 bytes. Returns
    (vec_id, codes: array<int> length m).

    Scale shape: ONE mapInPandas pass, one (N, k) distance matrix per
    subspace per Arrow batch — no shuffle at all; the seed codebooks
    (m*k*dsub floats) are built worker-side from the batch
    dimensionality and cached per process."""

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = pdf[["vid"]].copy()
            out["codes"] = list(_pq_nearest(pdf["vec"], m, k)[0])
            yield out

    base = embeddings.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    return base.mapInPandas(encode, "vid long, codes array<int>").select(
        F.col("vid").alias("vec_id"), "codes"
    )


def pq_error(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus-wide PQ reconstruction-error report: encode + decode
    against the seed codebooks in the same single kernel pass and
    aggregate (n_vectors, mean_sq_err, max_sq_err, bits_per_vector,
    compression_x) — the measurement that decides m/k before an IVF-PQ
    rollout. One Python stage, one 1-row aggregate; never materializes
    codes."""

    def sqerr(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            _, err, dim = _pq_nearest(pdf["vec"], m, k)
            yield pd.DataFrame({"sq_err": err, "dim": dim})

    per = embeddings.select(
        F.col(vec_col).cast("array<double>").alias("vec")
    ).mapInPandas(sqerr, "sq_err double, dim int")
    bits = m * int(np.log2(k))
    return per.agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.round(F.avg("sq_err"), 6).alias("mean_sq_err"),
        F.round(F.max("sq_err"), 6).alias("max_sq_err"),
        F.lit(bits).cast("long").alias("bits_per_vector"),
        F.round(F.max("dim") * 32 / F.lit(bits), 4).alias("compression_x"),
    )


def hard_negatives(
    embeddings: DataFrame,
    query_ids: list[int],
    top_k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive-training hard-negative miner: for each query vector,
    the ``top_k`` most-cosine-similar vectors carrying a DIFFERENT
    label — the highest-loss negatives an embedding-model trainer
    wants in the batch. Same broadcast shape as knn_bruteforce with the
    label-mismatch predicate fused into the join (NULL labels never
    match the inequality, so unlabeled rows are excluded — the safe
    default for a miner). Returns (query_id, neighbor_id, neg_label,
    rank, cosine); scale path: swap the crossJoin for the LSH/IVF
    candidate join, predicate unchanged."""
    base = embeddings.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("vec"),
        F.col(label_col).alias("lbl"),
    ).withColumn("nrm", _norm(F.col("vec")))
    q = base.where(F.col("vid").isin(query_ids)).select(
        F.col("vid").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qnrm"),
        F.col("lbl").alias("qlbl"),
    )
    joined = base.crossJoin(F.broadcast(q)).where(
        (F.col("vid") != F.col("query_id")) & (F.col("lbl") != F.col("qlbl"))
    )
    scored = joined.select(
        "query_id",
        F.col("vid").alias("neighbor_id"),
        F.col("lbl").alias("neg_label"),
        F.round(
            _dot(F.col("qvec"), F.col("vec")) / (F.col("qnrm") * F.col("nrm")), 4
        ).alias("cosine"),
    )
    return _rank_per_query(scored, top_k)
