"""Partitioning helpers shared by the operators: the scan-parallelism
floor ``spread`` and the skew-safe two-phase ``sharded_top_k``.

The expensive part of most text operators here (shingle explosion,
n-gram construction, posting-list tokenization, hashed-bigram
features) runs *before* the first exchange — i.e. inside the scan
stage. Scan parallelism is bounded by the input's split count, and a
small input (a single-row-group parquet file, a few small files)
yields one or a few tasks: the whole map-side computation serializes
onto those cores no matter how many the session has.

``spread`` is a **parallelism floor for small inputs**. The gate is
the optimizer's size estimate for the plan, not the plan's partition
count: asking a DataFrame for its partition count (``df.rdd``) forces
AQE to finalize the plan, which *executes* every upstream shuffle
stage — measured on this host: a probe on a join plan ran 2 Spark jobs
before answering. The size estimate is driver-only and free. It is
exact for bare file scans and wildly *over*-estimated for
joins/checkpoints, which makes overshoot the safe direction: an
operator fed by upstream shuffles skips the extra exchange it does not
need.

The repartition fires only when the estimated input is at most
``parallelism x 4 MiB`` — small enough that the added exchange moves a
trivial number of bytes once, while unlocking every core for the
map-heavy stage above it. Because the gate is on total bytes, a LARGE
unsplittable file (the "one huge unsplittable file" case of
spark_optimization_guide.md §2.5) is above it and is NOT spread; that
needs a gate on bytes per split, which is open work. At 100 TB (or any
healthy multi-split scan) ``spread`` is a no-op; the threshold scales
with the session's parallelism, never a hard-coded local constant.
The key is a deterministic hash (never round-robin, which pays a sort
and has retry-duplication hazards, guide §2.5).

Results are unaffected: every consumer is a grouping/join/aggregation
keyed at least by the repartition key, so per-key row locality and
in-key row order are preserved and partial-aggregation merge order per
key is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# per-core byte budget under which an extra exchange is considered free
_BYTES_PER_CORE = 4 * 1024 * 1024


def spread(df: DataFrame, key_col: str) -> DataFrame:
    """Repartition ``df`` by ``xxhash64(key_col)`` to the session's
    default parallelism iff the optimizer's size estimate says the
    whole input is at most ``parallelism x 4 MiB`` — a parallelism
    floor for small inputs (see module docstring). No-op otherwise,
    including on a large unsplittable file."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if target <= 1:
        return df
    try:
        est = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return df  # stats bridge unavailable: never fail the operator
    if est > target * _BYTES_PER_CORE:
        return df
    return df.repartition(target, F.xxhash64(F.col(key_col)))


def _md5_long28(col):
    """First 7 hex digits of md5(col) as a long — the engine's portable
    28-bit hash (DuckDB twin: ``('0x' || substr(md5(x), 1, 7))::BIGINT``)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 7), 16, 10).cast(
        "long"
    )


def sharded_top_k(
    df: DataFrame,
    order,
    k: int,
    n_shards: int,
    shard_key,
    partition_by=(),
) -> DataFrame:
    """The rows of ``df`` ranked 1..``k`` by ``order`` within each
    ``partition_by`` group (the whole frame when empty), with the rank
    added as a long ``rank`` column.

    Skew-safe two-phase plan: a single window per group would funnel a
    hot group (one web host, the whole vocabulary) through one task.
    Phase 1 ranks within ``(*partition_by, _shard)``, ``_shard`` the
    md5 of the ``shard_key`` column mod ``n_shards``, and keeps ``k``
    rows per shard, so the heaviest task sees ~1/``n_shards`` of its
    group. Phase 2 re-ranks the at most ``n_shards * k`` survivors per
    group; without ``partition_by`` it is a single-partition window
    bounded BY CONSTRUCTION, not a global sort (``partitionBy(lit(0))``
    marks the intent; Catalyst folds the constant away, so the "No
    Partition Defined for Window" warning is demoted at the logger in
    ``session.get_spark``, see PLANS.md). Output is IDENTICAL to the
    single-window ranking whenever ``order`` is a total order: any row
    in a group's top-k is in its shard's top-k. ``n_shards=1`` is that
    single-window plan.
    """
    if k < 1:
        raise ValueError(f"top-k size must be >= 1 (got {k})")
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1 (got {n_shards})")
    if n_shards > 1:
        w1 = Window.partitionBy(*partition_by, "_shard").orderBy(*order)
        df = (
            df.withColumn("_shard", _md5_long28(shard_key) % n_shards)
            .withColumn("_r1", F.row_number().over(w1))
            .where(F.col("_r1") <= k)
            .drop("_shard", "_r1")
        )
    w2 = Window.partitionBy(*(partition_by or (F.lit(0),))).orderBy(*order)
    return df.withColumn("rank", F.row_number().over(w2).cast("long")).where(
        F.col("rank") <= k
    )
