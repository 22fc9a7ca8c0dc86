"""Per-partition checkpoint manifests + resume (the north rule's
lineage/resumability clause).

Design (Iceberg-shaped, parquet-backed so it runs in-sandbox; the
manifest schema is what an Iceberg snapshot/manifest would carry):

- documents are assigned a stable **bucket** = ``pmod(xxhash64(doc_id),
  n_buckets)`` — the commit unit;
- processing runs in **waves** of buckets; after a wave's output data is
  durably written, one manifest row per bucket is appended recording
  lineage: run_id, input snapshot id, bucket range, doc/span/block
  counts, wall-clock;
- **resume** = anti-join: buckets already present in the manifest for the
  same (input snapshot, config fingerprint) are skipped, so a killed job
  reprocesses only uncommitted buckets and the final table is identical
  (kernels are pure; row content is independent of partitioning).

On a real cluster the same layer rides Iceberg: snapshot-id from the
table metadata, manifest appends in the same transaction as the data
commit. The interface is identical; only the IO swaps.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_DIR = "_manifest"
DATA_DIR = "data"

MANIFEST_SCHEMA = (
    "run_id string, snapshot_id string, bucket int, n_docs long, "
    "n_spans long, n_blocks long, committed_at_ms long"
)


def snapshot_id_of(path: str) -> str:
    """Deterministic input-snapshot fingerprint for a parquet dir or a
    single parquet file (file names + sizes + mtimes — the parquet
    stand-in for an Iceberg snapshot id). The mtime is what tells a
    same-name, same-size rewrite apart from the original."""
    if os.path.isfile(path):
        walk = [(os.path.dirname(path), [], [os.path.basename(path)])]
    else:
        walk = os.walk(path)
    entries = []
    for root, _, files in walk:
        for f in sorted(files):
            if f.startswith(("_", ".")):
                continue
            st = os.stat(os.path.join(root, f))
            entries.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
    import hashlib

    return hashlib.md5("|".join(entries).encode()).hexdigest()


def committed_buckets(spark: SparkSession, out_dir: str, snapshot_id: str) -> set[int]:
    mpath = os.path.join(out_dir, MANIFEST_DIR)
    if not os.path.isdir(mpath) or not any(
        f.endswith(".parquet") for f in os.listdir(mpath)
    ):
        return set()
    m = spark.read.parquet(mpath)
    rows = m.where(F.col("snapshot_id") == snapshot_id).select("bucket").distinct().collect()
    return {r["bucket"] for r in rows}


def process_resumable(
    spans_df: DataFrame,
    out_dir: str,
    process,  # Callable[[DataFrame], DataFrame]: span df -> output df
    snapshot_id: str,
    n_buckets: int = 16,
    wave_size: int = 4,
    run_id: str | None = None,
) -> dict:
    """Run ``process`` over the span table bucket-wise with manifest
    commits; skips buckets already committed for this snapshot.

    Returns a summary dict (buckets processed / skipped).
    """
    spark = spans_df.sparkSession
    run_id = run_id or uuid.uuid4().hex[:12]
    os.makedirs(out_dir, exist_ok=True)

    bucketed = spans_df.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    )
    done = committed_buckets(spark, out_dir, snapshot_id)
    todo = [b for b in range(n_buckets) if b not in done]

    data_path = os.path.join(out_dir, DATA_DIR)
    manifest_path = os.path.join(out_dir, MANIFEST_DIR)

    processed = []
    for w in range(0, len(todo), wave_size):
        wave = todo[w : w + wave_size]
        wave_in = bucketed.where(F.col("bucket").isin(wave))
        stats_in = {
            r["bucket"]: r
            for r in wave_in.groupBy("bucket")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(F.size("spans")).alias("n_spans"),
            )
            .collect()
        }
        out = process(wave_in.drop("bucket")).withColumn(
            "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
        )
        # 1) data commit (parquet dir partitioned by bucket — idempotent
        #    per-bucket overwrite via dynamic partition overwrite)
        (
            out.repartition("bucket")
            .write.partitionBy("bucket")
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(data_path)
        )
        out_stats = {
            r["bucket"]: r["n_blocks"]
            for r in spark.read.parquet(data_path)
            .where(F.col("bucket").isin(wave))
            .groupBy("bucket")
            .agg(F.sum("n_blocks").alias("n_blocks"))
            .collect()
        }
        # 2) manifest commit — the durable "this bucket is done" record
        now = int(time.time() * 1000)
        rows = [
            (
                run_id,
                snapshot_id,
                b,
                stats_in[b]["n_docs"] if b in stats_in else 0,
                int(stats_in[b]["n_spans"] or 0) if b in stats_in else 0,
                int(out_stats.get(b, 0)),
                now,
            )
            for b in wave
        ]
        spark.createDataFrame(rows, schema=MANIFEST_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(manifest_path)
        processed.extend(wave)

    return {
        "run_id": run_id,
        "snapshot_id": snapshot_id,
        "processed_buckets": processed,
        "skipped_buckets": sorted(done),
        "out_dir": out_dir,
    }


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, DATA_DIR))


def manifest_summary(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, MANIFEST_DIR))
