"""Commit records + resume (the north rule's lineage/resumability
clause): the ONE commit protocol behind ``build_corpus`` stages, the
``update_corpus`` patch and ``process_resumable`` buckets.

Design (Iceberg-shaped, file-backed so it runs in-sandbox; a record
carries what an Iceberg snapshot summary would):

- a **commit unit** is a ``build_corpus`` stage or one bucket
  (``bucket=<b>``, ``b = pmod(xxhash64(doc_id), n_buckets)``) of a
  resumable output;
- :func:`write_committed` writes a frame and commits one record per unit
  it covers: (run_id, input snapshot id, config fingerprint, data path,
  counts, wall-clock, schema). The counts ride the write itself as
  ``DataFrame.observe`` metrics, and the returned frame is the output
  re-read with the written schema, so a commit runs no Spark job of its
  own;
- the record lands as an atomic ``_STAGE_<unit>.json`` marker (temp
  file + rename) plus a ``manifest.jsonl`` lineage line;
- **resume** = :func:`committed`: a unit is done when its marker matches
  the current (input snapshot, config fingerprint), no patch sentinel is
  pending and its data path exists. A killed job reprocesses only
  uncommitted units, and the final table is identical (kernels are
  pure; row content is independent of partitioning).

On a real cluster the same layer rides Iceberg: snapshot-id from the
table metadata, the record in the snapshot summary of the data commit.
The interface is identical; only the IO swaps.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
import uuid

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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
    return hashlib.md5("|".join(entries).encode()).hexdigest()


def config_fingerprint(cfg: dict) -> str:
    return hashlib.md5(
        json.dumps(cfg, sort_keys=True, default=str).encode()
    ).hexdigest()


def _marker_path(out_dir: str, unit: str) -> str:
    return os.path.join(out_dir, f"_STAGE_{unit}.json")


def _sentinel_path(out_dir: str, unit: str) -> str:
    """Patch-in-flight sentinel: committed atomically BEFORE a patch's
    data swap begins, cleared AFTER the new marker is durable. While
    present, the unit's data may be old, new, or mid-swap — never trust
    it."""
    return os.path.join(out_dir, f"_PATCHING_{unit}.json")


def _write_atomic(path: str, obj: dict) -> None:
    # temp file + rename: a kill mid-write can never leave a torn file
    # that breaks the NEXT resume
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=2)
    os.replace(tmp, path)


def committed(out_dir: str, unit: str, lineage: dict) -> dict | None:
    """The unit's commit record when it vouches for the data under it
    for ``lineage``'s (snapshot_id, config_fp), else None."""
    # a pending-patch sentinel means a swap was in flight when the
    # process died: the marker (old or new) no longer vouches for the
    # data underneath
    if os.path.exists(_sentinel_path(out_dir, unit)):
        return None
    try:
        with open(_marker_path(out_dir, unit)) as f:
            rec = json.load(f)
    except (OSError, ValueError):
        # missing, torn or unreadable marker means NOT committed — the
        # unit reruns, which is always safe (writes overwrite)
        return None
    if (
        rec.get("snapshot_id") != lineage["snapshot_id"]
        or rec.get("config_fp") != lineage["config_fp"]
        or "schema" not in rec
        # a marker whose data directory is gone (kill between a patch's
        # rmtree and rename) is equally not done
        or not os.path.isdir(os.path.join(out_dir, rec["path"]))
    ):
        return None
    return rec


def read_committed(spark: SparkSession, out_dir: str, rec: dict) -> DataFrame:
    """A committed output, read with its recorded schema (no schema
    inference job)."""
    schema = StructType.fromJson(json.loads(rec["schema"]))
    return spark.read.schema(schema).parquet(os.path.join(out_dir, rec["path"]))


def abandon_patch(out_dir: str, unit: str) -> bool:
    """True when a patch of ``unit`` died mid-swap; drops its staging
    dir. The sentinel stays until the unit's next commit clears it, so
    the unit reads not-done until it is rewritten in full."""
    if not os.path.exists(_sentinel_path(out_dir, unit)):
        return False
    shutil.rmtree(os.path.join(out_dir, unit + "__patch"), ignore_errors=True)
    return True


def write_committed(
    df: DataFrame,
    out_dir: str,
    path: str,
    lineage: dict,
    counts: list[Column] | None = None,
    observed: tuple[Observation, ...] = (),
    partition_by: str | None = None,
    patch: dict | None = None,
) -> DataFrame:
    """Write ``df`` to ``out_dir/path`` and commit one record per unit.

    ``counts`` are observed on ``df`` during the write, each aliased
    ``<unit>/<name>``; the units committed are the ``<unit>`` prefixes
    in order. ``observed`` are Observations the caller attached upstream
    in the same plan, named the same way. The default is one unit named
    ``path`` with its row count (``n_rows``).

    ``patch`` (a JSON note) makes the write a guarded swap of an output
    that ``df`` itself reads: the rows land in ``<path>__patch``, the
    sentinel commits atomically, the directories swap, and the record
    commit clears the sentinel. A kill anywhere in between leaves the
    sentinel, so :func:`committed` reports the unit not-done and a retry
    can never re-apply the patch on top of patched data.

    Returns the output re-read with ``df``'s schema (no Spark job).
    """
    t0 = time.time()
    if counts is None:
        counts = [F.count(F.lit(1)).alias(f"{path}/n_rows")]
    obs = Observation()
    df = df.observe(obs, *counts)
    dest = os.path.join(out_dir, path)
    w = df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
    if partition_by is not None:
        w = w.partitionBy(partition_by)
    w.parquet(dest + "__patch" if patch is not None else dest)
    if patch is not None:
        _write_atomic(_sentinel_path(out_dir, path), patch)
        shutil.rmtree(dest)
        os.replace(dest + "__patch", dest)
    metrics = {}
    for o in (obs, *observed):
        metrics.update(o.get)
    recs: dict[str, dict] = {}
    for key, value in metrics.items():
        unit, name = key.split("/", 1)
        recs.setdefault(unit, {})[name] = int(value)
    now = int(time.time() * 1000)
    for unit, unit_counts in recs.items():
        rec = {
            "stage": unit, **lineage, "path": path, **unit_counts,
            "wall_ms": now - int(t0 * 1000), "committed_at_ms": now,
            "schema": df.schema.json(),
        }
        # the marker write AFTER the data is durable is the commit point;
        # the jsonl log keeps full lineage history
        _write_atomic(_marker_path(out_dir, unit), rec)
        with open(os.path.join(out_dir, "manifest.jsonl"), "a") as f:
            f.write(json.dumps(rec) + "\n")
        # clear a patch sentinel ONLY after the new marker is durable: a
        # kill in between leaves the unit conservatively 'not done' (it
        # reruns — wasteful but safe); the reverse order would let an old
        # marker vouch for patched data
        sent = _sentinel_path(out_dir, unit)
        if os.path.exists(sent):
            os.remove(sent)
    return df.sparkSession.read.schema(df.schema).parquet(dest)


def _per_bucket(bucket: Column, wave: list[int], **cols: Column) -> list[Column]:
    """Per-bucket sums of ``cols`` over a wave, named for
    :func:`write_committed` (a wave holds at most ``wave_size`` buckets,
    so this is a handful of conditional sums in one aggregate)."""
    return [
        F.coalesce(F.sum(F.when(bucket == b, c)), F.lit(0)).alias(
            f"bucket={b}/{name}"
        )
        for b in wave
        for name, c in cols.items()
    ]


def process_resumable(
    spans_df: DataFrame,
    out_dir: str,
    process,  # Callable[[DataFrame], DataFrame]: span df -> output df
    snapshot_id: str,
    config: dict,
    n_buckets: int = 16,
    wave_size: int = 4,
    run_id: str | None = None,
) -> dict:
    """Run ``process`` over the span table bucket-wise, one write and one
    record per bucket; skips buckets already committed for this
    (snapshot, ``config``). ``config`` identifies ``process`` (the CLI
    passes its output formats and ``--spanize``): a rerun with another
    config reprocesses every bucket instead of keeping the first
    config's data.

    Returns a summary dict (buckets processed / skipped).
    """
    lineage = {
        "run_id": run_id or uuid.uuid4().hex[:12],
        "snapshot_id": snapshot_id,
        "config_fp": config_fingerprint({**config, "n_buckets": n_buckets}),
    }
    os.makedirs(out_dir, exist_ok=True)
    bucket = F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    done = [
        b for b in range(n_buckets) if committed(out_dir, f"bucket={b}", lineage)
    ]
    todo = [b for b in range(n_buckets) if b not in done]

    for w in range(0, len(todo), wave_size):
        wave = todo[w : w + wave_size]
        seen = Observation()
        wave_in = spans_df.where(bucket.isin(wave)).observe(
            seen,
            *_per_bucket(bucket, wave, n_docs=F.lit(1), n_spans=F.size("spans")),
        )
        # a parquet dir partitioned by bucket, each bucket written by
        # every task that holds its rows; dynamic partition overwrite
        # leaves the other buckets alone. The wave's own bucket dirs go
        # first, so a bucket that is empty now keeps no rows of an
        # earlier run
        for b in wave:
            shutil.rmtree(
                os.path.join(out_dir, DATA_DIR, f"bucket={b}"), ignore_errors=True
            )
        write_committed(
            process(wave_in).withColumn("bucket", bucket),
            out_dir,
            DATA_DIR,
            lineage,
            counts=_per_bucket(bucket, wave, n_blocks=F.col("n_blocks")),
            observed=(seen,),
            partition_by="bucket",
        )

    return {
        "run_id": lineage["run_id"],
        "snapshot_id": snapshot_id,
        "processed_buckets": todo,
        "skipped_buckets": done,
        "out_dir": out_dir,
    }


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, DATA_DIR))


def manifest_summary(spark: SparkSession, out_dir: str) -> DataFrame:
    """One row per committed bucket, from its commit record."""
    rows = []
    for name in sorted(os.listdir(out_dir)):
        if name.startswith("_STAGE_bucket=") and name.endswith(".json"):
            with open(os.path.join(out_dir, name)) as f:
                r = json.load(f)
            rows.append((
                r["run_id"], r["snapshot_id"], int(r["stage"][len("bucket="):]),
                r["n_docs"], r["n_spans"], r["n_blocks"], r["committed_at_ms"],
            ))
    return spark.createDataFrame(rows, MANIFEST_SCHEMA)
