"""Structured Streaming variant of the extraction pipeline.

The reference is strictly batch (one-shot per document); a web-scale
deployment ingests continuously, so the engine exposes the same kernel
as a streaming stage: ``readStream`` over the span table directory ->
``mapInPandas`` extract -> sink. The kernel is stateless per document,
so no watermark/state is needed for extraction itself; the manifest
layer covers replay (exactly-once via file-sink transaction log +
checkpointLocation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from docstrange_spark.datagen import SPAN_SCHEMA_DDL
from docstrange_spark.operators import extract


def read_span_stream(spark: SparkSession, path: str, max_files: int = 8) -> DataFrame:
    return (
        spark.readStream.schema(SPAN_SCHEMA_DDL)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def extract_stream(stream_df: DataFrame) -> DataFrame:
    """Streaming extraction: the batch ``extract`` plan without the salt
    repartition — micro-batches are never salted (each batch is already
    file-bounded)."""
    return extract.extract(stream_df, salt=False)


def sessionize_events(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked session aggregation over an event stream: one row per
    (user_id, session window) with event count and value sum. Works on
    both streaming and batch frames (same plan, state only when
    streaming); late data beyond the watermark is dropped — the standard
    Structured Streaming pattern for the engine's ingest telemetry."""
    from pyspark.sql import functions as F

    # event time must be TIMESTAMP (parquet may carry TIMESTAMP_NTZ)
    src = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if events.isStreaming:
        src = src.withWatermark("ts", watermark)
    return (
        src.groupBy(F.session_window("ts", gap).alias("session"), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def streaming_first_seen(
    docs: DataFrame,
    hash_col: str = "content_hash",
) -> DataFrame:
    """Custom stateful operator: emit only the FIRST document seen for
    each content hash across the whole stream — streaming exact-dedup
    via ``applyInPandasWithState`` (keyed state = "seen" flag + keeper).

    Input: a streaming frame with (doc_id, content_hash). Output: one row
    per hash, the first doc that carried it. Batch mode falls back to a
    plain groupBy-min (same result on a bounded input).
    """
    from pyspark.sql import functions as F

    if not docs.isStreaming:
        return docs.groupBy(hash_col).agg(F.min("doc_id").alias("keeper_doc_id"))

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def dedup_fn(key, pdfs, state):
        first = None
        for pdf in pdfs:
            cand = pdf["doc_id"].min()
            first = cand if first is None else min(first, cand)
        if state.exists:
            return iter(())  # hash already emitted in an earlier batch
        state.update((str(first),))
        yield pd.DataFrame({"content_hash": [key[0]], "keeper_doc_id": [first]})

    return (
        docs.groupBy(hash_col)
        .applyInPandasWithState(
            dedup_fn,
            outputStructType="content_hash string, keeper_doc_id string",
            stateStructType="keeper string",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def clean_stream(
    docs: DataFrame,
    min_words: int = 3,
    scrub_pii: bool = True,
    text_col: str = "text",
) -> DataFrame:
    """The text-hygiene clean chain as a streaming stage: C4-style line
    filtering (short/duplicate lines dropped, headings kept) followed by
    PII redaction, REPLACING ``text_col`` so downstream stages see
    cleaned text — the streaming twin of ``corpus._clean_stage``'s
    projection-only subset (paragraph-level dedup is cross-document and
    stays batch).

    Both operators are zero-shuffle projections, so they run UNCHANGED
    on a ``readStream`` DataFrame — no watermark, no state; the batch
    output is the golden answer (tests/test_functions_streaming.py).
    The continuous-ingest shape: raw crawl docs land in the source
    table, this stage cleans them in-flight, and the signal/dedup
    stages consume the cleaned sink.
    """
    from docstrange_spark.operators import text_analysis

    # in-place column swaps, not doc_id joins back to the operators'
    # (doc_id, clean_text) projections — a stream-stream join would
    # need watermarks; the *_text_expr forms are the same pure column
    # expressions the oracle-checked batch operators are built from
    out = docs.withColumn(
        text_col,
        text_analysis.line_filter_text_expr(text_col, min_words=min_words),
    )
    if scrub_pii:
        out = out.withColumn(
            text_col, text_analysis.pii_scrub_text_expr(text_col)
        )
    return out


def run_to_parquet(
    extracted: DataFrame, out_path: str, checkpoint: str, available_now: bool = True
):
    """Write the stream to parquet with exactly-once file-sink semantics;
    ``available_now`` drains what exists and stops (test/backfill mode)."""
    w = (
        extracted.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


# ---------------------------------------------------------------------------
# streaming near-duplicate detection: stateful LSH buckets


def streaming_near_dup(
    docs: DataFrame,
    k: int = 8,
    bands: int = 4,
    max_bucket_members: int = 1024,
) -> DataFrame:
    """Custom stateful operator: near-duplicate candidate pairs over a
    document STREAM. Each micro-batch's documents are signed map-side
    with the batch md5-scheme MinHash (``dedup._shingle_grams`` and
    ``dedup._md5_hash``, min per coordinate via ``array_min``) and
    banded by ``dedup.lsh_bands``, all JVM-side; per (band, band_hash) key,
    ``applyInPandasWithState`` keeps the bucket's member ids as state
    and emits a pair for every (existing member, new member) collision
    plus all within-batch pairs — over an entire drain this reproduces
    exactly the batch ``dedup.lsh_candidate_pairs`` candidate set, but
    incrementally, with state AND per-batch pair emission bounded by
    ``max_bucket_members`` per bucket: once a bucket would exceed the
    cap, the batch's new members are CHAIN-paired (linear output,
    component preserved) instead of all-pairs — the streaming analog of
    the batch hot-bucket cap, applied to emission as well as state so a
    degenerate micro-batch cannot build O(n²) tuples in one state task.

    Input: streaming (doc_id long, text string). Output stream:
    (doc_a, doc_b), doc_a < doc_b; a pair colliding in several bands may
    be emitted once per band — distinct at the sink or consumer."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from docstrange_spark.operators import dedup, text_analysis

    # md5-scheme MinHash per row, JVM-side: the batch operator's shingles
    # and per-shingle hash with array_min in place of its groupBy min
    # (append mode has no aggregation); a document under 3 tokens has no
    # shingles and, as in the batch operator, no signature
    def signature(grams):
        return F.array(*[
            F.array_min(F.transform(grams, lambda s: dedup._md5_hash(i, s)))
            for i in range(k)
        ])

    toks = F.split(F.lower(F.col("text")), " ")
    sigs = (
        docs.where(F.size(toks) >= 3)
        .select(
            "doc_id",
            text_analysis.bind(dedup._shingle_grams(F.col("text")), signature)
            .alias("mh"),
        )
        .select("doc_id", *[F.col("mh")[i].alias(f"mh{i}") for i in range(k)])
    )
    banded = dedup.lsh_bands(sigs, bands, k)

    def bucket_fn(key, pdfs, state):
        members: list[int] = list(state.get[0]) if state.exists else []
        new_ids: list[int] = []
        for pdf in pdfs:
            new_ids.extend(int(x) for x in pdf["doc_id"])
        new_ids = sorted(set(new_ids) - set(members))
        if not new_ids:
            return iter(())
        if len(members) + len(new_ids) <= max_bucket_members:
            # normal bucket: full collision pairs (== batch all-pairs)
            pairs = [
                (min(m, n), max(m, n)) for n in new_ids for m in members
            ] + [
                (a, b)
                for i, a in enumerate(new_ids)
                for b in new_ids[i + 1 :]
            ]
            members = members + new_ids
        else:
            # degenerate bucket: CHAIN pairing, the streaming analog of
            # the batch hot-bucket cap — linear output/memory, component
            # preserved (each new id links to its predecessor, the first
            # to the last stored member)
            pairs = []
            prev = members[-1] if members else None
            for n in new_ids:
                if prev is not None:
                    pairs.append((min(prev, n), max(prev, n)))
                prev = n
            room = max_bucket_members - len(members)
            if room > 0:
                members = members + new_ids[:room]
        state.update((members,))
        if pairs:
            yield pd.DataFrame(pairs, columns=["doc_a", "doc_b"])

    return banded.groupBy("band", "band_hash").applyInPandasWithState(
        bucket_fn,
        outputStructType="doc_a long, doc_b long",
        stateStructType="members array<long>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
