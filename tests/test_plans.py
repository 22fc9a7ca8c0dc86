"""Plan-shape budgets for the engine's core pipelines — regressions in
shuffle count / pushdown / Python-stage count fail here."""

import pytest
from pyspark.sql import functions as F

from docstrange_spark import datagen, plans
from docstrange_spark.operators import (
    dedup,
    extract,
    navigation,
    retrieval,
    similarity,
    text_analysis,
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def test_extract_has_one_shuffle_one_python_stage(spark):
    df = extract.extract(datagen.fixture_spans(spark), formats=("json",))
    assert plans.count_python_stages(df) == 1
    assert plans.count_exchanges(df) == 1


def test_exact_dedup_single_shuffle_pruned(docs):
    df = dedup.exact_groups(docs)
    plans.assert_max_shuffles(df, 1)  # partial agg map-side, one exchange
    plans.assert_scan_pruned(df, ["lang", "source", "n_chars"])


def test_minhash_single_shuffle(docs):
    df = dedup.minhash_signatures(docs)
    # one aggregation shuffle, plus (on this low-split fixture input)
    # the adaptive scan-parallelism repartition from partitioning.spread
    # — guide §2.5's "unsplittable input" floor; it does not fire on
    # healthy multi-split scans
    plans.assert_max_shuffles(df, 2)
    assert plans.count_python_stages(df) == 0  # pure codegen


def test_simhash_single_shuffle_no_python(docs):
    df = dedup.simhash16(docs)
    plans.assert_max_shuffles(df, 1)
    assert plans.count_python_stages(df) == 0


def test_knn_broadcasts_queries(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df = similarity.knn_bruteforce(emb, [0, 1], top_k=5)
    plan = plans.executed_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert plans.count_python_stages(df) == 0  # zip_with dot product is JVM-side


def test_sections_relational_stays_jvm(spark):
    md = spark.createDataFrame(
        [("d1", "# T\n\nbody\n\n## S\n\nmore")], "doc_id string, markdown string"
    )
    df = navigation.sections_relational(md)
    assert plans.count_python_stages(df) == 0


def test_simhash_pairs_plan_shape(docs):
    """Signature agg + band bucket + two id joins; everything JVM-side
    (no Python stage), and the scan never reads the unused columns."""
    df = dedup.simhash_pairs(docs)
    assert plans.count_python_stages(df) == 0
    plans.assert_scan_pruned(df, ["lang", "source", "n_chars"])


def test_ngram_decontaminate_broadcasts_eval(docs):
    """The benchmark side must broadcast: the training scan joins
    without shuffling for the eval grams."""
    from docstrange_spark.operators import curation

    evald = docs.where(F.col("doc_id") % 13 == 0)
    df = curation.ngram_decontaminate(docs, evald, n=8)
    assert "BroadcastExchange" in plans.executed_plan(df)
    assert plans.count_python_stages(df) == 0


def test_temperature_sample_projection_only_scan(docs):
    """The sampling predicate is a projection over the scan joined to a
    broadcast sources-sized rate table; no doc-keyed shuffle."""
    from docstrange_spark.operators import curation

    df = curation.temperature_sample(docs)
    plan = plans.executed_plan(df)
    assert "BroadcastExchange" in plan
    assert plans.count_python_stages(df) == 0
    # the only exchanges belong to the tiny groupBy(source) rate table,
    # never a repartition of the documents themselves: the doc-side scan
    # feeds the broadcast join directly
    import re

    assert not re.search(r"Exchange hashpartitioning\(doc_id", plan)


def test_dup_ngram_stats_jvm_only_pruned(docs):
    """Gram explosion, corpus count, span-merge window: all codegen —
    a Python stage here would put per-row Python on the corpus's
    hottest path — and the scan reads only doc_id + text."""
    df = dedup.dup_ngram_stats(docs, n=8)
    assert plans.count_python_stages(df) == 0
    plans.assert_scan_pruned(df, ["lang", "source", "n_chars"])


def test_dup_span_scrub_jvm_only(docs):
    df = dedup.dup_span_scrub(docs, n=8)
    assert plans.count_python_stages(df) == 0
    plans.assert_scan_pruned(df, ["lang", "source", "n_chars"])


def test_semantic_dedup_no_global_cross_join(spark):
    """The within-cell pair join must be an equi-join on cell — a
    BroadcastNestedLoopJoin would mean the all-pairs comparison
    SemDeDup's clustering exists to avoid."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df = similarity.semantic_dedup(emb, tau=0.9)
    plan = plans.executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bigram_logprob_plan_shape(docs):
    """History table broadcasts (vocab-sized); bigram counts re-join as
    a shuffle join; everything JVM-side."""
    from docstrange_spark.operators import curation

    df = curation.bigram_logprob(docs)
    plan = plans.executed_plan(df)
    assert "BroadcastExchange" in plan
    assert plans.count_python_stages(df) == 0


def test_oov_rate_broadcasts_vocab(docs):
    """The k-row vocabulary probes the token stream as a broadcast —
    the corpus never shuffles for membership."""
    from docstrange_spark.operators import curation

    df = curation.oov_rate(docs, k=50)
    plan = plans.executed_plan(df)
    assert "BroadcastExchange" in plan
    assert plans.count_python_stages(df) == 0


def test_source_overlap_no_cartesian(docs):
    """The pair match is an equi-join on the gram string — never a
    cross product of the per-source gram sets."""
    from docstrange_spark.operators import curation

    df = curation.source_overlap(docs)
    plan = plans.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plans.count_python_stages(df) == 0


def test_kmeans_step_one_python_stage(spark):
    """Assignment is the single vectorized matmul UDF; the M-step
    means/shift stay relational with the centroid literal broadcast."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df = similarity.kmeans_step(emb)
    plan = plans.executed_plan(df)
    assert plans.count_python_stages(df) == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_embedding_project_pure_projection(spark):
    """Zero shuffles, zero Python stages: the JL fold runs inside
    whole-stage codegen over the scan."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df = similarity.embedding_project(emb)
    assert plans.count_exchanges(df) == 0
    assert plans.count_python_stages(df) == 0


def test_event_funnel_one_shuffle_no_python(spark):
    from docstrange_spark.operators import events as ev_ops

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    df = ev_ops.event_funnel(ev, ["view", "click", "purchase"])
    # one per-user exchange for the collect (the trailing 1-row
    # explode-aggregate adds a single-partition exchange over S rows)
    assert plans.count_python_stages(df) == 0
    plans.assert_max_shuffles(df, 2)
    # filter on participating types pushed to the scan
    assert any("event_type" in f for f in plans.pushed_filters(df))
    plans.assert_scan_pruned(df, ["value", "props"])


def test_retention_cohorts_plan_shape(spark):
    from docstrange_spark.operators import events as ev_ops

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    df = ev_ops.retention_cohorts(ev)
    assert plans.count_python_stages(df) == 0
    plans.assert_scan_pruned(df, ["value", "props", "event_type"])


def test_audio_near_dups_single_decode_pass(spark):
    from docstrange_spark.operators import multimodal as mm

    docs = spark.range(0, 30).withColumnRenamed("id", "doc_id")
    # checkpointed signature table: downstream banding + both hamming
    # joins must not re-run the decode kernel
    df = mm.audio_near_dups(datagen.corpus_audio(docs), max_hamming=6)
    assert plans.count_python_stages(df) == 0


def test_token_drift_broadcast_totals_no_python(docs):
    from docstrange_spark.operators import curation

    df = curation.token_drift(docs, F.col("doc_id") % 2 == 0, top_k=10)
    assert plans.count_python_stages(df) == 0  # pure codegen
    # the 1-row totals join must be a broadcast, never a shuffle join
    assert "BroadcastExchange" in plans.executed_plan(df)
    plans.assert_scan_pruned(df, ["lang", "source", "n_chars"])


def test_calibration_bins_single_agg_exchange(docs):
    from docstrange_spark.operators import classifier

    preds = classifier.quality_classifier(docs, F.col("lang") == F.lit("en"))
    df = classifier.calibration_bins(preds)
    # the binning itself adds ONE hash-agg exchange on top of the
    # scoring projection (training aggregates run driver-side earlier)
    assert plans.count_python_stages(df) == 0


# jaccard_pairs is absent: it builds its sets from dedup.shingles and
# checkpoints them eagerly, so the plan it returns holds no lambda
SPLIT_IN_LAMBDA_CASES = {
    "shingles": lambda d: dedup.shingles(d),
    "minhash_signatures": lambda d: dedup.minhash_signatures(d),
    "ngram_counts": lambda d: text_analysis.ngram_counts(d, n=3),
    "phrase_search": lambda d: retrieval.phrase_search(d, "spark window"),
    "proximity_search": lambda d: retrieval.proximity_search(
        d, "spark", "window"),
    "line_filters": lambda d: text_analysis.line_filters(d),
    "line_filter_text_expr": lambda d: d.select(
        text_analysis.line_filter_text_expr("text")),
    "bm25_search": lambda d: retrieval.bm25_search(
        d, ["spark", "window", "table"]),
}


@pytest.mark.parametrize("name", list(SPLIT_IN_LAMBDA_CASES))
def test_no_split_inside_lambda(docs, name):
    """Higher-order-function lambdas run interpreted with no common-
    subexpression elimination: a ``split(`` inside a lambda body
    re-tokenizes the whole text once per array element (quadratic in
    document length). Token arrays are bound once per row instead, as a
    projected column or through ``text_analysis.bind``."""
    df = SPLIT_IN_LAMBDA_CASES[name](docs)
    assert plans.lambda_bodies(df), "case no longer exercises a lambda"
    assert plans.lambda_splits(df) == 0, [
        b for b in plans.lambda_bodies(df) if "split(" in b
    ]


@pytest.mark.parametrize("name", ["phrase_search", "proximity_search"])
def test_search_tokenizes_once(docs, name):
    """A where() on a projected search result is pushed below the
    projection, which evaluates the grams or the distance fold a second
    time inside the filter. The per-row result is bound once and emitted
    through a filtered 0-or-1-element array instead, so the optimized
    plan splits each text exactly once."""
    df = SPLIT_IN_LAMBDA_CASES[name](docs)
    assert plans.optimized_plan(df).count("split(") == 1, plans.optimized_plan(df)


def test_streaming_near_dup_signatures_run_jvm_side(spark, tmp_path):
    """streaming_near_dup signs and bands documents with built-in
    expressions only: in the executed micro-batch plan the
    applyInPandasWithState bucket-state function is the single Python
    stage, with no Python UDF evaluation feeding it."""
    from docstrange_spark.streaming import streaming_near_dup

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d")], "doc_id long, text string"
    ).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        streaming_near_dup(stream)
        .writeStream.format("memory")
        .queryName("near_dup_plan")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    plan = q._jsq.explainInternal(False)
    assert spark.table("near_dup_plan").count() == 4  # (1, 2) once per band
    assert "FlatMapGroupsInPandasWithState" in plan, plan
    python_stages = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                     "MapInArrow", "FlatMapGroupsInPandas")
    assert sum(plan.count(t) for t in python_stages) == 1, plan
