"""Metric names, units and directions. ``BENCHMARK.json`` at the repo
root lists the same names; ``test_smoke.py`` checks that they agree."""

from __future__ import annotations

# (name, unit, better) reported by every workload with tracing off
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("wall_s", "s", "lower"),
    ("docs_per_s", "docs/s", "higher"),
    ("peak_rss_mb", "MiB", "lower"),
]

# layers timed from the benchmark, in the order of the engine's data flow
LAYERS = [
    "sources.scan", "extract.salt", "extract.kernel", "renditions", "sink.write",
    "spanize", "text_analysis.signals", "dedup.lsh", "dedup.jaccard", "dedup.cc",
    "curation.select", "curation.pack", "corpus.commit",
    "retrieval.bm25", "retrieval.passage_corpus", "navigation.sections",
    "navigation.search", "serving.parse_document",
    "similarity.lsh_index", "similarity.probe",
]
LAYER_COUNTERS = [
    ("s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("cpu_s", "s", "lower"),
    ("shuffle_mb", "MiB", "lower"),
    ("spill_mb", "MiB", "lower"),
]
EXTRA = [
    ("extract.task_skew", "ratio", "lower"),
    ("extract.py_kernel_s", "s", "lower"),
    ("corpus.kept_docs", "count", "higher"),
    ("dedup.candidate_pairs", "count", "lower"),
    ("dedup.verified_pairs", "count", "higher"),
    ("dedup.verify_yield", "ratio", "higher"),
    ("search_doc.plan_s", "s", "lower"),
    ("search_passage.plan_s", "s", "lower"),
    ("nav.plan_s", "s", "lower"),
    ("knn.plan_s", "s", "lower"),
    ("similarity.candidates_per_query", "count", "lower"),
    ("search_doc.p50_s", "s", "lower"),
    ("search_passage.p50_s", "s", "lower"),
    ("nav.p50_s", "s", "lower"),
    ("knn.p50_s", "s", "lower"),
    ("query.calls", "count", "higher"),
    ("spark.gc_s", "s", "lower"),
    ("spark.failed_tasks", "count", "lower"),
    ("trace.untraced_wall_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.attributed_share", "ratio", "higher"),
]
PER_LAYER = [
    (f"{layer}.{suffix}", unit, better)
    for layer in LAYERS
    for suffix, unit, better in LAYER_COUNTERS
] + EXTRA

UNITS = {name: unit for name, unit, _ in END_TO_END + PER_LAYER}
