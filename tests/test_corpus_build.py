"""build_corpus: the materialized, resumable end-to-end corpus job.
Composite-level resume semantics: a kill mid-chain resumes from the
last committed stage and the final output is identical to an
uninterrupted run."""

import json
import os

import pytest

from docstrange_spark.operators import corpus, dedup
from docstrange_spark.sources import manifest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_path():
    return f"{SF}/documents.parquet"


def _rows(spark, path):
    return sorted(map(tuple, spark.read.parquet(path).collect()))


def test_build_corpus_matches_plan_and_is_idempotent(spark, tmp_path, docs_path):
    out = str(tmp_path / "one_shot")
    summary = corpus.build_corpus(spark, docs_path, out)
    assert summary["stages"] == {s: "ran" for s in corpus.STAGES}
    got = _rows(spark, summary["final"])
    want = sorted(
        map(tuple, corpus.corpus_plan(spark.read.parquet(docs_path)).collect())
    )
    assert got == want and len(got) > 20
    # rerun: every stage skipped, output unchanged
    again = corpus.build_corpus(spark, docs_path, out)
    assert again["stages"] == {s: "skipped" for s in corpus.STAGES}
    assert _rows(spark, again["final"]) == got
    # lineage: one manifest record per stage per actual execution
    recs = [json.loads(l) for l in open(os.path.join(out, "manifest.jsonl"))]
    assert [r["stage"] for r in recs] == list(corpus.STAGES)
    assert all(r["snapshot_id"] == summary["snapshot_id"] for r in recs)


def test_build_corpus_resumes_after_kill(spark, tmp_path, docs_path):
    """Kill after the dedup stage commits; the rerun must skip
    extract/signals/dedup, run only select/pack, and produce output
    identical to an uninterrupted run."""
    out = str(tmp_path / "killed")
    partial = corpus.build_corpus(spark, docs_path, out, stop_after="dedup")
    assert partial["stages"] == {"extract": "ran", "signals": "ran", "dedup": "ran"}
    assert partial["final"] is None  # no pack output yet
    assert not os.path.exists(os.path.join(out, "pack"))
    # a torn stage marker (kill mid-commit) must read as NOT committed,
    # not crash the resume
    with open(os.path.join(out, "_STAGE_signals.json"), "w") as f:
        f.write('{"snapshot_id": "trunc')
    resumed_after_torn = corpus.build_corpus(
        spark, docs_path, out, stop_after="signals"
    )
    assert resumed_after_torn["stages"] == {
        "extract": "skipped", "signals": "ran",
    }
    resumed = corpus.build_corpus(spark, docs_path, out)
    assert resumed["stages"] == {
        "extract": "skipped",
        "signals": "skipped",
        "dedup": "skipped",
        "select": "ran",
        "pack": "ran",
    }
    fresh = str(tmp_path / "fresh")
    corpus.build_corpus(spark, docs_path, fresh)
    assert _rows(spark, resumed["final"]) == _rows(
        spark, os.path.join(fresh, "pack")
    )


def test_build_corpus_config_change_invalidates(spark, tmp_path, docs_path):
    """A changed config fingerprint must never silently reuse stale
    stage output — every stage reruns."""
    out = str(tmp_path / "cfg")
    corpus.build_corpus(spark, docs_path, out, stop_after="signals")
    redo = corpus.build_corpus(spark, docs_path, out, budget=256)
    assert redo["stages"]["extract"] == "ran"  # fingerprint mismatch
    assert redo["stages"]["pack"] == "ran"
    # the packed output reflects the new budget: more batches per shard
    import pyspark.sql.functions as F

    packed = spark.read.parquet(redo["final"])
    assert packed.where(F.col("batch_id") > 0).count() > 0


def test_stage_commit_runs_no_job(spark, tmp_path, docs_path):
    """A fresh stage runs the jobs of its write and nothing more: the row
    count rides the write as an observed metric and the committed output
    is re-read with the written schema (no schema inference job, no
    count())."""
    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    staged = jobs(f"stage-{tmp_path.name}", lambda: corpus.build_corpus(
        spark, docs_path, str(tmp_path / "c"), stop_after="extract"))
    plain = jobs(f"plain-{tmp_path.name}", lambda: corpus._extract_stage(
        spark.read.parquet(docs_path)).write.parquet(str(tmp_path / "plain")))
    assert staged == plain


def test_snapshot_id_sees_same_size_rewrite(spark, tmp_path, docs_path):
    """Rewriting a part file in place at equal size (same name, same
    size, later mtime) is a new input snapshot: the id changes and a
    rerun recomputes the extract stage instead of reusing it."""
    src = str(tmp_path / "src")
    spark.read.parquet(docs_path).coalesce(1).write.parquet(src)
    part = next(
        os.path.join(src, f) for f in os.listdir(src) if f.endswith(".parquet")
    )
    out = str(tmp_path / "out")
    first = corpus.build_corpus(spark, src, out, stop_after="extract")
    assert first["snapshot_id"] == manifest.snapshot_id_of(src)
    st = os.stat(part)
    with open(part, "rb") as f:
        data = f.read()
    with open(part, "wb") as f:
        f.write(data)
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert os.stat(part).st_size == st.st_size
    assert manifest.snapshot_id_of(src) != first["snapshot_id"]
    again = corpus.build_corpus(spark, src, out, stop_after="extract")
    assert again["stages"] == {"extract": "ran"}


def test_snapshot_id_of_single_file(tmp_path, docs_path):
    """A single-file input is fingerprinted as itself, not as an empty
    directory walk: the id differs from the empty input's and follows
    the file's mtime."""
    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    f = str(tmp_path / "docs.parquet")
    with open(docs_path, "rb") as src, open(f, "wb") as dst:
        dst.write(src.read())
    first = manifest.snapshot_id_of(f)
    assert first != manifest.snapshot_id_of(empty)
    st = os.stat(f)
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert manifest.snapshot_id_of(f) != first


def test_build_corpus_rejects_unknown_stage(spark, tmp_path, docs_path):
    with pytest.raises(ValueError):
        corpus.build_corpus(spark, docs_path, str(tmp_path / "x"), stop_after="nope")


def test_optional_clean_stage(spark, tmp_path, docs_path):
    """scrub_pii on a PII-free corpus is the identity on the final
    output; paragraph-dropping removes the repeated '## Part N'
    boilerplate headers, so token counts can only shrink; the
    materialized job gains a committed 'clean' stage that resumes."""
    from docstrange_spark.operators import corpus

    docs = spark.read.parquet(docs_path)
    base = sorted(map(tuple, corpus.corpus_plan(docs).collect()))
    scrubbed = sorted(map(tuple, corpus.corpus_plan(docs, scrub_pii=True).collect()))
    assert scrubbed == base  # synthetic corpus carries no PII

    cleaned = {
        r["doc_id"]: r["n_tokens"]
        for r in corpus.corpus_plan(
            docs, drop_paragraph_occurrences=1
        ).collect()
    }
    base_toks = {t[0]: t[7] for t in base}  # doc_id -> n_tokens
    assert all(
        cleaned[d] <= base_toks[d] for d in cleaned if d in base_toks
    )

    out = str(tmp_path / "with_clean")
    s = corpus.build_corpus(spark, docs_path, out, scrub_pii=True)
    assert s["stages"]["clean"] == "ran" and s["stages"]["pack"] == "ran"
    again = corpus.build_corpus(spark, docs_path, out, scrub_pii=True)
    assert again["stages"]["clean"] == "skipped"
    # stop_after="clean" only valid when the stage is enabled
    import pytest as _pytest

    with _pytest.raises(ValueError):
        corpus.build_corpus(spark, docs_path, str(tmp_path / "x"),
                            stop_after="clean")


def test_update_corpus_equals_fresh_build(spark, tmp_path):
    """The incremental-refresh invariant: patching the extract stage
    with the snapshot delta and re-running the chain produces EXACTLY
    the corpus a from-scratch build over the new snapshot produces —
    while re-extracting only the delta."""
    from pyspark.sql import functions as F

    from docstrange_spark.operators import corpus

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    old = docs.where(F.col("doc_id") % 41 != 0)
    new = docs.where(F.col("doc_id") % 29 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 17 == 0, F.concat(F.col("text"), F.lit(" updated"))
        ).otherwise(F.col("text")),
    )
    old_p, new_p = str(tmp_path / "old"), str(tmp_path / "new")
    old.write.parquet(old_p)
    new.write.parquet(new_p)

    inc_dir, fresh_dir = str(tmp_path / "inc"), str(tmp_path / "fresh")
    corpus.build_corpus(spark, old_p, inc_dir)
    s = corpus.update_corpus(spark, old_p, new_p, inc_dir)
    assert s["stages"]["extract"] == "skipped"  # the patched stage held
    assert s["stages"]["dedup"] == "ran"        # cross-doc stages refreshed
    patch = s["extract_patch"]
    assert patch["n_added"] > 0 and patch["n_removed"] > 0 and patch["n_changed"] > 0

    corpus.build_corpus(spark, new_p, fresh_dir)
    for stage in ("extract", "select", "pack"):
        a = sorted(map(tuple, spark.read.parquet(f"{inc_dir}/{stage}").collect()))
        b = sorted(map(tuple, spark.read.parquet(f"{fresh_dir}/{stage}").collect()))
        assert a == b, stage


def test_update_corpus_requires_prior_build(spark, tmp_path):
    from docstrange_spark.operators import corpus

    docs = "/root/testdata/sf0.001/documents.parquet"
    with pytest.raises(ValueError):
        corpus.update_corpus(spark, docs, docs, str(tmp_path / "none"))


def test_update_corpus_metadata_only_change(spark, tmp_path, docs_path):
    """A document whose TEXT is unchanged but whose source was
    relabeled must still count as 'changed' (corpus_diff fingerprints
    metadata for update_corpus), re-extract, and carry the NEW source
    into the per-source cap — output identical to a fresh build over
    the new snapshot."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(docs_path)
    old = docs
    new = docs.withColumn(
        "source",
        F.when(F.col("doc_id") % 7 == 0, F.lit("relabeled")).otherwise(
            F.col("source")
        ),
    )
    old_p, new_p = str(tmp_path / "old"), str(tmp_path / "new")
    old.write.parquet(old_p)
    new.write.parquet(new_p)

    inc_dir, fresh_dir = str(tmp_path / "inc"), str(tmp_path / "fresh")
    corpus.build_corpus(spark, old_p, inc_dir)
    s = corpus.update_corpus(spark, old_p, new_p, inc_dir)
    assert s["extract_patch"]["n_changed"] > 0
    assert s["extract_patch"]["n_added"] == 0
    assert s["extract_patch"]["n_removed"] == 0

    corpus.build_corpus(spark, new_p, fresh_dir)
    for stage in ("extract", "select", "pack"):
        a = _rows(spark, f"{inc_dir}/{stage}")
        b = _rows(spark, f"{fresh_dir}/{stage}")
        assert a == b, stage
    # and the relabeled source actually reached the output
    packed = spark.read.parquet(f"{inc_dir}/pack")
    assert packed.where(F.col("source") == "relabeled").count() > 0


def test_update_corpus_torn_patch_recovers(spark, tmp_path, docs_path):
    """A kill between the patch's directory swap and the marker commit
    leaves the _PATCHING sentinel behind. The retry must NOT pass the
    stage guard and re-apply the delta on top of patched data (which
    would duplicate 'added' docs) — it falls back to a full rebuild
    from the NEW snapshot, clearing the sentinel, with output identical
    to a fresh build."""
    import shutil

    from pyspark.sql import functions as F

    docs = spark.read.parquet(docs_path)
    old = docs.where(F.col("doc_id") % 3 != 0)
    old_p, new_p = str(tmp_path / "old"), str(tmp_path / "new")
    old.write.parquet(old_p)
    docs.write.parquet(new_p)

    out = str(tmp_path / "torn")
    corpus.build_corpus(spark, old_p, out)

    # simulate the worst window: the patched data ALREADY swapped in
    # (new snapshot's extract under the old marker) but the marker
    # commit never happened — sentinel still present
    fresh_dir = str(tmp_path / "fresh")
    corpus.build_corpus(spark, new_p, fresh_dir)
    shutil.rmtree(os.path.join(out, "extract"))
    shutil.copytree(
        os.path.join(fresh_dir, "extract"), os.path.join(out, "extract")
    )
    sent = manifest._sentinel_path(out, "extract")
    with open(sent, "w") as f:
        f.write('{"old_snapshot": "x", "new_snapshot": "y"}')

    # with the sentinel present the stage is NOT done, regardless of
    # what the (stale) marker says
    lineage = json.load(open(os.path.join(out, "_STAGE_extract.json")))
    assert manifest.committed(out, "extract", lineage) is None

    s = corpus.update_corpus(spark, old_p, new_p, out)
    assert s["extract_patch"] == {"recovered_from_torn_patch": True}
    assert s["stages"]["extract"] == "ran"  # full re-extract, no patch
    assert not os.path.exists(sent)  # commit cleared the sentinel
    for stage in ("extract", "select", "pack"):
        assert _rows(spark, f"{out}/{stage}") == _rows(
            spark, f"{fresh_dir}/{stage}"
        ), stage
    # a second update over the same snapshots now takes the normal
    # (non-recovery) path and is a clean skip/refresh
    s2 = corpus.update_corpus(spark, new_p, new_p, out)
    assert s2["stages"]["extract"] == "skipped"


def test_stage_done_missing_data_dir(spark, tmp_path, docs_path):
    """A committed marker whose parquet directory is gone (kill between
    a patch's rmtree and rename) must read NOT done and rerun."""
    import shutil

    out = str(tmp_path / "gone")
    corpus.build_corpus(spark, docs_path, out, stop_after="extract")
    shutil.rmtree(os.path.join(out, "extract"))
    redo = corpus.build_corpus(spark, docs_path, out, stop_after="extract")
    assert redo["stages"]["extract"] == "ran"


def test_build_corpus_capped_dedup(spark, tmp_path, docs_path):
    """The web-scale max_bucket_size preset reaches the capstone's
    dedup stage. On a corpus with a degenerate LSH bucket (a block of
    identical boilerplate docs) the cap engages — linear chain pairing
    instead of quadratic all-pairs — and because every chain link
    between identical texts passes exact-Jaccard verification, the
    capped chain still yields the same verified clusters, so the
    capped build's final output matches the uncapped one here. The
    knob rides the config fingerprint, so flipping it invalidates
    committed stages instead of silently mixing candidate sets."""
    from pyspark.sql import functions as F

    from docstrange_spark.operators import dedup

    docs = spark.read.parquet(docs_path).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.lit("identical boilerplate page repeated across the crawl "
                  "with the same header and the same footer every time"),
        ).otherwise(F.col("text")),
    )
    docs_p = str(tmp_path / "hot_docs")
    docs.write.parquet(docs_p)

    # the cap demonstrably engages: candidate pairs collapse from
    # quadratic (C(100,2) within the identical block) to linear
    uncapped = dedup.lsh_candidate_pairs(docs).count()
    capped = dedup.lsh_candidate_pairs(docs, max_bucket_size=10).count()
    assert capped < uncapped

    out_cap = str(tmp_path / "capped")
    s = corpus.build_corpus(spark, docs_p, out_cap, max_bucket_size=10)
    assert s["stages"]["pack"] == "ran"
    out_full = str(tmp_path / "uncapped")
    corpus.build_corpus(spark, docs_p, out_full)
    assert _rows(spark, f"{out_cap}/pack") == _rows(spark, f"{out_full}/pack")
    # the identical block deduplicated to one representative
    packed = spark.read.parquet(f"{out_cap}/pack")
    n_boiler = packed.join(
        spark.read.parquet(f"{out_cap}/extract").where(
            F.col("text").contains("identical boilerplate")
        ).select("doc_id"),
        "doc_id",
    ).count()
    assert n_boiler <= 1
    # flipping the knob on an existing build dir invalidates stages
    redo = corpus.build_corpus(spark, docs_p, out_cap, max_bucket_size=None)
    assert redo["stages"]["extract"] == "ran"


def test_optional_dup_ngram_scrub_stage(spark, tmp_path, docs_path):
    """scrub_dup_ngrams wires the exact-substring span scrub into the
    clean stage: duplicated 8-gram spans vanish from the extracted
    text, so surviving docs' packed token counts can only shrink; the
    staged job commits a 'clean' stage and resumes it."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(docs_path)
    base_toks = {
        r["doc_id"]: r["n_tokens"]
        for r in corpus.corpus_plan(docs).collect()
    }
    scrubbed = {
        r["doc_id"]: r["n_tokens"]
        for r in corpus.corpus_plan(docs, scrub_dup_ngrams=8).collect()
    }
    common = [d for d in scrubbed if d in base_toks]
    assert common
    assert all(scrubbed[d] <= base_toks[d] for d in common)
    # the tiny-vocabulary synthetic corpus is dense in duplicated
    # 8-grams — but heavily-duplicated docs are ~FULLY covered, so the
    # scrub empties them and they drop at the quality gate rather than
    # surviving with fewer tokens. The observable plan-level effect is
    # a changed survivor set (or a shrunk common survivor, if any).
    assert set(scrubbed) != set(base_toks) or any(
        scrubbed[d] < base_toks[d] for d in common
    )
    # the scrub itself strictly removes tokens on this corpus
    removed = (
        dedup.dup_span_scrub(corpus._extract_stage(docs), n=8)
        .agg(F.sum("removed_tokens").alias("s"))
        .collect()[0]["s"]
    )
    assert removed > 0

    out = str(tmp_path / "with_span_scrub")
    s = corpus.build_corpus(spark, docs_path, out, scrub_dup_ngrams=8)
    assert s["stages"]["clean"] == "ran" and s["stages"]["pack"] == "ran"
    again = corpus.build_corpus(spark, docs_path, out, scrub_dup_ngrams=8)
    assert again["stages"]["clean"] == "skipped"
    # the committed clean stage holds the scrubbed text: no duplicated
    # 8-gram may survive ACROSS the cleaned corpus with count >= 2
    cleaned = spark.read.parquet(os.path.join(out, "clean"))
    resid = (
        dedup.dup_ngram_stats(cleaned, n=8)
        .agg(F.sum("n_dup_grams").alias("s"))
        .collect()[0]["s"]
    )
    # scrubbing once is not a fixed point in general (removing spans
    # can create NEW adjacencies), but it must strictly reduce the
    # duplicated-gram mass on this corpus
    before = (
        dedup.dup_ngram_stats(
            spark.read.parquet(os.path.join(out, "extract")), n=8
        )
        .agg(F.sum("n_dup_grams").alias("s"))
        .collect()[0]["s"]
    )
    assert resid < before
