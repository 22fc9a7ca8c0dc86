"""End-to-end training-corpus builder — the capstone job composing the
engine's stages the way a daily pipeline runs them:

    extract -> quality + language signals -> verified near-dup keepers
    -> per-source cap -> stratified sampling -> train/test split
    -> token-budget batch packing

Two layers:

- :func:`corpus_plan` — the PURE DataFrame composition (no IO). This is
  what the contract query runs and what the DuckDB full-chain oracle
  verifies bit-for-bit.
- :func:`build_corpus` — the materialized, resumable job: each stage
  writes parquet under ``out_dir/<stage>/`` and commits a record (run
  lineage: input snapshot id, config fingerprint, row count observed on
  the write, wall-clock) through ``sources.manifest``, the one commit
  protocol this job shares with the CLI's bucket-level ``--resume``. A
  rerun after a kill skips every stage whose record matches the
  current (snapshot, config) and resumes mid-chain; kernels are
  deterministic, so resumed output is identical to a single
  uninterrupted run.

Scale notes: every stage is the already-scale-shaped operator it
composes (salted extraction, bucketed LSH + exact-Jaccard verify,
two-phase source cap, projection-only sampling/splitting, sharded
packing windows). Materializing between stages is what a 100 TB run
wants anyway — each stage's output is the natural checkpoint, and the
dedup stage (the expensive one) is never recomputed when a later stage
fails. On a real cluster the parquet stage dirs ride Iceberg tables and
the commit records ride the table's snapshot metadata; the interface is
identical.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import curation, dedup, extract, spanize, text_analysis

STAGES = ("extract", "signals", "dedup", "select", "pack")

DEFAULTS = dict(
    quality_min=0.5,
    per_source=10,
    fractions={"en": 0.8},
    default_frac=0.5,
    test_frac=0.1,
    budget=512,
    n_shards=8,
    jaccard_threshold=0.5,
    # optional clean stage between extraction and the signal/dedup
    # stages; both default OFF so the default chain (and its bit-exact
    # oracle) is untouched
    scrub_pii=False,
    drop_paragraph_occurrences=None,
    # duplicate n-gram span scrub (exact-substring family): when set to
    # an n, token spans covered by a corpus-duplicated word n-gram are
    # removed (dedup.dup_span_scrub) — note the scrubbed text is the
    # tokenizer's normal form (single-space joined), which downstream
    # signals/dedup/packing all tokenize identically anyway
    scrub_dup_ngrams=None,
    # LSH hot-bucket chain cap for the dedup stage. None (the oracle
    # configuration) expands ALL pairs within a band bucket — exact,
    # but quadratic in the largest bucket, so at web scale one
    # degenerate bucket (boilerplate-heavy near-empty pages sharing a
    # band) can dominate the job. The documented web-scale preset is
    # max_bucket_size=1000: buckets above it emit a linear chain of
    # adjacent pairs instead of all pairs (dedup.candidate_pairs), so
    # verified clusters can split where a chain link fails exact-Jaccard
    # — recall trades for a hard quadratic bound. This knob is part of
    # the config fingerprint, so flipping it invalidates the committed
    # dedup stage (and everything after) on resume, never silently
    # mixes capped and uncapped candidate sets.
    max_bucket_size=None,
)


def _extract_stage(docs: DataFrame) -> DataFrame:
    """documents (doc_id,text,source,lang) -> extracted corpus
    (doc_id 'doc-<id>', text = extracted markdown, source, lang)."""
    md = extract.extract(spanize.spanize(docs), include_spans=False).select(
        "doc_id", F.col("markdown").alias("text")
    )
    meta = docs.select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("doc_id"),
        "source",
        "lang",
    )
    return md.join(meta, "doc_id")


def _clean_stage(
    cdocs: DataFrame,
    scrub_pii: bool,
    drop_paragraph_occurrences: int | None,
    scrub_dup_ngrams: int | None = None,
) -> DataFrame:
    """Optional text-hygiene stage: drop cross-corpus boilerplate
    paragraphs (CCNet), remove duplicated n-gram spans
    (exact-substring family), and/or redact PII, REPLACING the text
    column so every downstream signal/dedup/packing stage sees cleaned
    text. Order: paragraph-level first (whole boilerplate blocks go
    before gram counting, so mega-duplicated paragraphs don't dominate
    the gram table), span-level second, PII redaction last (so
    redaction tokens are never gram-matched)."""
    out = cdocs
    if drop_paragraph_occurrences is not None:
        ps = curation.paragraph_stats(
            out, max_occurrences=drop_paragraph_occurrences
        ).select("doc_id", F.col("clean_text").alias("_t"))
        out = out.join(ps, "doc_id").withColumn("text", F.col("_t")).drop("_t")
    if scrub_dup_ngrams is not None:
        ds = dedup.dup_span_scrub(out, n=scrub_dup_ngrams).select(
            "doc_id", F.col("clean_text").alias("_t")
        )
        out = out.join(ds, "doc_id").withColumn("text", F.col("_t")).drop("_t")
    if scrub_pii:
        sc = text_analysis.pii_scrub(out).select(
            "doc_id", F.col("clean_text").alias("_t")
        )
        out = out.join(sc, "doc_id").withColumn("text", F.col("_t")).drop("_t")
    return out


def _signals_stage(cdocs: DataFrame) -> DataFrame:
    # quality and language are both pure column projections over the
    # text, so compute them in ONE chained projection (quality_score's
    # `keep` threads text through, lang_id's threads quality back out).
    # The previous q.join(lang, "doc_id") was a self-join of two
    # projections of the same frame — two exchanges for nothing
    # (guide §2.4 "remove shuffles outright").
    q = text_analysis.quality_score(cdocs, keep=("text",))
    return text_analysis.lang_id(q, keep=("quality",)).select(
        "doc_id", "quality", "lang_guess"
    )


def _dedup_stage(
    cdocs: DataFrame,
    jaccard_threshold: float,
    max_bucket_size: int | None = None,
) -> DataFrame:
    # max_bucket_size=None is the ORACLE configuration (uncapped
    # all-pairs candidates; see dedup.verified_clusters on why capping
    # is not output-invariant under per-edge verification). Production
    # runs at scale set DEFAULTS['max_bucket_size'] (the web-scale
    # preset) to bound the degenerate-bucket quadratic.
    return dedup.verified_clusters(
        cdocs,
        jaccard_threshold=jaccard_threshold,
        max_bucket_size=max_bucket_size,
    )


def _select_stage(
    sig_docs: DataFrame,
    clusters: DataFrame,
    quality_min: float,
    per_source: int,
    fractions: dict,
    default_frac: float,
    test_frac: float,
) -> DataFrame:
    """``sig_docs`` carries the signal columns on the document rows
    (doc_id, text, source, quality, lang_guess): build_corpus joins its
    materialized signals stage back on; corpus_plan projects the
    signals inline (they are pure column expressions — joining a
    projection of a frame back onto the same frame paid two exchanges
    for nothing)."""
    filt = (
        sig_docs.join(clusters, "doc_id")
        .where(
            (F.col("quality") >= quality_min)
            & (F.col("cluster_rep") == F.col("doc_id"))
        )
        .select("doc_id", "text", "source", "lang_guess", "quality")
    )
    # rank on the signals stage's already-computed quality — a second
    # scoring pass over every surviving document's text would defeat
    # the point of materializing the signals stage
    capped = curation.source_cap(
        filt, per_source=per_source, quality_col="quality"
    ).select("doc_id", "src_rank")
    survivors = filt.join(capped, "doc_id")
    samp = curation.stratified_sample(
        survivors,
        strata_col="lang_guess",
        fractions=fractions,
        default_frac=default_frac,
    )
    return curation.hash_split(samp, test_frac=test_frac).select(
        "doc_id", "text", "source", "lang_guess", "quality", "split"
    )


def _pack_stage(selected: DataFrame, budget: int, n_shards: int) -> DataFrame:
    packed = curation.pack_batches(selected, budget=budget, n_shards=n_shards)
    return selected.drop("text").join(packed, "doc_id").select(
        "doc_id",
        "source",
        "lang_guess",
        "quality",
        "split",
        "shard",
        "batch_id",
        "n_tokens",
    )


def corpus_plan(docs: DataFrame, **overrides) -> DataFrame:
    """The full chain as one plan — the contract-query / oracle
    surface. ``docs`` is a documents table (doc_id int, text, source,
    lang); returns one row per document that survives every gate:
    (doc_id, source, lang_guess, quality, split, shard, batch_id,
    n_tokens).

    The plan localCheckpoints its two fan-out points — the extracted
    corpus (referenced by signals, dedup, selection, and packing:
    uncheckpointed, the Python extraction kernel re-executes once per
    reference, measured ~5x the wall) and the selected set (referenced
    by packing twice, which would replay the dedup closure).
    ``build_corpus`` gets the same effect from its per-stage parquet
    materialization.

    Fault-tolerance note: ``localCheckpoint`` stores blocks on the
    executors, so it survives task retries but NOT executor loss — the
    right trade for this single-plan contract surface. The production
    entry point is ``build_corpus``, whose per-stage parquet + atomic
    markers are durable and resumable; long-lived clusters can also
    pass ``checkpoint_dir`` to the dedup stage for reliable
    ``checkpoint()`` (see ``dedup.dedup_clusters``)."""
    cfg = {**DEFAULTS, **overrides}
    cdocs = _extract_stage(docs).localCheckpoint()
    if (
        cfg["scrub_pii"]
        or cfg["drop_paragraph_occurrences"] is not None
        or cfg["scrub_dup_ngrams"] is not None
    ):
        cdocs = _clean_stage(
            cdocs,
            cfg["scrub_pii"],
            cfg["drop_paragraph_occurrences"],
            cfg["scrub_dup_ngrams"],
        ).localCheckpoint()
    # signals inline: quality and lang_guess are pure projections, so
    # they ride the document rows directly instead of materializing a
    # separate signals frame and joining it back (2 exchanges saved)
    sig_docs = text_analysis.lang_id(
        text_analysis.quality_score(cdocs, keep=("text", "source", "lang")),
        keep=("text", "source", "quality"),
    )
    clusters = _dedup_stage(
        cdocs, cfg["jaccard_threshold"], cfg["max_bucket_size"]
    )
    selected = _select_stage(
        sig_docs,
        clusters,
        cfg["quality_min"],
        cfg["per_source"],
        cfg["fractions"],
        cfg["default_frac"],
        cfg["test_frac"],
    )
    return _pack_stage(selected.localCheckpoint(), cfg["budget"], cfg["n_shards"])


# ---------------------------------------------------------------------------
# materialized, resumable job


def build_corpus(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    stop_after: str | None = None,
    **overrides,
) -> dict:
    """Run the corpus chain stage-by-stage with durable checkpoints.

    Each stage writes ``out_dir/<stage>/`` (parquet) and commits its
    record through ``sources.manifest.write_committed``: a
    ``_STAGE_<stage>.json`` marker carrying (run_id, input snapshot_id,
    config fingerprint, rows, wall, schema), with the row count observed
    on the write itself. On rerun, stages whose marker matches the
    current snapshot+config are SKIPPED and their parquet output is read
    back with the recorded schema — a job killed after the dedup stage
    resumes at selection without recomputing extraction or LSH. A
    changed input or config invalidates every stage (fingerprint
    mismatch), never silently reuses stale data.

    ``stop_after`` ends the run after the named stage commits (the test
    hook standing in for a mid-chain kill). Returns a summary dict with
    per-stage 'ran'/'skipped' status and the final output path.
    """
    from docstrange_spark.sources import manifest as mf

    cfg = {**DEFAULTS, **overrides}
    clean_on = (
        cfg["scrub_pii"]
        or cfg["drop_paragraph_occurrences"] is not None
        or cfg["scrub_dup_ngrams"] is not None
    )
    allowed = STAGES[:1] + (("clean",) if clean_on else ()) + STAGES[1:]
    if stop_after is not None and stop_after not in allowed:
        raise ValueError(f"stop_after must be one of {allowed} (got {stop_after!r})")
    lineage = {
        "run_id": uuid.uuid4().hex[:12],
        "snapshot_id": mf.snapshot_id_of(input_path),
        "config_fp": mf.config_fingerprint(cfg),
    }
    os.makedirs(out_dir, exist_ok=True)
    status: dict[str, str] = {}

    def run_stage(stage: str, make: "callable") -> DataFrame:
        rec = mf.committed(out_dir, stage, lineage)
        if rec is not None:
            status[stage] = "skipped"
            return mf.read_committed(spark, out_dir, rec)
        out = mf.write_committed(make(), out_dir, stage, lineage)
        status[stage] = "ran"
        return out

    docs = spark.read.parquet(input_path)
    cdocs = run_stage("extract", lambda: _extract_stage(docs))
    done = stop_after == "extract"
    if not done and clean_on:
        cdocs = run_stage(
            "clean",
            lambda: _clean_stage(
                cdocs,
                cfg["scrub_pii"],
                cfg["drop_paragraph_occurrences"],
                cfg["scrub_dup_ngrams"],
            ),
        )
        done = stop_after == "clean"
    if not done:
        signals = run_stage("signals", lambda: _signals_stage(cdocs))
        done = stop_after == "signals"
    if not done:
        clusters = run_stage(
            "dedup",
            lambda: _dedup_stage(
                cdocs, cfg["jaccard_threshold"], cfg["max_bucket_size"]
            ),
        )
        done = stop_after == "dedup"
    if not done:
        selected = run_stage(
            "select",
            lambda: _select_stage(
                cdocs.join(signals, "doc_id"), clusters,
                cfg["quality_min"], cfg["per_source"], cfg["fractions"],
                cfg["default_frac"], cfg["test_frac"],
            ),
        )
        done = stop_after == "select"
    if not done:
        run_stage("pack", lambda: _pack_stage(selected, cfg["budget"], cfg["n_shards"]))

    return {
        **lineage,
        "stages": status,
        "out_dir": out_dir,
        # None until the pack stage has actually committed (a
        # stop_after partial run must not point callers at a
        # nonexistent path)
        "final": os.path.join(out_dir, "pack") if "pack" in status else None,
    }


def update_corpus(
    spark: SparkSession,
    old_input: str,
    new_input: str,
    out_dir: str,
    **overrides,
) -> dict:
    """Incremental corpus refresh — the daily-ingest mode. Given a
    previous ``build_corpus`` run over ``old_input`` (its committed
    ``extract/`` stage is the reusable asset: extraction is the
    dominant cost, one Arrow-kernel pass per document), diff the
    snapshots (:func:`curation.corpus_diff`), re-extract ONLY the
    added/changed documents, patch the extract stage, and delegate the
    rest of the chain to ``build_corpus`` — whose stage markers still
    carry the old snapshot id, so every cross-document stage (signals,
    dedup, select, pack) recomputes over the patched corpus
    automatically. Cross-document stages recompute by design: near-dup
    clusters and domain caps are global properties (the LSH candidate
    pass can additionally ride ``dedup.incremental_candidate_pairs``
    against a persisted band index when maintained separately).

    The patch is a single logical transition guarded by a sentinel
    (``sources.manifest.write_committed(patch=...)``): the new parquet
    lands in a temp dir, a ``_PATCHING_extract.json`` sentinel commits
    atomically, THEN the directory swap happens, THEN the new marker
    commits (which clears the sentinel). A kill anywhere between
    sentinel and marker leaves the sentinel in place, and
    ``manifest.committed`` treats a sentinel (or a missing data dir) as
    NOT done — so a retry can never pass the stage guard against
    mid-swap or already-patched data (which would double-apply the
    delta); it falls back to a full re-extract instead. (Directory
    rename plus sentinel is the local-FS stand-in for an Iceberg
    snapshot commit.)

    The invariant (pinned by test): ``update_corpus(old, new)`` output
    is IDENTICAL to ``build_corpus(new)`` from scratch.
    """
    from docstrange_spark.sources import manifest as mf

    cfg = {**DEFAULTS, **overrides}
    config_fp = mf.config_fingerprint(cfg)
    old_snapshot = mf.snapshot_id_of(old_input)
    if mf.abandon_patch(out_dir, "extract"):
        # a previous update died mid-swap: the extract data under the
        # marker is untrustworthy (old, new, or missing). Recover by
        # rebuilding from the NEW snapshot from scratch — build_corpus
        # sees the sentinel, reruns extract fully, and its commit clears
        # the sentinel. Output still equals build_corpus(new) — the
        # pinned invariant — just without the incremental saving this
        # once.
        summary = build_corpus(spark, new_input, out_dir, **overrides)
        summary["extract_patch"] = {"recovered_from_torn_patch": True}
        return summary
    old_rec = mf.committed(
        out_dir, "extract", {"snapshot_id": old_snapshot, "config_fp": config_fp}
    )
    if old_rec is None:
        raise ValueError(
            "update_corpus needs a committed extract stage for the OLD "
            "snapshot and the SAME config — run build_corpus(old_input) "
            "first"
        )
    new_snapshot = mf.snapshot_id_of(new_input)
    old_docs = spark.read.parquet(old_input)
    new_docs = spark.read.parquet(new_input)
    # fingerprint text PLUS the metadata the extract stage caches
    # (source, lang): a doc whose text is unchanged but whose source or
    # lang was relabeled must re-extract, or the patched stage would
    # feed per-source caps and lang-stratified sampling stale labels —
    # breaking the identical-to-fresh-build invariant
    delta = curation.corpus_diff(
        old_docs, new_docs, meta_cols=("source", "lang")
    )
    counts = {
        r["status"]: r["n"]
        for r in delta.groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    key = F.concat(F.lit("doc-"), F.col("doc_id").cast("string"))
    refresh_ids = delta.where(
        F.col("status").isin("added", "changed")
    ).select("doc_id")
    drop_keys = delta.where(
        F.col("status").isin("removed", "changed")
    ).select(key.alias("doc_id"))
    fresh = _extract_stage(new_docs.join(refresh_ids, "doc_id", "semi"))
    patched = (
        mf.read_committed(spark, out_dir, old_rec)
        .join(F.broadcast(drop_keys), "doc_id", "anti")
        .unionByName(fresh)
    )
    mf.write_committed(
        patched,
        out_dir,
        "extract",
        {
            "run_id": uuid.uuid4().hex[:12],
            "snapshot_id": new_snapshot,
            "config_fp": config_fp,
        },
        patch={"old_snapshot": old_snapshot, "new_snapshot": new_snapshot},
    )
    summary = build_corpus(spark, new_input, out_dir, **overrides)
    summary["extract_patch"] = {
        "n_added": counts.get("added", 0),
        "n_changed": counts.get("changed", 0),
        "n_removed": counts.get("removed", 0),
    }
    return summary
