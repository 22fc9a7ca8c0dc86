"""The three workloads. Each one prepares seeded inputs, runs timed
operations through the engine's production entry points, digests every
output for the correctness check, and (traced run) times calls into
each layer's public functions under a Spark job group."""

from __future__ import annotations

import os
import shutil
import statistics
import time

import inputs
import probes
from checks import EXTRACT_FORMATS, digest_obj, digest_parquet, span_invariant

SIZES = {
    "full": dict(span_docs=8000, mega_every=2000, docs=5000, vecs=2000, calls=8),
    "smoke": dict(span_docs=300, mega_every=100, docs=500, vecs=200, calls=4),
}
SAMPLE_DOCS = 128  # docs checked against the pure kernels per extract run
QUERY_KINDS = ("search_doc", "search_passage", "nav", "knn")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def consume(out: str, table: str | None = None) -> str:
    """Digest of an output parquet directory (or of its subdirectory
    ``table``); ``out`` is then removed."""
    try:
        return digest_parquet(os.path.join(out, table) if table else out)
    finally:
        shutil.rmtree(out, ignore_errors=True)


class Tracer:
    """Times calls under per-call Spark job groups. Group ids are
    ``<kind>#<round>``; counters are summed per kind."""

    def __init__(self, spark, pid: int):
        self.spark, self.pid = spark, pid
        self.wall: dict[str, list[float]] = {}
        self.cpu: dict[str, float] = {}
        self.start_ms: dict[str, int] = {}
        self.rounds = 0

    def run(self, kind: str, fn):
        group = f"{kind}#{len(self.wall.get(kind, ()))}"
        self.spark.sparkContext.setJobGroup(group, group)
        cpu0 = probes.tree_cpu_s(self.pid)
        self.start_ms[group] = int(time.time() * 1000)
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.wall.setdefault(kind, []).append(time.perf_counter() - t0)
            self.cpu[kind] = self.cpu.get(kind, 0.0) + probes.tree_cpu_s(self.pid) - cpu0
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def layers(self, defs: dict, ev: probes.GroupStats) -> dict[str, float]:
        """Self time and counters per layer. ``defs`` maps a layer to
        (kinds added, kinds subtracted); ``s`` is the median over rounds,
        counters are per-round means."""
        def total(counter: dict, kind: str) -> float:
            return sum(v for g, v in counter.items() if g.split("#")[0] == kind)

        out = {}
        n = max(self.rounds, 1)
        for layer, (plus, minus) in defs.items():
            sign = [(k, 1) for k in plus] + [(k, -1) for k in minus]
            per_round = [
                sum(sg * self.wall[k][r] for k, sg in sign) for r in range(self.rounds)
            ]
            out[f"{layer}.s"] = statistics.median(per_round) if per_round else 0.0
            out[f"{layer}.jobs"] = sum(sg * total(ev.jobs, k) for k, sg in sign) / n
            out[f"{layer}.cpu_s"] = sum(sg * self.cpu[k] for k, sg in sign) / n
            out[f"{layer}.shuffle_mb"] = sum(sg * total(ev.shuffle_mb, k) for k, sg in sign) / n
            out[f"{layer}.spill_mb"] = sum(sg * total(ev.spill_mb, k) for k, sg in sign) / n
        return out

    def round_wall(self, kinds) -> float:
        """Median over rounds of the summed wall of ``kinds``."""
        return statistics.median(
            sum(self.wall[k][r] for k in kinds) for r in range(self.rounds))

    def plan_s(self, kind: str, ev: probes.GroupStats) -> float:
        waits = [
            (ev.first_submit_ms[g] - t) / 1e3
            for g, t in self.start_ms.items()
            if g.split("#")[0] == kind and g in ev.first_submit_ms
        ]
        return statistics.median(waits) if waits else 0.0


class Extract:
    """CLI ``--output-format all --out`` path over a seeded span table."""

    name = "extract"
    STEP = 1  # operations per timed step
    golden_ops = 1  # operations with a distinct stored golden

    def __init__(self, ctx):
        self.ctx = ctx
        sz = ctx.sizes
        self.n_docs = sz["span_docs"]
        v = ctx.variant
        self.spans = inputs.materialize(
            ctx.cache, f"spans-{self.n_docs}-{sz['mega_every']}-v{v}",
            lambda: inputs.span_docs(self.n_docs, v, sz["mega_every"]),
            inputs.SPAN_SCHEMA,
        )

    def _read(self, spark):
        from docstrange_spark.sources import span_table

        return span_table.read_spans(spark, self.spans)

    def _extract(self, spark, formats):
        from docstrange_spark.operators import extract

        return extract.extract(self._read(spark), formats=formats)

    def op(self, spark, i: int) -> str:
        out = os.path.join(self.ctx.out, f"extract-{i}")
        self._extract(spark, EXTRACT_FORMATS).write.mode("overwrite").parquet(out)
        return out

    def digest(self, out: str) -> str:
        return consume(out)

    def sample(self):
        import numpy as np
        import pyarrow.parquet as pq

        ids = pq.read_table(self.spans, columns=["doc_id"])["doc_id"].to_pylist()
        rng = np.random.default_rng([self.ctx.variant, 4])
        pick = set(rng.choice(ids, SAMPLE_DOCS, replace=False).tolist())
        pick |= {d for d in ids if d.startswith("mega_doc")}
        return pq.read_table(self.spans, filters=[("doc_id", "in", sorted(pick))]).to_pandas()

    def traced(self, spark, tr: Tracer, deadline: float) -> None:
        from pyspark.sql import functions as F

        n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
        while tr.rounds < 1 or time.perf_counter() < deadline:
            tr.run("scan", lambda: noop(self._read(spark).select("doc_id", "spans")))
            tr.run("salt", lambda: noop(
                self._read(spark).select("doc_id", "spans")
                .repartition(n_part, F.xxhash64("doc_id"))
            ))
            tr.run("kernel", lambda: noop(self._extract(spark, ())))
            tr.run("renditions", lambda: noop(self._extract(spark, EXTRACT_FORMATS)))
            out = tr.run("write", lambda: self.op(spark, 1000 + tr.rounds))
            shutil.rmtree(out, ignore_errors=True)
            tr.rounds += 1

    # layer -> (traced call kinds added, kinds subtracted): nested calls
    # that each add one layer, so self time is a difference
    ROUND_CALLS = ("write",)  # the traced calls that make one operation
    LAYERS = {
        "sources.scan": (["scan"], []),
        "extract.salt": (["salt"], ["scan"]),
        "extract.kernel": (["kernel"], ["salt"]),
        "renditions": (["renditions"], ["kernel"]),
        "sink.write": (["write"], ["renditions"]),
    }

    def layer_metrics(self, tr: Tracer, ev: probes.GroupStats) -> tuple[dict, float]:
        """Per-layer metrics and the traced wall of one operation."""
        m = tr.layers(self.LAYERS, ev)
        skews = []
        for g, stages in ev.task_ms.items():
            if g.split("#")[0] != "write":
                continue
            heavy = max(stages.values(), key=sum)
            skews.append(max(heavy) / max(statistics.median(heavy), 1))
        m["extract.task_skew"] = statistics.median(skews) if skews else 0.0
        return m, tr.round_wall(self.ROUND_CALLS)


class BuildCorpus:
    """``corpus.build_corpus`` (CLI ``--build-corpus``) over a seeded
    documents table."""

    name = "build_corpus"
    STEP = 1
    golden_ops = 1
    STAGES = ("extract", "signals", "dedup", "select", "pack")

    def __init__(self, ctx):
        self.ctx = ctx
        self.n_docs = ctx.sizes["docs"]
        v = ctx.variant
        self.docs = inputs.materialize(
            ctx.cache, f"docs-{self.n_docs}-v{v}",
            lambda: inputs.documents(self.n_docs, v),
        )

    def op(self, spark, i: int) -> str:
        from docstrange_spark.operators import corpus

        out = os.path.join(self.ctx.out, f"corpus-{i}")
        corpus.build_corpus(spark, self.docs, out)
        return out

    def digest(self, out: str) -> str:
        return consume(out, "pack")

    def traced(self, spark, tr: Tracer, deadline: float) -> None:
        from docstrange_spark.operators import corpus, dedup, spanize

        threshold = corpus.DEFAULTS["jaccard_threshold"]
        while tr.rounds < 1 or time.perf_counter() < deadline:
            out = os.path.join(self.ctx.out, f"traced-{tr.rounds}")
            copy = out + "-commit"
            for stage in self.STAGES:
                stop = None if stage == "pack" else stage
                tr.run(stage, lambda: corpus.build_corpus(
                    spark, self.docs, out, stop_after=stop))

            def commit(stage):
                spark.read.parquet(os.path.join(out, stage)).write.parquet(
                    os.path.join(copy, stage))
                return spark.read.parquet(os.path.join(copy, stage)).count()

            for stage in self.STAGES:
                tr.run(f"commit.{stage}", lambda: commit(stage))
            tr.run("spanize", lambda: noop(spanize.spanize(spark.read.parquet(self.docs))))
            cdocs = spark.read.parquet(os.path.join(out, "extract"))
            pairs = tr.run("lsh", lambda: dedup.lsh_candidate_pairs(cdocs).localCheckpoint())
            verified = tr.run("jaccard", lambda: dedup.jaccard_pairs(
                cdocs, pairs, broadcast_relevant=False,
            ).where(f"jaccard >= {threshold}").select("doc_a", "doc_b").localCheckpoint())
            tr.run("cc", lambda: noop(
                dedup.connected_components(cdocs.select("doc_id"), verified)))
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            self.candidates, self.verified = pairs.count(), verified.count()
            self.kept = spark.read.parquet(os.path.join(out, "pack")).count()
            shutil.rmtree(out, ignore_errors=True)
            shutil.rmtree(copy, ignore_errors=True)
            tr.rounds += 1

    # each stage call minus the cost of re-committing its output; the
    # dedup stage is split by timing its three public calls on their own
    ROUND_CALLS = STAGES
    LAYERS = {
        "spanize": (["spanize"], []),
        "extract.kernel": (["extract"], ["commit.extract", "spanize"]),
        "text_analysis.signals": (["signals"], ["commit.signals"]),
        "dedup.lsh": (["lsh"], []),
        "dedup.jaccard": (["jaccard"], []),
        "dedup.cc": (["cc"], []),
        "curation.select": (["select"], ["commit.select"]),
        "curation.pack": (["pack"], ["commit.pack"]),
        "corpus.commit": ([f"commit.{s}" for s in STAGES], []),
    }

    def layer_metrics(self, tr: Tracer, ev: probes.GroupStats) -> tuple[dict, float]:
        m = tr.layers(self.LAYERS, ev)
        m["corpus.kept_docs"] = self.kept
        m["dedup.candidate_pairs"] = self.candidates
        m["dedup.verified_pairs"] = self.verified
        m["dedup.verify_yield"] = self.verified / max(self.candidates, 1)
        wall = tr.round_wall(self.ROUND_CALLS)
        # Only here are the layers timed apart from the calls that make an
        # operation, so only here can their sum fall short of its wall. On
        # the other workloads the nested differences add up to the call by
        # construction, and the share is left at 0.
        m["trace.attributed_share"] = sum(m[f"{layer}.s"] for layer in self.LAYERS) / wall
        return m, wall


class CorpusQuery:
    """A closed loop, one client, no think time: DocServer corpus search
    (doc and passage granularity), cold document navigation, and
    ``similarity.knn_lsh``."""

    name = "corpus_query"
    STEP = len(QUERY_KINDS)  # timed in rounds of one call of each type

    def __init__(self, ctx):
        self.ctx = ctx
        sz = ctx.sizes
        self.n_docs = sz["docs"]
        v = ctx.variant
        self.docs = inputs.materialize(
            ctx.cache, f"docs-{self.n_docs}-v{v}",
            lambda: inputs.documents(self.n_docs, v),
        )
        self.emb = inputs.materialize(
            ctx.cache, f"emb-{sz['vecs']}-v{v}",
            lambda: inputs.embeddings(sz["vecs"], v),
        )
        self.plan = inputs.query_plan(sz["calls"], v, self.n_docs, sz["vecs"])
        self.golden_ops = len(self.plan)
        self.server = None

    def _search(self, call, granularity):
        res = self.server.call("search_corpus", {
            "corpus_path": self.docs, "query": call["query"],
            "top_k": 10, "granularity": granularity,
        })
        return [(r["rank"], r["doc_id"], r["score"]) for r in res["results"]]

    def _parse(self, call):
        return self.server.call(
            "parse_document", {"corpus_path": self.docs, "doc_id": call["doc_id"]})

    def _search_doc(self, call):
        return self.server.call("search_document", {
            "corpus_path": self.docs, "doc_id": call["doc_id"], "query": call["query"]})

    def _knn(self, spark, call):
        from docstrange_spark.operators import similarity

        rows = similarity.knn_lsh(spark.read.parquet(self.emb), call["ids"], 10).collect()
        return sorted(tuple(r) for r in rows)

    def kind(self, i: int) -> str:
        return self.plan[i % len(self.plan)]["kind"]

    def op(self, spark, i: int):
        from docstrange_spark.serving import DocServer

        if i % len(self.plan) == 0 or self.server is None:
            # a fresh server per pass keeps every navigation call cold
            self.server = DocServer(spark)
        return self._do(spark, self.plan[i % len(self.plan)])

    def _do(self, spark, c):
        if c["kind"] == "search_doc":
            return self._search(c, "doc")
        if c["kind"] == "search_passage":
            return self._search(c, "passage")
        if c["kind"] == "nav":
            return [self._parse(c), self._search_doc(c)]
        return self._knn(spark, c)

    def digest(self, result) -> str:
        return digest_obj(result)

    def traced(self, spark, tr: Tracer, deadline: float) -> None:
        from docstrange_spark.operators import retrieval, similarity
        from docstrange_spark.serving import DocServer

        by_kind = {k: [c for c in self.plan if c["kind"] == k] for k in QUERY_KINDS}
        while tr.rounds < 1 or time.perf_counter() < deadline:
            r = tr.rounds
            self.server = DocServer(spark)
            c = by_kind["search_doc"][r % len(by_kind["search_doc"])]
            tr.run("search_doc", lambda: self._search(c, "doc"))
            c = by_kind["search_passage"][r % len(by_kind["search_passage"])]
            tr.run("search_passage", lambda: self._search(c, "passage"))
            tr.run("passage_corpus", lambda: retrieval.passage_corpus(
                spark.read.parquet(self.docs)))
            c = by_kind["nav"][r % len(by_kind["nav"])]
            tr.run("nav.parse", lambda: self._parse(c))
            tr.run("nav.search", lambda: self._search_doc(c))
            tr.run("nav.sections", lambda: self._sections(spark, c))
            c = by_kind["knn"][r % len(by_kind["knn"])]
            tr.run("knn", lambda: self._knn(spark, c))
            tr.run("lsh_index", lambda: noop(
                similarity.build_lsh_index(spark.read.parquet(self.emb))))
            tr.rounds += 1
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        self.candidates = self._candidates(spark, by_kind["knn"])
        self.server = None  # bound to this session, which is about to stop

    def _sections(self, spark, call):
        """The section split ``parse_document`` runs, on its own: over
        the parsed document's markdown (served from the server's cache)."""
        from docstrange_spark.operators import navigation

        doc = self.server.call("get_full_content", {
            "corpus_path": self.docs, "doc_id": call["doc_id"]})
        md = spark.createDataFrame(
            [(doc["doc_id"], doc["markdown"])], "doc_id string, markdown string")
        return navigation.sections_relational(md).orderBy("section_idx").collect()

    def _candidates(self, spark, calls) -> float:
        """Distinct LSH candidates per query vector (before re-rank)."""
        from pyspark.sql import functions as F

        from docstrange_spark.operators import similarity

        idx = similarity.build_lsh_index(spark.read.parquet(self.emb), include_vectors=False)
        ids = sorted({i for c in calls for i in c["ids"]})
        q = idx.where(F.col("vid").isin(ids)).select(
            F.col("vid").alias("qid"), F.col("tbl").alias("qtbl"),
            F.col("bucket").alias("qbucket"))
        n = (
            idx.join(q, (idx.tbl == q.qtbl) & (idx.bucket == q.qbucket))
            .where(F.col("vid") != F.col("qid"))
            .select("qid", "vid").distinct().count()
        )
        return n / len(ids)

    # calls split by timing the public call each one nests on its own
    ROUND_CALLS = ("search_doc", "search_passage", "nav.parse", "nav.search", "knn")
    LAYERS = {
        "retrieval.bm25": (["search_doc", "search_passage"], ["passage_corpus"]),
        "retrieval.passage_corpus": (["passage_corpus"], []),
        "navigation.sections": (["nav.sections"], []),
        "serving.parse_document": (["nav.parse"], ["nav.sections"]),
        "navigation.search": (["nav.search"], []),
        "similarity.lsh_index": (["lsh_index"], []),
        "similarity.probe": (["knn"], ["lsh_index"]),
    }

    def layer_metrics(self, tr: Tracer, ev: probes.GroupStats) -> tuple[dict, float]:
        m = tr.layers(self.LAYERS, ev)
        for kind, group in (("search_doc", "search_doc"), ("search_passage", "search_passage"),
                            ("nav", "nav.parse"), ("knn", "knn")):
            m[f"{kind}.plan_s"] = tr.plan_s(group, ev)
        m["similarity.candidates_per_query"] = self.candidates
        # mean per call, as the untraced wall_s is
        return m, tr.round_wall(self.ROUND_CALLS) / len(QUERY_KINDS)


WORKLOADS = {w.name: w for w in (Extract, BuildCorpus, CorpusQuery)}
