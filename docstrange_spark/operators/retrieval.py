"""Corpus-level retrieval operators: inverted index, boolean term
search, and BM25 ranking (Robertson & Zaragoza 2009 — public
knowledge; the reference's per-document `search_document` tool covers
one document at a time, these serve queries against the whole corpus).

Everything is built-in-function relational (posexplode + groupBy +
broadcast joins) with deterministic outputs, so each operator carries a
bit-exact DuckDB oracle: posting positions are sorted arrays rendered
as comma-joined strings, and BM25 scores are summed in integer
micro-units (the same exact-summation trick as `classifier.py`) so
float addition order can't drift between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import text_analysis
from .partitioning import sharded_top_k

MICRO = 1_000_000.0


def _postings(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, term, pos) token stream — 0-based positions.

    Deliberately NOT ``spread`` (guide §1.2 "measure first"): plain
    tokenization is cheap map work — measured bm25 0.95 s without vs
    1.79 s with the extra exchange at sf0.1/local[32]; the exchange's
    fixed cost exceeds the work it parallelizes (unlike the k-hash
    shingle pass in ``dedup.shingles``, where spread wins 2.8x)."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(text_analysis.nonempty_tokens(text_col)).alias(
            "pos", "term"
        ),
    )


def inverted_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tf: int = 1,
) -> DataFrame:
    """Term-document postings with in-document positions — the
    materialized retrieval index. Row layout (term, doc_id, tf,
    positions) rather than per-term arrays: a web-scale term's posting
    list is millions of documents, which must stay distributed rows,
    never one array on one task. Positions are emitted sorted and
    comma-joined (``"0,17,44"``) so the output is deterministic and
    engine-portable.

    One shuffle (groupBy (term, doc_id) with map-side combine). Write
    the result partitioned/bucketed by term and every lookup becomes a
    pruned scan.
    """
    return (
        _postings(df, id_col, text_col)
        .groupBy("term", "doc_id")
        .agg(
            F.count("*").cast("long").alias("tf"),
            F.array_join(
                F.sort_array(F.collect_list(F.col("pos").cast("long"))), ","
            ).alias("positions"),
        )
        .where(F.col("tf") >= min_tf)
    )


def term_search(
    df: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Conjunctive (AND) boolean retrieval: documents containing EVERY
    query term, with per-term and total term frequencies. The classic
    posting-intersection, expressed as a groupBy: filter postings to
    the query terms (pushed into the scan), count distinct matched
    terms per doc, keep docs matching all of them.

    Returns (doc_id, n_hits) — ``n_hits`` the total occurrence count
    across the query terms. Terms are lowercased to match the token
    stream (same normalization as ``phrase_search``). The term filter
    is a literal IN-list, so Catalyst pushes it to the source; no
    index materialization needed for ad-hoc queries, or run it against
    a bucketed ``inverted_index`` table for the serving shape.
    """
    terms = sorted({t.lower() for t in terms})
    if not terms:
        raise ValueError("terms must be non-empty")
    p = _postings(df, id_col, text_col).where(F.col("term").isin(terms))
    return (
        p.groupBy("doc_id")
        .agg(
            F.countDistinct("term").alias("n_terms"),
            F.count("*").cast("long").alias("n_hits"),
        )
        .where(F.col("n_terms") == F.lit(len(terms)))
        .select("doc_id", "n_hits")
    )


def bm25_search(
    df: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
    n_shards: int = 32,
) -> DataFrame:
    """BM25-ranked retrieval over the corpus (disjunctive: any doc
    containing at least one query term is scored). Uses the
    Robertson/Lucene idf ``ln((N - df + 0.5)/(df + 0.5) + 1)`` and the
    standard saturation ``tf*(k1+1)/(tf + k1*(1 - b + b*dl/avgdl))``.

    Plan shape: one scan, no posting table. A per-document projection
    binds the token array once and emits ``dl`` plus one tf column per
    distinct query term (the tokens ``array_remove(toks, term)`` drops),
    so the cost is O(terms x tokens) per document. One global aggregate row
    (N, total length, one df per term) joins back as a broadcast, and
    the score is computed in the same projection. Per-term
    contributions are rounded to integer micro-units and summed exactly
    (bit-stable across engines and partition orders). The global top-k
    is :func:`partitioning.sharded_top_k` on an md5 shard of the doc
    id, never a full sort. Every row is one document: ids must be
    unique (they are at every caller), a repeated id is scored as
    separate documents.
    Returns (doc_id, score, rank). Terms are lowercased to match the
    token stream; NULL text counts in N as an empty document.
    """
    terms = sorted({t.lower() for t in terms})
    if not terms:
        raise ValueError("terms must be non-empty")
    tf = [f"_tf{i}" for i in range(len(terms))]
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        text_analysis.nonempty_tokens(text_col).alias("_toks"),
    )
    dl = F.size("_toks")
    per_doc = toks.select(
        "doc_id",
        dl.cast("long").alias("dl"),
        *[
            (dl - F.size(F.array_remove("_toks", F.lit(t)))).cast("long").alias(c)
            for t, c in zip(terms, tf)
        ],
    )
    tot = per_doc.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
        *[F.count_if(F.col(c) > 0).cast("long").alias(f"_df{c}") for c in tf],
    )
    avgdl = F.col("sum_dl") / F.col("n_docs")

    def contrib(c):
        tf_c, df_c = F.col(c), F.col(f"_df{c}")
        idf = F.log(
            (F.col("n_docs") - df_c + F.lit(0.5)) / (df_c + F.lit(0.5))
            + F.lit(1.0)
        )
        sat = (tf_c * F.lit(float(k1) + 1.0)) / (
            tf_c
            + F.lit(float(k1))
            * (
                F.lit(1.0 - float(b))
                + F.lit(float(b)) * (F.col("dl") / avgdl)
            )
        )
        return F.when(
            tf_c > 0, F.round((idf * sat) * F.lit(MICRO), 0).cast("long")
        ).otherwise(F.lit(0).cast("long"))

    total = sum(contrib(c) for c in tf)
    # a doc without any query term scores NULL, which ranks after every
    # scored doc and is dropped after the top-k. A where() on the tf
    # columns instead would be pushed below the projection, tokenizing
    # each text again inside the filter.
    hit = F.greatest(*[F.col(c) for c in tf], F.lit(0)) > 0
    scored = per_doc.crossJoin(F.broadcast(tot)).select(
        "doc_id", F.when(hit, F.round(total / F.lit(MICRO), 6)).alias("score")
    )
    return (
        sharded_top_k(
            scored,
            (F.desc_nulls_last("score"), F.asc("doc_id")),
            top_k,
            n_shards,
            F.col("doc_id"),
        )
        .where(F.col("score").isNotNull())
        .select("doc_id", "score", "rank")
    )


def phrase_search(
    df: DataFrame,
    phrase: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact phrase retrieval: documents containing the token sequence
    ``phrase`` contiguously, with the occurrence count and the 0-based
    first token position. Where ``term_search`` intersects unordered
    postings, this matches ADJACENT positions — implemented as
    n-length word-gram equality entirely inside one projection
    (split + transform + filter, zero shuffles, zero Python), so it
    composes into a scan stage at any scale.
    """
    words = [w for w in phrase.lower().split(" ") if w]
    if not words:
        raise ValueError("phrase must contain at least one token")
    n = len(words)
    target = F.lit(" ".join(words))
    grams = text_analysis.word_ngrams(
        text_analysis.nonempty_tokens(text_col), n
    )
    hit = text_analysis.bind(grams, lambda g: F.struct(
        F.size(F.filter(g, lambda x: x == target))
        .cast("long")
        .alias("n_occurrences"),
        (F.array_position(g, target) - 1).cast("long").alias("first_pos"),
    ))
    # the match is bound once and emitted through a 0-or-1-element array:
    # a where() on it would be pushed below the projection, building the
    # grams a second time inside the filter
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.inline(F.filter(F.array(hit), lambda h: h["n_occurrences"] > 0)),
    )


def proximity_search(
    df: DataFrame,
    term_a: str,
    term_b: str,
    window: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """NEAR-operator retrieval: documents where ``term_a`` and
    ``term_b`` occur within ``window`` tokens of each other, with the
    minimum observed distance. Sits between ``term_search`` (unordered
    AND) and ``phrase_search`` (distance exactly 1, ordered).

    One projection: both terms' position arrays are built inside the
    row (array filters over the token array, bound once per row), and the
    min pairwise distance is a nested array fold — cost
    O(|pos_a| * |pos_b|) per document, bounded by document length,
    zero shuffles, zero Python.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1 (got {window})")
    a, b = term_a.lower(), term_b.lower()
    if not a or not b:
        raise ValueError("terms must be non-empty")
    def min_dist(toks):
        idx = F.sequence(F.lit(0), F.size(toks) - 1)

        def positions(term):
            return F.filter(
                idx, lambda i: F.element_at(toks, i + 1) == F.lit(term)
            )

        # both position arrays are bound, so the inner loop reads pb
        # instead of recomputing it for every element of pa; NULL (no
        # distance) when either term is absent
        return text_analysis.bind(positions(a), lambda pa: text_analysis.bind(
            positions(b),
            lambda pb: F.array_min(F.flatten(F.transform(
                pa, lambda p: F.transform(pb, lambda q: F.abs(p - q))
            ))),
        ))

    dist = text_analysis.bind(
        text_analysis.nonempty_tokens(text_col), min_dist
    ).cast("long")
    # emitted through a 0-or-1-element array, like phrase_search: a
    # where() would be pushed below the projection and fold twice
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.filter(F.array(dist), lambda d: d <= window)).alias("min_dist"),
    )


def passage_corpus(docs: DataFrame) -> DataFrame:
    """(passage_id, text) passage table for RAG-granularity retrieval:
    spanize -> extract -> section split, ids ``doc_id#section_idx``.
    Feed the result to :func:`bm25_search` with ``id_col="passage_id"``
    — the shape the CLI's ``--granularity passage``, the MCP
    ``search_corpus`` tool, and the ``passage_search`` contract query
    all share.

    Scale shape: one extraction kernel pass plus the zero-join section
    split; the passage table is a projection of it (materialize it once
    in production, like ``search_materialized``'s section store). The
    result is localCheckpoint-ed here: BM25 reads its corpus twice
    (the per-document projection and the 1-row aggregate), and since
    the round-6 section split is exchange-free there is no
    ReusedExchange node left to deduplicate the extraction-kernel
    subtree — uncheckpointed, the kernel would re-execute once per
    read.
    """
    from . import extract as ex
    from . import navigation, spanize

    md = ex.extract(spanize.spanize(docs), include_spans=False).select(
        "doc_id", "markdown"
    )
    passages = navigation.sections_relational(md).select(
        F.concat_ws(
            "#", F.col("doc_id"), F.col("section_idx").cast("string")
        ).alias("passage_id"),
        F.col("content").alias("text"),
    )
    return passages.localCheckpoint(eager=True)
