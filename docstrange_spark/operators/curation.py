"""Corpus-curation operators a training-data pipeline needs around the
extraction engine: deterministic train/eval splitting, token-budget
batch packing, and eval-set decontamination.

All engine-portable (md5 arithmetic, window functions — every query has
a bit-exact DuckDB oracle) and scale-shaped: splitting is a pure
projection, packing windows are PARTITIONED by a hash shard (never a
global sort), and decontamination joins on fingerprints with the small
eval side broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import text_analysis
from .partitioning import _md5_long28, sharded_top_k

# 7 hex chars = 28 bits: the md5-prefix-to-integer trick used across
# the engine (both engines compute identical values)
_HEX7 = float(16**7)


def _uniform_hash(col, salt: str):
    """Deterministic uniform [0,1) per value: md5(salt|value) first 7
    hex digits over 16^7. Portable to DuckDB bit-for-bit."""
    return _md5_long28(F.concat_ws("|", F.lit(salt), col.cast("string"))).cast(
        "double"
    ) / F.lit(_HEX7)


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    test_frac: float = 0.1,
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/test split on a hash of the id — the way
    training pipelines split corpora so membership is stable across
    runs, machines, and re-shuffles (``rand()`` is none of those).
    Adds ``split`` ('train'/'test') and the underlying ``split_u``
    uniform. Pure projection: no shuffle, survives any scale."""
    u = _uniform_hash(F.col(id_col), salt)
    return df.withColumn("split_u", F.round(u, 6)).withColumn(
        "split", F.when(u < F.lit(test_frac), F.lit("test")).otherwise(F.lit("train"))
    )


def pack_batches(
    df: DataFrame,
    budget: int = 512,
    n_shards: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    carry: tuple = (),
) -> DataFrame:
    """Assign documents to token-budget training batches: shard by id
    hash, then within each shard walk documents in id order and cut a
    new batch each time the running whitespace-token total crosses a
    ``budget`` multiple (the standard contiguous greedy packing, made
    deterministic by the id order).

    Scale shape: the running-sum window is PARTITIONED BY shard — never
    a global ORDER BY, which would funnel 100 TB through one task. Shards
    pack independently and in parallel; ``n_shards`` should be >= the
    cluster's task slots. Returns (doc_id, shard, batch_id, n_tokens).
    ``carry`` rides extra expressions through the window (windows allow
    carried columns), so a consumer that needs e.g. the text does not
    re-scan and re-join the corpus.
    """
    if budget < 1 or n_shards < 1:
        raise ValueError(
            f"budget and n_shards must be >= 1 (got {budget}, {n_shards})"
        )
    toks = F.size(text_analysis.nonempty_tokens(text_col)).cast("long")
    shard = _md5_long28(F.col(id_col)) % n_shards
    t = df.select(
        F.col(id_col).alias("doc_id"),
        shard.alias("shard"),
        toks.alias("n_tokens"),
        *carry,
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    # exclusive prefix sum -> the batch this doc STARTS in; a doc longer
    # than the budget still lands in exactly one batch
    return t.select(
        "doc_id",
        "shard",
        F.floor((cum - F.col("n_tokens")) / F.lit(budget))
        .cast("long")
        .alias("batch_id"),
        "n_tokens",
        # carried columns come back out by the name t gave them
        *[c for c in t.columns if c not in ("doc_id", "shard", "n_tokens")],
    )


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    k: int = 5,
    window: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    winnowed k-gram fingerprint with an eval/benchmark set (the overlap
    check run before training so eval answers aren't in the corpus).

    Both sides get the same MOSS winnowing (``text_analysis.
    winnow_fingerprints``: every shared substring of length >= k+window-1
    is guaranteed to share a fingerprint). The eval set is tiny next to
    a 100 TB corpus, so its fingerprints broadcast — the train side
    never shuffles for the join. Returns one row per contaminated
    training doc: (doc_id, n_shared_fps).
    """
    train_fps = text_analysis.winnow_fingerprints(
        docs, k=k, window=window, id_col=id_col, text_col=text_col
    )
    eval_fps = F.broadcast(
        text_analysis.winnow_fingerprints(
            eval_docs, k=k, window=window, id_col=id_col, text_col=text_col
        ).select(F.col("fp").alias("eval_fp")).distinct()
    )
    return (
        train_fps.join(eval_fps, train_fps["fp"] == eval_fps["eval_fp"], "inner")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_shared_fps"))
    )


def ngram_decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Word n-gram benchmark decontamination — the GPT-3 / FineWeb
    13-gram practice (public knowledge), complementing the winnowing
    variant (:func:`decontaminate`, which catches character-level
    overlap): a training document is contaminated if any of its word
    ``n``-grams appears in the eval/benchmark set. Returns one row per
    contaminated training doc: (doc_id, n_shared_ngrams = distinct
    shared grams, n_ngrams = the doc's distinct gram count,
    overlap_frac rounded 6 dp).

    Scale shape: eval grams are distinct + broadcast (a benchmark is
    KBs next to a 100 TB corpus), so the training side never shuffles
    for the join; the only exchange is the per-doc distinct/groupBy on
    (doc_id, gram), map-side combinable. Lowercased whitespace tokens
    via the shared ``word_ngrams`` builder — same gram space as
    phrase search and the repetition signals.
    """
    def grams(df):
        toks = text_analysis.nonempty_tokens(text_col)
        return df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(text_analysis.word_ngrams(toks, n)).alias("gram"),
        ).distinct()

    train_g = grams(docs)
    eval_g = F.broadcast(grams(eval_docs).select("gram").distinct())
    per_doc = train_g.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_ngrams")
    )
    hits = (
        train_g.join(eval_g, "gram")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_shared_ngrams"))
    )
    return hits.join(per_doc, "doc_id").select(
        "doc_id",
        "n_shared_ngrams",
        "n_ngrams",
        F.round(F.col("n_shared_ngrams") / F.col("n_ngrams"), 6).alias(
            "overlap_frac"
        ),
    )


def temperature_mix(
    df: DataFrame,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Temperature-scaled source mixture — the multilingual/multi-source
    rebalancing rule (T5 / mBERT exponential smoothing, public
    knowledge): a source with document share ``p`` gets sampling weight
    ``p^alpha`` (alpha < 1 upweights small sources), renormalized to
    target shares; the per-source sampling rate resizes the mix back to
    the corpus size. Returns one row per source: (source, n_docs,
    share, target_share, sample_rate), shares rounded 6 dp.

    alpha=0.5 (temperature 2) computes via ``sqrt`` — IEEE-exact on
    both engines, unlike ``pow`` — and the weight normalizer sums
    nano-unit integers so accumulation order can't move a rounded
    digit. One tiny groupBy(source); the rate table broadcasts back to
    an actual sampling pass (``md5(doc_id) < rate``, projection-only)
    at any scale.
    """
    per = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count("*").cast("long").alias("n_docs")
    )
    tot = per.agg(F.sum("n_docs").alias("total"))
    shared = per.crossJoin(F.broadcast(tot))
    share = F.col("n_docs") / F.col("total")
    if alpha == 0.5:
        w = F.sqrt(share)
    else:
        w = F.pow(share, F.lit(float(alpha)))
    # nano-unit quantized weights: the normalizer is an exact integer
    # sum, so target shares are order-independent on both engines
    shared = shared.withColumn(
        "_wq", F.round(w * F.lit(1e9)).cast("long")
    )
    norm = shared.agg(F.sum("_wq").alias("_wsum"))
    out = shared.crossJoin(F.broadcast(norm))
    target = F.col("_wq") / F.col("_wsum")
    rate = F.least(
        F.lit(1.0), target * F.col("total") / F.col("n_docs")
    )
    return out.select(
        "source",
        "n_docs",
        F.round(share, 6).alias("share"),
        F.round(target, 6).alias("target_share"),
        F.round(rate, 6).alias("sample_rate"),
    )


def temperature_sample(
    df: DataFrame,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    source_col: str = "source",
    salt: str = "tmix",
) -> DataFrame:
    """Apply the :func:`temperature_mix` rates: deterministically sample
    each source at its temperature-rebalanced rate (membership is a
    pure function of (salt, source, id) — same mechanism as
    ``stratified_sample``, so it's stable across runs/machines and
    reproducible in SQL). Returns the kept rows plus (sample_rate,
    sample_u).

    Scale shape: the rate table is sources-sized and broadcasts; the
    sampling predicate is a pure projection evaluated inside the scan
    stage — the only shuffle anywhere is temperature_mix's tiny
    groupBy(source).
    """
    rates = temperature_mix(
        df, alpha=alpha, id_col=id_col, source_col=source_col
    ).select("source", "sample_rate")
    u = _uniform_hash(
        F.concat_ws(
            "|",
            F.coalesce(F.col(source_col).cast("string"), F.lit("")),
            F.col(id_col).cast("string"),
        ),
        salt,
    )
    return (
        df.join(F.broadcast(rates), df[source_col] == rates["source"])
        .drop(rates["source"])
        .withColumn("sample_u", F.round(u, 6))
        .where(u < F.col("sample_rate"))
    )


def source_cap(
    df: DataFrame,
    per_source: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    n_shards: int = 32,
    quality_col: str | None = None,
) -> DataFrame:
    """Domain balancing: keep at most ``per_source`` documents per
    source/domain, preferring higher quality score with a deterministic
    id tiebreak — the per-domain cap web corpora apply so one crawl
    host can't dominate the training mix.

    Skew-safe: a mega-domain (half a web crawl can be one host) is
    ranked by :func:`partitioning.sharded_top_k` over ``(source,
    md5(doc_id) % n_shards)`` shards, so the heaviest task sees
    ~|domain| / n_shards rows. Output is IDENTICAL to the single-window
    formulation (the ordering is a total order via the id tiebreak),
    which is what the DuckDB oracle computes. ``n_shards`` should be >=
    the cluster's task slots; ``n_shards=1`` degenerates to the
    single-phase plan. Returns (source, doc_id, quality, src_rank) with
    ``src_rank`` the global per-source rank.
    """
    if quality_col is not None:
        # the caller already carries a quality column (e.g. a
        # materialized signals stage) — rank on it instead of
        # re-running the scoring kernel over every document's text
        q = df.select(
            F.col(source_col).alias("source"),
            F.col(id_col).alias("doc_id"),
            F.col(quality_col).alias("quality"),
        )
    else:
        q = text_analysis.quality_score(
            df, id_col=id_col, text_col=text_col, keep=(source_col,)
        ).select(F.col(source_col).alias("source"), "doc_id", "quality")
    return sharded_top_k(
        q,
        (F.desc("quality"), F.asc("doc_id")),
        per_source,
        n_shards,
        F.col("doc_id"),
        partition_by=("source",),
    ).select("source", "doc_id", "quality", F.col("rank").alias("src_rank"))


def doc_frequency(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus vocabulary statistics: per-token document frequency and
    IDF (natural log of corpus size over document frequency) — the
    table TF-IDF weighting, stopword discovery, and rare-token filters
    read from.

    Scale shape: tokens are deduplicated INSIDE each document first
    (``array_distinct`` before the explode), so a token repeated 10^4
    times in one page still emits one row into the groupBy; the token
    aggregation gets map-side partial counts, and the corpus size joins
    in as a broadcast single-row aggregate (no window, no second pass).
    """
    t = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(text_analysis.nonempty_tokens(text_col))).alias(
            "token"
        ),
    )
    agg = t.groupBy("token").agg(F.count("*").cast("long").alias("doc_freq"))
    n = df.agg(F.count("*").alias("n_docs"))
    return agg.crossJoin(F.broadcast(n)).select(
        "token",
        "doc_freq",
        F.round(F.log(F.col("n_docs") / F.col("doc_freq")), 6).alias("idf"),
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k TF-IDF keywords per document — the per-doc feature the
    vocabulary statistics feed (topic tagging, keyword filters, cheap
    relevance labels). TF is the within-doc occurrence count; IDF comes
    from :func:`doc_frequency` (already rounded to 6 decimals, so the
    ranking key ``round(tf * idf, 6)`` is engine-deterministic; ties
    break on the term).

    Plan shape: term counts aggregate with map-side combine; the IDF
    table is vocabulary-sized, tiny next to the corpus, so it joins as
    a BROADCAST — the per-doc term table never shuffles for the join.
    The top-k window partitions by doc_id — high cardinality, no skew
    funnel. Returns (doc_id, term, tf, idf, tfidf, term_rank).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1 (got {k})")
    tf = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(text_analysis.nonempty_tokens(text_col)).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    # document frequency derives FROM the tf aggregate: tf has exactly
    # one row per (doc, term), so counting rows per term equals
    # doc_frequency's array_distinct-then-explode count. The two
    # consumers prune tf differently, so Catalyst does NOT reuse the
    # exchange (verified on the executed plan) — localCheckpoint makes
    # the single tokenization pass explicit
    tf = tf.localCheckpoint()
    n = df.agg(F.count("*").alias("n_docs"))
    idf = (
        tf.groupBy("term")
        .agg(F.count("*").cast("long").alias("doc_freq"))
        .crossJoin(F.broadcast(n))
        .select(
            "term",
            F.round(F.log(F.col("n_docs") / F.col("doc_freq")), 6).alias("idf"),
        )
    )
    scored = tf.join(F.broadcast(idf), "term").withColumn(
        "tfidf", F.round(F.col("tf") * F.col("idf"), 6)
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return scored.select(
        "doc_id",
        "term",
        "tf",
        "idf",
        "tfidf",
        F.row_number().over(w).cast("long").alias("term_rank"),
    ).where(F.col("term_rank") <= k)


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Language-model quality proxy (CCNet-style LM filtering, Wenzek
    et al. 2020 — public knowledge; a corpus-unigram model stands in
    for the KenLM the paper uses): per-document mean unigram
    log-probability under the corpus's own token distribution. Gibberish
    and boilerplate-stuffed documents score low (rare-token mass);
    training pipelines drop the tail.

    Scale shape: one corpus pass builds the (token, count) frequency
    table — vocabulary-sized, so it re-joins as a BROADCAST; the total
    token count joins as a broadcast scalar. Returns
    (doc_id, n_tokens, mean_logprob) for every document with at least
    one token (empty docs have no distribution to score).
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(text_analysis.nonempty_tokens(text_col)).alias("token"),
    )
    freq = toks.groupBy("token").agg(F.count("*").cast("long").alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("total"))
    freq = freq.crossJoin(F.broadcast(total))
    return (
        toks.join(F.broadcast(freq), "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(F.avg(F.log(F.col("cnt") / F.col("total"))), 6).alias(
                "mean_logprob"
            ),
        )
    )


def bigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Bigram language-model score per document — the next step up
    from :func:`unigram_logprob` toward the KenLM-style perplexity
    filter of CCNet (Wenzek et al. 2020, public knowledge): add-alpha
    smoothed P(w2|w1) under the corpus's own transition counts,

        logP(w2|w1) = ln((c(w1 w2) + alpha) / (c_hist(w1) + alpha*V))

    with c_hist(w1) the count of w1 as a bigram HISTORY (occurrences
    excluding document-final positions, so each conditional sums to 1
    over the smoothed vocabulary) and V the corpus vocabulary size.
    Returns (doc_id, n_bigrams, mean_logprob, perplexity) for every
    document with >= 2 tokens; perplexity = exp(-mean) computed from
    the 6-dp-rounded mean so the two engines agree bit-for-bit.

    Scale shape: the bigram count table is corpus-transition-sized, so
    its re-join is a plain shuffle join on (w1, w2) — correctly NOT
    broadcast; the history table is vocabulary-sized and broadcasts;
    V joins as a broadcast scalar. The bigram stream itself is built
    in-projection from the token array (zero extra shuffle before the
    counting groupBys).
    """
    toks = text_analysis.nonempty_tokens(text_col)
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
    # ordered bigrams in-projection; sequence(2, 1) would DESCEND, so
    # short docs must map to an empty array explicitly
    pairs = F.when(
        F.size("toks") >= 2,
        F.transform(
            F.sequence(F.lit(2), F.size("toks")),
            lambda i: F.struct(
                F.element_at("toks", i - 1).alias("w1"),
                F.element_at("toks", i).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bg = base.select("doc_id", F.explode(pairs).alias("b")).select(
        "doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("c2"))
    hist = bg.groupBy("w1").agg(F.count("*").cast("long").alias("c1"))
    vocab = (
        base.select(F.explode("toks").alias("token"))
        .agg(F.countDistinct("token").cast("long").alias("v"))
    )
    scored = (
        bg.join(c2, ["w1", "w2"])
        .join(F.broadcast(hist), "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "lp",
            F.log(
                (F.col("c2") + F.lit(float(alpha)))
                / (F.col("c1") + F.lit(float(alpha)) * F.col("v"))
            ),
        )
    )
    per = scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.round(F.avg("lp"), 6).alias("mean_logprob"),
    )
    return per.select(
        "doc_id",
        "n_bigrams",
        "mean_logprob",
        F.round(F.exp(-F.col("mean_logprob")), 4).alias("perplexity"),
    )


def oov_rate(
    df: DataFrame,
    k: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 32,
) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus's own
    top-``k`` vocabulary — the tokenizer-coverage twin of
    :func:`top_vocabulary`: how much of each document a k-entry vocab
    would render as <unk>. High-OOV documents are gibberish, foreign
    text, or code — the same tail LM-data pipelines route to special
    handling. Returns (doc_id, n_tokens, n_oov, oov_frac) for every
    document with at least one token.

    Scale shape: the vocabulary comes from the skew-safe two-phase
    top-k (:func:`top_vocabulary`) and is k rows BY CONSTRUCTION, so
    the membership probe is a broadcast LEFT join — the corpus token
    stream never shuffles for it; the per-doc rollup aggregates with
    map-side combine.
    """
    vocab = top_vocabulary(
        df, k=k, id_col=id_col, text_col=text_col, n_shards=n_shards
    ).select("token", F.lit(1).alias("_in_vocab"))
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(text_analysis.nonempty_tokens(text_col)).alias("token"),
    )
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(
                F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_oov"),
        )
        .withColumn(
            "oov_frac", F.round(F.col("n_oov") / F.col("n_tokens"), 6)
        )
    )


def source_overlap(
    df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source contamination matrix: for every pair of sources,
    the overlap of their DISTINCT word ``n``-gram sets — the
    between-subcorpus analog of :func:`ngram_decontaminate` (is one
    source a mirror/scrape of another? does a curated slice leak into
    the web crawl?). Returns one row per unordered pair
    (source_a < source_b): (source_a, source_b, grams_a, grams_b,
    common_grams, jaccard, containment), containment normalizing by
    the SMALLER set (a subset scores 1.0 regardless of size ratio).

    Scale shape: the per-source gram sets deduplicate with a
    (source, gram) groupBy; the pair match is an equi-join on the gram
    string whose per-gram fan-out is bounded by the number of sources
    carrying it (sources are few; the join never broadcasts the
    corpus-sized gram sets); per-source totals are a handful of rows
    and broadcast onto the pair counts.
    """
    toks = text_analysis.nonempty_tokens(text_col)
    grams = (
        df.select(
            F.col(source_col).alias("source"),
            F.explode(
                text_analysis.word_ngrams(toks, n)
            ).alias("gram"),
        )
        .groupBy("source", "gram")
        .agg(F.lit(1).alias("_one"))
        .drop("_one")
    )
    totals = grams.groupBy("source").agg(
        F.count("*").cast("long").alias("n_grams")
    )
    a = grams.select(
        F.col("source").alias("source_a"), F.col("gram").alias("gram")
    )
    b = grams.select(
        F.col("source").alias("source_b"), F.col("gram").alias("gram")
    )
    common = (
        a.join(b, "gram")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("common_grams"))
    )
    ta = F.broadcast(
        totals.select(
            F.col("source").alias("source_a"), F.col("n_grams").alias("grams_a")
        )
    )
    tb = F.broadcast(
        totals.select(
            F.col("source").alias("source_b"), F.col("n_grams").alias("grams_b")
        )
    )
    return (
        common.join(ta, "source_a")
        .join(tb, "source_b")
        .select(
            "source_a",
            "source_b",
            "grams_a",
            "grams_b",
            "common_grams",
            F.round(
                F.col("common_grams")
                / (F.col("grams_a") + F.col("grams_b") - F.col("common_grams")),
                6,
            ).alias("jaccard"),
            F.round(
                F.col("common_grams")
                / F.least(F.col("grams_a"), F.col("grams_b")),
                6,
            ).alias("containment"),
        )
    )


def paragraph_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_occurrences: int = 1,
    sep: str = "\n\n",
) -> DataFrame:
    """Paragraph-level dedup (CCNet-style; Wenzek et al. 2020 — public
    knowledge): split each document on blank lines (the assembly
    kernel's own block boundary), count how many DISTINCT documents
    each exact paragraph occurs in, and emit per document the
    boilerplate fraction plus a cleaned text dropping paragraphs seen
    in more than ``max_occurrences`` documents. Catches repeated
    nav-bars / cookie banners / section headers inside otherwise-unique
    pages — the case document-level MinHash structurally cannot see.

    Scale shape: paragraphs shuffle by their md5 (never the full text
    as a key); the occurrence count is doc-distinct (a page repeating
    its own footer 100x doesn't self-mark it boilerplate) with
    map-side partial aggregation; the count table is corpus-sized so
    the re-join is a plain shuffle join (no broadcast); the final
    per-doc regroup re-joins paragraphs in order JVM-side
    (sort_array over (pidx, para) structs). Returns (doc_id, n_paras,
    n_boiler, boiler_frac, clean_text). ``max_occurrences=inf`` is the
    identity on text (split + rejoin on ``sep`` round-trips).
    """
    if max_occurrences < 1:
        raise ValueError(f"max_occurrences must be >= 1 (got {max_occurrences})")
    paras = _segments(df, id_col, text_col, sep)
    counts = (
        paras.select("shash", "doc_id")
        .distinct()
        .groupBy("shash")
        .agg(F.count("*").cast("long").alias("n_docs_with"))
    )
    j = paras.join(counts, "shash")
    return _strip_segments(j, F.col("n_docs_with") > max_occurrences, "n_paras", sep)


def _segments(df: DataFrame, id_col: str, text_col: str, sep: str, *keep) -> DataFrame:
    """(doc_id, *keep, idx, seg, shash): every ``sep``-separated segment
    of the text with its position and md5 — the explode paragraph_stats
    and boilerplate_lines both count over. \\Q...\\E quotes the
    separator so F.split (a Java regex) treats it as the same LITERAL
    that array_join re-inserts and the DuckDB twin's string_split uses
    — an unquoted '|' or '. ' would regex-split per character and break
    the split+rejoin identity."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        *keep,
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\\Q" + sep + "\\E")
        ).alias("idx", "seg"),
    ).withColumn("shash", F.md5("seg"))


def _strip_segments(j: DataFrame, is_boiler, n_col: str, sep: str) -> DataFrame:
    """Per-doc regroup of :func:`_segments` rows: (doc_id, ``n_col``,
    n_boiler, boiler_frac, clean_text), where clean_text re-joins the
    segments not flagged ``is_boiler`` in order, JVM-side (sort_array
    over (idx, seg) structs)."""
    kept = F.sort_array(
        F.collect_list(F.when(~is_boiler, F.struct(F.col("idx"), F.col("seg"))))
    )
    return (
        j.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias(n_col),
            F.sum(is_boiler.cast("long")).alias("n_boiler"),
            kept.alias("_kept"),
        )
        .select(
            "doc_id",
            n_col,
            "n_boiler",
            F.round(F.col("n_boiler") / F.col(n_col), 6).alias("boiler_frac"),
            F.array_join(
                F.transform(F.col("_kept"), lambda s: s["seg"]), sep
            ).alias("clean_text"),
        )
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str = "lang",
    fractions: dict | None = None,
    default_frac: float = 0.1,
    id_col: str = "doc_id",
    salt: str = "strat",
) -> DataFrame:
    """Per-stratum deterministic sampling — the corpus-mixing knob
    (e.g. keep 50% of English, 20% of Spanish, 10% of everything
    else). Membership is a pure function of (salt, stratum, id):
    stable across runs and machines, exactly reproducible in SQL, and
    composable with ``hash_split`` via a different salt.

    Pure projection + filter (no shuffle, no sampleBy() RNG); at 100 TB
    the filter runs inside the scan stage. Returns the kept rows with
    ``sample_u`` (the per-row uniform) appended.

    A NULL stratum hashes as the empty-string sentinel (and draws
    ``default_frac``) — without the coalesce, Spark's ``concat_ws``
    skips the NULL while a SQL ``||`` nulls the whole hash, a silent
    engine divergence; the oracle applies the same ``coalesce``.
    """
    u = _uniform_hash(
        F.concat_ws(
            "|",
            F.coalesce(F.col(strata_col).cast("string"), F.lit("")),
            F.col(id_col).cast("string"),
        ),
        salt,
    )
    frac = F.lit(float(default_frac))
    for k, v in sorted((fractions or {}).items()):
        frac = F.when(F.col(strata_col) == k, F.lit(float(v))).otherwise(frac)
    return df.withColumn("sample_u", F.round(u, 6)).where(u < frac)


def _histogram_cutoffs(
    t: DataFrame, grp: str, v: str, n_bins: int, cutoffs
) -> tuple[DataFrame, DataFrame]:
    """The histogram quantile construction behind quality_bins and
    score_quantiles: a per-``grp`` (lo, hi, n) aggregate broadcast back,
    ``n_bins`` fixed-width bins over [lo, hi] (a constant group is all
    bin 0), one map-side-combined histogram aggregation, a cumulative
    window over the <= ``n_bins`` histogram rows of a group (never over
    documents), and for each ``(name, q)`` in ``cutoffs`` the smallest
    bin whose running count reaches ``ceil(n * q)``. Returns
    ``(binned, edges)``: ``t`` with lo, hi, n and ``bin`` appended, and
    one row per group with lo, hi, n and one column per cutoff."""
    stats = t.groupBy(grp).agg(
        F.min(v).alias("lo"),
        F.max(v).alias("hi"),
        F.count("*").cast("long").alias("n"),
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(float(n_bins))
    binned = t.join(F.broadcast(stats), grp).withColumn(
        "bin",
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(
            F.least(F.lit(n_bins - 1), F.floor((F.col(v) - F.col("lo")) / width))
        )
        .cast("long"),
    )
    hist = binned.groupBy(grp, "bin").agg(
        F.count("*").cast("long").alias("cnt"),
        F.max("lo").alias("lo"),
        F.max("hi").alias("hi"),
        F.max("n").alias("n"),
    )
    wcum = Window.partitionBy(grp).orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    edges = (
        hist.withColumn("cum", F.sum("cnt").over(wcum))
        .groupBy(grp)
        .agg(
            *[
                F.min(
                    F.when(
                        F.col("cum") >= F.ceil(F.col("n") * F.lit(float(q))),
                        F.col("bin"),
                    )
                ).alias(name)
                for name, q in cutoffs
            ],
            F.max("lo").alias("lo"),
            F.max("hi").alias("hi"),
            F.max("n").alias("n"),
        )
    )
    return binned, edges


def quality_bins(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    n_bins: int = 1000,
    tail_frac: float = 1.0 / 3.0,
    head_frac: float = 1.0 / 3.0,
    scored: DataFrame | None = None,
) -> DataFrame:
    """CCNet-style per-language quality binning (Wenzek et al. 2020 —
    public knowledge): score every document with the LM quality proxy
    (``unigram_logprob``), then label it ``head`` / ``middle`` /
    ``tail`` within its language. CCNet trains only on head+middle;
    the tail is the low-quality discard pile.

    Exact per-language tertiles would need a total order per language —
    a single-task sort when one language is most of a web crawl. This
    uses the scale-safe histogram construction instead
    (:func:`_histogram_cutoffs`, shared with ``score_quantiles``):
    per-language ``n_bins`` fixed-width bins over the score range, a
    cumulative sum over the ≤ ``n_bins`` histogram rows per language
    (never over documents), and two bin-edge thresholds broadcast back
    onto the per-document bins. Cutoffs are
    bin-granular — the same granularity CCNet accepts by computing its
    cutoffs on a sample — and every step is deterministic, so the whole
    construction has a bit-exact DuckDB twin.

    Threshold rule (deterministic): with per-language doc count ``n``,
    ``tail_edge`` is the smallest bin whose cumulative count reaches
    ``ceil(n * tail_frac)`` and ``head_edge`` the smallest reaching
    ``ceil(n * (1 - head_frac))``; a document is ``head`` above
    ``head_edge``, ``tail`` at-or-below ``tail_edge`` (only when the
    two edges are distinct — a collapsed distribution yields all
    ``middle``), else ``middle``.

    The scored table feeds several branches (stats, histogram, output);
    the self-contained form re-derives it per branch and leans on AQE
    exchange reuse. A production pipeline passes ``scored=`` a
    MATERIALIZED (doc_id, lang, n_tokens, mean_logprob) table — the LM
    scoring pass then runs exactly once and every downstream branch is
    an aggregation or broadcast join over it (the same
    contract-vs-materialized split as ``navigation.search_relational``
    vs ``navigation.search_over_sections`` over a stored section table).
    """
    if scored is None:
        scored = unigram_logprob(df, id_col, text_col).join(
            df.select(
                F.col(id_col).alias("doc_id"), F.col(lang_col).alias("lang")
            ),
            "doc_id",
        )
    binned, edges = _histogram_cutoffs(
        scored,
        "lang",
        "mean_logprob",
        n_bins,
        (("tail_edge", tail_frac), ("head_edge", 1.0 - float(head_frac))),
    )
    out = binned.join(
        F.broadcast(edges.select("lang", "tail_edge", "head_edge")), "lang"
    )
    bucket = (
        F.when(F.col("bin") > F.col("head_edge"), F.lit("head"))
        .when(
            (F.col("bin") <= F.col("tail_edge"))
            & (F.col("tail_edge") < F.col("head_edge")),
            F.lit("tail"),
        )
        .otherwise(F.lit("middle"))
    )
    return out.select(
        "doc_id",
        "lang",
        "n_tokens",
        "mean_logprob",
        F.col("bin"),
        bucket.alias("bucket"),
    )


def dsir_weights(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    target_col: str = "is_target",
    n_buckets: int = 4096,
    smoothing: float = 1.0,
) -> DataFrame:
    """Data Selection with Importance Resampling (Xie et al. 2023 —
    public knowledge): score every document by how much more likely its
    hashed-bigram profile is under a *target* distribution (the rows
    where ``target_col`` is true — e.g. a trusted high-quality slice)
    than under the raw-corpus distribution. Pipelines resample the raw
    pool proportionally to these weights to shift its distribution
    toward the target.

    Features are whitespace bigrams hashed into ``n_buckets`` buckets
    with the engine's portable 28-bit md5 prefix (no engine-specific
    hash, so the DuckDB oracle reproduces every bucket id bit-exactly).
    Per-bucket log-ratios use Laplace ``smoothing``. A document's
    ``dsir_logweight`` is the sum of its bigram occurrences'
    log-ratios — the log importance weight of the bag-of-hashed-ngrams
    model.

    Scale shape: two bucket-sized aggregations (map-side partial
    combine), a bucket-keyed weight table of ``n_buckets`` rows that
    re-joins as a BROADCAST, one per-doc aggregation.
    No shuffle carries text. Documents with fewer than two tokens have
    no bigram profile and are omitted (same contract as
    ``unigram_logprob``).
    """
    # deliberately NOT spread (guide §1.2): one md5 per bigram is cheap
    # map work — measured 1.60 s without vs 2.20 s with the extra
    # exchange at sf0.1/local[32]
    t = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(target_col).cast("boolean").alias("is_target"),
        text_analysis.nonempty_tokens(text_col).alias("toks"),
    )
    b = t.select(
        "doc_id",
        "is_target",
        F.explode(text_analysis.bigrams("toks")).alias("gram"),
    ).select(
        "doc_id",
        "is_target",
        (_md5_long28(F.col("gram")) % F.lit(n_buckets)).alias("bucket"),
    )
    # raw and target counts in ONE pass over the bucket table (a
    # conditional sum, not a second aggregation + anti-join): the
    # expensive exploded table is scanned once for both distributions
    counts = b.groupBy("bucket").agg(
        F.count("*").cast("long").alias("r_cnt"),
        F.sum(F.when(F.col("is_target"), 1).otherwise(0))
        .cast("long")
        .alias("t_cnt"),
    )
    totals = counts.agg(
        F.sum("r_cnt").alias("r_tot"), F.sum("t_cnt").alias("t_tot")
    )
    sm = F.lit(float(smoothing))
    smb = F.lit(float(smoothing) * n_buckets)
    weights = counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log((F.col("t_cnt") + sm) / (F.col("t_tot") + smb))
            - F.log((F.col("r_cnt") + sm) / (F.col("r_tot") + smb))
        ).alias("lw"),
    )
    return (
        b.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.round(F.sum("lw"), 6).alias("dsir_logweight"),
        )
    )


def epoch_order(
    df: DataFrame,
    id_col: str = "doc_id",
    epoch: int = 0,
    n_shards: int = 64,
    seed: str = "epoch",
) -> DataFrame:
    """Deterministic per-epoch training order — the global-shuffle a
    training run needs without a global sort. Every document gets an
    integer sort key ``md5(seed|epoch|id)`` (a fresh pseudo-random
    permutation each epoch, identical across runs and machines), a
    shard ``key % n_shards``, and its position within the shard
    (``row_number`` ordered by key). The consumer reads shards in
    order (or round-robins them): within-shard order is random and
    shard assignment is random, which is exactly the sharded-shuffle
    contract large training jobs use (a true global permutation would
    serialize on one sorting task).

    Scale shape: one projection plus a window PARTITIONED by shard —
    each shard sorts ~n/``n_shards`` rows and ``n_shards`` scales with
    the cluster. Pure integer md5 arithmetic: the DuckDB oracle is
    bit-exact.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1 (got {n_shards})")
    key = _md5_long28(
        F.concat_ws(
            "|", F.lit(seed), F.lit(str(int(epoch))), F.col(id_col).cast("string")
        )
    )
    w = Window.partitionBy("shard").orderBy("sort_key", "doc_id")
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.lit(int(epoch)).cast("long").alias("epoch"),
            key.alias("sort_key"),
        )
        .withColumn("shard", (F.col("sort_key") % F.lit(int(n_shards))).cast("long"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "epoch", "shard", "pos", "sort_key")
    )


def score_quantiles(
    df: DataFrame,
    value_col: str,
    quantiles: tuple = (0.25, 0.5, 0.75),
    group_col: str | None = None,
    n_bins: int = 1000,
) -> DataFrame:
    """Distributed quantile sketch over any numeric column, optionally
    per group — the corpus-statistics primitive behind threshold
    picking (quality cutoffs, length caps, packing budgets). Exact
    quantiles need a total order; this is the histogram sketch
    (:func:`_histogram_cutoffs`, shared with ``quality_bins``):
    per-group fixed-width bins
    over the value range, a cumulative walk over the ≤ ``n_bins``
    histogram rows, and the quantile reported as its bin's LOWER edge —
    deterministic, error bounded by (max-min)/``n_bins``, and unlike
    ``percentile_approx`` reproducible bit-for-bit in the DuckDB twin.

    Scale shape: one tiny per-group min/max/count aggregation broadcast
    back, one map-side-combined histogram aggregation over the rows, a
    window over histogram rows only, never over documents. Returns one
    row per (group, quantile): (grp, q, approx_value, n).
    """
    qs = sorted(float(q) for q in quantiles)
    if not qs or qs[0] <= 0 or qs[-1] >= 1:
        raise ValueError("quantiles must lie strictly inside (0, 1)")
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1 (got {n_bins})")
    g = (F.col(group_col) if group_col else F.lit("all")).cast("string")
    t = df.select(
        g.alias("grp"), F.col(value_col).cast("double").alias("v")
    ).where(F.col("v").isNotNull())
    _, edges = _histogram_cutoffs(
        t, "grp", "v", n_bins, [(f"qb_{i}", q) for i, q in enumerate(qs)]
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(float(n_bins))
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(q).alias("q"), F.col(f"qb_{i}").alias("qbin")
                )
                for i, q in enumerate(qs)
            ]
        )
    ).alias("p")
    return edges.select("grp", "lo", "hi", "n", pairs).select(
        "grp",
        F.col("p.q").alias("q"),
        F.round(F.col("lo") + F.col("p.qbin") * width, 6).alias(
            "approx_value"
        ),
        "n",
    )


def corpus_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    source_col: str = "source",
) -> DataFrame:
    """One-row corpus health summary — the dashboard numbers a corpus
    owner checks after every build: document/language/source counts,
    token and character volume, and the exact-duplicate rate (docs
    sharing a normalized-text fingerprint with at least one other doc).

    Two aggregations: a global rollup (map-side combined) and a
    fingerprint groupBy for the dup count, joined as broadcast scalars.
    Nothing here holds more than a handful of rows after the combines.
    """
    norm = F.regexp_replace(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+", " ")
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(lang_col).alias("lang"),
        F.col(source_col).alias("source"),
        F.size(text_analysis.nonempty_tokens(text_col)).cast("long").alias("nw"),
        F.length(F.coalesce(F.col(text_col), F.lit(""))).cast("long").alias("nc"),
        F.md5(norm).alias("fp"),
    )
    summary = base.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.sum("nw").cast("long").alias("total_words"),
        F.sum("nc").cast("long").alias("total_chars"),
        # exact-integer sum / count, divided once — not a streaming
        # double mean, whose accumulation order differs across engines
        F.round(F.sum("nw") / F.count("*"), 6).alias("mean_words"),
    )
    dups = (
        base.groupBy("fp")
        .agg(F.count("*").cast("long").alias("c"))
        .where(F.col("c") > 1)
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("exact_dup_docs"))
    )
    out = summary.crossJoin(F.broadcast(dups))
    return out.select(
        "*",
        F.round(F.col("exact_dup_docs") / F.col("n_docs"), 6).alias(
            "exact_dup_frac"
        ),
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    meta_cols: tuple = (),
) -> DataFrame:
    """Snapshot diff between two corpus versions — the incremental-
    rebuild primitive: which documents were added, removed, or changed
    (by normalized-text fingerprint) since the last build. Downstream
    stages (re-extraction, incremental LSH probing via
    ``dedup.incremental_candidate_pairs``) run on exactly this delta
    instead of the full corpus.

    One fingerprint projection per side and a single full-outer
    sort-merge join on the id — the join key is the natural layout key
    of a corpus table, so with both snapshots bucketed by id (``sources/
    bucketed.py``) the exchange disappears entirely. Unchanged
    documents are filtered out (the common case at web scale — keep
    the output delta-sized).

    ``meta_cols`` folds additional columns into the fingerprint so a
    document whose text is unchanged but whose metadata (source, lang)
    was relabeled still reads as 'changed' — callers that cache
    per-document derived state keyed by those columns (e.g.
    ``corpus.update_corpus``'s patched extract stage, which feeds
    source caps and lang-stratified sampling) MUST pass the columns
    they cache, or the patch silently carries stale labels.
    """

    def norm(c):
        base = F.regexp_replace(
            F.lower(F.coalesce(F.col(c), F.lit(""))), r"\s+", " "
        )
        if meta_cols:
            # \x1f separator: unambiguous concat (can't alias a
            # text/meta boundary shift), NULL metadata -> ''
            base = F.concat_ws(
                "\x1f",
                base,
                *[
                    F.coalesce(F.col(m).cast("string"), F.lit(""))
                    for m in meta_cols
                ],
            )
        return F.md5(base)

    o = old.select(F.col(id_col).alias("doc_id"), norm(text_col).alias("fp_old"))
    n = new.select(F.col(id_col).alias("doc_id"), norm(text_col).alias("fp_new"))
    j = o.join(n, "doc_id", "full_outer")
    status = (
        F.when(F.col("fp_old").isNull(), F.lit("added"))
        .when(F.col("fp_new").isNull(), F.lit("removed"))
        .when(F.col("fp_old") != F.col("fp_new"), F.lit("changed"))
    )
    return j.select("doc_id", status.alias("status")).where(
        F.col("status").isNotNull()
    )


def materialize_batches(
    df: DataFrame,
    budget: int = 512,
    n_shards: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    separator: str = "\n\n",
) -> DataFrame:
    """Turn ``pack_batches``'s assignment into the actual training
    artifact: one row per (shard, batch) with the member documents'
    texts concatenated in id order (separator between documents — the
    EOS-boundary stand-in), the member id list, and the token total.
    This is the sequence-construction step a pre-training data loader
    consumes directly.

    Scale shape: ONE scan — the text rides through the packing window
    as a carried column (``pack_batches(carry=...)``), so there is no
    second corpus scan and no doc_id re-join; then one groupBy
    (shard, batch) with map-side combine. In-group order is enforced by
    sorting the collected (doc_id, text) structs INSIDE the row
    (``array_sort`` — deterministic, not a global ORDER BY), so the
    output is identical regardless of partitioning. A batch's text is
    bounded by ``budget`` plus its LARGEST member document (batch
    membership is by exclusive-prefix start offset): cap oversized
    documents upstream (``fineweb_filters`` max_words) if a hard row
    bound is required.
    """
    j = pack_batches(
        df,
        budget=budget,
        n_shards=n_shards,
        id_col=id_col,
        text_col=text_col,
        carry=(
            F.coalesce(F.col(text_col), F.lit("")).alias("text"),
        ),
    )
    members = F.array_sort(
        F.collect_list(F.struct(F.col("doc_id"), F.col("text")))
    )
    return (
        j.groupBy("shard", "batch_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            members.alias("_m"),
        )
        .select(
            "shard",
            "batch_id",
            "n_docs",
            "n_tokens",
            F.transform(F.col("_m"), lambda m: m["doc_id"]).alias("doc_ids"),
            F.array_join(
                F.transform(F.col("_m"), lambda m: m["text"]), separator
            ).alias("text"),
        )
    )


def top_vocabulary(
    df: DataFrame,
    k: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 32,
) -> DataFrame:
    """Top-``k`` corpus vocabulary by occurrence count with cumulative
    coverage — the tokenizer-sizing table ("how large must the vocab be
    to cover 95% of tokens"). Returns (token, cnt, rank,
    cum_coverage) with coverage = cumulative count / ALL token
    occurrences (not just the top-k's).

    Scale shape: token counts aggregate with map-side combine; the
    global top-k is :func:`partitioning.sharded_top_k` on an md5 shard
    of the token (a web-scale vocabulary never funnels one task); the
    coverage window runs over the k surviving rows only, with the
    corpus total joined as a broadcast scalar.
    """
    toks = df.select(
        F.explode(text_analysis.nonempty_tokens(text_col)).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count("*").cast("long").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    order = (F.desc("cnt"), F.asc("token"))
    # running coverage over the k survivors, on the re-rank's own window
    # spec so it reuses that sort
    wcum = (
        Window.partitionBy(F.lit(0))
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        sharded_top_k(counts, order, k, n_shards, F.col("token"))
        .withColumn("_cum", F.sum("cnt").over(wcum))
        .crossJoin(F.broadcast(total))
        .select(
            "token",
            "cnt",
            "rank",
            F.round(F.col("_cum") / F.col("total"), 6).alias("cum_coverage"),
        )
    )


def pack_stats(
    df: DataFrame,
    budget: int = 512,
    n_shards: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Packing-efficiency report for a ``pack_batches`` configuration —
    the padding-waste number a training team checks before committing a
    sequence length: ONE row with batch count, mean fill rate
    (tokens / budget per batch), and the fraction of batches exceeding
    the budget (each contains one document straddling the boundary).

    One aggregation over the packing assignment (map-side combined);
    ratios computed from exact integer sums.
    """
    a = pack_batches(
        df, budget=budget, n_shards=n_shards, id_col=id_col, text_col=text_col
    )
    per_batch = a.groupBy("shard", "batch_id").agg(
        F.sum("n_tokens").cast("long").alias("batch_tokens")
    )
    return per_batch.agg(
        F.count("*").cast("long").alias("n_batches"),
        F.sum("batch_tokens").cast("long").alias("total_tokens"),
        F.round(
            F.sum("batch_tokens") / (F.count("*") * F.lit(int(budget))), 6
        ).alias("mean_fill"),
        F.round(
            F.sum(
                F.when(F.col("batch_tokens") > F.lit(int(budget)), 1).otherwise(0)
            )
            / F.count("*"),
            6,
        ).alias("frac_over_budget"),
    )


def source_mix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source mixture report — the monitoring table behind domain
    balancing decisions: each source's document and token counts, its
    share of corpus tokens, and (same on every row, for a one-table
    read) the Shannon entropy of the token mix in nats — a collapsing
    mix shows up as entropy falling toward 0, a uniform one approaches
    ln(n_sources).

    One groupBy(source) with map-side combine; totals and the entropy
    (a sum over the source-count table, tiny) join back as broadcast
    scalars. Shares are exact ratios of integer sums; the entropy terms
    are quantized to integer NANO-units before summing, so the
    cross-row sum is an exact integer — independent of partition
    accumulation order on either engine — then scaled back and rounded
    6 dp (the same quant trick the micro-unit-summed operators use).
    """
    per = (
        df.select(
            F.col(source_col).alias("source"),
            F.size(text_analysis.nonempty_tokens(text_col))
            .cast("long")
            .alias("nw"),
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("nw").cast("long").alias("n_tokens"),
        )
    )
    tot = per.agg(F.sum("n_tokens").alias("total_tokens"))
    shared = per.crossJoin(F.broadcast(tot)).withColumn(
        "token_share", F.col("n_tokens") / F.col("total_tokens")
    )
    ent = shared.agg(
        F.round(
            -F.sum(
                F.when(
                    F.col("token_share") > 0,
                    F.round(
                        F.col("token_share") * F.log("token_share")
                        * F.lit(1e9)
                    ).cast("long"),
                ).otherwise(F.lit(0).cast("long"))
            )
            / F.lit(1e9),
            6,
        ).alias("mix_entropy")
    )
    return (
        shared.crossJoin(F.broadcast(ent))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("token_share"), 6).alias("token_share"),
            "mix_entropy",
        )
    )


def zipf_fit(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 100,
) -> DataFrame:
    """Zipf's-law fit report: least-squares slope of ln(count) on
    ln(rank) over the top-``top_n`` vocabulary — the one-row corpus
    health check (natural text reads slope ~ -1; generated/boilerplate
    corpora drift off it; Piantadosi 2014, public knowledge). Returns
    (n_types, n_tokens, top_n_used, slope, intercept, r2).

    Determinism: ln(rank) and ln(count) are rounded to fixed integer
    units per row (1e-6 for ln-rank, 1e-5 for ln-count — asymmetric so
    every moment product fits int64 even at 100 TB token counts with
    top_n up to ~1000) and summed as exact BIGINTs, so the closed-form
    slope/intercept/r2 are the same double expression over identical
    integer operands in Spark and the DuckDB twin (the
    accumulation-order fix adjudicated for source_mix's entropy). The
    unit scales cancel inside the ratios up to the constant
    AX/AY = 10, re-applied explicitly. Scale shape: one token-count
    aggregate with map-side combine; the top-n rank reuses
    top_vocabulary's skew-safe two-phase shards; the regression is a
    1-row aggregate over top_n rows."""
    if not 2 <= top_n <= 1000:
        raise ValueError(f"top_n must be in [2, 1000] (got {top_n})")
    tv = top_vocabulary(df, k=top_n, id_col=id_col, text_col=text_col)
    toks = df.select(
        F.explode(text_analysis.nonempty_tokens(text_col)).alias("token")
    )
    totals = toks.groupBy("token").agg(F.count("*").alias("c")).agg(
        F.count("*").cast("long").alias("n_types"),
        F.sum("c").cast("long").alias("n_tokens"),
    )
    xi = F.round(F.log(F.col("rank").cast("double")) * 1e6).cast("long")
    yi = F.round(F.log(F.col("cnt").cast("double")) * 1e5).cast("long")
    m = tv.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(xi).alias("sx"),
        F.sum(yi).alias("sy"),
        F.sum(xi * yi).alias("sxy"),
        F.sum(xi * xi).alias("sxx"),
        F.sum(yi * yi).alias("syy"),
    )
    # exact-integer normal equations; the asymmetric unit scales cancel
    # in the ratios up to AX/AY = 10 (slope) and (AX/AY)^2 (r2's
    # numerator/denominator — which cancels exactly)
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    deny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    slope = F.when(den != 0, num / den * F.lit(10.0)).otherwise(F.lit(0.0))
    intercept = (
        F.col("sy").cast("double") / F.lit(1e5)
        - slope * F.col("sx").cast("double") / F.lit(1e6)
    ) / F.col("n").cast("double")
    r2 = F.when(
        (den != 0) & (deny != 0), num * num / (den * deny)
    ).otherwise(F.lit(0.0))
    return (
        m.crossJoin(F.broadcast(totals))
        .select(
            "n_types",
            "n_tokens",
            F.col("n").cast("long").alias("top_n_used"),
            F.round(slope, 6).alias("slope"),
            F.round(intercept, 6).alias("intercept"),
            F.round(r2, 6).alias("r2"),
        )
    )


def boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    min_frac: float = 0.5,
    min_docs: int = 2,
) -> DataFrame:
    """Per-source frequent-line stripping (RefinedWeb-style; Penedo et
    al. 2023, public knowledge): a non-blank line occurring in at least
    ``min_docs`` documents AND at least ``min_frac`` of its SOURCE's
    documents is template boilerplate (nav bars, footers, cookie
    banners that repeat across one crawl domain but not globally) and
    is dropped; blank lines are structure, never flagged. The
    per-source relative threshold is what distinguishes this from
    paragraph_stats' global occurrence cap: a line legitimate in one
    source can be template noise in another. Returns (doc_id, n_lines,
    n_boiler, boiler_frac, clean_text).

    Scale shape: lines shuffle by (source, md5(line)) — never the raw
    line as a shuffle key; the doc-distinct occurrence count has
    map-side partial aggregation; per-source doc totals are a
    broadcast (sources are few); the count table is corpus-sized so
    the line re-join is a plain shuffle join; the segment explode and
    the per-doc reassembly are the ones paragraph_stats uses
    (:func:`_segments`, :func:`_strip_segments`)."""
    if not 0.0 < min_frac <= 1.0:
        raise ValueError(f"min_frac must be in (0, 1] (got {min_frac})")
    lines = _segments(
        df, id_col, text_col, "\n", F.col(source_col).alias("source")
    )
    src_docs = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count("*").cast("long").alias("n_src_docs")
    )
    counts = (
        lines.where(F.trim("seg") != "")
        .select("source", "shash", "doc_id")
        .distinct()
        .groupBy("source", "shash")
        .agg(F.count("*").cast("long").alias("n_docs_with"))
        .join(F.broadcast(src_docs), "source")
        .where(
            (F.col("n_docs_with") >= min_docs)
            & (
                F.col("n_docs_with")
                >= F.lit(float(min_frac)) * F.col("n_src_docs")
            )
        )
        .select("source", "shash", F.lit(True).alias("is_boiler"))
    )
    j = lines.join(counts, ["source", "shash"], "left")
    return _strip_segments(
        j, F.coalesce(F.col("is_boiler"), F.lit(False)), "n_lines", "\n"
    )


def budget_select(
    df: DataFrame,
    budget_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token-budget corpus selection: take documents in quality order
    (quality desc, doc_id asc) while the running token total stays
    within ``budget_tokens`` — the "best N-billion-token subset" cut
    every scaled-down training run makes. Returns the selected rows as
    (doc_id, quality, n_tokens, cum_tokens), cum_tokens inclusive.

    Scale shape: NO global sort/window over the corpus. quality is
    4-dp-rounded (quality_score), so its 10^4-grained integer key has
    bounded cardinality: per-key token totals aggregate with map-side
    combine, the cumulative-over-keys window runs on <= ~10k key rows
    (bounded by construction), and only per-key running sums touch
    per-document rows — partitioned by the key, distributed. The
    DuckDB twin computes the same cut with the naive global window;
    equality holds because the order (qkey desc, doc_id asc) is
    total."""
    if budget_tokens < 0:
        raise ValueError(f"budget_tokens must be >= 0 (got {budget_tokens})")
    q = text_analysis.quality_score(df, id_col=id_col, text_col=text_col)
    per = q.select("doc_id", "quality").join(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.size(text_analysis.nonempty_tokens(text_col))
            .cast("long")
            .alias("n_tokens"),
        ),
        "doc_id",
    ).withColumn("qkey", F.round(F.col("quality") * 10000).cast("long"))
    key_tot = per.groupBy("qkey").agg(
        F.sum("n_tokens").cast("long").alias("key_tokens")
    )
    # bounded window: <= 10^4 distinct 4-dp quality keys by construction
    wk = Window.partitionBy(F.lit(0)).orderBy(F.desc("qkey")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow - 1
    )
    offsets = key_tot.withColumn(
        "offset", F.coalesce(F.sum("key_tokens").over(wk), F.lit(0))
    )
    wd = Window.partitionBy("qkey").orderBy(F.asc("doc_id")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per.join(F.broadcast(offsets.select("qkey", "offset")), "qkey")
        .withColumn(
            "cum_tokens",
            (F.col("offset") + F.sum("n_tokens").over(wd)).cast("long"),
        )
        .where(F.col("cum_tokens") <= budget_tokens)
        .select("doc_id", "quality", "n_tokens", "cum_tokens")
    )


def token_drift(
    df: DataFrame,
    side_expr,
    text_col: str = "text",
    top_k: int = 50,
    n_shards: int = 32,
) -> DataFrame:
    """Unigram distribution drift between two corpus sides — the
    monitoring table a pipeline reads after ``update_corpus`` or a
    source swap ("which tokens moved, and by how much"). ``side_expr``
    is a boolean Column splitting the corpus (side A where true); the
    output is the top-``top_k`` tokens by absolute share delta:
    (token, count_a, count_b, share_a, share_b, delta, rank), shares
    rounded 6 dp, ``delta = share_a - share_b`` computed on the
    unrounded ratios then rounded.

    Cross-engine exactness: counts and totals are exact integers, the
    shares/delta are single double divisions on identical operands. A
    NULL ``side_expr`` row counts in NEITHER side (both engines' CASE
    semantics).

    Scale shape: one map-side-combined count aggregation; totals join
    as a 1-row broadcast; the global top-k is
    :func:`partitioning.sharded_top_k` on an md5 shard of the token.
    """
    toks = df.select(
        side_expr.cast("boolean").alias("side_a"),
        F.explode(text_analysis.nonempty_tokens(text_col)).alias("token"),
    )
    counts = toks.groupBy("token").agg(
        F.sum(F.when(F.col("side_a"), 1).otherwise(0))
        .cast("long")
        .alias("count_a"),
        F.sum(F.when(~F.col("side_a"), 1).otherwise(0))
        .cast("long")
        .alias("count_b"),
    )
    tot = counts.agg(
        F.sum("count_a").cast("long").alias("ta"),
        F.sum("count_b").cast("long").alias("tb"),
    )
    share_a = F.when(
        F.col("ta") > 0, F.col("count_a") / F.col("ta")
    ).otherwise(F.lit(0.0))
    share_b = F.when(
        F.col("tb") > 0, F.col("count_b") / F.col("tb")
    ).otherwise(F.lit(0.0))
    d = counts.crossJoin(F.broadcast(tot)).select(
        "token",
        "count_a",
        "count_b",
        F.round(share_a, 6).alias("share_a"),
        F.round(share_b, 6).alias("share_b"),
        F.round(share_a - share_b, 6).alias("delta"),
    )
    order = (F.desc(F.abs(F.col("delta"))), F.asc("token"))
    return sharded_top_k(d, order, top_k, n_shards, F.col("token"))
