"""Text-analysis operators for large-scale training-data pipelines:
token counting, quality scoring, language-ID heuristic, fingerprinting.

All purely relational (built-in ``pyspark.sql.functions`` only — zero
Python in the hot path, whole-stage-codegen friendly) and expressed so a
DuckDB oracle can compute identical results (portable string ops, md5,
no engine-specific hashes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .partitioning import sharded_top_k

STOPWORDS = ("the", "and", "of", "to", "a", "in", "is", "it", "for", "on")

# tiny deterministic marker lexicons for the language-ID heuristic
# (n-gram/stopword scoring — the public-knowledge approach; real corpora
# would use larger tables, the plan shape is identical)
LANG_MARKERS = {
    "en": ("the", "and", "of", "is"),
    "es": ("el", "la", "de", "que"),
    "fr": ("le", "la", "et", "les"),
    "de": ("der", "die", "und", "das"),
    "zh": ("de", "shi", "le", "bu"),
}


def _tokens(text_col: str):
    # NULL text tokenizes as empty, not as NULL: split(NULL) would
    # propagate to size() = -1 (legacy sizeOfNull) and poison every
    # downstream count (repetition n_words, pack_batches running sums)
    # where the DuckDB twins treat the row as an empty document
    return F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), " ")


def nonempty_tokens(text_col: str):
    """Whitespace tokens with empty strings (from runs of spaces)
    dropped — the token stream repetition_stats and curation's batch
    packer count over. One definition so the two can't diverge."""
    return F.filter(_tokens(text_col), lambda w: w != F.lit(""))


# BPE-style pre-tokenizer (GPT-2-shaped, ASCII-simplified so the RE2 /
# Java regex engines agree): a piece is an optional-leading-space run of
# letters, digits, or other non-space symbols, or a whitespace run
BPE_PIECE_RE = r" ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+|\s+"


def token_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Whitespace token count, the reference's ``len//4`` token estimate
    (mcp server.py:86-87), a BPE-ish pre-tokenizer piece count (the
    budgeting signal a training pipeline actually wants), and chars."""
    toks = _tokens(text_col)
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).cast("long").alias("n_tokens_ws"),
        F.floor(F.length(text_col) / 4).cast("long").alias("n_tokens_est"),
        F.size(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(BPE_PIECE_RE), 0)
        ).cast("long").alias("n_tokens_bpe"),
        F.length(text_col).cast("long").alias("n_chars"),
    )


def quality_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep: tuple = (),
) -> DataFrame:
    """Heuristic quality features: token count, mean word length,
    stopword ratio, punctuation ratio, and a composite keep-score.
    ``keep`` passes extra columns through unchanged (it's a pure
    projection — cheaper than re-joining quality back on the id)."""
    toks = _tokens(text_col)
    n_toks = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda w: w.isin(*STOPWORDS)))
    n_punct = F.length(F.regexp_replace(F.col(text_col), "[^.,;:!?]", ""))
    n_chars = F.length(text_col)
    mean_word_len = (n_chars - (n_toks - 1)) / n_toks
    stop_ratio = stop_hits / n_toks
    # empty/NULL text has n_chars 0/NULL: guard the ratio (ANSI mode
    # throws DIVIDE_BY_ZERO, non-ANSI silently NULLs — both wrong here)
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    return df.select(
        F.col(id_col).alias("doc_id"),
        *[F.col(c) for c in keep],
        n_toks.cast("long").alias("n_tokens"),
        F.round(mean_word_len, 4).alias("mean_word_len"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(
            F.when(n_toks < 5, 0.0).otherwise(
                F.least(F.lit(1.0), stop_ratio * 2 + F.lit(0.5))
                - F.when(punct_ratio > 0.2, 0.5).otherwise(0.0)
            ),
            4,
        ).alias("quality"),
    )


def lang_id(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep: tuple = (),
) -> DataFrame:
    """Marker-word language scoring: argmax over per-language stopword
    hit counts; ties and zero scores resolve to 'und'. Deterministic
    tie-break by language code order. ``keep`` passes extra columns
    through unchanged (pure projection — cheaper than re-joining the
    guess back on the id, same contract as ``quality_score``)."""
    toks = _tokens(text_col)
    scores = [
        F.size(F.filter(toks, lambda w: w.isin(*markers))).alias(f"score_{lang}")
        for lang, markers in LANG_MARKERS.items()
    ]
    scored = df.select(
        F.col(id_col).alias("doc_id"), *[F.col(c) for c in keep], *scores
    )
    langs = list(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    guess = F.lit("und")
    # reverse order so earlier languages win ties
    for lang in reversed(langs):
        guess = F.when(
            (F.col(f"score_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(guess)
    return scored.select(
        "doc_id",
        *[F.col(c) for c in keep],
        guess.alias("lang_guess"),
        best.cast("long").alias("best_score"),
    )


def fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 over case-/whitespace-normalized text —
    the exact-dup key; plus a coarse 64-char prefix fingerprint for
    prefix-dup detection."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.md5(norm).alias("fp_full"),
        F.md5(F.substring(norm, 1, 64)).alias("fp_prefix64"),
    )


# PII patterns, written to behave identically under Java's regex engine
# (Spark) and RE2 (DuckDB): no alternation (the engines differ on
# leftmost-first vs leftmost-longest), character classes and bounded
# quantifiers only
PII_EMAIL_RE = r"[a-zA-Z0-9._%+\-]+@[a-zA-Z0-9.\-]+\.[a-zA-Z]{2,}"
PII_IP_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_PHONE_RE = r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b"


def _pii_stages(text_col: str):
    """(clean_text, n_emails, n_ips, n_phones) Columns for the ordered
    redaction chain — shared by ``pii_scrub`` and the in-place
    ``pii_scrub_text_expr``."""
    t0 = F.coalesce(F.col(text_col), F.lit(""))
    n_em = F.size(F.regexp_extract_all(t0, F.lit(PII_EMAIL_RE), 0))
    t1 = F.regexp_replace(t0, PII_EMAIL_RE, "<EMAIL>")
    n_ip = F.size(F.regexp_extract_all(t1, F.lit(PII_IP_RE), 0))
    t2 = F.regexp_replace(t1, PII_IP_RE, "<IP>")
    n_ph = F.size(F.regexp_extract_all(t2, F.lit(PII_PHONE_RE), 0))
    t3 = F.regexp_replace(t2, PII_PHONE_RE, "<PHONE>")
    return t3, n_em, n_ip, n_ph


def pii_scrub_text_expr(text_col: str = "text"):
    """The redacted text as a single Column expression — for swapping
    the text column in place (``withColumn``) inside a larger plan,
    e.g. the streaming clean stage, where a doc_id join back to the
    ``pii_scrub`` projection would be a stream-stream join."""
    return _pii_stages(text_col)[0]


def pii_scrub(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Pre-training PII hygiene pass: redact emails, IPv4 addresses, and
    phone numbers with typed placeholder tokens (``<EMAIL>``/``<IP>``/
    ``<PHONE>``) and report per-document redaction counts — the standard
    scrub corpora run before a corpus ships to training (public
    practice; e.g. the C4/ROOTS cleanups).

    The chain applies IN ORDER (emails first, so a dotted-letter host
    containing digit runs is consumed whole rather than split by the
    later numeric stages), each count taken on the text the stage
    actually sees. Pure vectorized
    ``regexp_replace``/``regexp_extract_all`` projection: zero Python,
    zero shuffles, composes into any scan stage at 100 TB. The regexes
    avoid alternation so Java regex and RE2 (the DuckDB oracle) agree
    exactly. Returns (doc_id, clean_text, n_emails, n_ips, n_phones,
    n_redactions).
    """
    t3, n_em, n_ip, n_ph = _pii_stages(text_col)
    return df.select(
        F.col(id_col).alias("doc_id"),
        t3.alias("clean_text"),
        n_em.cast("long").alias("n_emails"),
        n_ip.cast("long").alias("n_ips"),
        n_ph.cast("long").alias("n_phones"),
        (n_em + n_ip + n_ph).cast("long").alias("n_redactions"),
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 5,
    window: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken's MOSS
    scheme, public knowledge): hash every character k-gram of the
    normalized text, slide a window of ``window`` consecutive hashes,
    keep each window's minimum — guaranteeing a shared fingerprint for
    any match of length >= k + window - 1, with density 2/(window+1).

    Returns distinct (doc_id, fp) rows. Hashes are md5-hex so the min
    (lexicographic) is engine-portable and the whole operator stays in
    codegen: one per-doc window pass + a distinct — no UDF. Documents
    shorter than k + window - 1 chars yield no fingerprints."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    n_grams = F.length("norm") - F.lit(k) + 1
    grams = df.select(F.col(id_col).alias("doc_id"), norm.alias("norm")).select(
        "doc_id",
        n_grams.alias("n_grams"),
        F.explode(
            F.when(n_grams >= 1, F.sequence(F.lit(1), n_grams)).otherwise(
                F.array().cast("array<int>")
            )
        ).alias("pos"),
        F.col("norm"),
    ).select(
        "doc_id",
        "n_grams",
        "pos",
        F.md5(F.expr(f"substr(norm, pos, {k})")).alias("h"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    return (
        grams.withColumn("fp", F.min("h").over(w))
        .where(F.col("pos") <= F.col("n_grams") - window + 1)
        .select("doc_id", "fp")
        .distinct()
    )


def bind(expr, fn):
    """``fn(x)`` with ``x`` bound to ONE evaluation of ``expr`` per row.

    Spark evaluates higher-order-function lambdas interpreted, with no
    common-subexpression elimination, so an expression captured inside
    a lambda body is recomputed for every element (a captured
    ``split(text)`` re-splits the whole text once per gram). Passed
    through a one-element ``transform``, ``expr`` becomes a lambda
    variable instead."""
    return F.element_at(F.transform(F.array(expr), fn), 1)


def word_ngrams(toks_col, n: int):
    """Space-joined word n-gram array from a token-array column or
    expression (empty when the document has fewer than ``n`` tokens),
    the ONE gram builder behind the shingles, the Gopher repetition
    signals, DSIR hashing, the filter chain, and phrase search, so the
    engines can't drift per call site. The input is bound once
    (:func:`bind`), so a tokenizing expression is never re-evaluated
    per gram. DuckDB twin: ``list_transform(range(len(toks)-(n-1)),
    i -> toks[i+1] || ' ' || ... || toks[i+n])``."""

    def grams(toks):
        sz = F.size(toks)
        # the empty case is an empty INDEX array, so the gram array keeps
        # non-null elements (an empty array<string> literal would make
        # them nullable, and an inferred isnotnull filter then blocks
        # exchange reuse between two references to the same grams)
        idx = F.when(sz >= n, F.sequence(F.lit(0), sz - n)).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + k + 1) for k in range(n)]
            ),
        )

    return bind(F.col(toks_col) if isinstance(toks_col, str) else toks_col, grams)


def bigrams(toks_col):
    """Whitespace bigrams — ``word_ngrams(toks, 2)``."""
    return word_ngrams(toks_col, 2)


def _mode_count(arr):
    """Occurrence count of the most frequent element of ``arr`` — the
    longest run of equal adjacent values in the sorted array, folded
    with ``F.aggregate`` (ties share the count, so tie-breaking is
    moot). Pure codegen: no explode, no shuffle."""
    return F.aggregate(
        F.array_sort(arr),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda a, x: F.struct(
            x.alias("prev"),
            (F.when(x == a["prev"], a["run"]).otherwise(F.lit(0)) + 1).alias("run"),
            F.greatest(
                a["best"],
                F.when(x == a["prev"], a["run"]).otherwise(F.lit(0)) + 1,
            ).alias("best"),
        ),
        lambda a: a["best"],
    )


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021, table
    A1): per-document duplicated-word fraction, most-frequent-word
    fraction, and the 2-gram analogues. Training pipelines drop
    documents whose text is dominated by a repeated phrase (nav bars,
    keyword stuffing, OCR stutter).

    Everything is computed from the token array with higher-order
    functions (``filter``/``array_distinct``/``aggregate`` fold for the
    mode count) — one projection over the scan, zero shuffles, zero
    Python, so it composes with any corpus-filter pipeline at 100 TB
    without adding an exchange. Fractions are occurrence fractions
    (duplicate occurrences / total occurrences), 0.0 for degenerate
    docs (no words / no 2-grams).
    """
    t = df.select(
        F.col(id_col).alias("doc_id"), nonempty_tokens(text_col).alias("toks")
    )
    g = t.select("doc_id", "toks", bigrams("toks").alias("grams"))
    return g.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_words"),
        *_repetition_fracs("toks", "word"),
        *_repetition_fracs("grams", "2gram"),
    )


def _repetition_fracs(col: str, prefix: str):
    """``(dup_<prefix>_frac, top_<prefix>_frac)`` over the array column
    ``col``: duplicate occurrences / occurrences and most-frequent
    element count / occurrences, rounded to 6 dp, 0.0 on an empty
    array. The one definition repetition_stats reports and
    fineweb_filters thresholds."""
    n = F.size(col)
    dup = (n - F.size(F.array_distinct(col))) / n
    top = _mode_count(F.col(col)) / n
    zero = F.lit(0.0)
    return (
        F.round(F.when(n > 0, dup).otherwise(zero), 6).alias(f"dup_{prefix}_frac"),
        F.round(F.when(n > 0, top).otherwise(zero), 6).alias(f"top_{prefix}_frac"),
    )


def fineweb_filters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 20,
    max_words: int = 100000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    max_dup_2gram_frac: float = 0.2,
    max_top_word_frac: float = 0.3,
) -> DataFrame:
    """The composed heuristic filter chain a FineWeb/C4/Gopher-style
    pipeline runs as its first pass (Penedo et al. 2024, Raffel et al.
    2020, Rae et al. 2021 — all public): word-count bounds, mean word
    length bounds, and the Gopher repetition caps, evaluated together
    so a user gets one keep/drop decision with the failed-rule list.

    One wide projection over the scan — every signal is an array fold
    over the token array (the repetition fractions are
    ``repetition_stats``' own expressions),
    zero shuffles, zero Python, so the chain composes into any corpus
    build without adding an exchange. Decisions compare the ROUNDED
    signal (6 dp) against the threshold so the DuckDB twin reaches
    bit-identical verdicts. ``reasons`` is the sorted comma-joined rule
    list ('' when kept); degenerate docs (no words) fail only the
    word-count rule — ratio rules are vacuous on an empty profile.
    """
    t = df.select(
        F.col(id_col).alias("doc_id"), nonempty_tokens(text_col).alias("toks")
    )
    g = t.select("doc_id", "toks", bigrams("toks").alias("grams"))
    n = F.size("toks")
    mwl = F.round(
        F.when(
            n > 0,
            F.aggregate(
                F.col("toks"), F.lit(0), lambda a, x: a + F.length(x)
            )
            / n,
        ).otherwise(F.lit(0.0)),
        6,
    )
    dup_2gram, _ = _repetition_fracs("grams", "2gram")
    _, top_word = _repetition_fracs("toks", "word")
    sig = g.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        mwl.alias("mean_word_len"),
        dup_2gram,
        top_word,
    )
    checks = [
        (F.col("n_words") < min_words, "too_few_words"),
        (F.col("n_words") > max_words, "too_many_words"),
        (
            (F.col("n_words") > 0)
            & (F.col("mean_word_len") < F.lit(float(min_mean_word_len))),
            "short_words",
        ),
        (
            F.col("mean_word_len") > F.lit(float(max_mean_word_len)),
            "long_words",
        ),
        (
            F.col("dup_2gram_frac") > F.lit(float(max_dup_2gram_frac)),
            "repetitive_2grams",
        ),
        (
            F.col("top_word_frac") > F.lit(float(max_top_word_frac)),
            "dominant_word",
        ),
    ]
    reasons = F.array_join(
        F.array_sort(
            F.filter(
                F.array(
                    *[F.when(cond, F.lit(name)) for cond, name in checks]
                ),
                lambda x: x.isNotNull(),
            )
        ),
        ",",
    )
    return sig.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "dup_2gram_frac",
        "top_word_frac",
        reasons.alias("reasons"),
        (reasons == F.lit("")).alias("keep"),
    )


def ngram_counts(
    df: DataFrame,
    n: int = 2,
    min_count: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus n-gram count table — the data product an n-gram language
    model trains from (KenLM-style pipelines; public knowledge): per
    gram its total occurrence count and document frequency. At web
    scale the table IS the model input; ``min_count`` prunes the long
    tail (the standard vocabulary cut) inside the aggregation.

    One shuffle (groupBy gram, map-side combined). Occurrences explode
    from the shared ``word_ngrams`` builder, so the gram definition is
    identical to every other gram consumer in the engine.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1 (got {n})")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1 (got {min_count})")
    g = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_ngrams(nonempty_tokens(text_col), n)).alias("gram"),
    )
    return (
        g.groupBy("gram")
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.countDistinct("doc_id").cast("long").alias("doc_freq"),
        )
        .where(F.col("cnt") >= min_count)
    )


def hashed_tf(
    df: DataFrame,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalize: bool = True,
) -> DataFrame:
    """Feature-hashed term-frequency document vectors (the hashing
    trick, Weinberger et al. 2009 — public knowledge): each token
    hashes to one of ``dim`` buckets with the engine's portable 28-bit
    md5 prefix; the vector is per-bucket counts, L1-normalized by the
    token count when ``normalize`` (values rounded 6 dp).

    This is the text→vector bridge into the ANN stack: the output
    array feeds ``similarity.knn_bruteforce`` / ``knn_lsh`` /
    ``quantize_embeddings`` directly. Pure projection — one md5 per
    token, then ``dim`` integer comparisons per element, zero
    shuffles, zero Python.
    """
    if dim < 1:
        raise ValueError(f"dim must be >= 1 (got {dim})")
    toks = nonempty_tokens(text_col)
    buckets = F.transform(
        toks,
        lambda t: F.conv(F.substring(F.md5(t), 1, 7), 16, 10).cast("long")
        % dim,
    )
    t = df.select(
        F.col(id_col).alias("doc_id"),
        buckets.alias("bk"),
        F.size(toks).cast("long").alias("n_tokens"),
    )
    counts = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.size(F.filter(F.col("bk"), lambda b: b == i.cast("long"))),
    )
    if normalize:
        vec = F.when(
            F.col("n_tokens") > 0,
            F.transform(
                counts,
                lambda c: F.round(c / F.col("n_tokens"), 6),
            ),
        ).otherwise(
            F.transform(counts, lambda c: F.lit(0.0))
        )
    else:
        vec = F.transform(counts, lambda c: c.cast("double"))
    return t.select("doc_id", "n_tokens", vec.alias("tf_vec"))


def bigram_pmi(
    df: DataFrame,
    min_count: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pointwise mutual information for adjacent word pairs (Church &
    Hanks 1990 — public knowledge): ``pmi = ln(c12 * T / (c1 * c2))``
    with ``T`` the total bigram count and c1/c2 the counts of the pair
    occurring as left/right member. High-PMI pairs are the corpus's
    collocations — the standard phrase-mining signal (and the test
    word2vec-style pipelines use to pre-join phrases).

    Three aggregations over the shared gram stream (bigram counts,
    left-unigram counts, right-unigram counts — the margins of the
    same table, derived from ONE ngram_counts pass by splitting the
    gram), margins broadcast back. ``min_count`` prunes rare pairs
    before the log (the classic PMI noise control).
    """
    pairs = ngram_counts(
        df, n=2, min_count=1, id_col=id_col, text_col=text_col
    ).select(
        "gram",
        "cnt",
        F.split(F.col("gram"), " ").getItem(0).alias("w1"),
        F.split(F.col("gram"), " ").getItem(1).alias("w2"),
    )
    total = pairs.agg(F.sum("cnt").alias("total"))
    left = pairs.groupBy("w1").agg(F.sum("cnt").alias("c1"))
    right = pairs.groupBy("w2").agg(F.sum("cnt").alias("c2"))
    return (
        pairs.where(F.col("cnt") >= min_count)
        .join(F.broadcast(left), "w1")
        .join(F.broadcast(right), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "gram",
            F.col("cnt").alias("pair_cnt"),
            "c1",
            "c2",
            # double products, not long*long: a web-scale total
            # overflows int64 (ANSI Spark throws, DuckDB errors) —
            # doubles are exact below 2^53 and merely approximate above
            F.round(
                F.log(
                    (F.col("cnt").cast("double") * F.col("total").cast("double"))
                    / (F.col("c1").cast("double") * F.col("c2").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
    )


def char_entropy(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Shannon entropy of the character distribution per document —
    the classic gibberish/binary-noise detector (low entropy = repeated
    filler, implausibly high = random bytes; public practice in crawl
    cleaning). Returns (doc_id, n_chars, n_distinct_chars, entropy)
    with entropy in nats, rounded 6 dp.

    Pure array computation inside one projection: split to chars,
    distinct alphabet, one fold summing ``-p ln p`` — cost
    O(alphabet * length) per document, zero shuffles, zero Python.
    """
    chars = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), ""),
        lambda c: c != F.lit(""),
    )
    t = df.select(
        F.col(id_col).alias("doc_id"),
        chars.alias("cs"),
        F.array_distinct(chars).alias("alpha"),
    )
    n = F.size("cs")
    ent = F.aggregate(
        F.transform(
            F.col("alpha"),
            lambda a: F.size(F.filter(F.col("cs"), lambda c: c == a)) / n,
        ),
        F.lit(0.0),
        lambda acc, p: acc - p * F.log(p),
    )
    return t.select(
        "doc_id",
        n.cast("long").alias("n_chars"),
        F.size("alpha").cast("long").alias("n_distinct_chars"),
        F.round(F.when(n > 0, ent).otherwise(F.lit(0.0)), 6).alias("entropy"),
    )


def line_filters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 3,
    keep_headings: bool = True,
) -> DataFrame:
    """C4-style line-level cleanup (Raffel et al. 2020 — public
    knowledge): drop lines with fewer than ``min_words`` words and
    within-document exact duplicate lines (nav menus and footers repeat
    inside a page), keeping markdown headings regardless when
    ``keep_headings`` (C4's sentence-punctuation rule adapted to the
    extracted-markdown surface). Returns (doc_id, n_lines,
    n_kept_lines, clean_text) with kept lines re-joined by newline in
    original order.

    All in-row array work (split, indexed first-occurrence test via
    ``array_position``, filter, join) — one zero-shuffle projection;
    duplicate detection is O(lines²) per document, bounded by document
    size.
    """
    t = df.select(F.col(id_col).alias("doc_id"), _lines(text_col).alias("ls"))
    t = t.select(
        "doc_id", "ls", _kept_lines(F.col("ls"), min_words, keep_headings).alias("ki")
    )
    return t.select(
        "doc_id",
        F.size("ls").cast("long").alias("n_lines"),
        F.size("ki").cast("long").alias("n_kept_lines"),
        F.array_join(
            F.transform("ki", lambda i: F.element_at(F.col("ls"), i + 1)),
            "\n",
        ).alias("clean_text"),
    )


def _lines(text_col: str):
    return F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")


def _kept_lines(ls, min_words: int, keep_headings: bool):
    """Kept-index array of the C4 line filter over a BOUND lines array
    ``ls`` (a column or lambda variable, never an expression the
    per-line lambda would re-evaluate) — shared by ``line_filters`` and
    the in-place ``line_filter_text_expr``. A line's word count is its
    number of maximal non-space runs: the nonempty pieces of
    ``split(line, ' ')``, without building the array."""

    def keeps(i):
        line = F.element_at(ls, i + 1)
        first = F.array_position(ls, line) == i + 1
        rule = F.regexp_count(line, F.lit("[^ ]+")) >= F.lit(int(min_words))
        if keep_headings:
            rule = rule | line.startswith("#")
        return first & rule

    return F.filter(F.sequence(F.lit(0), F.size(ls) - 1), keeps)


def line_filter_text_expr(
    text_col: str = "text", min_words: int = 3, keep_headings: bool = True
):
    """The line-filtered text as a single Column expression — for
    swapping the text column in place inside a larger plan (the
    streaming clean stage), avoiding a doc_id join back to the
    ``line_filters`` projection."""
    return bind(
        _lines(text_col),
        lambda ls: F.array_join(
            F.transform(
                _kept_lines(ls, min_words, keep_headings),
                lambda i: F.element_at(ls, i + 1),
            ),
            "\n",
        ),
    )


def bpe_pair_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 200,
    n_shards: int = 16,
) -> DataFrame:
    """First-iteration BPE merge statistics: corpus-wide counts of
    adjacent SYMBOL (character) pairs within pre-tokenizer pieces —
    the table whose argmax is byte-pair encoding's first merge (Sennrich
    et al. 2016, public knowledge). Returns the top-``top_k`` rows as
    (left_sym, right_sym, pair_count, rank), ordered by count desc with
    (left_sym, right_sym) binary tie-break. Whitespace-run pieces count
    like any other piece (they are tokens to a byte-level BPE).

    Scale shape: identical pieces are collapsed FIRST (one groupBy on
    the piece string — Zipf makes this the big reduction), then char
    bigrams explode from the distinct-piece table weighted by piece
    count; the global top-k is :func:`partitioning.sharded_top_k` on
    an md5 shard of the symbol pair."""
    pieces = df.select(
        F.explode(
            F.regexp_extract_all(
                F.lower(F.coalesce(F.col(text_col), F.lit(""))),
                F.lit(BPE_PIECE_RE),
                0,
            )
        ).alias("piece")
    )
    pc = pieces.groupBy("piece").agg(F.count("*").cast("long").alias("cnt"))
    bigrams = pc.select(
        F.explode(
            F.when(
                F.length("piece") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.length("piece") - 1),
                    lambda i: F.struct(
                        F.substring(F.col("piece"), i, 1).alias("left_sym"),
                        F.substring(F.col("piece"), i + 1, 1).alias(
                            "right_sym"
                        ),
                    ),
                ),
            ).otherwise(
                F.array().cast(
                    "array<struct<left_sym:string,right_sym:string>>"
                )
            )
        ).alias("bg"),
        "cnt",
    )
    agg = (
        bigrams.select("bg.left_sym", "bg.right_sym", "cnt")
        .groupBy("left_sym", "right_sym")
        .agg(F.sum("cnt").cast("long").alias("pair_count"))
    )
    return sharded_top_k(
        agg,
        (F.desc("pair_count"), F.asc("left_sym"), F.asc("right_sym")),
        top_k,
        n_shards,
        F.concat_ws("|", "left_sym", "right_sym"),
    ).select("left_sym", "right_sym", "pair_count", "rank")


# unit separator: symbol boundary for the BPE trainer's piece
# representation — never occurs in real text (stripped defensively)
BPE_SEP = "\x1f"


def _bpe_pieces(text_col: str):
    """Pre-tokenizer pieces of bpe_train and bpe_encode: lowercased
    :data:`BPE_PIECE_RE` matches, with :data:`BPE_SEP` stripped first so
    no piece can forge a symbol boundary."""
    return F.regexp_extract_all(
        F.replace(
            F.lower(F.coalesce(F.col(text_col), F.lit(""))),
            F.lit(BPE_SEP),
            F.lit(""),
        ),
        F.lit(BPE_PIECE_RE),
        0,
    )


def _bpe_symbols(piece):
    """A piece's single-character symbols in the boundary encoding
    ``␟s1␟␟s2␟ ... ␟sn␟`` (see :func:`bpe_train`)."""
    S = BPE_SEP
    # "␟␟a␟␟b" -> drop first sep, append one: "␟a␟␟b␟"
    inner = F.regexp_replace(piece, "(?s)(.)", S + S + "$1")
    return F.concat(F.substr(inner, F.lit(2), F.length(inner)), F.lit(S))


def _bpe_merge(rep, left: str, right: str):
    """Apply one merge to an encoded piece: every ``left right`` symbol
    pair becomes the symbol ``left+right``, greedy left to right."""
    S = BPE_SEP
    return F.replace(
        rep, F.lit(S + left + S + S + right + S), F.lit(S + left + right + S)
    )


def _bpe_split(rep):
    """Symbol array of an encoded piece."""
    return F.split(F.substr(rep, F.lit(2), F.length(rep) - 2), BPE_SEP + BPE_SEP)


def bpe_train(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_merges: int = 4,
) -> DataFrame:
    """Iterative byte-pair-encoding trainer (Sennrich et al. 2016,
    public knowledge): starting from the character vocabulary over the
    :data:`BPE_PIECE_RE` pre-tokenizer pieces, repeatedly merge the
    most-frequent adjacent symbol pair (count desc, then binary
    (left, right) asc tie-break) and re-count — the loop whose output
    IS a tokenizer's merge table. Returns one row per merge:
    (rank, left_sym, right_sym, pair_count, merged), where later rows'
    symbols may be multi-character (earlier merges).

    Merge application is greedy left-to-right non-overlapping (the
    standard), realized as a literal ``replace`` over a
    half-consuming boundary encoding: a piece's symbols are stored as
    ``\\x1f s1 \\x1f\\x1f s2 \\x1f\\x1f ... sn \\x1f`` so the pattern
    ``\\x1f L \\x1f\\x1f R \\x1f`` consumes one separator from each
    side and leaves the other half for the neighboring match —
    adjacent occurrences ("a b a b") merge correctly, and a symbol
    whose SUFFIX is L can never false-match (its left boundary is
    doubled).

    Scale shape: identical pieces collapse FIRST (one groupBy on the
    piece — the Zipf reduction), so each iteration runs over the
    DISTINCT-piece table only: one pair-count aggregate with map-side
    combine plus a 1-row ``limit(1)`` argmax to the driver (the merge
    table is driver-state by definition — that is the algorithm, not a
    collect() smell). Lineage stacks one ``replace`` per merge;
    production runs at thousands of merges would localCheckpoint the
    piece table every ~50 iterations (same pattern as
    dedup.connected_components' pointer-jumping loop)."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1 (got {n_merges})")
    pieces = df.select(F.explode(_bpe_pieces(text_col)).alias("piece"))
    pc = pieces.groupBy("piece").agg(F.count("*").cast("long").alias("cnt"))
    rep_df = pc.select("cnt", _bpe_symbols(F.col("piece")).alias("rep"))

    def adjacent_pairs(syms):
        return F.when(
            F.size(syms) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(syms) - 1),
                lambda i: F.struct(
                    F.element_at(syms, i).alias("l"),
                    F.element_at(syms, i + 1).alias("r"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))

    syms = _bpe_split(F.col("rep"))
    merges = []
    for t in range(1, n_merges + 1):
        pairs = (
            rep_df.select(
                "cnt", F.explode(bind(syms, adjacent_pairs)).alias("pr")
            )
            .groupBy("pr.l", "pr.r")
            .agg(F.sum("cnt").cast("long").alias("c"))
        )
        best = pairs.orderBy(
            F.desc("c"), F.asc("l"), F.asc("r")
        ).limit(1).collect()
        if not best:
            break
        l, r, c = best[0]["l"], best[0]["r"], best[0]["c"]
        merges.append((t, l, r, c, l + r))
        rep_df = rep_df.withColumn("rep", _bpe_merge(F.col("rep"), l, r))
    return df.sparkSession.createDataFrame(
        merges,
        "rank long, left_sym string, right_sym string, "
        "pair_count long, merged string",
    )


# chain-order of the fineweb_filters rules: first failing rule in THIS
# order is the funnel stage a rejected document attributes to
FUNNEL_STAGES = (
    "too_few_words",
    "too_many_words",
    "short_words",
    "long_words",
    "repetitive_2grams",
    "dominant_word",
)


def filter_funnel(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-stage rejection attribution for the fineweb_filters chain —
    the monitoring report every production filter pipeline publishes
    ("how many documents does each rule cost us"). Each rejected
    document attributes to its FIRST failing rule in chain order
    (:data:`FUNNEL_STAGES`); the funnel row for stage i reports
    (stage_idx, stage, n_in, n_rejected, n_out, reject_frac) with
    n_in = survivors of stages < i, so n_out of the last row is the
    chain's keep count.

    Scale shape: one fineweb_filters projection (zero shuffles) into a
    <= 6-group aggregate; the cumulative funnel arithmetic runs on the
    6-row stage dimension only (bounded single-partition window by
    construction — same justification as top_vocabulary's re-rank)."""
    sig = fineweb_filters(df, id_col=id_col, text_col=text_col)
    reasons = F.split(F.col("reasons"), ",")
    first_fail = F.coalesce(
        *[
            F.when(F.array_contains(reasons, s), F.lit(s))
            for s in FUNNEL_STAGES
        ]
    )
    rejects = (
        sig.where(~F.col("keep"))
        .groupBy(first_fail.alias("stage"))
        .agg(F.count("*").cast("long").alias("n_rejected"))
    )
    total = sig.agg(F.count("*").cast("long").alias("n_total"))
    stages = df.sparkSession.createDataFrame(
        [(i + 1, s) for i, s in enumerate(FUNNEL_STAGES)],
        "stage_idx long, stage string",
    )
    w = Window.partitionBy(F.lit(0)).orderBy("stage_idx").rowsBetween(
        Window.unboundedPreceding, Window.currentRow - 1
    )
    # bounded by construction: 6 stage rows, broadcast joins only
    return (
        stages.join(F.broadcast(rejects), "stage", "left")
        .crossJoin(F.broadcast(total))
        .withColumn("n_rejected", F.coalesce("n_rejected", F.lit(0)))
        .withColumn(
            "n_in",
            F.col("n_total")
            - F.coalesce(F.sum("n_rejected").over(w), F.lit(0)),
        )
        .select(
            "stage_idx",
            "stage",
            F.col("n_in").cast("long").alias("n_in"),
            "n_rejected",
            (F.col("n_in") - F.col("n_rejected")).cast("long").alias("n_out"),
            F.round(
                F.when(
                    F.col("n_in") > 0, F.col("n_rejected") / F.col("n_in")
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("reject_frac"),
        )
    )


def bpe_encode(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_merges: int = 4,
    merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Apply a learned BPE merge table to the corpus and report per-doc
    tokenization stats — the second half of the tokenizer loop
    (:func:`bpe_train` learns the merges; this measures what they buy).
    ``merges`` defaults to training ``n_merges`` merges on ``df``
    itself (train + encode in one call — the merge-learning jobs run at
    plan-build time). Returns (doc_id, n_pieces, n_bpe_tokens, n_chars,
    compression) with compression = chars per BPE token.

    Scale shape: the merge replace-chain runs once per DISTINCT piece
    (the Zipf reduction — "the" is encoded once, not per occurrence);
    per-doc piece occurrence counts join the distinct-piece symbol
    table on the piece key (plain shuffle join, both sides corpus-
    shaped but narrow); everything after the pre-tokenizer explode is
    whole-stage codegen."""
    if merges is None:
        merges = [
            (r["left_sym"], r["right_sym"])
            for r in bpe_train(
                df, id_col=id_col, text_col=text_col, n_merges=n_merges
            ).collect()
        ]
    dpieces = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_bpe_pieces(text_col)).alias("piece"),
    )
    dpc = dpieces.groupBy("doc_id", "piece").agg(
        F.count("*").cast("long").alias("k")
    )
    rep = _bpe_symbols(F.col("piece"))
    for l, r in merges:
        rep = _bpe_merge(rep, l, r)
    nsym = dpieces.select("piece").distinct().select(
        "piece",
        F.size(_bpe_split(rep)).cast("long").alias("n_sym"),
        F.length("piece").cast("long").alias("p_chars"),
    )
    return (
        dpc.join(nsym, "piece")
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_pieces"),
            F.sum(F.col("k") * F.col("n_sym")).cast("long").alias(
                "n_bpe_tokens"
            ),
            F.sum(F.col("k") * F.col("p_chars")).cast("long").alias(
                "n_chars"
            ),
        )
        .select(
            "doc_id",
            "n_pieces",
            "n_bpe_tokens",
            "n_chars",
            F.round(F.col("n_chars") / F.col("n_bpe_tokens"), 6).alias(
                "compression"
            ),
        )
    )
