"""Corpus-level retrieval: inverted index, boolean search, BM25."""

import pytest
from pyspark.sql import functions as F

from docstrange_spark.operators import curation, dedup, retrieval


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def test_inverted_index_postings(spark):
    df = spark.createDataFrame(
        [(0, "a b a c"), (1, "b b"), (2, "")], "doc_id long, text string"
    )
    rows = {(r["term"], r["doc_id"]): r for r in
            retrieval.inverted_index(df).collect()}
    assert rows[("a", 0)]["tf"] == 2 and rows[("a", 0)]["positions"] == "0,2"
    assert rows[("b", 0)]["positions"] == "1"
    assert rows[("b", 1)]["tf"] == 2 and rows[("b", 1)]["positions"] == "0,1"
    assert rows[("c", 0)]["positions"] == "3"
    assert not any(d == 2 for (_, d) in rows)  # empty doc -> no postings
    # min_tf prunes singleton postings
    pruned = retrieval.inverted_index(df, min_tf=2).collect()
    assert {(r["term"], r["doc_id"]) for r in pruned} == {("a", 0), ("b", 1)}


def test_term_search_conjunctive(spark):
    df = spark.createDataFrame(
        [(0, "x y z"), (1, "x x"), (2, "y"), (3, "x y x y")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["n_hits"]
           for r in retrieval.term_search(df, ["x", "y"]).collect()}
    assert got == {0: 2, 3: 4}  # only docs containing BOTH terms
    with pytest.raises(ValueError):
        retrieval.term_search(df, [])


def test_bm25_ranking_properties(docs):
    out = retrieval.bm25_search(docs, ["spark", "table"], top_k=15).collect()
    assert 0 < len(out) <= 15
    assert [r["rank"] for r in out] == list(range(1, len(out) + 1))
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)


def test_bm25_higher_tf_scores_higher(spark):
    # same length docs; doc 0 mentions the query term more often
    df = spark.createDataFrame(
        [(0, "q q q pad pad pad"), (1, "q pad pad pad pad pad"),
         (2, "pad pad pad pad pad pad")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in retrieval.bm25_search(df, ["q"]).collect()}
    assert 2 not in out  # no query term -> not scored
    assert out[0]["score"] > out[1]["score"]
    assert out[0]["rank"] == 1


def _bm25_reference(rows, terms, k1=1.2, b=0.75):
    """Pure-Python BM25 with the engine's arithmetic: per-term
    contributions rounded half-up to integer micro-units, summed
    exactly, the sum rounded half-up to 6 places. Returns
    [(doc_id, score)] ranked by score desc, doc_id asc."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    def half_up(x, places):
        q = Decimal(1).scaleb(-places)
        return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))

    toks = {d: [w for w in (t or "").lower().split(" ") if w] for d, t in rows}
    terms = sorted({t.lower() for t in terms})
    n = len(toks)
    avgdl = sum(len(ts) for ts in toks.values()) / n
    dfs = {t: sum(t in ts for ts in toks.values()) for t in terms}
    out = []
    for d, ts in toks.items():
        micro = 0
        for t in terms:
            tf = ts.count(t)
            if tf:
                idf = math.log((n - dfs[t] + 0.5) / (dfs[t] + 0.5) + 1.0)
                sat = (tf * (k1 + 1.0)) / (
                    tf + k1 * ((1.0 - b) + b * (len(ts) / avgdl))
                )
                micro += int(half_up(idf * sat * 1_000_000.0, 0))
        if any(t in ts for t in terms):
            out.append((d, half_up(micro / 1_000_000.0, 6)))
    return sorted(out, key=lambda r: (-r[1], r[0]))


@pytest.mark.parametrize("n_shards", [1, 32])
def test_bm25_matches_python_reference(spark, n_shards):
    """The one-scan bm25_search against a pure-Python BM25 on a seeded
    corpus with empty and NULL texts (both count in N), a query term
    the corpus lacks, a repeated mixed-case query term, docs holding
    only one of the two terms, and score ties (duplicate texts) that
    break by doc_id."""
    import random

    rng = random.Random(11)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 30))))
        for i in range(200)
    ]
    rows += [
        (200, ""), (201, None), (202, "ALPHA  alpha gamma "),
        (203, "beta only here"), (204, "alpha only here"),
        (205, "alpha only here"), (206, "beta only here"),
    ]
    rows += [(300 + i, rows[i][1]) for i in range(0, 40, 3)]  # ties
    df = spark.createDataFrame(rows, "doc_id long, text string")
    terms = ["Alpha", "alpha", "BETA", "absentterm"]
    want = _bm25_reference(rows, terms)
    scores = [s for _, s in want]
    assert len(set(scores)) < len(scores)  # the corpus plants ties
    assert {203, 204, 205, 206} <= {d for d, _ in want}
    got = retrieval.bm25_search(
        df, terms, top_k=len(rows), n_shards=n_shards
    ).orderBy("rank").collect()
    assert [(r["doc_id"], r["score"]) for r in got] == want
    assert [r["rank"] for r in got] == list(range(1, len(want) + 1))
    # a cut between two tied docs keeps the smaller doc_id
    k = next(i for i in range(1, len(want)) if want[i - 1][1] == want[i][1])
    top = retrieval.bm25_search(df, terms, top_k=k, n_shards=n_shards)
    assert [(r["doc_id"], r["score"]) for r in top.orderBy("rank").collect()
            ] == want[:k]


def test_corpus_diff_statuses(spark):
    old = spark.createDataFrame(
        [(0, "same"), (1, "before"), (2, "gone")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(0, "same"), (1, "after"), (3, "fresh")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["status"]
           for r in curation.corpus_diff(old, new).collect()}
    assert got == {1: "changed", 2: "removed", 3: "added"}
    # identical snapshots -> empty delta
    assert curation.corpus_diff(old, old).count() == 0


def test_lsh_eval_sanity(docs):
    sample = docs.where(F.col("doc_id") % 5 == 0)
    r = dedup.lsh_eval(sample).collect()[0]
    assert r["true_pos"] <= r["n_candidates"]
    assert r["true_pos"] <= r["n_truth"]
    assert 0.0 <= r["precision"] <= 1.0 and 0.0 <= r["recall"] <= 1.0
    with pytest.raises(ValueError):
        dedup.lsh_eval(sample, tau=0.0)


def test_phrase_search_adjacency(spark):
    df = spark.createDataFrame(
        [(0, "big data big data systems"), (1, "big systems data"),
         (2, "data big"), (3, "big data")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["n_occurrences"], r["first_pos"])
           for r in retrieval.phrase_search(df, "big data").collect()}
    # doc 1 has both words but NOT adjacent; doc 2 has them reversed
    assert got == {0: (2, 0), 3: (1, 0)}
    # single-word phrase degenerates to token match with positions
    got1 = {r["doc_id"]: (r["n_occurrences"], r["first_pos"])
            for r in retrieval.phrase_search(df, "data").collect()}
    assert got1[1] == (1, 2) and got1[2] == (1, 0)
    with pytest.raises(ValueError):
        retrieval.phrase_search(df, "   ")
    # zero shuffles: pure projection
    plan = (retrieval.phrase_search(df, "big data")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_term_search_lowercases_query_terms(spark):
    df = spark.createDataFrame(
        [(0, "Spark and More spark")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["n_hits"]
           for r in retrieval.term_search(df, ["Spark"]).collect()}
    assert got == {0: 2}  # matches the lowercased token stream
    bm = retrieval.bm25_search(df, ["SPARK"]).collect()
    assert len(bm) == 1 and bm[0]["doc_id"] == 0


def test_proximity_search_window_semantics(spark):
    df = spark.createDataFrame(
        [(0, "alpha x x beta"), (1, "alpha x x x x x beta"),
         (2, "beta alpha"), (3, "alpha only here")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["min_dist"] for r in
           retrieval.proximity_search(df, "alpha", "beta", window=3).collect()}
    # doc 0: distance 3 (within); doc 1: 6 (outside); doc 2: 1 (order-free)
    assert got == {0: 3, 2: 1}
    with pytest.raises(ValueError):
        retrieval.proximity_search(df, "alpha", "beta", window=0)
    # zero shuffles
    plan = (retrieval.proximity_search(df, "alpha", "beta")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_bigram_pmi_collocations(spark):
    from docstrange_spark.operators import text_analysis

    # 'hong kong' always co-occurs; 'the thing' shares 'the' with many
    rows = [(i, "hong kong is the place and the weather and the thing")
            for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["gram"]: r for r in text_analysis.bigram_pmi(df, min_count=5).collect()}
    assert got["hong kong"]["pmi"] > got["the thing"]["pmi"]
    import math
    # hand-check: hong appears only as w1 of 'hong kong' (c1=5),
    # kong only as w2 (c2=5), pair 5, total 50 bigrams
    assert abs(got["hong kong"]["pmi"] - round(math.log(5 * 50 / (5 * 5)), 6)) < 1e-9
