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
