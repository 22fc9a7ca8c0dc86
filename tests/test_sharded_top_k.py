"""Shard identity of every two-phase top-k caller: the sharded plan must
return exactly the single-window (n_shards=1) rows, including where an
ordering-key tie straddles rank k and only the tiebreak decides."""

import pytest
from pyspark.sql import functions as F

from docstrange_spark.operators import curation, retrieval, text_analysis


@pytest.fixture(scope="module")
def tied_docs(spark):
    # 400 two-token docs over 3 sources: each of 200 two-letter tokens
    # occurs in exactly two docs, both on one side of doc_id % 2, and
    # "zzz" closes every doc. So counts, |delta|, BM25 scores, quality
    # and symbol-pair counts all tie in groups of ~130-400 rows, far
    # more than k per shard: phase 1 cuts inside a tie, where only the
    # tiebreak picks the survivors. Rows are created out of id order.
    letters = "abcdefghijklmnopqrst"
    rows = [
        (i, f"{letters[i % 200 // 20]}{letters[i % 20]} zzz", f"s{i % 3}")
        for i in range(400)
    ]
    rows.sort(key=lambda r: r[0] * 7919 % 401)
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


# caller -> (run(docs, k, n_shards), k, rank column, tie key, group column)
CALLERS = {
    "source_cap": (
        lambda d, k, n: curation.source_cap(d, per_source=k, n_shards=n),
        2, "src_rank", "quality", "source",
    ),
    "top_vocabulary": (
        lambda d, k, n: curation.top_vocabulary(d, k=k, n_shards=n),
        3, "rank", "cnt", None,
    ),
    "token_drift": (
        lambda d, k, n: curation.token_drift(
            d, F.col("doc_id") % 2 == 0, top_k=k, n_shards=n
        ),
        3, "rank", "delta", None,
    ),
    "bm25_search": (
        lambda d, k, n: retrieval.bm25_search(d, ["zzz"], top_k=k, n_shards=n),
        3, "rank", "score", None,
    ),
    "bpe_pair_counts": (
        lambda d, k, n: text_analysis.bpe_pair_counts(d, top_k=k, n_shards=n),
        3, "rank", "pair_count", None,
    ),
}


@pytest.mark.parametrize("caller", sorted(CALLERS))
def test_sharded_top_k_matches_single_window(tied_docs, caller):
    run, k, rank_col, key, group = CALLERS[caller]
    # the fixture really plants a tie across rank k: the (k+1)-th row
    # carries the same ordering key as the k-th in some group
    wider = run(tied_docs, k + 1, 1).collect()
    at = {}
    for r in wider:
        at[(r[group] if group else None, r[rank_col])] = abs(r[key])
    assert any(
        at[(g, k)] == at.get((g, k + 1)) for (g, rank) in at if rank == k
    ), caller
    single = sorted(map(tuple, run(tied_docs, k, 1).collect()))
    assert single
    for n_shards in (7, 32):
        got = sorted(map(tuple, run(tied_docs, k, n_shards).collect()))
        assert got == single, (caller, n_shards)


@pytest.mark.parametrize("caller", sorted(CALLERS))
def test_sharded_top_k_rejects_bad_sizes(tied_docs, caller):
    run, k = CALLERS[caller][:2]
    with pytest.raises(ValueError, match="n_shards"):
        run(tied_docs, k, 0)
    with pytest.raises(ValueError):
        run(tied_docs, 0, 4)
