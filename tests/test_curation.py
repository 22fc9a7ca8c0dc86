"""Corpus-curation operators: deterministic splitting, token-budget
packing, winnow-based decontamination."""

import pytest
from pyspark.sql import functions as F

from docstrange_spark.operators import curation, text_analysis


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def test_hash_split_deterministic_and_proportional(docs):
    a = {r["doc_id"]: r["split"] for r in curation.hash_split(docs).collect()}
    b = {r["doc_id"]: r["split"] for r in curation.hash_split(docs).collect()}
    assert a == b  # stable across runs
    frac = sum(1 for v in a.values() if v == "test") / len(a)
    assert 0.04 < frac < 0.2  # ~10% of the 500 sf0.001 docs
    # a different salt re-draws membership
    c = {r["doc_id"]: r["split"] for r in curation.hash_split(docs, salt="v2").collect()}
    assert c != a
    # pure projection: no exchange in the plan
    plan = curation.hash_split(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_pack_batches_budget_semantics(spark):
    # one shard (n_shards=1) makes the walk easy to hand-check
    rows = [(i, "w " * 100) for i in range(10)]  # 100 tokens each
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["batch_id"], r["n_tokens"])
        for r in curation.pack_batches(df, budget=250, n_shards=1).collect()
    }
    assert all(v[1] == 100 for v in got.values())
    # exclusive prefix sums 0,100,...,900 -> batches 0,0,0,1,1,2,2,2,3,3
    assert [got[i][0] for i in range(10)] == [0, 0, 0, 1, 1, 2, 2, 2, 3, 3]


def test_pack_batches_sharded_plan_and_coverage(docs):
    out = curation.pack_batches(docs, budget=512, n_shards=8)
    rows = out.collect()
    assert len(rows) == docs.count()  # every doc lands in exactly one batch
    assert {r["shard"] for r in rows} == set(range(8))
    # within each (shard, batch) the token total stays near the budget:
    # each batch's START is below a budget boundary by construction
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the window is partitioned by shard — never a single global sort
    assert "hashpartitioning(shard" in plan


def test_decontaminate_flags_shared_substrings(spark):
    # train doc 1 embeds a >= k+window-1 = 8-char substring of eval doc;
    # train doc 2 shares nothing
    ev = spark.createDataFrame(
        [(100, "the secret benchmark answer is forty two")],
        "doc_id long, text string",
    )
    tr = spark.createDataFrame(
        [
            (1, "padding padding benchmark answer is forty padding"),
            (2, "completely unrelated text with no overlap here at all"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["n_shared_fps"] for r in curation.decontaminate(tr, ev).collect()}
    assert 1 in got and got[1] >= 1
    assert 2 not in got


def test_source_cap_ranks_and_caps(docs):
    out = curation.source_cap(docs, per_source=5).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    assert len(by_src) == 20
    for src, rows in by_src.items():
        assert len(rows) == 5  # every source has >= 5 docs at sf0.001
        rows.sort(key=lambda r: r["src_rank"])
        quals = [r["quality"] for r in rows]
        assert quals == sorted(quals, reverse=True)  # best-first
        assert [r["src_rank"] for r in rows] == [1, 2, 3, 4, 5]


def test_doc_frequency_values_and_plan(spark):
    df = spark.createDataFrame(
        [(0, "a b a"), (1, "a c"), (2, "c c d")],
        "doc_id long, text string",
    )
    got = {r["token"]: (r["doc_freq"], r["idf"]) for r in curation.doc_frequency(df).collect()}
    import math

    assert got["a"][0] == 2 and got["a"][1] == round(math.log(3 / 2), 6)
    assert got["b"][0] == 1 and got["c"][0] == 2 and got["d"][0] == 1
    # within-doc repeats collapse before the shuffle; N joins via broadcast
    plan = curation.doc_frequency(df)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_pack_batches_budget_bound_invariant(docs):
    """Exclusive-prefix packing bound: a batch's token total can exceed
    the budget only by (its last doc's tokens - 1) — i.e. total <
    budget + max doc in batch. Holds for every (shard, batch)."""
    out = curation.pack_batches(docs, budget=300, n_shards=4).collect()
    groups = {}
    for r in out:
        groups.setdefault((r["shard"], r["batch_id"]), []).append(r["n_tokens"])
    for (shard, batch), toks in groups.items():
        assert sum(toks) < 300 + max(toks), (shard, batch, toks)
    # batches within a shard are contiguous: ids 0..max with no holes
    per_shard = {}
    for (shard, batch), _ in groups.items():
        per_shard.setdefault(shard, set()).add(batch)
    for shard, ids in per_shard.items():
        assert ids == set(range(max(ids) + 1)), (shard, sorted(ids))


def test_hash_split_invariant_under_row_order(spark, docs):
    """Membership is a pure function of the id — permuting, filtering,
    or repartitioning the input cannot move a doc across the split."""
    base = {
        r["doc_id"]: r["split"]
        for r in curation.hash_split(docs).select("doc_id", "split").collect()
    }
    shuffled = {
        r["doc_id"]: r["split"]
        for r in curation.hash_split(docs.repartition(7).orderBy("n_chars"))
        .select("doc_id", "split")
        .collect()
    }
    assert shuffled == base
    subset = {
        r["doc_id"]: r["split"]
        for r in curation.hash_split(docs.where("doc_id % 3 = 0"))
        .select("doc_id", "split")
        .collect()
    }
    assert all(base[k] == v for k, v in subset.items())


def test_repetition_stats_fraction_bounds(docs):
    rows = text_analysis.repetition_stats(docs.limit(100)).collect()
    for r in rows:
        for c in ("dup_word_frac", "top_word_frac", "dup_2gram_frac", "top_2gram_frac"):
            assert 0.0 <= r[c] <= 1.0, (r["doc_id"], c, r[c])
        if r["n_words"] > 0:
            # the most frequent word accounts for at least 1/n of occurrences
            assert r["top_word_frac"] >= round(1 / r["n_words"], 6) - 1e-9


def test_source_cap_rejects_degenerate_cap(docs):
    with pytest.raises(ValueError):
        curation.source_cap(docs, per_source=0)


def test_stratified_sample_quotas_and_determinism(docs):
    out = curation.stratified_sample(docs, fractions={"en": 0.5, "es": 0.2})
    rows = out.collect()
    again = {r["doc_id"] for r in out.collect()}
    assert {r["doc_id"] for r in rows} == again  # deterministic membership
    by_lang = {}
    for r in docs.select("doc_id", "lang").collect():
        by_lang.setdefault(r["lang"], 0)
    kept = {}
    for r in rows:
        kept[r["lang"]] = kept.get(r["lang"], 0) + 1
    totals = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    if "en" in totals and totals["en"] >= 20:
        assert 0.3 < kept.get("en", 0) / totals["en"] < 0.7
    # all sampled uniforms respect their stratum's threshold
    for r in rows:
        thr = {"en": 0.5, "es": 0.2}.get(r["lang"], 0.1)
        assert r["sample_u"] < thr + 1e-6
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # projection+filter only


def test_null_text_counts_as_empty_document(spark):
    """NULL text must behave as an empty document everywhere the token
    array feeds a count — not as size(NULL) = -1 poisoning running
    sums (the DuckDB twins and the streaming signature UDF both treat
    the row as empty)."""
    df = spark.createDataFrame(
        [(1, None), (2, "two words"), (3, "")], "doc_id long, text string"
    )
    rep = {
        r["doc_id"]: r["n_words"]
        for r in text_analysis.repetition_stats(df).collect()
    }
    assert rep == {1: 0, 2: 2, 3: 0}
    packed = {
        r["doc_id"]: r["n_tokens"]
        for r in curation.pack_batches(df, budget=10, n_shards=1).collect()
    }
    assert packed[1] == 0 and packed[3] == 0 and packed[2] == 2


def test_stratified_sample_null_stratum_sentinel(spark):
    """A NULL stratum hashes as the empty-string sentinel and draws
    default_frac — the exact arithmetic both engines now share."""
    import hashlib

    rows = [(i, None) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    kept = curation.stratified_sample(
        df, strata_col="lang", fractions={"en": 0.5}, default_frac=0.3
    ).collect()
    expect = {
        i
        for i in range(200)
        if int(hashlib.md5(f"strat||{i}".encode()).hexdigest()[:7], 16)
        / 16**7
        < 0.3
    }
    assert {r["doc_id"] for r in kept} == expect
    for r in kept:
        u = (
            int(hashlib.md5(f"strat||{r['doc_id']}".encode()).hexdigest()[:7], 16)
            / 16**7
        )
        assert abs(r["sample_u"] - round(u, 6)) < 1e-9


def test_source_cap_two_phase_identical_and_skew_safe(spark, docs):
    """The two-phase top-N must (a) return exactly the single-window
    result, and (b) split a mega-domain across shards so no single
    ranking task receives the whole domain."""
    # (a) output identity on the real corpus, n_shards high and 1
    base = sorted(
        map(tuple, curation.source_cap(docs, per_source=5, n_shards=1).collect())
    )
    sharded = sorted(
        map(tuple, curation.source_cap(docs, per_source=5, n_shards=32).collect())
    )
    assert sharded == base
    # (b) skewed fixture: one domain holds 95% of rows
    rows = [(i, f"word{i} text {i % 7}", "megahost") for i in range(8000)]
    rows += [(100_000 + i, f"other {i}", f"small{i % 5}") for i in range(400)]
    skew = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = curation.source_cap(skew, per_source=10, n_shards=32)
    got = out.collect()
    assert sum(1 for r in got if r["source"] == "megahost") == 10
    naive = curation.source_cap(skew, per_source=10, n_shards=1).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, naive))
    # phase-1 exchange partitions by (source, shard): the mega-domain's
    # heaviest (source, shard) ranking group carries ~1/32 of the domain
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(source" in plan and "_shard" in plan
    from docstrange_spark.operators.partitioning import _md5_long28

    sizes = (
        skew.where("source = 'megahost'")
        .groupBy((_md5_long28(F.col("doc_id")) % 32).alias("s"))
        .count()
        .collect()
    )
    counts = sorted(r["count"] for r in sizes)
    assert len(counts) == 32
    med = counts[len(counts) // 2]
    assert counts[-1] <= 2 * med, (counts[-1], med)


def test_paragraph_stats_boilerplate_and_identity(spark):
    """Known fixture: a footer paragraph shared by 3 docs is boilerplate;
    unique paragraphs survive; a huge threshold is the identity on text."""
    footer = "subscribe to our newsletter"
    rows = [
        (1, f"alpha body one\n\n{footer}"),
        (2, f"beta body two\n\n{footer}\n\ngamma extra"),
        (3, f"{footer}"),
        (4, "totally unique document"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in curation.paragraph_stats(df).collect()}
    assert got[1]["n_paras"] == 2 and got[1]["n_boiler"] == 1
    assert got[1]["clean_text"] == "alpha body one"
    assert got[2]["clean_text"] == "beta body two\n\ngamma extra"
    assert got[3]["n_boiler"] == 1 and got[3]["clean_text"] == ""
    assert got[4]["n_boiler"] == 0 and got[4]["clean_text"] == rows[3][1]
    assert abs(got[2]["boiler_frac"] - round(1 / 3, 6)) < 1e-9
    # threshold -> infinity: clean_text round-trips the original text
    ident = {
        r["doc_id"]: r["clean_text"]
        for r in curation.paragraph_stats(df, max_occurrences=10**9).collect()
    }
    assert ident == {i: t for i, t in rows}
    # a doc repeating its OWN paragraph does not self-mark as boilerplate
    selfrep = spark.createDataFrame(
        [(1, "same para\n\nsame para"), (2, "other")], "doc_id long, text string"
    )
    r1 = {r["doc_id"]: r for r in curation.paragraph_stats(selfrep).collect()}
    assert r1[1]["n_boiler"] == 0 and r1[1]["clean_text"] == "same para\n\nsame para"


def test_pii_scrub_counts_and_chain_order(spark):
    """Redaction fixture: typed placeholders, per-type counts, and the
    chain-order rule — an email whose host is an IP counts once, as an
    email. No-PII text is the identity; NULL text scrubs to ''."""
    rows = [
        (1, "mail a@b.co and c.d-e@f.org now"),
        (2, "server at 10.1.2.3 and 255.255.255.0"),
        (3, "dial 555-123-4567 or 555.123.4567"),
        (4, "root@192.168.0.1 logged in"),
        (5, "nothing sensitive here"),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in text_analysis.pii_scrub(df).collect()}
    assert got[1]["n_emails"] == 2 and got[1]["clean_text"] == "mail <EMAIL> and <EMAIL> now"
    assert got[2]["n_ips"] == 2 and got[2]["clean_text"] == "server at <IP> and <IP>"
    assert got[3]["n_phones"] == 2 and got[3]["clean_text"] == "dial <PHONE> or <PHONE>"
    # an all-numeric host is not an email TLD: the IP stage redacts it,
    # leaving the user@ prefix intact — exactly one redaction
    assert got[4]["n_emails"] == 0 and got[4]["n_ips"] == 1
    assert got[4]["clean_text"] == "root@<IP> logged in"
    assert got[4]["n_redactions"] == 1
    assert got[5]["n_redactions"] == 0 and got[5]["clean_text"] == rows[4][1]
    assert got[6]["n_redactions"] == 0 and got[6]["clean_text"] == ""
    # pure projection: no exchange, no Python stage
    plan = text_analysis.pii_scrub(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_tfidf_top_terms_values_and_plan(spark):
    """Hand-checkable fixture: rare terms outrank common ones; k bounds
    rows; the IDF side joins as a broadcast."""
    import math

    df = spark.createDataFrame(
        [(1, "rare common common"), (2, "common common other"), (3, "common unique")],
        "doc_id long, text string",
    )
    out = curation.tfidf_top_terms(df, k=2)
    rows = out.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert all(len(v) <= 2 for v in by_doc.values())
    d1 = sorted(by_doc[1], key=lambda r: r["term_rank"])
    # 'common' appears in all 3 docs -> idf 0 -> tfidf 0; 'rare' wins
    assert d1[0]["term"] == "rare"
    assert abs(d1[0]["idf"] - round(math.log(3), 6)) < 1e-9
    assert d1[0]["tfidf"] == round(1 * round(math.log(3), 6), 6)
    common = next(r for r in rows if r["term"] == "common")
    assert common["idf"] == 0.0 and common["tfidf"] == 0.0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_paragraph_stats_literal_separator(spark):
    """The separator is a LITERAL, not a regex: '|' (empty-alternation
    as a regex) and '. ' must split/rejoin exactly, preserving the
    identity property for any sep."""
    rows = [(1, "a|b|c"), (2, "x. y. z")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pipe = {
        r["doc_id"]: r
        for r in curation.paragraph_stats(df, sep="|", max_occurrences=10).collect()
    }
    assert pipe[1]["n_paras"] == 3 and pipe[1]["clean_text"] == "a|b|c"
    dot = {
        r["doc_id"]: r
        for r in curation.paragraph_stats(df, sep=". ", max_occurrences=10).collect()
    }
    assert dot[2]["n_paras"] == 3 and dot[2]["clean_text"] == "x. y. z"


def test_source_cap_quality_passthrough(spark, docs):
    """quality_col= ranks on a precomputed column without re-scoring;
    with the engine's own quality values the output is identical."""
    pre = text_analysis.quality_score(docs, keep=("source",))
    via_col = sorted(map(tuple, curation.source_cap(
        pre, per_source=5, quality_col="quality"
    ).collect()))
    recomputed = sorted(map(tuple, curation.source_cap(docs, per_source=5).collect()))
    assert via_col == recomputed


def test_unigram_logprob_values_and_plan(spark):
    """Hand-checkable: in a 4-token corpus 'a a a b', P(a)=3/4 and
    P(b)=1/4; doc means follow; rare-token docs score lower; empty docs
    are absent; frequency table broadcasts."""
    import math

    df = spark.createDataFrame(
        [(1, "a a"), (2, "a b"), (3, "")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in curation.unigram_logprob(df).collect()}
    assert set(got) == {1, 2}
    pa, pb = math.log(3 / 4), math.log(1 / 4)
    assert abs(got[1]["mean_logprob"] - round(pa, 6)) < 1e-6
    assert abs(got[2]["mean_logprob"] - round((pa + pb) / 2, 6)) < 1e-6
    assert got[1]["n_tokens"] == 2
    # common-token doc scores higher than rare-token doc
    assert got[1]["mean_logprob"] > got[2]["mean_logprob"]
    plan = curation.unigram_logprob(df)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_quality_bins_thirds_and_ordering(docs):
    """Bucket fractions are third-ish (bin-granular, CCNet's own
    tolerance) and the score ordering head > middle > tail holds
    within every language."""
    out = curation.quality_bins(docs, n_bins=100).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    assert len(out) > 0
    for lang, rows in by_lang.items():
        n = len(rows)
        if n < 30:
            continue  # too few docs for fraction assertions
        frac = {b: sum(1 for r in rows if r["bucket"] == b) / n
                for b in ("head", "middle", "tail")}
        # bin-granular cutoffs on a lumpy synthetic distribution put
        # the whole cutoff bin on one side, so "thirds" is loose
        for b in ("head", "middle", "tail"):
            assert 0.08 < frac[b] < 0.65, (lang, frac)
        # every head score >= every tail score (bin-granular cutoffs)
        min_head = min(r["mean_logprob"] for r in rows if r["bucket"] == "head")
        max_tail = max(r["mean_logprob"] for r in rows if r["bucket"] == "tail")
        assert min_head >= max_tail


def test_quality_bins_degenerate_lang_all_middle(spark):
    # every doc identical -> one histogram bin -> edges collapse ->
    # nothing is labeled head or tail
    rows = [(i, "same same text", "xx") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = curation.quality_bins(df, n_bins=100).collect()
    assert len(out) == 20
    assert all(r["bucket"] == "middle" for r in out)


def test_dsir_weights_favor_target_distribution(spark):
    """Docs drawn from the target slice's vocabulary must score higher
    than docs from a disjoint vocabulary — the defining DSIR property."""
    target_text = "alpha beta gamma delta alpha beta gamma delta"
    other_text = "zig zag zog zug zig zag zog zug"
    rows = (
        [(i, target_text, True) for i in range(10)]
        # raw pool: 5 target-like, 5 alien docs (not marked target)
        + [(100 + i, target_text, False) for i in range(5)]
        + [(200 + i, other_text, False) for i in range(5)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, is_target boolean")
    w = {r["doc_id"]: r["dsir_logweight"]
         for r in curation.dsir_weights(df, n_buckets=256).collect()}
    target_like = [w[100 + i] for i in range(5)]
    alien = [w[200 + i] for i in range(5)]
    assert min(target_like) > max(alien)
    # a doc with < 2 tokens has no bigram profile and is omitted
    df2 = df.union(
        spark.createDataFrame([(999, "solo", False)],
                              "doc_id long, text string, is_target boolean")
    )
    w2 = curation.dsir_weights(df2, n_buckets=256)
    assert w2.where(F.col("doc_id") == 999).count() == 0


def test_epoch_order_permutation_properties(docs):
    n = docs.count()
    e1 = curation.epoch_order(docs, epoch=1, n_shards=8).collect()
    assert len(e1) == n  # a permutation: every doc placed exactly once
    assert len({r["doc_id"] for r in e1}) == n
    # positions are contiguous 1..len(shard) within every shard
    by_shard = {}
    for r in e1:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for shard, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1))
    # deterministic across runs; different epochs draw different orders
    e1b = curation.epoch_order(docs, epoch=1, n_shards=8).collect()
    assert sorted(map(tuple, e1)) == sorted(map(tuple, e1b))
    e2 = curation.epoch_order(docs, epoch=2, n_shards=8).collect()
    k1 = {r["doc_id"]: (r["shard"], r["pos"]) for r in e1}
    k2 = {r["doc_id"]: (r["shard"], r["pos"]) for r in e2}
    assert k1 != k2


def test_quality_bins_materialized_scored_identical(spark, docs, tmp_path):
    """The production path (pre-materialized scored table) must produce
    exactly the self-contained contract output."""
    inline = sorted(map(tuple, curation.quality_bins(docs, n_bins=100).collect()))
    sc = curation.unigram_logprob(docs).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    p = str(tmp_path / "scored")
    sc.write.parquet(p)
    mat = curation.quality_bins(
        docs, n_bins=100, scored=spark.read.parquet(p)
    )
    assert sorted(map(tuple, mat.collect())) == inline


def test_fineweb_filters_rules_and_plan(spark):
    good = "the quick brown fox jumps over the lazy dog and then runs far " \
           "away into the green hills while birds sing overhead today " # 21 words
    spammy = "buy now " * 40                      # dominated by one 2-gram
    tiny = "just three words"
    df = spark.createDataFrame(
        [(0, good), (1, spammy), (2, tiny), (3, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           __import__("docstrange_spark.operators.text_analysis",
                      fromlist=["x"]).fineweb_filters(df).collect()}
    assert out[0]["keep"] and out[0]["reasons"] == ""
    assert not out[1]["keep"]
    assert "repetitive_2grams" in out[1]["reasons"]
    assert not out[2]["keep"] and "too_few_words" in out[2]["reasons"]
    # empty doc: word-count rule only — ratio rules are vacuous
    assert out[3]["reasons"] == "too_few_words"
    plan = (
        __import__("docstrange_spark.operators.text_analysis",
                   fromlist=["x"]).fineweb_filters(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # one wide projection, zero shuffles


def test_score_quantiles_bounds_and_degenerate(spark, docs):
    out = curation.score_quantiles(
        docs, "n_chars", quantiles=(0.25, 0.5, 0.75), group_col="lang",
        n_bins=100,
    ).collect()
    by_grp = {}
    for r in out:
        by_grp.setdefault(r["grp"], {})[r["q"]] = r["approx_value"]
    import math

    vals = {}
    for r in docs.select("lang", "n_chars").collect():
        vals.setdefault(r["lang"], []).append(r["n_chars"])
    for grp, qs in by_grp.items():
        # quantile estimates are monotone in q
        assert qs[0.25] <= qs[0.5] <= qs[0.75]
        # each estimate is within one bin width BELOW its target order
        # statistic (the bin-lower-edge rule's error contract)
        v = sorted(vals[grp])
        width = (v[-1] - v[0]) / 100.0
        for q in (0.25, 0.5, 0.75):
            target = v[math.ceil(q * len(v)) - 1]
            assert target - width - 1e-9 <= qs[q] <= target + 1e-9, (grp, q, qs)
    # degenerate group: every value identical -> all quantiles = value
    one = spark.createDataFrame(
        [(i, 42) for i in range(10)], "doc_id long, v long"
    )
    vals = {r["q"]: r["approx_value"]
            for r in curation.score_quantiles(one, "v").collect()}
    assert set(vals.values()) == {42.0}
    with pytest.raises(ValueError):
        curation.score_quantiles(one, "v", quantiles=(0.0, 0.5))


def test_corpus_report_hand_checked(spark):
    df = spark.createDataFrame(
        [
            (0, "alpha beta", "en", "s0"),
            (1, "alpha  beta", "en", "s0"),   # dup of 0 after ws-normalize
            (2, "gamma delta epsilon", "fr", "s1"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    r = curation.corpus_report(df).collect()[0]
    assert r["n_docs"] == 3 and r["n_langs"] == 2 and r["n_sources"] == 2
    assert r["total_words"] == 2 + 2 + 3
    assert r["exact_dup_docs"] == 2  # both members of the dup pair
    assert abs(r["exact_dup_frac"] - round(2 / 3, 6)) < 1e-9


def test_ngram_counts_and_hashed_tf(spark):
    df = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b c"), (2, "x")], "doc_id long, text string"
    )
    got = {r["gram"]: (r["cnt"], r["doc_freq"])
           for r in text_analysis.ngram_counts(df, n=2).collect()}
    # 'a b' occurs twice in doc 0 and once in doc 1
    assert got["a b"] == (3, 2)
    assert got["b a"] == (1, 1) and got["b c"] == (1, 1)
    assert "x" not in got  # single-token doc has no bigrams
    # min_count prunes
    pruned = {r["gram"] for r in text_analysis.ngram_counts(df, min_count=2).collect()}
    assert pruned == {"a b"}

    tf = {r["doc_id"]: r for r in text_analysis.hashed_tf(df, dim=8).collect()}
    for d, row in tf.items():
        # L1 normalization: components sum to ~1 for non-empty docs
        assert abs(sum(row["tf_vec"]) - 1.0) < 1e-4, (d, row)
        assert len(row["tf_vec"]) == 8
    # identical texts hash identically; vectors are deterministic
    again = {r["doc_id"]: r["tf_vec"]
             for r in text_analysis.hashed_tf(df, dim=8).collect()}
    assert {d: r["tf_vec"] for d, r in tf.items()} == again
    # zero shuffles: projection only
    plan = (text_analysis.hashed_tf(df, dim=8)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_materialize_batches_reconstructs_sequences(spark, docs):
    """The packed artifact must (a) contain every doc exactly once,
    (b) order members by id within a batch, (c) concatenate with the
    separator, and (d) be invariant to input partitioning."""
    m = curation.materialize_batches(docs, budget=400, n_shards=4)
    rows = m.collect()
    all_ids = [d for r in rows for d in r["doc_ids"]]
    assert sorted(all_ids) == sorted(
        r["doc_id"] for r in docs.select("doc_id").collect()
    )
    texts = {r["doc_id"]: r["text"] or "" for r in docs.collect()}
    for r in rows:
        assert list(r["doc_ids"]) == sorted(r["doc_ids"])
        assert r["text"] == "\n\n".join(texts[d] for d in r["doc_ids"])
        assert r["n_docs"] == len(r["doc_ids"])
    again = curation.materialize_batches(
        docs.repartition(7), budget=400, n_shards=4
    ).collect()
    key = lambda rs: sorted((r["shard"], r["batch_id"], r["text"]) for r in rs)
    assert key(rows) == key(again)


def test_char_entropy_known_values(spark):
    import math

    df = spark.createDataFrame(
        [(0, "aaaa"), (1, "abab"), (2, "abcd"), (3, "")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in text_analysis.char_entropy(df).collect()}
    assert got[0]["entropy"] == 0.0              # single symbol
    assert abs(got[1]["entropy"] - round(math.log(2), 6)) < 1e-9   # 2 equiprobable
    assert abs(got[2]["entropy"] - round(math.log(4), 6)) < 1e-9   # 4 equiprobable
    assert got[3]["entropy"] == 0.0 and got[3]["n_chars"] == 0     # empty doc
    assert got[2]["n_distinct_chars"] == 4


def test_top_vocabulary_two_phase_and_coverage(spark, docs):
    out = curation.top_vocabulary(docs, k=20).collect()
    assert len(out) == 20
    assert [r["rank"] for r in sorted(out, key=lambda r: r["rank"])] == list(range(1, 21))
    by_rank = sorted(out, key=lambda r: r["rank"])
    cnts = [r["cnt"] for r in by_rank]
    assert cnts == sorted(cnts, reverse=True)
    covs = [r["cum_coverage"] for r in by_rank]
    assert covs == sorted(covs) and covs[-1] <= 1.0
    # hand check against a brute-force count
    from collections import Counter
    c = Counter()
    for r in docs.collect():
        c.update(w for w in (r["text"] or "").lower().split(" ") if w)
    top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert [(r["token"], r["cnt"]) for r in by_rank] == top


def test_line_filters_rules(spark):
    doc = "# Title\nshort\nthis line has enough words\nrepeat me now ok\nrepeat me now ok\nxy z"
    df = spark.createDataFrame([(0, doc), (1, "")], "doc_id long, text string")
    got = {r["doc_id"]: r for r in text_analysis.line_filters(df).collect()}
    r = got[0]
    assert r["n_lines"] == 6
    # heading kept despite 2 words; 'short' dropped; duplicate line
    # kept once; 'xy z' (2 words) dropped
    assert r["clean_text"] == "# Title\nthis line has enough words\nrepeat me now ok"
    assert r["n_kept_lines"] == 3
    # empty doc: one empty line, dropped
    assert got[1]["n_kept_lines"] == 0 and got[1]["clean_text"] == ""
    # keep_headings=False drops the 2-word heading too
    r2 = {x["doc_id"]: x for x in
          text_analysis.line_filters(df, keep_headings=False).collect()}[0]
    assert "# Title" not in r2["clean_text"]


def test_pack_stats_consistency(spark, docs):
    r = curation.pack_stats(docs, budget=300, n_shards=4).collect()[0]
    a = curation.pack_batches(docs, budget=300, n_shards=4).collect()
    batches = {}
    for x in a:
        batches[(x["shard"], x["batch_id"])] = batches.get(
            (x["shard"], x["batch_id"]), 0
        ) + x["n_tokens"]
    assert r["n_batches"] == len(batches)
    assert r["total_tokens"] == sum(batches.values())
    over = sum(1 for v in batches.values() if v > 300)
    assert abs(r["frac_over_budget"] - round(over / len(batches), 6)) < 1e-9
    assert 0.0 < r["mean_fill"] < 2.0


def test_source_mix_shares_and_entropy(spark, docs):
    import math

    out = curation.source_mix(docs).collect()
    assert abs(sum(r["token_share"] for r in out) - 1.0) < 1e-4
    ent = out[0]["mix_entropy"]
    assert all(r["mix_entropy"] == ent for r in out)
    # 20 near-equal sources: entropy close to (and never above) ln(20)
    assert 0.9 * math.log(20) < ent <= math.log(20) + 1e-9
    # a single-source corpus has zero mix entropy
    one = spark.createDataFrame(
        [(i, "a b c", "only") for i in range(5)],
        "doc_id long, text string, source string",
    )
    assert curation.source_mix(one).collect()[0]["mix_entropy"] == 0.0


def test_cluster_sizes_partition_the_corpus(spark, docs):
    from docstrange_spark.operators import dedup

    n = dedup.dedup_clusters(docs).count()
    import __spark_entry__ as em
    hist = em.queries()["cluster_sizes"](spark, "/root/testdata/sf0.001").collect()
    # histogram cells partition the clustered docs exactly
    assert sum(r["n_docs"] for r in hist) == n
    for r in hist:
        assert r["n_docs"] == r["cluster_size"] * r["n_clusters"]


def test_ngram_decontaminate_flags_leaks(spark):
    """A training doc sharing an 8-gram with the benchmark is flagged
    with the right distinct-gram counts; clean docs are absent."""
    from pyspark.sql import functions as F

    leak = "the quick brown fox jumps over the lazy dog tonight"
    train = spark.createDataFrame(
        [
            (1, leak),  # verbatim leak
            (2, "completely different text with nothing shared here at all ok"),
            (3, "prefix words then " + leak),  # embedded leak
            (4, "short"),  # < n tokens -> no grams
        ],
        "doc_id long, text string",
    )
    evald = spark.createDataFrame([(100, leak)], "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in curation.ngram_decontaminate(train, evald, n=8).collect()
    }
    assert set(got) == {1, 3}
    # doc 1 == the benchmark doc: every one of its 3 distinct 8-grams
    # (10 tokens -> 3 grams) is shared
    assert got[1]["n_ngrams"] == 3 and got[1]["n_shared_ngrams"] == 3
    assert got[1]["overlap_frac"] == 1.0
    # doc 3 carries the benchmark's grams plus its own prefix grams
    assert got[3]["n_shared_ngrams"] == 3
    assert got[3]["n_ngrams"] == 6 and got[3]["overlap_frac"] == 0.5


def test_temperature_mix_rebalances_sources(spark):
    """alpha=0.5 (temperature 2): a 90/10 split rebalances to 75/25
    target shares; the small source's rate caps at 1.0 and the big
    source downsamples."""
    rows = [(i, "s_big" if i < 90 else "s_small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = {r["source"]: r for r in curation.temperature_mix(df).collect()}
    big, small = got["s_big"], got["s_small"]
    assert big["n_docs"] == 90 and small["n_docs"] == 10
    assert abs(big["share"] - 0.9) < 1e-9 and abs(small["share"] - 0.1) < 1e-9
    # sqrt(0.9)=.948..., sqrt(0.1)=.316... -> targets .75/.25
    assert abs(big["target_share"] - 0.75) < 1e-3
    assert abs(small["target_share"] - 0.25) < 1e-3
    assert small["sample_rate"] == 1.0  # capped: 0.25*100/10 = 2.5
    assert abs(big["sample_rate"] - 0.75 * 100 / 90) < 1e-3
    # alpha=1 is the identity mix (targets == shares)
    ident = {
        r["source"]: r for r in curation.temperature_mix(df, alpha=1.0).collect()
    }
    assert abs(ident["s_big"]["target_share"] - 0.9) < 1e-6


def test_temperature_sample_applies_rates(spark):
    """Sampling keeps ~rate fraction per source, membership is
    deterministic, and a capped (rate=1.0) source keeps everything."""
    rows = [(i, "s_big" if i < 900 else "s_small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    kept = curation.temperature_sample(df).collect()
    again = curation.temperature_sample(df).collect()
    assert sorted(r["doc_id"] for r in kept) == sorted(
        r["doc_id"] for r in again
    )
    by_src = {}
    for r in kept:
        by_src.setdefault(r["source"], []).append(r)
    # small source capped at 1.0 -> all 100 kept
    assert len(by_src["s_small"]) == 100
    assert all(r["sample_rate"] == 1.0 for r in by_src["s_small"])
    # big source downsampled at ~0.8333: hash-uniform within ~5 sigma
    n_big = len(by_src["s_big"])
    assert 0.70 * 900 < n_big < 0.95 * 900
    assert all(r["sample_u"] < r["sample_rate"] for r in kept)


def test_bigram_logprob_hand_corpus(spark):
    """Hand-checked add-0.5 bigram LM on a 2-token vocabulary, and the
    <2-token exclusion rule."""
    import math

    df = spark.createDataFrame(
        [(1, "a b a"), (2, "b a"), (3, "a")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in curation.bigram_logprob(df).collect()}
    # doc 3 has one token -> no bigrams -> absent
    assert set(rows) == {1, 2}
    # corpus: bigrams (a,b)x1, (b,a)x2; histories a:1, b:2; V=2
    lp_ab = math.log((1 + 0.5) / (1 + 0.5 * 2))
    lp_ba = math.log((2 + 0.5) / (2 + 0.5 * 2))
    m1 = round((lp_ab + lp_ba) / 2, 6)
    m2 = round(lp_ba, 6)
    assert rows[1]["n_bigrams"] == 2 and rows[1]["mean_logprob"] == m1
    assert rows[2]["n_bigrams"] == 1 and rows[2]["mean_logprob"] == m2
    assert rows[1]["perplexity"] == round(math.exp(-m1), 4)


def test_oov_rate_vocab_boundary(spark):
    """k covering the whole vocabulary -> zero OOV everywhere; k=1
    keeps only the most frequent token in-vocab (ties by token asc)."""
    df = spark.createDataFrame(
        [(1, "x x y"), (2, "y z"), (3, "x")], "doc_id long, text string"
    )
    full = {r["doc_id"]: r for r in curation.oov_rate(df, k=10).collect()}
    assert all(r["n_oov"] == 0 and r["oov_frac"] == 0.0 for r in full.values())
    # counts: x=3, y=2, z=1 -> k=1 vocab = {x}
    k1 = {r["doc_id"]: r for r in curation.oov_rate(df, k=1).collect()}
    assert k1[1]["n_oov"] == 1 and k1[1]["oov_frac"] == round(1 / 3, 6)
    assert k1[2]["n_oov"] == 2 and k1[2]["oov_frac"] == 1.0
    assert k1[3]["n_oov"] == 0


def test_source_overlap_subset_and_disjoint(spark):
    """Identical gram sets score jaccard = containment = 1; a subset
    scores containment 1 with jaccard < 1; zero-overlap pairs are
    absent (inner gram join)."""
    df = spark.createDataFrame(
        [
            (1, "p q r s", "A"),
            (2, "p q r s", "B"),
            (3, "p q r s t u", "C"),
            (4, "m n o w", "D"),
        ],
        "doc_id long, text string, source string",
    )
    rows = {
        (r["source_a"], r["source_b"]): r
        for r in curation.source_overlap(df, n=2).collect()
    }
    ab = rows[("A", "B")]
    assert ab["jaccard"] == 1.0 and ab["containment"] == 1.0
    # A's 3 bigrams are a subset of C's 5
    ac = rows[("A", "C")]
    assert ac["containment"] == 1.0
    assert ac["jaccard"] == round(3 / 5, 6)
    assert ac["grams_a"] == 3 and ac["grams_b"] == 5
    # D shares nothing: no pair rows with D at all
    assert not any("D" in k for k in rows)


def test_bpe_train_adjacent_merge(spark):
    # "l l l l" inside one piece: greedy left-to-right must merge
    # non-overlapping ADJACENT occurrences in the same pass ("llll" ->
    # [ll, ll], not [ll, l, l]) — the half-consuming boundary encoding
    # this exercises is the correctness core of the trainer
    from docstrange_spark.operators import text_analysis as ta

    df = spark.createDataFrame(
        [(1, "llll llll xy"), (2, "llll xy")], "doc_id long, text string"
    )
    m = ta.bpe_train(df, n_merges=2).orderBy("rank").collect()
    # merge 1: (l, l) — counting sees ALL adjacent positions (3 per
    # "llll" piece x 3 pieces = 9); only merge APPLICATION is greedy
    # non-overlapping
    assert (m[0]["left_sym"], m[0]["right_sym"], m[0]["merged"]) == (
        "l", "l", "ll",
    )
    assert m[0]["pair_count"] == 9
    # merge 2: after [ll, ll], the pair (ll, ll) has count 3
    assert (m[1]["left_sym"], m[1]["right_sym"]) == ("ll", "ll")
    assert m[1]["pair_count"] == 3


def test_bpe_train_no_cross_symbol_false_match(spark):
    # symbols ["xa", "b"] must NOT match a merge pattern (a, b): the
    # doubled inner boundary makes "a<sep>b" unreachable inside
    # "xa<sep><sep>b"
    from docstrange_spark.operators import text_analysis as ta

    # "ab ab ab xab": merge 1 is (a, b); piece " xab" holds symbols
    # [' ', x, a, b] whose (a, b) pair ALSO counts — after merge 1 its
    # rep must contain symbol "ab" (merged in place), not a corrupted
    # "xab" fusion
    df = spark.createDataFrame(
        [(1, "ab ab ab xab")], "doc_id long, text string"
    )
    m = ta.bpe_train(df, n_merges=1).collect()
    assert (m[0]["left_sym"], m[0]["right_sym"]) == ("a", "b")
    # 3 standalone (piece "ab" twice + " ab"... pre-tokenizer: "ab",
    # " ab", " ab", " xab" -> (a,b) appears once per piece = 4
    assert m[0]["pair_count"] == 4


def test_filter_funnel_first_fail_attribution(spark):
    from docstrange_spark.operators import text_analysis as ta

    df = spark.createDataFrame(
        [
            (1, "one two"),                      # too_few_words
            (2, " ".join(["good"] * 25)),        # dominant_word (25 words)
            (3, " ".join(f"w{i}" for i in range(30))),  # kept
        ],
        "doc_id long, text string",
    )
    rows = {r["stage"]: r for r in ta.filter_funnel(df).collect()}
    assert rows["too_few_words"]["n_rejected"] == 1
    assert rows["too_few_words"]["n_in"] == 3
    # doc 2 fails repetitive_2grams BEFORE dominant_word in chain order
    assert rows["repetitive_2grams"]["n_rejected"] == 1
    assert rows["dominant_word"]["n_rejected"] == 0
    assert rows["dominant_word"]["n_out"] == 1


def test_boilerplate_lines_per_source_threshold(spark):
    from docstrange_spark.operators import curation as cu

    # "FOOTER" is in 2/2 docs of src_a (flagged) but 1/3 of src_b
    # (kept): the per-source relative threshold is the point
    df = spark.createDataFrame(
        [
            (1, "alpha\nFOOTER", "src_a"),
            (2, "beta\nFOOTER", "src_a"),
            (3, "gamma\nFOOTER", "src_b"),
            (4, "delta\nx", "src_b"),
            (5, "eps\ny", "src_b"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r["doc_id"]: r for r in cu.boilerplate_lines(
        df, min_frac=0.5, min_docs=2
    ).collect()}
    assert out[1]["clean_text"] == "alpha" and out[1]["n_boiler"] == 1
    assert out[3]["clean_text"] == "gamma\nFOOTER" and out[3]["n_boiler"] == 0
    # blank lines are never flagged even when universal
    df2 = spark.createDataFrame(
        [(1, "a\n\nb", "s"), (2, "c\n\nd", "s")],
        "doc_id long, text string, source string",
    )
    for r in cu.boilerplate_lines(df2, min_frac=0.5, min_docs=2).collect():
        assert r["n_boiler"] == 0 and "\n\n" in r["clean_text"]


def test_budget_select_boundary_cut(spark):
    from docstrange_spark.operators import curation as cu

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sel = cu.budget_select(docs, budget_tokens=1000).orderBy("cum_tokens")
    rows = sel.collect()
    assert rows, "budget 1000 should admit at least one doc"
    assert rows[-1]["cum_tokens"] <= 1000
    # cut is maximal: adding the next doc in quality order would exceed
    total = sum(r["n_tokens"] for r in rows)
    assert total == rows[-1]["cum_tokens"]
    # quality order is respected: qualities are non-increasing
    quals = [r["quality"] for r in rows]
    assert quals == sorted(quals, reverse=True)


def test_zipf_fit_exact_power_law(spark):
    from docstrange_spark.operators import curation as cu

    # synthetic corpus with counts ~ rank^-1 exactly: slope must read
    # close to -1 and r2 close to 1
    words = []
    for rank in range(1, 21):
        words += [f"w{rank:02d}"] * (2000 // rank)
    df = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id long, text string"
    )
    r = cu.zipf_fit(df, top_n=20).collect()[0]
    assert abs(r["slope"] + 1.0) < 0.02, r["slope"]
    assert r["r2"] > 0.999, r["r2"]
    assert r["n_types"] == 20 and r["top_n_used"] == 20


def test_token_drift_planted_movers(spark):
    """Side A over-represents 'alpha', side B 'beta' — they must rank
    as the top movers with opposite-sign deltas, and shares must be
    exact count ratios."""
    from pyspark.sql import functions as F

    rows = [(i, "alpha common word") for i in range(0, 10, 2)]
    rows += [(i, "beta common word") for i in range(1, 10, 2)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = curation.token_drift(df, F.col("doc_id") % 2 == 0, top_k=10)
    got = {r["token"]: r for r in out.collect()}
    # 5 docs x 3 tokens per side
    assert got["alpha"]["count_a"] == 5 and got["alpha"]["count_b"] == 0
    assert got["beta"]["count_a"] == 0 and got["beta"]["count_b"] == 5
    assert got["alpha"]["delta"] == round(5 / 15, 6)
    assert got["beta"]["delta"] == -round(5 / 15, 6)
    # alpha/beta tie on |delta| -> token asc tie-break
    assert {got["alpha"]["rank"], got["beta"]["rank"]} == {1, 2}
    assert got["alpha"]["rank"] == 1
    # balanced tokens have zero delta
    assert got["common"]["delta"] == 0.0 and got["word"]["delta"] == 0.0


def test_token_drift_null_side_counts_neither(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(0, "x y"), (1, "x z"), (None, "x poison")],
        "doc_id long, text string",
    )
    out = {r["token"]: r for r in curation.token_drift(
        df, F.col("doc_id") % 2 == 0, top_k=10).collect()}
    # the NULL-side doc's tokens appear in neither side's counts
    assert out["x"]["count_a"] == 1 and out["x"]["count_b"] == 1
    assert "poison" in out and out["poison"]["count_a"] == 0 \
        and out["poison"]["count_b"] == 0
