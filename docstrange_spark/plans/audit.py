"""Regenerate PLANS.md: the physical-plan audit of every contract query.

Run from the repo root::

    python -m docstrange_spark.plans.audit [--sf-dir /root/testdata/sf0.001]

For each ``queries()`` entry (plus ``entry``) it records shuffle
exchanges, Python stages, whole-stage-codegen regions and oracle
coverage against the live executed plan — the feedback loop for "is
this the plan I'd want at 100×".
"""

from __future__ import annotations

import argparse

HEADER = """# PLANS — physical-plan audit of every contract query

Generated by `python -m docstrange_spark.plans.audit` against {sf} on
local[8]. Columns: shuffle exchanges, Python stages
(mapInPandas/ArrowEval), whole-stage-codegen regions, lambda bodies in
the optimized plan that call `split(` (each re-tokenizes its input once
per array element; 0 everywhere is the goal), oracle-checked.
Python stages appear exactly where a kernel is intended (spanize +
extraction = 2; fused renditions add ZERO extra Python stages — they
run inside the extraction kernel's worker); every relational operator
runs fully JVM-side. Self-contained contract queries re-derive the
markdown inline; a production pipeline materializes it once (as
bench.py does) and downstream plans shrink accordingly
(`search_over_sections`: 1 exchange, no join).

| query | shuffles | python stages | codegen regions | lambda splits | oracle |
|---|---|---|---|---|---|
"""

NOTES = """
Notes:
- `jaccard_sample`'s exchanges are all over the ~6 sampled pairs'
  shingle sets: the pair list is pre-materialized as a bounded local
  relation (orderBy + LIMIT 1000) and the corpus is semi-joined down to
  the paired docs before shingling, so every exchange moves a few
  hundred rows. Exact pairwise Jaccard is inherently multi-join; the
  scale path for corpus-wide near-dup is `lsh_pairs` + jaccard re-rank
  on candidates only, with `max_bucket_size` chain-capping degenerate
  buckets.
- `search` (4 exchanges) re-derives sections inline for
  self-containment; the production path is `search_over_sections` over
  a materialized section table — 1 exchange, no join (plan-asserted in
  tests/test_search_path.py).
- `knn_lsh`'s single Python stage is the bucket UDF (one vectorized
  X @ P.T per Arrow batch); candidate scoring and re-rank stay JVM-side.
- `dedup_clusters` / `corpus_filter` rows show only the FINAL assembled
  frame (a localCheckpoint scan): the iterative min-label clustering
  executes ~3 shuffles + a count action per round in driver-coordinated
  jobs beforehand (O(log diameter) rounds via pointer jumping) — the
  audited numbers deliberately exclude that staged work.
- Two-phase sharded top-k: `source_cap`, `top_vocabulary`,
  `token_drift`, `bm25_search` and `bpe_pair_counts` all rank through
  the one helper `operators.partitioning.sharded_top_k`. Phase 1 ranks
  WITHIN `n_shards` md5 hash shards (distributed window, row_number
  <= k per shard), phase 2 re-ranks only the <= n_shards*k survivors
  (`source_cap` per source; the others on a single partition,
  `Window.partitionBy(lit(0))`). That trailing single-partition
  WindowExec is bounded BY CONSTRUCTION — at n_shards=32, k=1000 it
  sorts at most 32k rows regardless of corpus size — so it is not a
  global-sort bottleneck at 100x. Catalyst folds the lit(0) key away,
  so `session.get_spark` demotes Spark's "No Partition Defined for
  Window" warning at the logger instead.
- `bm25_search` / `passage_search` (1 hash exchange): no posting
  table. One per-document projection binds the token array once and
  emits the length plus one tf column per query term; a 1-row global
  aggregate (N, total length, one df per term; a SinglePartition
  exchange, not counted above) joins back as a broadcast, and the score
  is computed in the same projection. The one hash exchange is the
  sharded top-k's phase-1 shard window.
- `dup_ngram_stats` / `dup_span_scrub` (exact-substring family): the
  duplicated-gram filter is a count window over the single gram-keyed
  exchange (round 6 — the earlier count-aggregate + marking join
  referenced the gram-explosion lineage twice); the span merge /
  position scrub windows partition by doc_id, so per-task state is
  bounded by document length at any corpus size.
- `semantic_dedup`'s Python stages are the IVF-cell assignment UDF
  (one vectorized X @ C.T per Arrow batch, same kernel as `knn_ivf`)
  and the round-6 per-cell scoring kernel (applyInPandas; each vector
  crosses the cell shuffle once, pairwise cosines vectorized with
  fold-order-exact accumulation), with `max_cell_size` chain-capping
  degenerate cells like the LSH hot-bucket path.
"""


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default="PLANS.md")
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from docstrange_spark import plans
    from docstrange_spark.session import get_spark

    spark = get_spark(app_name="plan_audit", cores=8, shuffle_partitions=8)
    oracles = set(entry_mod.oracle_sql())
    rows = []
    for name, fn in sorted(entry_mod.queries().items()):
        df = fn(spark, args.sf_dir)
        df.collect()  # AQE finalizes the executed plan
        rows.append(
            (
                name,
                plans.count_exchanges(df),
                plans.count_python_stages(df),
                plans.whole_stage_codegen_spans(df),
                plans.lambda_splits(df),
                "yes" if name in oracles else "rows-only",
            )
        )
    edf = entry_mod.entry(spark)
    edf.collect()
    rows.append(
        (
            "(entry)",
            plans.count_exchanges(edf),
            plans.count_python_stages(edf),
            plans.whole_stage_codegen_spans(edf),
            plans.lambda_splits(edf),
            "smoke",
        )
    )
    with open(args.out, "w") as f:
        f.write(HEADER.format(sf=args.sf_dir))
        for r in rows:
            f.write("| {} | {} | {} | {} | {} | {} |\n".format(*r))
        f.write(NOTES)
    print(f"wrote {args.out} ({len(rows)} plans)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
