"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Built for web-corpus scale: every stage is relational (codegen'd JVM
expressions, shuffle only on the grouping keys) and cross-engine
deterministic — hashes are md5-hex (identical in Spark and DuckDB), so
the DuckDB oracle can verify every query bit-for-bit. At 100 TB the same
plans hold: shingle explosion is map-side, signatures aggregate with
partial (map-side combine) min/sum, and the LSH band join replaces the
quadratic all-pairs comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

MINHASH_K = 8  # 8 hash functions -> 4 bands × 2 rows (LSH)
LSH_BANDS = 4
# web-scale defaults: 128 hash functions, 32 bands × 4 rows — the
# precision/recall point production near-dup pipelines run at; the
# k=8 pair above stays as the cheap contract/oracle configuration
WEBSCALE_K = 128
WEBSCALE_BANDS = 32
# default hot-bucket cap for the clustering/incremental pipelines
DEFAULT_MAX_BUCKET = 1024


def exact_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup via hash-groupBy on normalized text. Map-side partial
    aggregation keeps the shuffle at one row per distinct hash."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    return (
        df.select(F.col(id_col).alias("doc_id"), F.md5(norm).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("dup_count"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


def shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3) -> DataFrame:
    """Word n-gram shingles, exploded: (doc_id, shingle), from the shared
    ``text_analysis.word_ngrams`` builder over the UNFILTERED token
    stream (parity with the signature oracle), no UDF. The input is
    ``spread`` first (guide §2.5): gram construction is the expensive
    map-side stage of every signature pass, and on a low-split input
    (single-row-group parquet) it would otherwise serialize onto one
    scan task."""
    from .partitioning import spread

    df = spread(df, id_col)
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_shingle_grams(F.col(text_col), n)).alias("shingle"),
    )


def _shingle_grams(text, n: int = 3):
    """Shingle array of a text column: word n-grams over the lowercased
    single-space split (empty below ``n`` tokens). Shared by the batch
    signatures and ``streaming.streaming_near_dup``."""
    from . import text_analysis

    return text_analysis.word_ngrams(F.split(F.lower(text), " "), n)


def _md5_hash(i: int, shingle):
    """Hash function ``i`` of the md5 MinHash scheme: the hex
    ``md5(i || '|' || shingle)``; a signature coordinate is its min over
    a document's shingles."""
    return F.md5(F.concat(F.lit(f"{i}|"), shingle))


# modulus for the affine derived hashes: 2^31 - 1 (prime). The base
# hash is 32-bit (8 hex chars of md5) and the multipliers 28-bit
# (7 hex chars), so a_i*h < 2^60, far below 2^63 in both engines'
# BIGINT arithmetic. 32 bits of base hash push corpus-wide base-hash
# birthday collisions out to ~2^16 distinct shingles per COLLIDING
# PAIR probability of 2^-32 — a colliding pair correlates all k
# coordinates at once, so the base width (not k) sets the spurious-
# candidate precision floor; 28 bits hit that floor past ~2^14
# distinct shingles, 32 bits buys 16x more headroom at zero cost
KM_MOD = 2_147_483_647


def _affine_a(i: int) -> int:
    """Multiplier for affine hash i: 28 bits of md5('a|i'), forced odd
    (nonzero, coprime-ish spread). Both engines compute this same value."""
    import hashlib

    return int(hashlib.md5(f"a|{i}".encode()).hexdigest()[:7], 16) | 1


def _affine_b(i: int) -> int:
    import hashlib

    return int(hashlib.md5(f"b|{i}".encode()).hexdigest()[:7], 16)


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = MINHASH_K,
    scheme: str = "md5",
) -> DataFrame:
    """MinHash signature per document, wide layout mh0..mh{k-1}; one
    shuffle on doc_id with map-side partial mins.

    ``scheme="md5"`` (contract default): k independent hash functions as
    ``min(md5(i || '|' || shingle))`` — lexicographic min over hex,
    engine-portable, but k md5 computations per shingle.

    ``scheme="affine"`` (production/web-scale): ONE md5 per shingle
    yields a 32-bit base value h; hash i is the affine permutation
    ``(a_i*h + b_i) mod (2^31-1)`` with per-function constants a_i/b_i
    themselves md5-derived (both engines compute them; Catalyst
    constant-folds them) — the same construction Spark MLlib's
    MinHashLSH uses. ~k× cheaper at k=128 than k independent md5s, and
    unlike a Kirsch-Mitzenmacher LINEAR combination (h1 + i*h2, which
    we measured emitting 27× the candidate pairs because one shingle's
    minimum dominates many coordinates at once), the per-function
    multiplier reshuffles the shingle ordering independently per i.
    Identical arithmetic reproduces in DuckDB, so the oracle stays
    bit-exact; numeric mins also aggregate cheaper than 32-char string
    mins.

    Plan note: a shuffle-free variant (k× ``array_min(transform(...))``
    folds over the gram array, no explode/groupBy) measured ~1.8×
    SLOWER at sf0.1 for every (k, scheme) — per-row array allocation
    costs more than this shuffle, which moves only one k-int row per
    document thanks to map-side partial mins. Keep the explode."""
    if scheme not in ("md5", "affine"):
        raise ValueError(
            f"unknown minhash scheme {scheme!r}: expected 'md5' or 'affine'"
        )
    sh = shingles(df, id_col, text_col)
    if scheme == "affine":
        h = F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10).cast(
            "long"
        )
        proj = sh.select(
            "doc_id",
            *[
                ((F.lit(_affine_a(i)) * h + F.lit(_affine_b(i))) % F.lit(KM_MOD)).alias(
                    f"h{i}"
                )
                for i in range(k)
            ],
        )
    else:
        proj = sh.select(
            "doc_id",
            *[_md5_hash(i, F.col("shingle")).alias(f"h{i}") for i in range(k)],
        )
    return proj.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"mh{i}") for i in range(k)]
    )


def lsh_bands(sigs: DataFrame, bands: int = LSH_BANDS, k: int = MINHASH_K) -> DataFrame:
    """Band hashes from a wide signature frame: (doc_id, band, band_hash).
    Documents sharing any (band, band_hash) are near-dup candidates.
    Built as ONE projection + explode (a union of per-band selects would
    recompute the signature lineage once per band)."""
    if k % bands:
        raise ValueError(
            f"bands ({bands}) must divide k ({k}): a non-divisor would "
            "silently drop the trailing hash functions from banding"
        )
    rows_per_band = k // bands
    entries = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)],
                )
            ).alias("band_hash"),
        )
        for b in range(bands)
    ]
    return sigs.select("doc_id", F.explode(F.array(*entries)).alias("bh")).select(
        "doc_id", F.col("bh.band").alias("band"), F.col("bh.band_hash").alias("band_hash")
    )


def _all_pairs_in_buckets(buckets: DataFrame) -> DataFrame:
    """(band, band_hash, members array) -> every ordered pair, JVM-side."""
    return buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(members, (x, i) -> "
                "transform(slice(members, i + 2, size(members) - i - 1), "
                "y -> struct(x AS doc_a, y AS doc_b))))"
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")


def bucket_pairs(
    rows: DataFrame,
    keys: list[str],
    id_col: str,
    max_bucket_size: int | None = None,
    observation=None,
    out_a: str = "doc_a",
    out_b: str = "doc_b",
) -> DataFrame:
    """Generic within-bucket pair generation shared by the MinHash-band
    path and the embedding-LSH path: ``rows`` is (``keys``..., ``id_col``);
    output is the DISTINCT ordered pairs (``out_a`` < ``out_b``) sharing
    any bucket. JVM-side transform/slice expansion over sorted members;
    with ``max_bucket_size``, oversized buckets switch to lag-window
    chain pairing (component-preserving, linear output) and
    ``observation`` reports (oversized_member_rows, largest_bucket)."""
    base = rows.select(*keys, F.col(id_col).alias("_pid"))
    if max_bucket_size is None:
        buckets = (
            base.groupBy(*keys)
            .agg(F.sort_array(F.collect_list("_pid")).alias("members"))
            .where(F.size("members") > 1)
        )
        pairs = _all_pairs_in_buckets(buckets)
    else:
        w = Window.partitionBy(*keys)
        sized = base.withColumn("bsize", F.count("*").over(w))
        small_pairs = _all_pairs_in_buckets(
            sized.where(F.col("bsize").between(2, max_bucket_size))
            .groupBy(*keys)
            .agg(F.sort_array(F.collect_list("_pid")).alias("members"))
        )
        big = sized.where(F.col("bsize") > max_bucket_size)
        if observation is not None:
            big = big.observe(
                observation,
                F.count(F.lit(1)).alias("oversized_member_rows"),
                F.max("bsize").alias("largest_bucket"),
            )
        wchain = Window.partitionBy(*keys).orderBy("_pid")
        big_pairs = big.select(
            F.lag("_pid").over(wchain).alias("doc_a"),
            F.col("_pid").alias("doc_b"),
        ).where(F.col("doc_a").isNotNull())
        pairs = small_pairs.unionByName(big_pairs)
    return pairs.distinct().select(
        F.col("doc_a").alias(out_a), F.col("doc_b").alias(out_b)
    )


def check_max_hamming(max_hamming: int, n_words: int) -> None:
    """Reject a ``max_hamming`` outside the recall guarantee of
    :func:`banded_hamming_pairs` over ``n_words`` 32-bit words: with
    ``n_bands = 4 * n_words`` byte-bands, two signatures within hamming
    ``n_bands - 1`` must agree on at least one band (pigeonhole). Callers
    run it before touching their input."""
    n_bands = 4 * n_words
    if not 0 <= max_hamming < n_bands:
        raise ValueError(
            f"max_hamming must be in [0, {n_bands - 1}] for the "
            f"{n_bands}-band pigeonhole guarantee (got {max_hamming})"
        )


def banded_hamming_pairs(
    sigs: DataFrame,
    id_col: str,
    words: list[str],
    max_hamming: int,
    max_bucket_size: int | None = None,
    out_a: str = "doc_a",
    out_b: str = "doc_b",
) -> DataFrame:
    """Near-duplicate pairs over a one-row-per-id signature of
    non-negative 32-bit ``words`` columns: byte ``b`` of word ``w`` is
    band ``4w + b``; ids sharing ANY band pair up through
    :func:`bucket_pairs` (never all-pairs, ``max_bucket_size`` chain-caps
    degenerate bands), then an id-keyed join back to ``sigs`` keeps the
    pairs whose hamming distance — the sum of ``bit_count(xor)`` over
    the words, JVM-side — is ``<= max_hamming`` (a value that passed
    :func:`check_max_hamming`). Returns (``out_a``, ``out_b``,
    hamming), ``out_a`` < ``out_b``. SimHash passes one word, the image
    and audio signatures two."""
    bands = sigs.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(4 * w + b).alias("band"),
                        (F.floor(F.col(word) / (256**b)) % 256)
                        .cast("long")
                        .alias("v"),
                    )
                    for w, word in enumerate(words)
                    for b in range(4)
                ]
            )
        ).alias("bv"),
    ).select(id_col, "bv.band", "bv.v")
    pairs = bucket_pairs(
        bands, ["band", "v"], id_col, max_bucket_size=max_bucket_size,
        out_a=out_a, out_b=out_b,
    )

    def side(out: str) -> DataFrame:
        return sigs.select(
            F.col(id_col).alias(out),
            *[F.col(word).alias(f"{out}_{w}") for w, word in enumerate(words)],
        )

    terms = [
        F.bit_count(F.col(f"{out_a}_{w}").bitwiseXOR(F.col(f"{out_b}_{w}")))
        for w in range(len(words))
    ]
    ham = sum(terms[1:], terms[0]).cast("long")
    return (
        pairs.join(side(out_a), out_a)
        .join(side(out_b), out_b)
        .select(out_a, out_b, ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = None,
    observation=None,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    scheme: str = "md5",
) -> DataFrame:
    """Near-duplicate candidate pairs: bucket by (band, band_hash), emit
    ordered pairs within each bucket (distinct doc1 < doc2).

    One shuffle on the band key; pairs are generated JVM-side with
    transform/slice over the sorted bucket members — equivalent to the
    classic banded self-join but scanning the signature lineage once
    instead of twice.

    **Hot-bucket defusal** (``max_bucket_size``): a degenerate bucket —
    boilerplate-identical pages, empty documents — makes the quadratic
    pairing explode (a 10^6-member bucket is 5*10^11 pairs on one task).
    With a cap set, buckets above it switch to *chain pairing*: members
    are linked consecutively by a lag window (n-1 pairs, no collected
    array at all), which preserves the bucket's connected component for
    transitive dedup clustering while bounding output and memory
    linearly. No silent drops: pass a ``pyspark.sql.Observation`` to get
    (rows-in-oversized-buckets, largest bucket size) metrics from the
    run. Both branches filter the same window output, so the exchange on
    the band key is planned once (ReusedExchange).

    ``max_bucket_size=None`` keeps exact all-pairs semantics (the oracle
    configuration). ``k``/``bands`` pick the signature size and banding
    (``WEBSCALE_K``/``WEBSCALE_BANDS`` = the production 128/32 point);
    ``scheme="affine"`` switches to the one-md5-per-shingle affine-hash
    signatures (see ``minhash_signatures``)."""
    b = lsh_bands(
        minhash_signatures(df, id_col, text_col, k, scheme=scheme),
        bands=bands, k=k,
    )
    return bucket_pairs(
        b, ["band", "band_hash"], "doc_id",
        max_bucket_size=max_bucket_size, observation=observation,
    )


def incremental_candidate_pairs(
    new_docs: DataFrame,
    index_bands: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    scheme: str = "md5",
    max_bucket_size: int | None = None,
    max_index_bucket_size: int | None = None,
    observation=None,
    validate_index: bool = False,
) -> DataFrame:
    """Incremental near-dup candidates — the daily-ingest dedup shape:
    signatures/bands for the NEW batch are computed fresh (map-side) and
    probed against a PERSISTED band table of the existing corpus
    (``index_bands``: doc_id, band, band_hash — the output of
    ``lsh_bands`` materialized once), plus candidate pairs within the
    new batch itself. Returns distinct (doc_a, doc_b), doc_a < doc_b.
    Defaults produce EXACTLY the full-corpus candidate set restricted to
    pairs touching a new document (the oracle configuration).

    **The (k, bands, scheme) MUST match the configuration
    ``index_bands`` was built with** — a mismatch makes the
    (band, band_hash) equi-join silently near-empty. ``validate_index``
    adds a cheap guard (max band id == bands-1); it scans the index's
    band column, so leave it off in tight loops over a verified index.

    Hot-bucket defusal: the vs-index probe of a degenerate bucket
    expands to |new∩bucket| x |index∩bucket| rows on ONE task (a single
    join key is a single partition). ``max_index_bucket_size`` keeps
    only the N smallest index doc_ids per (band, band_hash) on the probe
    side — each colliding new doc still links to the bucket's
    representatives (the connected component survives for clustering)
    while the expansion is bounded; capped rows are reported through
    ``observation`` (index_rows_capped). ``max_bucket_size`` chain-caps
    the within-batch expansion exactly like ``lsh_candidate_pairs``.
    Both caps trade pair completeness for bounded work — keep them
    ``None`` when the pair list itself is the product."""
    nb = lsh_bands(
        minhash_signatures(new_docs, id_col, text_col, k, scheme=scheme),
        bands=bands, k=k,
    )
    # the new batch's band table feeds both the index probe and the
    # within-batch pairing — materialize it once
    nb = nb.localCheckpoint()
    idx = index_bands.select(
        F.col("doc_id").alias("idx_id"), "band", "band_hash"
    )
    if validate_index:
        got_max = idx.agg(F.max("band")).collect()[0][0]
        # an EMPTY index is valid (first-day ingest: only among-new
        # pairs); max() over zero rows is None, not a config mismatch
        if got_max is not None and got_max != bands - 1:
            raise ValueError(
                f"index_bands has max band id {got_max}, expected "
                f"{bands - 1}: the index was built with a different "
                "(k, bands, scheme) configuration"
            )
    if observation is not None and max_index_bucket_size is None and max_bucket_size is None:
        raise ValueError(
            "observation requires a cap to report on: set "
            "max_index_bucket_size and/or max_bucket_size (an observation "
            "attached to no plan would block .get forever)"
        )
    if max_index_bucket_size is not None:
        widx = Window.partitionBy("band", "band_hash").orderBy("idx_id")
        sized = idx.withColumn("rn", F.row_number().over(widx))
        if observation is not None:
            sized = sized.observe(
                observation,
                F.sum(
                    (F.col("rn") > max_index_bucket_size).cast("long")
                ).alias("index_rows_capped"),
            )
        idx = sized.where(F.col("rn") <= max_index_bucket_size).drop("rn")
    vs_index = (
        nb.join(idx, ["band", "band_hash"])
        .where(F.col("doc_id") != F.col("idx_id"))
        .select(
            F.least("doc_id", "idx_id").alias("doc_a"),
            F.greatest("doc_id", "idx_id").alias("doc_b"),
        )
    )
    among_new = bucket_pairs(
        nb, ["band", "band_hash"], "doc_id",
        max_bucket_size=max_bucket_size,
        # one Observation cannot attach to two plans: the index cap
        # claims it when both caps are set
        observation=observation if max_index_bucket_size is None else None,
    )
    return vs_index.unionByName(among_new).distinct()


def connected_components(
    vertices: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over a candidate-pair graph by iterative
    min-label propagation: every vertex converges to the smallest id
    reachable from it. Returns (doc_id, cluster_rep); singletons map to
    themselves — cluster_rep is the dedup keeper.

    Scale shape: each round is a neighbor-min join plus a POINTER-JUMP
    (label := label-of-label) — the classic shortcutting that makes
    min-label propagation converge in O(log diameter) rounds instead of
    O(diameter), which matters precisely because the chain-capped
    hot-bucket pairing emits PATHS (a 10k-member degenerate bucket is a
    diameter-9999 chain; plain propagation would need 9999 rounds,
    pointer jumping ~14). Per-round checkpointing cuts lineage so the
    plan stays constant-size; the loop stops at the first round with
    zero changes and RAISES if max_iter is hit still unconverged — never
    silently wrong labels.

    **Executor-loss contract** (``checkpoint_dir``): the default
    ``localCheckpoint`` stores the per-round blocks on executors only —
    fast, but on a real cluster an executor loss mid-loop kills the job
    (the blocks are gone and the lineage was already truncated) and the
    blocks pin executor memory for the loop's lifetime. Pass
    ``checkpoint_dir`` (an HDFS/S3 path at scale) to switch every round
    to *reliable* ``checkpoint()``: blocks land on fault-tolerant
    storage, executor loss is recoverable, memory is released. Each
    round checkpoints into its own subdirectory under a PER-INVOCATION
    namespace (``cc_<uuid>``), and the PREVIOUS round's subdirectory is
    deleted once the new round has materialized (Spark never
    garbage-collects reliable checkpoints on its own), so the store
    holds at most two rounds + the edge set instead of growing by ~3
    snapshots per round. The invocation namespace means two calls
    sharing one ``checkpoint_dir`` can never reclaim each other's live
    files; the final round's files (which back the returned lazy
    DataFrame) are intentionally left for the caller. The session-global
    checkpoint dir is restored on exit (back to unset when the session
    had none — no stray directory is left behind). Local mode and the
    oracles keep the default.

    NOT safe for CONCURRENT reliable-mode invocations in one
    SparkContext: ``setCheckpointDir`` is context-global, so a parallel
    thread's ``checkpoint()`` calls would land in whichever round
    directory was set last and may be reclaimed by the other run —
    serialize reliable CC runs per session (the namespace isolates
    deletes between sequential calls, not writes between concurrent
    ones)."""
    spark = vertices.sparkSession
    if checkpoint_dir is not None:
        import uuid as _uuid

        ns = f"{checkpoint_dir}/cc_{_uuid.uuid4().hex[:12]}"
        # save the session-global checkpoint dir to restore on exit
        # (setCheckpointDir is SparkContext-global)
        _saved = spark.sparkContext._jsc.sc().getCheckpointDir()

        def _set_round_dir(tag: str) -> None:
            spark.sparkContext.setCheckpointDir(f"{ns}/{tag}")

        def _rm_round_dir(tag: str) -> None:
            # Hadoop FS delete — works for file://, hdfs://, s3a:// alike
            jvm = spark._jvm
            path = jvm.org.apache.hadoop.fs.Path(f"{ns}/{tag}")
            fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
            fs.delete(path, True)

        def _restore_dir() -> None:
            if _saved.isDefined():
                spark.sparkContext.setCheckpointDir(_saved.get())
            else:
                # no prior dir: restore the true unset state. The Scala
                # side maps null through Option(directory) to None
                # without touching the filesystem — setting any real
                # path here would make Spark create a stray <uuid>/
                # subdirectory in the caller's checkpoint_dir.
                spark.sparkContext._jsc.sc().setCheckpointDir(None)

        _set_round_dir("edges")

        def _cp(df: DataFrame, eager: bool = True) -> DataFrame:
            # reliable mode stays eager: the round-dir reclamation below
            # assumes a round's files exist once _cp returns
            return df.checkpoint()

    else:

        def _set_round_dir(tag: str) -> None:
            pass

        def _rm_round_dir(tag: str) -> None:
            pass

        def _restore_dir() -> None:
            pass

        def _cp(df: DataFrame, eager: bool = True) -> DataFrame:
            # eager=False defers materialization to the NEXT action —
            # safe only when exactly one consumer triggers that action
            # (a lazy checkpoint referenced twice in one plan would
            # compute its lineage twice during materialization)
            return df.localCheckpoint(eager=eager)

    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    # lazy: round 0's stepped checkpoint is the first action touching
    # either frame and materializes both in that one job. edges is
    # referenced once per plan; labels twice (prop + the left side),
    # so its cheap one-projection lineage may run twice DURING that
    # single materialization — still strictly less work than a
    # dedicated eager job each (two fewer Spark jobs per invocation).
    edges = _cp(edges, eager=False)
    labels = _cp(
        vertices.select(F.col(id_col).alias("vid"), F.col(id_col).alias("label")),
        eager=False,
    )
    try:
        for round_no in range(max_iter):
            _set_round_dir(f"round_{round_no}")
            prop = (
                edges.join(labels, edges["src"] == labels["vid"])
                .groupBy("dst")
                .agg(F.min("label").alias("nl"))
            )
            stepped = (
                labels.join(prop, labels["vid"] == prop["dst"], "left")
                .select(
                    "vid",
                    F.least(
                        F.col("label"), F.coalesce(F.col("nl"), F.col("label"))
                    ).alias("label"),
                    F.col("label").alias("old_label"),
                )
            )
            # materialize before the pointer-jump self-join: both sides
            # of that join reference this frame, and uncheckpointed
            # lineage would re-execute the neighbor-min join twice
            stepped = _cp(stepped)
            # pointer jump: follow one indirection (labels are ids of
            # other vertices, whose labels are at least as small) —
            # halves the remaining path length every round
            lut = stepped.select(
                F.col("vid").alias("l_vid"), F.col("label").alias("l_label")
            )
            nxt = (
                stepped.join(lut, stepped["label"] == lut["l_vid"], "left")
                .select(
                    "vid",
                    F.least(
                        F.col("label"), F.coalesce(F.col("l_label"), F.col("label"))
                    ).alias("new_label"),
                    "old_label",
                )
            )
            # lazy: the convergence count right below is nxt's single
            # materializing action — one job instead of two per round
            nxt = _cp(nxt, eager=False)
            changed = nxt.where(F.col("new_label") != F.col("old_label")).count()
            labels = nxt.select("vid", F.col("new_label").alias("label"))
            # this round's checkpoints are materialized (checkpoint() is
            # eager); the previous round's files are dead — reclaim them
            if round_no > 0:
                _rm_round_dir(f"round_{round_no - 1}")
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds "
                "(component diameter too large) — raise max_iter"
            )
    finally:
        _restore_dir()
    return labels.select(
        F.col("vid").alias("doc_id"), F.col("label").alias("cluster_rep")
    )


def dedup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    observation=None,
    checkpoint_dir: str | None = None,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    scheme: str = "md5",
) -> DataFrame:
    """End-to-end near-dup clustering: MinHash-LSH candidate pairs →
    connected components → (doc_id, cluster_rep) for EVERY document
    (singletons are their own rep). The keeper-per-cluster output a
    dedup pipeline actually materializes.

    The hot-bucket cap defaults ON (``max_bucket_size=1024``): one
    degenerate band bucket (boilerplate-identical pages, empty docs)
    would otherwise emit a quadratic pair blowout on a single task at
    web scale. Chain pairing inside oversized buckets preserves each
    bucket's connected component exactly, so the CLUSTER OUTPUT IS
    IDENTICAL to the uncapped all-pairs configuration — which is why the
    recursive-closure oracle stays bit-green with the cap on. Pass
    ``max_bucket_size=None`` to force exact all-pairs candidate
    generation (useful when the pair list itself is the product), and
    ``checkpoint_dir`` for reliable checkpointing on real clusters (see
    ``connected_components``)."""
    pairs = lsh_candidate_pairs(
        df, id_col, text_col,
        max_bucket_size=max_bucket_size, observation=observation,
        k=k, bands=bands, scheme=scheme,
    )
    return connected_components(
        df.select(id_col), pairs, id_col, checkpoint_dir=checkpoint_dir
    )


def verified_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    scheme: str = "md5",
    max_bucket_size: int | None = None,
    observation=None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Verified near-dup clustering — the full production dedup shape:
    LSH candidate pairs → EXACT n-gram Jaccard re-rank → keep only pairs
    at/above ``jaccard_threshold`` → connected components. Where
    ``dedup_clusters`` clusters raw banding candidates (recall-oriented:
    any band collision links two docs), this verifies every edge before
    transitive closure, so an unlucky band collision between unrelated
    documents can never glue two clusters together. Returns
    (doc_id, cluster_rep) for every document.

    Scale notes:

    - the hot-bucket cap defaults OFF here, unlike ``dedup_clusters``,
      because it is NOT output-invariant under verification:
      verification is per-edge, so with a cap set a chain link that
      fails the Jaccard check can split a component that an all-pairs
      edge would have kept connected — and the bit-exact oracle covers
      the uncapped configuration. At corpus scale set
      ``max_bucket_size`` explicitly (quadratic bucket expansion is
      never acceptable there); for the truly degenerate buckets the cap
      exists for — (near-)identical boilerplate — chain links verify at
      Jaccard ≈ 1.0 and the component is preserved.
    - the candidate and verified pair lists are ``localCheckpoint``-ed:
      the Jaccard re-rank references the pair subtree several times and
      connected components references the verified edges twice, and
      uncheckpointed lineage would replan the minhash+banding subtree
      per reference.
    - the re-rank's semi-join is shuffle-based
      (``broadcast_relevant=False``): a corpus-scale candidate list must
      not be broadcast."""
    # lazy checkpoints (round 6): every reference shares the one
    # checkpointed RDD, so the first downstream action materializes
    # each frame exactly once — two fewer dedicated jobs than eager
    # (A/B'd: 10.1 s -> 9.3 s on the full corpus chain; making the
    # jaccard set table lazy as well measured WORSE and stays eager)
    pairs = lsh_candidate_pairs(
        df, id_col, text_col,
        max_bucket_size=max_bucket_size, observation=observation,
        k=k, bands=bands, scheme=scheme,
    ).localCheckpoint(eager=False)
    scored = jaccard_pairs(df, pairs, id_col, text_col, broadcast_relevant=False)
    verified = scored.where(F.col("jaccard") >= jaccard_threshold).select(
        "doc_a", "doc_b"
    ).localCheckpoint(eager=False)
    return connected_components(
        df.select(id_col), verified, id_col, checkpoint_dir=checkpoint_dir
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    broadcast_relevant: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard for given (doc_a, doc_b) pairs: distinct
    shingle sets joined through the pair list.

    ``broadcast_relevant=True`` broadcasts the distinct-touched-doc-id
    list into the semi-join — right when the pair list is small (a
    sampler, a re-rank of a modest candidate set). Set ``False`` when
    the candidate list itself is corpus-scale (a full web-dedup pass):
    the semi-join then shuffles both sides on doc_id instead of
    materializing the id set on every executor.

    Round-6 plan shape: each touched document's distinct shingle SET is
    aggregated once (``collect_set``, one exchange), the two sets join
    onto each pair by doc id, and the intersection is
    ``size(array_intersect(...))`` in the JVM. The previous exploded
    formulation shuffled individual (doc, shingle) rows through a
    shingle-equality join plus two size joins — 8 exchanges and a
    per-shingle join where this needs 4 exchanges and a per-pair array
    op. Identical output: intersection/union counts are exact integers
    either way, so round(j, 6) cannot drift. A document's shingle set
    is bounded by document length (the same bound the exploded join's
    per-doc groups had), never by corpus size."""
    # shingle only the documents the pair list touches (semi-join)
    relevant = (
        pairs.select(F.explode(F.array("doc_a", "doc_b")).alias(id_col)).distinct()
    )
    if broadcast_relevant:
        relevant = F.broadcast(relevant)
    df = df.join(relevant, id_col, "semi")
    sets = (
        shingles(df, id_col, text_col, n)
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("sh_set"))
    )
    # the set table feeds BOTH endpoint joins; uncheckpointed, Spark
    # re-executes the semi-join + shingle + collect_set lineage per
    # reference (verified in the plan: the whole subtree appeared twice)
    sets = sets.localCheckpoint(eager=True)
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("set_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("set_b"))
    n_inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    n_a = F.size("set_a")
    n_b = F.size("set_b")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                n_inter / (n_a + n_b - n_inter),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash (16-bit, engine-portable arithmetic)

_HEX = "0123456789abcdef"


def _hexval(c):
    return F.instr(F.lit(_HEX), c) - 1


def simhash16(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """16-bit SimHash over word tokens. The per-token hash value is the
    first 4 hex chars of md5 decoded with portable string arithmetic
    (instr on a hex alphabet), so DuckDB reproduces it exactly. One
    shuffle; 16 conditional sums with map-side partials."""
    return _simhash(df, 16, id_col=id_col, text_col=text_col)


def simhash32(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """32-bit SimHash (first 8 md5 hex chars per token) — the signature
    ``simhash_pairs`` bands over: 8-bit bands give 256 buckets per band
    instead of the 16-bit signature's 16, keeping band buckets
    candidate-sized. Same portable hex arithmetic as :func:`simhash16`."""
    return _simhash(df, 32, id_col=id_col, text_col=text_col)


def _simhash(df: DataFrame, bits: int, id_col: str, text_col: str) -> DataFrame:
    # deliberately NOT spread (guide §1.2 "measure first"): the per-token
    # work here is 16 conditional sums — measured 0.53 s single-task at
    # sf0.1 vs 1.35 s with the extra exchange (the exchange's fixed cost
    # exceeds the map work it parallelizes)
    n_hex = bits // 4
    toks = F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("tok")
    t = df.select(F.col(id_col).alias("doc_id"), toks)
    h = F.substring(F.md5(F.col("tok")), 1, n_hex)
    val = None
    for p in range(n_hex):
        # long arithmetic: at 8 hex chars the place value (16^7) times a
        # nibble overflows 32-bit ints under ANSI mode
        term = _hexval(F.substring(h, p + 1, 1)).cast("long") * F.lit(
            16 ** (n_hex - 1 - p)
        ).cast("long")
        val = term if val is None else val + term
    v = t.select("doc_id", val.alias("v"))
    bit_sums = [
        F.sum(
            F.when(F.floor(F.col("v") / (2**b)) % 2 == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    agg = v.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for b in range(bits):
        term = F.when(F.col(f"s{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return agg.select("doc_id", sim.cast("long").alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """SimHash near-duplicate candidate pairs, the second classic
    near-dup family next to MinHash-LSH (Charikar 2002 / Manku et al.'s
    simhash crawl-dedup, public knowledge): :func:`banded_hamming_pairs`
    over the one-word ``simhash32`` signature — 4 byte-bands, pair
    documents sharing ANY band, verify by exact hamming distance
    ``<= max_hamming``. The pigeonhole only guarantees recall up to
    hamming 3 (one flipped bit per byte shares no band), so
    ``max_hamming`` outside [0, 3] raises ``ValueError`` before ``df``
    is touched. Returns (doc_a, doc_b, hamming), doc_a < doc_b.

    Scale shape: one simhash aggregation shuffle, then the shared
    ``bucket_pairs`` band machinery (never all-pairs; ``max_bucket_size``
    chain-caps degenerate bands exactly like the MinHash path), then an
    id-keyed join back to the 1-row-per-doc signature table to compute
    hamming JVM-side — candidate-sized, not corpus-sized. At 10^12 docs
    a byte-band still buckets n/256 docs, so production runs SET
    ``max_bucket_size`` (and would widen to a 64-bit two-word signature
    with 8 bands, as the image and audio paths do).
    """
    check_max_hamming(max_hamming, 1)
    return banded_hamming_pairs(
        simhash32(df, id_col=id_col, text_col=text_col),
        "doc_id", ["simhash"], max_hamming, max_bucket_size,
    )


def lsh_eval(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tau: float = 0.5,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    scheme: str = "md5",
    n: int = 3,
) -> DataFrame:
    """Measure the MinHash-LSH configuration against exact ground
    truth: precision (candidate pairs that really have Jaccard >= tau)
    and recall (true near-dup pairs the banding surfaced) on an
    evaluation corpus — the "does the heuristic work" check that turns
    (k, bands) from folklore into a measured operating point.

    Ground truth is EXACT all-pairs n-gram Jaccard via a shingle
    inverted self-join — quadratic in per-shingle document frequency,
    so run it on an evaluation SAMPLE (the contract query samples
    doc_id % 13), never the full corpus; the candidate side is the
    production ``lsh_candidate_pairs`` plan on the same sample.
    Requires ``tau > 0`` (zero-overlap pairs carry no shingle join row
    and are true negatives by construction). Returns ONE row:
    (n_truth, n_candidates, true_pos, precision, recall).
    """
    if not tau > 0:
        raise ValueError(f"tau must be > 0 (got {tau})")
    cand = lsh_candidate_pairs(
        df, id_col=id_col, text_col=text_col, k=k, bands=bands, scheme=scheme
    )
    sh = shingles(df, id_col, text_col, n).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    x = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    y = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingle").alias("sh_b"))
    allp = (
        x.join(y, (F.col("shingle") == F.col("sh_b")) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    truth = (
        allp.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            )
            >= F.lit(float(tau))
        )
        .select("doc_a", "doc_b")
    )
    nt = truth.agg(F.count("*").cast("long").alias("n_truth"))
    nc = cand.agg(F.count("*").cast("long").alias("n_candidates"))
    tp = (
        cand.join(truth, ["doc_a", "doc_b"])
        .agg(F.count("*").cast("long").alias("true_pos"))
    )
    zero = F.lit(0.0)
    return (
        nt.crossJoin(nc)
        .crossJoin(tp)
        .select(
            "n_truth",
            "n_candidates",
            "true_pos",
            F.round(
                F.when(
                    F.col("n_candidates") > 0,
                    F.col("true_pos") / F.col("n_candidates"),
                ).otherwise(zero),
                6,
            ).alias("precision"),
            F.round(
                F.when(
                    F.col("n_truth") > 0, F.col("true_pos") / F.col("n_truth")
                ).otherwise(zero),
                6,
            ).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# Duplicate n-gram span dedup (exact-substring family)
# ---------------------------------------------------------------------------
# The relational re-expression of suffix-array exact-substring dedup
# (Lee et al. 2021, "Deduplicating Training Data Makes Language Models
# Better" — public knowledge): instead of a monolithic suffix array,
# fixed-length word n-grams are hashed and counted corpus-wide, and any
# occurrence of a gram seen >= min_count times marks its n-token span
# as duplicated. Overlapping spans are merged per document
# (gaps-and-islands over a doc-partitioned window, so the state is
# bounded by document length, never corpus size). This catches the
# copy-paste boilerplate/license/navigation text that MinHash (whole-
# document similarity) and paragraph dedup (exact paragraph hash) both
# miss: a 30%-quoted document is unique at both of those granularities.
#
# Scale shape: the gram count is one map-side-combinable groupBy on the
# gram string; marking is a shuffle hash join on gram (both sides huge
# -> no broadcast); the span merge and scrub are per-doc windows. At
# 100 TB the only super-linear risk would be a degenerate gram shared
# by most documents — bounded, because each occurrence contributes at
# most one row per (doc, start) regardless of the gram's corpus count.


def _gram_occurrences(df: DataFrame, id_col: str, text_col: str, n: int):
    """(doc_id, start, gram) for every word n-gram occurrence, start
    0-based over the nonempty-token stream (the shared tokenizer used
    by decontamination/phrase search, so gram spaces agree).

    ``base`` (the per-doc token table) is NOT spread — its consumers
    are cheap per-doc projections; only the gram explosion above it
    gets the §2.5 scan-parallelism floor."""
    from . import text_analysis
    from .partitioning import spread

    toks = text_analysis.nonempty_tokens(text_col)
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
    occ = spread(base, "doc_id").select(
        "doc_id",
        F.posexplode(text_analysis.word_ngrams(F.col("toks"), n)).alias(
            "start", "gram"
        ),
    )
    return base, occ


def _dup_grams(occ: DataFrame, min_count: int) -> DataFrame:
    """The occurrences of every gram seen ``min_count`` or more times
    corpus-wide: a count window over the gram-keyed exchange rather than
    a count aggregation joined back — the join formulation referenced
    the gram-explosion lineage twice (Spark re-executes it per reference
    — 12 exchanges in the measured plan), the window references it once.
    A degenerate gram's partition is processed by the sort-based window
    (spillable rows, no collected array), the same boundedness the join
    had."""
    return (
        occ.withColumn("_ot", F.count("*").over(Window.partitionBy("gram")))
        .where(F.col("_ot") >= min_count)
        .drop("_ot")
    )


def dup_ngram_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Per-document duplicated-span statistics: (doc_id, n_tokens,
    n_grams, n_dup_grams, dup_tokens, dup_fraction). A gram is
    duplicated when its corpus-wide occurrence count (within-doc
    repeats included, matching exact-substring semantics) reaches
    ``min_count``; dup_tokens is the size of the UNION of the marked
    n-token spans (overlaps merged via the doc-partitioned window), so
    it never exceeds n_tokens. The duplicated grams come from
    :func:`_dup_grams`."""
    base, occ = _gram_occurrences(df, id_col, text_col, n)
    marked = _dup_grams(occ, min_count)
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_end = F.max(F.col("start") + n).over(w_prev)
    covered = F.greatest(
        F.lit(0),
        F.col("start")
        + F.lit(n)
        - F.greatest(F.col("start"), F.coalesce(prev_end, F.lit(0))),
    )
    per_dup = (
        marked.withColumn("cov", covered)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_dup_grams"),
            F.sum("cov").cast("long").alias("dup_tokens"),
        )
    )
    per_doc = base.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.greatest(F.lit(0).cast("long"), F.size("toks") - F.lit(n - 1))
        .cast("long")
        .alias("n_grams"),
    )
    return per_doc.join(per_dup, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "n_grams",
        F.coalesce(F.col("n_dup_grams"), F.lit(0).cast("long")).alias(
            "n_dup_grams"
        ),
        F.coalesce(F.col("dup_tokens"), F.lit(0).cast("long")).alias(
            "dup_tokens"
        ),
        F.when(
            F.col("n_tokens") > 0,
            F.round(
                F.coalesce(F.col("dup_tokens"), F.lit(0).cast("long"))
                / F.col("n_tokens"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_fraction"),
    )


def dup_span_scrub(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Remove every duplicated n-gram span and rebuild the text from
    the surviving tokens: (doc_id, clean_text, n_tokens, kept_tokens,
    removed_tokens). clean_text is the kept token stream re-joined with
    single spaces (the tokenizer's normal form — whitespace runs do not
    survive a token-level scrub). Docs whose every token is covered
    come back with clean_text = ''.

    The scrub works on distinct covered POSITIONS (explode each marked
    span to its n positions, distinct) rather than merged intervals:
    the per-doc position set is bounded by document length, and the
    anti-join keeps token reassembly a single doc-keyed aggregation.
    The duplicated grams come from :func:`_dup_grams`."""
    base, occ = _gram_occurrences(df, id_col, text_col, n)
    marked = _dup_grams(occ, min_count)
    covered_pos = marked.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("start"), F.col("start") + F.lit(n - 1))
        ).alias("pos"),
    ).distinct()
    tok_pos = base.select(
        "doc_id", F.posexplode("toks").alias("pos", "tok")
    )
    kept = (
        tok_pos.join(covered_pos, ["doc_id", "pos"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "tok"))
                    ),
                    lambda s: s["tok"],
                ),
            ).alias("clean_text"),
            F.count("*").cast("long").alias("kept_tokens"),
        )
    )
    per_doc = base.select(
        "doc_id", F.size("toks").cast("long").alias("n_tokens")
    )
    return per_doc.join(kept, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        "n_tokens",
        F.coalesce(F.col("kept_tokens"), F.lit(0).cast("long")).alias(
            "kept_tokens"
        ),
        (
            F.col("n_tokens")
            - F.coalesce(F.col("kept_tokens"), F.lit(0).cast("long"))
        ).alias("removed_tokens"),
    )


def keep_best_per_cluster(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Canonical-document selection over the verified near-dup
    clusters: within each cluster keep the highest-quality member
    (quality desc, then doc_id asc tie-break) — the production policy
    that beats verified_clusters' min-id representative when the
    near-dups differ in extraction quality (a clean page and its
    ad-cluttered mirror dedup to the CLEAN one). Returns every document
    as (doc_id, cluster_rep, n_members, quality, keep); filter on
    ``keep`` for the survivor set.

    Scale shape: the clustering is verified_clusters unchanged (LSH →
    exact-Jaccard → components); quality is a pure projection joined on
    doc_id; the best-member pick is one row_number window PARTITIONED
    by cluster (clusters are small after verification — the window
    never sees a corpus-wide partition)."""
    from docstrange_spark.operators import text_analysis

    clusters = verified_clusters(
        df,
        id_col=id_col,
        text_col=text_col,
        jaccard_threshold=jaccard_threshold,
        max_bucket_size=max_bucket_size,
    )
    q = text_analysis.quality_score(df, id_col=id_col, text_col=text_col)
    j = clusters.join(q.select("doc_id", "quality"), "doc_id")
    w = Window.partitionBy("cluster_rep").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    wc = Window.partitionBy("cluster_rep")
    return j.select(
        "doc_id",
        F.col("cluster_rep").cast("long").alias("cluster_rep"),
        F.count("*").over(wc).cast("long").alias("n_members"),
        "quality",
        (F.row_number().over(w) == 1).alias("keep"),
    )
