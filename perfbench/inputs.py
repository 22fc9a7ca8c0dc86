"""Seeded benchmark inputs, written once per (workload size, variant) into
a cache directory and never timed.

The engine only ever sees the generated parquet files. Every generator is
a pure function of its arguments, so the same seed always yields the same
bytes. A seed selects one of ``VARIANTS`` input variants (``seed %
VARIANTS``); each variant has its own stored golden digests.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VARIANTS = 16

# The span-table schema the engine reads (datagen.SPAN_SCHEMA_DDL).
SPAN_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("spans", pa.list_(pa.struct([
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]))),
])

# The documents table (doc_id, text, lang, source, n_chars) copies the
# shape of the sf0.1 ``documents`` table that BENCH/BASELINE.md's corpus
# figures use (5,000 rows). Each constant below is a measurement of that
# table:
# - words: drawn uniformly from these 30 (per-word counts 8,829-9,182 of
#   270,704); 26 of them are in datagen.VOCAB.
DOC_VOCAB = (
    "the", "fast", "key", "order", "sort", "table", "scan", "merge", "part",
    "window", "small", "hash", "join", "spark", "group", "query", "row",
    "data", "slow", "filter", "customer", "line", "batch", "value", "stream",
    "column", "a", "agg", "big", "vector",
)
# - length: a uniform whole number of words, 10-99 (quartiles 32/54/76)
MIN_WORDS, MAX_WORDS = 10, 99
# - near-duplicates: 250 rows (5%) are another row's text plus " dup";
#   that row is anywhere in the table (signed id gap quartiles -1167/+1248),
#   and 8 pairs of them copy the same row, so they are also exact duplicates
DUP_SHARE = 0.05
# - languages: en 41.2%, zh 15.1%, es 14.9%, fr 14.8%, de 14.0%
LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = (0.41, 0.14, 0.15, 0.15, 0.15)
# - sources: ``src{doc_id % 20}``, 250 rows each
N_SOURCES = 20
# The embeddings table copies the sf0.1 ``embeddings`` table (2,000 rows):
# unit vectors of dimension 64 with no cluster structure (same-label and
# different-label cosines both have median 0.00), labels uniform over 10.
EMB_DIM = 64
EMB_LABELS = 10


def variant_of(seed: int) -> int:
    return seed % VARIANTS


def _rng(variant: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([variant, stream])


def span_docs(n: int, variant: int, mega_every: int) -> pd.DataFrame:
    """Scaled span documents (~40 spans/doc, one 2000-span mega-document
    every ``mega_every`` docs), from the engine's own corpus generator."""
    from docstrange_spark import datagen

    return datagen.scale_pdf(np.arange(n), seed=1000 + variant, mega_every=mega_every)


def documents(n: int, variant: int) -> pd.DataFrame:
    """A documents table with the measured shape described above."""
    rng = _rng(variant, 1)
    vocab = np.array(DOC_VOCAB)
    lengths = rng.integers(MIN_WORDS, MAX_WORDS + 1, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    dups = rng.choice(n, int(n * DUP_SHARE), replace=False)
    srcs = (dups + rng.integers(1, n, len(dups))) % n  # any other row
    originals = [texts[s] for s in srcs]
    for i, text in zip(dups, originals):
        texts[i] = text + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_WEIGHTS),
        "source": [f"src{i % N_SOURCES}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(n: int, variant: int) -> pd.DataFrame:
    """Random unit vectors with random labels, as measured above."""
    rng = _rng(variant, 2)
    labels = rng.integers(0, EMB_LABELS, n)
    vecs = rng.normal(size=(n, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels.astype(np.int32),
    })


def query_plan(n_calls: int, variant: int, n_docs: int, n_vecs: int) -> list[dict]:
    """The closed-loop call list: call types cycle search_doc,
    search_passage, nav, knn; terms come from datagen.VOCAB, limited to
    the words the documents table holds so that every search has hits."""
    from docstrange_spark import datagen

    rng = _rng(variant, 3)
    vocab = [w for w in datagen.VOCAB if w in DOC_VOCAB]
    kinds = ("search_doc", "search_passage", "nav", "knn")
    plan = []
    for i in range(n_calls):
        kind = kinds[i % len(kinds)]
        call: dict = {"kind": kind}
        if kind in ("search_doc", "search_passage"):
            call["query"] = " ".join(rng.choice(vocab, 2, replace=False))
        elif kind == "nav":
            call["doc_id"] = str(int(rng.integers(0, n_docs)))
            call["query"] = str(rng.choice(vocab))
        else:
            call["ids"] = sorted(int(x) for x in rng.choice(n_vecs, 5, replace=False))
        plan.append(call)
    return plan


def _write(df: pd.DataFrame, path: str, schema: pa.Schema | None, files: int) -> None:
    os.makedirs(path)
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    step = -(-table.num_rows // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:03d}.parquet"))


def materialize(cache_dir: str, name: str, make, schema=None, files: int = 4) -> str:
    """Write ``make()`` as a parquet directory under ``cache_dir/name``
    once; later calls return the cached path. The rename makes a
    half-written directory invisible."""
    path = os.path.join(cache_dir, name)
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    _write(make(), tmp, schema, files)
    os.replace(tmp, path)
    return path
