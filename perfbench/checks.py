"""Output checks: order-independent digests compared with stored goldens,
and the paper's span-sequence invariant against the pure kernels."""

from __future__ import annotations

import hashlib
import json
import time

import pandas as pd
import pyarrow.parquet as pq

EXTRACT_FORMATS = ("json", "html", "csv")


def digest_parquet(path: str) -> str:
    """Digest of the row multiset of a parquet directory, independent of
    row order and file layout: the row count and the sum of DuckDB's
    64-bit hash of every row (all columns)."""
    import duckdb

    with duckdb.connect() as con:
        n, total = con.execute(
            "SELECT count(*), sum(hash(t)::HUGEINT)::VARCHAR "
            f"FROM read_parquet('{path}/*.parquet') t"
        ).fetchone()
    return f"{n}:{total}"


def digest_obj(obj) -> str:
    return hashlib.md5(json.dumps(obj, sort_keys=True, ensure_ascii=False).encode()).hexdigest()


def kernel_reference(pdf: pd.DataFrame) -> pd.DataFrame:
    """The pure pandas kernels of ``docstrange_spark/kernels/`` run in this
    process: span assembly plus the three renditions of
    ``--output-format all``."""
    from docstrange_spark.kernels import mdcsv, mdhtml, mdjson
    from docstrange_spark.kernels.assembly import assemble_batch

    out = assemble_batch(pdf["doc_id"], pdf["spans"], build_spans=True)
    out["json"] = out["markdown"].map(
        lambda md: json.dumps(
            {**mdjson.parse_markdown(md), "format": "structured_json"},
            ensure_ascii=False,
            sort_keys=True,
        )
    )
    out["html"] = out["markdown"].map(mdhtml.markdown_to_html_page)
    out["csv"] = out["markdown"].map(mdcsv.markdown_to_csv)
    return out


SPAN_KEYS = ("kind", "text", "media_ref", "offset")


def span_invariant(sample: pd.DataFrame, out_path: str) -> tuple[int, float]:
    """Compare the engine's output for the sampled docs with the pure
    kernels: span-sequence equality on (kind, text, media_ref, order)
    plus every other output column. Returns (mismatched docs, seconds the
    pure kernels took single-threaded)."""
    t0 = time.perf_counter()
    ref = kernel_reference(sample)
    kernel_s = time.perf_counter() - t0
    ids = list(sample["doc_id"])
    got = pq.read_table(out_path, filters=[("doc_id", "in", ids)]).to_pylist()
    got_by_id = {r["doc_id"]: r for r in got}
    bad = 0
    for r in ref.to_dict("records"):
        g = got_by_id.get(r["doc_id"])
        if g is None:
            bad += 1
            continue
        want_spans = [tuple(s[k] for k in SPAN_KEYS) for s in r["out_spans"]]
        got_spans = [tuple(s[k] for k in SPAN_KEYS) for s in g["out_spans"]]
        same = want_spans == got_spans and all(
            g[c] == r[c] for c in ("markdown", "n_blocks", "profile", *EXTRACT_FORMATS)
        )
        bad += not same
    return bad, kernel_s
