"""The extraction pipeline: span table -> markdown + block stream
(+ optionally fused renditions).

One plan, three scale mechanisms (the north rule's
partitioning/shuffle/skew clause):

- **salted repartition by xxhash64(doc_id)**: documents spread uniformly
  regardless of doc_id distribution, defusing producer skew (e.g. one
  crawl batch's docs landing in one input file);
- **span-budget batch slicing** (in-kernel): each Arrow batch is split so
  no kernel invocation holds more than ``MAX_BATCH_SPANS`` spans, and a
  single document over the budget is assembled in order-preserving
  segments — a mega-document costs a sequence of bounded invocations,
  not an OOM, at any ``maxRecordsPerBatch`` setting;
- **fused renditions**: ``formats=("json", ...)`` computes renditions
  inside the same Python worker as assembly; this kernel is the only
  producer of the rendition columns. Chaining a separate pandas UDF
  would double the Python processes per task (mapInPandas worker + UDF
  worker), oversubscribing CPUs at high parallelism — measured 2×
  slower at local[32] — and ships the markdown through Arrow twice.

The kernel is ``mapInPandas`` over Arrow batches — no per-row Python.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from docstrange_spark.kernels.assembly import (
    DROP_KINDS,
    KNOWN_KINDS,
    TABLE_REF_RE,
    assemble_batch,
    profile_of,
)


def _tid_of(media_ref: str | None) -> int:
    """Table id exactly as the assembly kernel derives it (regex match,
    -1 on no-match — mirrors to_numeric(...).fillna(-1))."""
    m = TABLE_REF_RE.match(media_ref or "")
    return int(m.group(3)) if m else -1

BASE_SCHEMA = (
    "doc_id string, markdown string, "
    "out_spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
    "n_blocks int, profile string"
)

# the doc_meta field spec — single source of truth for the fused-kernel
# DDL and the kernel's dict extraction
META_FIELDS: tuple[tuple[str, str, object], ...] = (
    ("total_sections", "int", 0),
    ("max_heading_level", "int", 0),
    ("has_tables", "boolean", False),
    ("has_code_blocks", "boolean", False),
    ("has_lists", "boolean", False),
    ("has_images", "boolean", False),
)

RENDITION_COLS = {
    "json": " json string",
    "html": " html string",
    "csv": " csv string",
    # processor-selected variants: R6 (GPU-badged page,
    # gpu_processor.py:60-78) and R7 (cloud flat-json envelope,
    # cloud_processor.py:168-175) as first-class fused renditions
    "html_gpu": " html_gpu string",
    "json_cloud": " json_cloud string",
    "meta": (
        " doc_meta struct<"
        + ",".join(f"{n}:{t}" for n, t, _ in META_FIELDS)
        + ">"
    ),
}

# rendition column emission order (schema construction)
_FORMAT_ORDER = ("json", "html", "csv", "html_gpu", "json_cloud", "meta")

# max spans per kernel invocation (memory ceiling per Python worker)
MAX_BATCH_SPANS = 1 << 17


def _slice_by_span_budget(pdf: pd.DataFrame) -> Iterator[pd.DataFrame]:
    sizes = pdf["spans"].map(lambda s: len(s) if s is not None else 0)
    if sizes.sum() <= MAX_BATCH_SPANS:
        yield pdf
        return
    start = 0
    budget = 0
    for i, n in enumerate(sizes):
        if budget + n > MAX_BATCH_SPANS and i > start:
            yield pdf.iloc[start:i]
            start, budget = i, 0
        budget += n
    if start < len(pdf):
        yield pdf.iloc[start:]


# ---------------------------------------------------------------------------
# within-row segmentation: ONE document whose span count exceeds the
# budget is assembled in slices and merged order-preservingly, so a
# 10^6-span mega-doc costs a sequence of bounded kernel invocations
# instead of one worker-sized allocation. Cuts land only where the
# assembly's run-merge predicate is False (kind change, table id change,
# code fence change, text offset gap), so the segmented output is
# byte-identical to the unsegmented one. A single run larger than the
# budget forms one oversized slice (its semantics — smart join, grid
# pivot — need the whole run); markup documents are never segmented
# (the DOM walk needs the whole tag tree).


def _can_cut(prev: dict, cur: dict, layoutish: bool) -> bool:
    pk, ck = prev.get("kind"), cur.get("kind")
    if pk != ck:
        return True
    if ck in ("heading", "image", "link", "page_break"):
        return True  # singleton kinds never merge into runs
    if ck == "text":
        if not layoutish:
            return True  # direct/markup text spans never merge into runs
        return (cur.get("offset") or 0) != (prev.get("offset") or 0) + 1
    if ck == "table_cell":
        # cut only between tables — parsed with the SAME regex + -1
        # fallback as assembly's _tid column, else the predicates drift
        # (fuzz-found: an unparseable ref must compare equal to another
        # unparseable ref, exactly like to_numeric().fillna(-1))
        return _tid_of(prev.get("media_ref")) != _tid_of(cur.get("media_ref"))
    if ck == "code":
        return (prev.get("media_ref") or "") != (cur.get("media_ref") or "")
    return False  # list_item / blockquote runs and singleton kinds


def _segment_spans(spans: list, budget: int, layoutish: bool) -> Iterator[list]:
    """Slice a sorted span stream at positions where the assembly's
    run-merge predicate is False — evaluated on the EFFECTIVE stream the
    kernel sees: dropped kinds (script/style/tag_*) vanish before run
    grouping, so two run members separated only by dropped spans still
    merge (fuzz-found), and unknown kinds degrade to text."""
    ordered = sorted(spans, key=lambda s: s.get("offset") or 0)
    n = len(ordered)

    def _effective(s: dict) -> dict | None:
        k = s.get("kind")
        if k in DROP_KINDS:
            return None
        if k not in KNOWN_KINDS:
            return {**s, "kind": "text"}
        return s

    eff = [_effective(s) for s in ordered]
    # nearest effective span strictly before / at-or-after each position
    prev_eff: list[dict | None] = [None] * n
    last = None
    for i in range(n):
        prev_eff[i] = last
        if eff[i] is not None:
            last = eff[i]
    next_eff: list[dict | None] = [None] * n
    nxt = None
    for i in range(n - 1, -1, -1):
        if eff[i] is not None:
            nxt = eff[i]
        next_eff[i] = nxt

    start = 0
    for i in range(1, n):
        if i - start < budget:
            continue
        p, c = prev_eff[i], next_eff[i]
        if p is None or c is None or _can_cut(p, c, layoutish):
            yield ordered[start:i]
            start = i
    yield ordered[start:]


def _assemble_megadoc(
    doc_id: str, spans: list, build_spans: bool, budget: int
) -> pd.DataFrame:
    md_parts: list[str] = []
    spans_out: list[dict] = []
    n_blocks = 0
    profile = None
    layoutish = profile_of(doc_id) in ("layout", "ocr")
    for seg in _segment_spans(spans, budget, layoutish):
        part = assemble_batch(
            pd.Series([doc_id]), pd.Series([seg]), build_spans=build_spans
        )
        profile = part["profile"].iat[0]
        # gate on block count, NOT markdown truthiness: blocks with empty
        # text still occupy join positions (fuzz-found edge)
        if int(part["n_blocks"].iat[0]):
            md_parts.append(part["markdown"].iat[0])
        if build_spans:
            for sp in part["out_spans"].iat[0]:
                spans_out.append({**sp, "offset": n_blocks + sp["offset"]})
        n_blocks += int(part["n_blocks"].iat[0])
    out: dict = {"doc_id": [doc_id], "markdown": ["\n\n".join(md_parts)]}
    if build_spans:
        out["out_spans"] = [spans_out]
    out["n_blocks"] = [n_blocks]
    out["profile"] = [profile]
    return pd.DataFrame(out)


def _make_kernel(formats: tuple[str, ...] = (), include_spans: bool = True):
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # renditions imported lazily so the worker pays only for what it uses
        if formats:
            from docstrange_spark.kernels import mdcsv, mdhtml, mdjson

        def _finish(out: pd.DataFrame) -> pd.DataFrame:
            if {"json", "meta", "json_cloud"} & set(formats):
                # one parse per doc feeds the JSON rendition, the typed
                # metadata struct, AND the cloud envelope
                parsed = out["markdown"].map(mdjson.parse_markdown)
                if "json" in formats:
                    out["json"] = parsed.map(
                        lambda d: json.dumps(
                            {**d, "format": "structured_json"},
                            ensure_ascii=False,
                            sort_keys=True,
                        )
                    )
                if "json_cloud" in formats:
                    # R7: the cloud processor's flat-json result shape
                    # (cloud_processor.py:168-175) around the same parse
                    out["json_cloud"] = parsed.map(
                        lambda d: json.dumps(
                            {"document": d["document"], "format": "cloud_flat_json"},
                            ensure_ascii=False,
                            sort_keys=True,
                        )
                    )
                if "meta" in formats:
                    out["doc_meta"] = parsed.map(
                        lambda d: {
                            k: d["document"]["metadata"].get(k, dflt)
                            for k, _, dflt in META_FIELDS
                        }
                    )
            if "html" in formats or "html_gpu" in formats:
                # one page render feeds both the plain and badged variants
                pages = out["markdown"].map(mdhtml.markdown_to_html_page)
                if "html" in formats:
                    out["html"] = pages
                if "html_gpu" in formats:
                    # R6: the GPU processor's badged page
                    # (gpu_processor.py:60-78)
                    out["html_gpu"] = pages.map(mdhtml.add_gpu_badge)
            if "csv" in formats:
                out["csv"] = out["markdown"].map(mdcsv.markdown_to_csv)
            return out

        for pdf in batches:
            if not len(pdf):
                continue
            sizes = pdf["spans"].map(lambda s: len(s) if s is not None else 0)
            # within-row segmentation for mega docs (markup excluded:
            # the DOM walk needs the whole tag tree)
            is_mega = (sizes > MAX_BATCH_SPANS) & (
                pdf["doc_id"].map(profile_of) != "markup"
            )
            for _, row in pdf[is_mega].iterrows():
                yield _finish(
                    _assemble_megadoc(
                        row["doc_id"],
                        list(row["spans"]),
                        build_spans=include_spans,
                        budget=MAX_BATCH_SPANS,
                    )
                )
            normal = pdf[~is_mega]
            if not len(normal):
                continue
            for chunk in _slice_by_span_budget(normal):
                # include_spans=False skips building AND Arrow-shipping the
                # block stream (the fattest column) on the throughput path
                yield _finish(
                    assemble_batch(
                        chunk["doc_id"], chunk["spans"], build_spans=include_spans
                    )
                )

    return kernel


NOSPANS_SCHEMA = (
    "doc_id string, markdown string, n_blocks int, profile string"
)


def _schema_for(formats: tuple[str, ...], include_spans: bool = True) -> str:
    base = BASE_SCHEMA if include_spans else NOSPANS_SCHEMA
    return base + "".join(
        "," + RENDITION_COLS[f] for f in _FORMAT_ORDER if f in formats
    )


def extract(
    df: DataFrame,
    salt: bool = True,
    formats: tuple[str, ...] = (),
    include_spans: bool = True,
) -> DataFrame:
    """Run the extraction kernel over a span table
    ``(doc_id string, spans array<struct<...>>)``.

    Returns ``(doc_id, markdown, out_spans, n_blocks, profile[,
    renditions...])``. ``salt=False`` skips the xxhash64 repartition
    (the streaming caller, whose micro-batches are file-bounded).

    Measured cost structure at sf0.1/local[32] (medians): scan ~0.5s,
    +salt shuffle ~0.3s, a NO-OP pandas stage over the same input
    ~1.7s, the full fused kernel ~3.2s — i.e. roughly half the wall is
    the Arrow round-trip of the fat span column, not Python compute. A
    ``mapInArrow`` variant that flattens the ListArray without per-span
    dict materialization measured no better (2.0s for the no-op) on
    this host, so the pandas interface stays.
    """
    kernel = _make_kernel(formats, include_spans)
    schema = _schema_for(formats, include_spans)
    base = df.select("doc_id", "spans")
    if salt:
        n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        base = base.repartition(n_part, F.xxhash64("doc_id"))
    return base.mapInPandas(kernel, schema=schema)
