"""Navigation operators N1-N9 over markdown documents.

Sections, search and document info are **relational** (pure DataFrame
ops: array transforms, windows, aggregates) — the oracle-checked form,
whole plan JVM-side in codegen. ``sections_relational`` is the one Spark
section derivation; the pure ``kernels.sections.split_sections`` is its
reference semantics and test oracle; both follow Python's header regex
and ``str.strip`` whitespace rules (``_WS`` spells them out for Java's
regex engine). Only the ops that are not
expressible relationally (greedy chunking, recursive hierarchy) run the
pure kernels inside mapInPandas. These operators are the corpus-scale
batch path; the MCP server (``serving.py``) answers per-document tools
on a document it already holds with the same pure kernels, no Spark job.

Reference semantics: ``/root/reference/mcp_server_module/server.py``
(section split :94-145, hierarchy :147-182, chunking :184-220, search
:265-296, summary :298-305, recommendation :307-337, doc stats :650-673).
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from docstrange_spark.kernels.sections import (
    build_tree,
    chunk_sections,
    set_token_counter,
    split_sections,
)

# The characters Python's ``\s`` and ``str.strip()`` treat as whitespace
# (``str.isspace``), as a Java regex class: Java's ``\s`` and Spark's
# ``trim`` cover only ASCII, so the kernel's header rule is spelled out.
# ``(?s)`` lets ``.`` match ``\r`` and the other Java line terminators,
# as Python's ``.`` does (lines hold no ``\n``).
_WS = (
    r"[\t\n\x{0b}\x{0c}\r\x{1c}-\x{1f} \x{85}\x{a0}\x{1680}"
    r"\x{2000}-\x{200a}\x{2028}\x{2029}\x{202f}\x{205f}\x{3000}]"
)
HEADER_REGEX = rf"(?s)^#{{1,6}}{_WS}+.+$"
_LEVEL_REGEX = rf"^(#{{1,6}}){_WS}"
# the header title with surrounding whitespace stripped, as
# ``HEADER_RE.match(line).group(2).strip()``
_TITLE_REGEX = rf"(?s)^#{{1,6}}{_WS}+(.*?){_WS}*\z"


# ---------------------------------------------------------------------------
# relational path (oracle-checkable)


def explode_lines(df: DataFrame, doc_col: str = "doc_id", text_col: str = "markdown") -> DataFrame:
    """(doc, line_no, line) — 0-based line numbers, the shared base of the
    relational navigation ops. Column pruning keeps the scan minimal."""
    return df.select(
        F.col(doc_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("line_no", "line"),
    )


def sections_relational(
    df: DataFrame, doc_col: str = "doc_id", text_col: str = "markdown"
) -> DataFrame:
    """Section table, computed **shuffle-free** as per-document array
    ops: split into lines, find header positions, slice each section's
    line range, explode. Section derivation is embarrassingly parallel
    per document, so the plan is scan -> project -> generate with ZERO
    exchanges (the previous posexplode + running-count window +
    group-agg formulation paid 3 exchanges for the same rows — removed
    in round 6, guide §2.4 "remove shuffles outright").

    Matches the MCP semantics of ``kernels.sections.split_sections``: a
    section spans its header line up to the line before the next
    header; pre-first-header lines belong to no section; a header-less
    document is one level-0 "Document Content" section covering every
    line; an exactly-empty document yields no section at all.

    The line array and header-position array are materialized as
    projection columns before the per-section transform so each is
    computed once per document (an inlined ``split`` inside the lambda
    would re-split per element).
    """
    base = df.select(
        F.col(doc_col).alias("doc_id"),
        F.col(text_col).alias("_md"),
        F.split(F.col(text_col), "\n").alias("_lines"),
    )
    lines = F.col("_lines")
    n_lines = F.size(lines)
    with_hdr = base.select(
        "doc_id",
        "_md",
        "_lines",
        # 1-based indices of header lines
        F.filter(
            F.sequence(F.lit(1), n_lines),
            lambda i: F.element_at(lines, i).rlike(HEADER_REGEX),
        ).alias("_hidx"),
    )
    hidx = F.col("_hidx")
    n_hdr = F.size(hidx)

    def _section(k):
        # k is 1-based over the header list
        start = F.element_at(hidx, k)
        end = F.when(k < n_hdr, F.element_at(hidx, k + 1) - 1).otherwise(
            n_lines
        )
        hline = F.element_at(lines, start)
        return F.struct(
            (k - 1).cast("int").alias("section_idx"),
            F.length(F.regexp_extract(hline, _LEVEL_REGEX, 1))
            .cast("int")
            .alias("level"),
            F.regexp_extract(hline, _TITLE_REGEX, 1).alias("title"),
            F.array_join(F.slice(lines, start, end - start + 1), "\n").alias(
                "content"
            ),
            (start - 1).cast("int").alias("start_line"),
            (end - 1).cast("int").alias("end_line"),
        )

    whole_doc = F.struct(
        F.lit(0).cast("int").alias("section_idx"),
        F.lit(0).cast("int").alias("level"),
        F.lit("Document Content").alias("title"),
        # every line joined back = the original markdown
        F.col("_md").alias("content"),
        F.lit(0).cast("int").alias("start_line"),
        (n_lines - 1).cast("int").alias("end_line"),
    )
    secs = (
        F.when(n_hdr > 0, F.transform(F.sequence(F.lit(1), n_hdr), _section))
        .when(F.length("_md") > 0, F.array(whole_doc))
        .otherwise(F.array().cast(
            "array<struct<section_idx:int,level:int,title:string,"
            "content:string,start_line:int,end_line:int>>"
        ))
    )
    return with_hdr.select("doc_id", F.explode(secs).alias("_s")).select(
        "doc_id",
        F.col("_s.section_idx").alias("section_idx"),
        F.col("_s.level").alias("level"),
        F.col("_s.title").alias("title"),
        F.col("_s.content").alias("content"),
        F.col("_s.start_line").alias("start_line"),
        F.col("_s.end_line").alias("end_line"),
        F.floor(F.length("_s.content") / 4).cast("int").alias("token_count"),
    )


def search_relational(
    df: DataFrame,
    query: str,
    doc_col: str = "doc_id",
    text_col: str = "markdown",
    case_sensitive: bool = False,
) -> DataFrame:
    """Substring search with ±2-line window context and enclosing-section
    attribution (N5).

    Round-6 plan shape: ONE exchange. The enclosing section of a line
    is by construction the nearest header line at-or-before it (sections
    tile the document from the first header to the end), so attribution
    is a ``last(header_title, ignorenulls)`` over the SAME per-document
    window the ±2-line context already needs — the previous formulation
    re-derived the whole section table (3 more exchanges) and attached
    it with a range join (guide §2.4: two operations keyed the same way
    share one exchange). Fallbacks match the section-table semantics
    exactly: a hit above the first header gets "Unknown Section"; a hit
    in a header-less non-empty document gets the "Document Content"
    whole-doc section; the one (empty) line of an empty document, which
    an empty query hits, belongs to no section."""
    lines = explode_lines(df, doc_col, text_col)
    w = Window.partitionBy("doc_id").orderBy("line_no")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy("doc_id")
    is_header = F.col("line").rlike(HEADER_REGEX)
    hdr_title = F.when(is_header, F.regexp_extract("line", _TITLE_REGEX, 1))
    ctx = lines.select(
        "doc_id",
        "line_no",
        "line",
        # concat_ws skips the NULLs lag/lead produce at document edges,
        # reproducing the shrinking rowsBetween(-2, 2) frame exactly
        F.concat_ws(
            "\n",
            F.lag("line", 2).over(w),
            F.lag("line", 1).over(w),
            F.col("line"),
            F.lead("line", 1).over(w),
            F.lead("line", 2).over(w),
        ).alias("context"),
        F.last(hdr_title, ignorenulls=True).over(wcum).alias("_sec"),
        F.max(is_header.cast("int")).over(wall).alias("_has_hdr"),
        F.count(F.lit(1)).over(wall).alias("_n_lines"),
    )
    needle = query if case_sensitive else query.lower()
    hay = F.col("line") if case_sensitive else F.lower(F.col("line"))
    return ctx.where(F.instr(hay, needle) > 0).select(
        "doc_id",
        (F.col("line_no") + 1).alias("line_number"),
        F.col("line").alias("line_content"),
        F.coalesce(
            F.col("_sec"),
            F.when(
                (F.col("_has_hdr") == 0)
                & ((F.col("_n_lines") > 1) | (F.length("line") > 0)),
                F.lit("Document Content"),
            ).otherwise(F.lit("Unknown Section")),
        ).alias("section"),
        "context",
    )


def search_over_sections(
    sections: DataFrame,
    query: str,
    case_sensitive: bool = False,
) -> DataFrame:
    """N5 production path: search a PRE-MATERIALIZED section table.

    ``search_relational`` is self-contained (re-derives sections from
    markdown: 4 exchanges + a range join); at corpus scale the section
    table is materialized once and queried many times, so this variant
    reconstructs lines from section content (line_no = start_line +
    position), carries the enclosing title with the row (NO join), and
    needs a single exchange (the per-doc context window). Context still
    crosses section boundaries because sections partition the document's
    lines contiguously. Covers sectioned content — identical to
    ``search_relational`` for any document whose first line is a header
    (pre-first-header lines belong to no section in MCP semantics).
    """
    lines = sections.select(
        "doc_id",
        F.col("title").alias("section"),
        "start_line",
        F.posexplode(F.split("content", "\n")).alias("rel", "line"),
    ).withColumn("line_no", F.col("start_line") + F.col("rel"))
    w = Window.partitionBy("doc_id").orderBy("line_no")
    # lag/lead + concat_ws (NULLs skipped at edges) instead of a
    # collect_list frame: same bytes, no per-row array materialization
    ctx = lines.withColumn(
        "context",
        F.concat_ws(
            "\n",
            F.lag("line", 2).over(w),
            F.lag("line", 1).over(w),
            F.col("line"),
            F.lead("line", 1).over(w),
            F.lead("line", 2).over(w),
        ),
    )
    needle = query if case_sensitive else query.lower()
    hay = F.col("line") if case_sensitive else F.lower(F.col("line"))
    return ctx.where(F.instr(hay, needle) > 0).select(
        "doc_id",
        (F.col("line_no") + 1).alias("line_number"),
        F.col("line").alias("line_content"),
        "section",
        "context",
    )


def doc_info_relational(sections: DataFrame) -> DataFrame:
    """N9: per-document token distribution over the section table."""
    return sections.groupBy("doc_id").agg(
        F.count("*").alias("n_sections"),
        F.min("token_count").alias("min_tokens"),
        F.max("token_count").alias("max_tokens"),
        F.avg("token_count").alias("avg_tokens"),
        F.sum("token_count").alias("total_tokens"),
    )


def recommendation_col(total_tokens_col: str = "total_tokens"):
    """N7: context-size bucket as a column expression."""
    c = F.col(total_tokens_col)
    return (
        F.when(c < 8000, F.lit("full_document"))
        .when(c < 32000, F.lit("full_document_or_chunked"))
        .when(c < 128000, F.lit("chunked_processing"))
        .otherwise(F.lit("hierarchical_navigation"))
    )


def section_summary_col(content_col: str = "content", max_length: int = 200):
    """N6: truncate-with-ellipsis as a column expression."""
    c = F.trim(F.col(content_col))
    return F.when(F.length(c) <= max_length, c).otherwise(
        F.concat(F.substring(c, 1, max_length), F.lit("..."))
    )


# ---------------------------------------------------------------------------
# kernel path (not expressible relationally)


CHUNK_SCHEMA = (
    "doc_id string, chunk_idx int, start_index int, end_index int, "
    "token_count int, titles array<string>"
)


def _chunks_kernel(max_tokens: int, token_mode: str = "approx"):
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        set_token_counter(token_mode)  # executes ON the worker
        for pdf in batches:
            rows = []
            for doc_id, md in zip(pdf["doc_id"], pdf["markdown"]):
                secs = split_sections(md or "")
                for i, ch in enumerate(chunk_sections(secs, max_tokens)):
                    rows.append(
                        (doc_id, i, ch["start_index"], ch["end_index"],
                         ch["token_count"], [s["title"] for s in ch["sections"]])
                    )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "chunk_idx", "start_index", "end_index",
                         "token_count", "titles"],
            )

    return run


def chunks_kernel(
    df: DataFrame, max_tokens: int = 4000, token_mode: str = "approx"
) -> DataFrame:
    """N4: greedy token-bounded chunk packing (not expressible as a
    window — the accumulator resets on overflow)."""
    return df.select("doc_id", "markdown").mapInPandas(
        _chunks_kernel(max_tokens, token_mode), schema=CHUNK_SCHEMA
    )


def _hierarchy_kernel(batches: Iterator[pd.DataFrame], token_mode: str = "approx") -> Iterator[pd.DataFrame]:
    set_token_counter(token_mode)  # executes ON the worker
    for pdf in batches:
        out = []
        for doc_id, md in zip(pdf["doc_id"], pdf["markdown"]):
            tree = build_tree(split_sections(md or ""))
            out.append((doc_id, json.dumps(tree, ensure_ascii=False, sort_keys=True)))
        yield pd.DataFrame(out, columns=["doc_id", "hierarchy"])


def hierarchy_kernel(df: DataFrame, token_mode: str = "approx") -> DataFrame:
    """N3: recursive hierarchy tree as a JSON column."""
    return df.select("doc_id", "markdown").mapInPandas(
        lambda b: _hierarchy_kernel(b, token_mode),
        schema="doc_id string, hierarchy string",
    )
