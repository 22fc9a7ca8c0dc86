"""Spanizer: deterministic (doc_id, text) -> span-stream bridge.

Turns a plain text corpus (the driver's ``documents`` table) into the
engine's interleaved span format with a fixed, SQL-reconstructible
layout, so the *whole extraction pipeline* can be verified end-to-end
against a DuckDB oracle:

- tokens = text split on single spaces;
- title  = first 3 tokens  -> ``heading`` span (h1);
- body   = remaining tokens in chunks of 12 -> one ``text`` span each;
- every 3rd paragraph is preceded by a ``## Part {k}`` heading span.

The resulting documents take the ``direct`` profile, so extraction
markdown is exactly::

    # {title}\n\n[## Part 1\n\n]para0\n\npara1\n\npara2\n\n## Part 2\n\n...

which a DuckDB query can rebuild with list/string functions.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from docstrange_spark.datagen import SPAN_SCHEMA_DDL

TITLE_TOKENS = 3
PARA_TOKENS = 12
PARAS_PER_PART = 3


def spanize_text(doc_id: str, text: str) -> list[dict]:
    toks = (text or "").split(" ")
    title = " ".join(toks[:TITLE_TOKENS])
    spans = [{"kind": "heading", "text": title, "media_ref": "h1", "offset": 0}]
    off = 1
    body = toks[TITLE_TOKENS:]
    for i in range(0, len(body), PARA_TOKENS):
        pidx = i // PARA_TOKENS
        if pidx % PARAS_PER_PART == 0:
            spans.append(
                {
                    "kind": "heading",
                    "text": f"Part {pidx // PARAS_PER_PART + 1}",
                    "media_ref": "h2",
                    "offset": off,
                }
            )
            off += 1
        spans.append(
            {
                "kind": "text",
                "text": " ".join(body[i : i + PARA_TOKENS]),
                "media_ref": "",
                "offset": off,
            }
        )
        off += 1
    return spans


TABLE_ROWS = 3
TABLE_COLS = 3


def spanize_tabular(doc_id: str, text: str) -> list[dict]:
    """Tabular bridge: first 9 tokens as a 3x3 table_cell grid under a
    heading — exercises the grid-pivot (O13/O14) and CSV-rendition (R5)
    paths end-to-end with a SQL-reconstructible layout. Missing tokens
    pad as ``v{i}``."""
    toks = (text or "").split(" ")
    spans = [
        {"kind": "heading", "text": f"Sheet {doc_id}", "media_ref": "h1", "offset": 0}
    ]
    for r in range(TABLE_ROWS):
        for c in range(TABLE_COLS):
            i = TABLE_ROWS * r + c
            tok = toks[i] if i < len(toks) else ""
            spans.append(
                {
                    "kind": "table_cell",
                    # empty cells would be dropped by the markdown table
                    # parser; pad so the layout is SQL-reconstructible
                    "text": tok if tok else f"v{i}",
                    "media_ref": f"r{r}:c{c}:t0",
                    "offset": 1 + i,
                }
            )
    return spans


def spanize_list(doc_id: str, text: str) -> list[dict]:
    """List bridge: first 4 tokens as a nested unordered pair + an
    ordered pair — exercises list rendering (ul/ol markers, indent)
    end-to-end, SQL-reconstructible. Missing/empty tokens pad as w{i}."""
    toks = (text or "").split(" ")

    def tok(i: int) -> str:
        return toks[i] if i < len(toks) and toks[i] else f"w{i}"

    return [
        {"kind": "heading", "text": f"List {doc_id}", "media_ref": "h2", "offset": 0},
        {"kind": "list_item", "text": tok(0), "media_ref": "ul:0", "offset": 1},
        {"kind": "list_item", "text": tok(1), "media_ref": "ul:1", "offset": 2},
        {"kind": "list_item", "text": tok(2), "media_ref": "ol:0:1", "offset": 3},
        {"kind": "list_item", "text": tok(3), "media_ref": "ol:0:2", "offset": 4},
    ]


# ---------------------------------------------------------------------------
# profile bridges: markup / layout / ocr / docx — deterministic span
# streams that route through the NON-direct kernel profiles with a
# SQL-reconstructible output, so boilerplate stripping, classification,
# smart join, OCR substitutions and the DOCX table cap all get DuckDB
# oracle rows (the round-1 gap: only the direct profile was oracle-
# checked end-to-end).


def spanize_markup_page(doc_id: str, num_id: int, text: str) -> list[dict]:
    """Full-page DOM bridge for the markup profile: head with <title>,
    <script> and <style> noise (O1 must drop them), a link-only nav div
    (boilerplate), and a main container holding the direct bridge's
    heading/para layout. Even ids get ``class=content`` (the reference's
    selector whitelist, url_processor.py:316-325); odd ids get
    ``class=post`` so selection falls through to the text-density vs
    link-density scorer. Both routes keep exactly the main container's
    spans, so the markdown equals the direct bridge's."""
    toks = (text or "").split(" ")
    title = " ".join(toks[:TITLE_TOKENS])
    main_cls = "content" if num_id % 2 == 0 else "post"

    def t(kind, text_, ref, off):
        return {"kind": kind, "text": text_, "media_ref": ref, "offset": off}

    spans = [
        t("tag_open", "html", "", 0),
        t("tag_open", "head", "", 1),
        t("tag_open", "title", "", 2),
        t("text", title, "", 3),
        t("tag_close", "title", "", 4),
        t("tag_open", "script", "", 5),
        t("text", "var x = 1;", "", 6),
        t("tag_close", "script", "", 7),
        t("tag_open", "style", "", 8),
        t("text", "body { color: red }", "", 9),
        t("tag_close", "style", "", 10),
        t("tag_close", "head", "", 11),
        t("tag_open", "body", "", 12),
        t("tag_open", "div", "class=nav", 13),
        t("link", "x", "#", 14),
        t("tag_close", "div", "", 15),
        t("tag_open", "div", f"class={main_cls}", 16),
    ]
    off = 17
    body = toks[TITLE_TOKENS:]
    for i in range(0, len(body), PARA_TOKENS):
        pidx = i // PARA_TOKENS
        if pidx % PARAS_PER_PART == 0:
            spans.append(
                t("heading", f"Part {pidx // PARAS_PER_PART + 1}", "h2", off)
            )
            off += 1
        spans.append(t("text", " ".join(body[i : i + PARA_TOKENS]), "", off))
        off += 1
    spans.append(t("tag_close", "div", "", off))
    spans.append(t("tag_close", "body", "", off + 1))
    spans.append(t("tag_close", "html", "", off + 2))
    return spans


def _nine_tokens(text: str, pad: str = "t") -> list[str]:
    toks = (text or "").split(" ")
    return [
        toks[i] if i < len(toks) and toks[i] else f"{pad}{i}" for i in range(9)
    ]


def spanize_layout_page(doc_id: str, text: str, noisy: bool = False) -> list[dict]:
    """Layout/OCR bridge: a page header plus five text runs that hit each
    classification branch (layout_detector.py:188-239) — an isolated
    ALL-CAPS heading, a 3-span smart-joined paragraph, a numbered list
    item, a pipe table row, and a period-terminated 2-word heading.
    ``noisy=True`` injects the '|','0','1' characters the OCR post-
    process (:172-186) must lossily substitute."""
    w = _nine_tokens(text)

    def t(text_, off):
        return {"kind": "text", "text": text_, "media_ref": "", "offset": off}

    if noisy:
        a = "|" + w[0].upper()
        b1, b2, b3 = w[1] + "0", w[2], w[3] + "1"
        c = "1. " + w[4]
        d = w[5] + " | " + w[6]
    else:
        a = w[0].upper()
        b1, b2, b3 = w[1], w[2], w[3]
        c = "1. " + w[4]
        d = w[5] + " | " + w[6]
    return [
        {"kind": "page_break", "text": "1", "media_ref": "page", "offset": 0},
        t(a, 2),
        t(b1, 4), t(b2, 5), t(b3, 6),  # consecutive offsets -> one run
        t(c, 8),
        t(d, 10),
        t(w[7] + ",", 12), t(w[8] + ".", 13),  # run -> "x, y." heading
    ]


DOCX_ROWS = 25
DOCX_COLS = 2


def spanize_docx_table(doc_id: str, text: str) -> list[dict]:
    """DOCX bridge: a 25x2 table (over the reference's 20-row cap,
    docx_processor.py:140-148) with one merged cell, so the truncation
    notice and merged-cell warning are both exercised. Cell (r, c) is
    token (2r + c) mod 9 of the padded 9-token list."""
    w = _nine_tokens(text)
    spans = [
        {"kind": "heading", "text": f"Doc {doc_id}", "media_ref": "h1", "offset": 0}
    ]
    for r in range(DOCX_ROWS):
        for c in range(DOCX_COLS):
            i = DOCX_COLS * r + c
            merged = ":m" if (r == 0 and c == 0) else ""
            spans.append(
                {
                    "kind": "table_cell",
                    "text": w[i % 9],
                    "media_ref": f"r{r}:c{c}:t0{merged}",
                    "offset": 1 + i,
                }
            )
    return spans


def spanize_pptx_deck(doc_id: str, text: str) -> list[dict]:
    """PPTX bridge (S11): a two-slide deck mirroring the reference's
    slide sectioning (pptx_processor.py:107-119 — ``## Slide {n}``
    headers with each shape's text as its own block). Slide 1 carries a
    title shape (h1 heading) and two body shapes; slide 2 carries one
    body shape and a two-item bullet list. Token layout is the padded
    9-token scheme shared with the layout/docx bridges, so a DuckDB
    oracle reconstructs the markdown exactly."""
    w = _nine_tokens(text)

    def t(kind, text_, ref, off):
        return {"kind": kind, "text": text_, "media_ref": ref, "offset": off}

    return [
        t("page_break", "1", "slide", 0),
        t("heading", f"Deck {doc_id}", "h1", 1),
        t("text", " ".join(w[0:3]), "", 2),
        t("text", " ".join(w[3:5]), "", 3),
        t("page_break", "2", "slide", 4),
        t("text", " ".join(w[5:7]), "", 5),
        t("list_item", w[7], "ul:0", 6),
        t("list_item", w[8], "ul:0", 7),
    ]


def spanize_media(doc_id: str, text: str) -> list[dict]:
    """Media bridge: an INTERLEAVED text + media span stream — heading,
    paragraph, image, paragraph, link, image — exercising the kernel's
    media renditions (``![alt](ref)`` / ``[text](ref)``, the assembly
    singleton block path) end-to-end, SQL-reconstructible.
    Missing/empty tokens pad as m{i}. The media_ref column carries the
    opaque reference the north-rule span model stores for binary
    payloads (the kernel never dereferences it)."""
    toks = (text or "").split(" ")

    def tok(i: int) -> str:
        return toks[i] if i < len(toks) and toks[i] else f"m{i}"

    return [
        {"kind": "heading", "text": f"Media {doc_id}", "media_ref": "h1",
         "offset": 0},
        {"kind": "text", "text": tok(0), "media_ref": "", "offset": 1},
        {"kind": "image", "text": tok(1),
         "media_ref": f"img/{tok(1)}.png", "offset": 2},
        {"kind": "text", "text": tok(2), "media_ref": "", "offset": 3},
        {"kind": "link", "text": tok(3),
         "media_ref": f"https://media.example/{tok(3)}", "offset": 4},
        {"kind": "image", "text": tok(4),
         "media_ref": f"img/{tok(4)}.png", "offset": 5},
    ]


# ---------------------------------------------------------------------------
# Spark bridges: every public ``spanize*`` runs the same Arrow-batch kernel,
# differing only in the doc_id prefix and the page function. A page is
# called as ``page(prefixed_id, numeric_id, text)`` with NULL text read as
# "" (only the markup page uses the numeric id).


def _bridge(documents: DataFrame, prefix: str, page) -> DataFrame:
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = f"{prefix}-" + pdf["doc_id"].astype(str)
            spans = [
                page(d, n, t)
                for d, n, t in zip(ids, pdf["doc_id"], pdf["text"].fillna(""))
            ]
            yield pd.DataFrame({"doc_id": ids, "spans": spans})

    return documents.select("doc_id", "text").mapInPandas(
        kernel, schema=SPAN_SCHEMA_DDL
    )


def spanize(documents: DataFrame) -> DataFrame:
    """(doc_id int64, text string, ...) -> (doc_id 'doc-{id}', spans)."""
    return _bridge(documents, "doc", lambda d, _, t: spanize_text(d, t))


def spanize_tables(documents: DataFrame) -> DataFrame:
    """(doc_id int64, text, ...) -> ('csv_sheet-{id}', table spans)."""
    return _bridge(documents, "csv_sheet", lambda d, _, t: spanize_tabular(d, t))


def spanize_lists(documents: DataFrame) -> DataFrame:
    """(doc_id int64, text, ...) -> ('no_headers-{id}', list spans)."""
    return _bridge(documents, "no_headers", lambda d, _, t: spanize_list(d, t))


def spanize_markup(documents: DataFrame) -> DataFrame:
    """(doc_id int64, text, ...) -> ('html_page-{id}', full-page DOM spans)."""
    return _bridge(
        documents, "html_page", lambda d, n, t: spanize_markup_page(d, int(n), t)
    )


def spanize_layout(documents: DataFrame) -> DataFrame:
    """(doc_id int64, text, ...) -> ('pdf_pages-{id}', layout spans)."""
    return _bridge(documents, "pdf_pages", lambda d, _, t: spanize_layout_page(d, t))


def spanize_ocr(documents: DataFrame) -> DataFrame:
    """(doc_id int64, text, ...) -> ('ocr_noisy-{id}', noisy layout spans)."""
    return _bridge(
        documents, "ocr_noisy", lambda d, _, t: spanize_layout_page(d, t, noisy=True)
    )


def spanize_docx(documents: DataFrame) -> DataFrame:
    """(doc_id int64, text, ...) -> ('docx_like-{id}', capped-table spans)."""
    return _bridge(documents, "docx_like", lambda d, _, t: spanize_docx_table(d, t))


def spanize_pptx(documents: DataFrame) -> DataFrame:
    """(doc_id int64, text, ...) -> ('pptx_like-{id}', slide-deck spans)."""
    return _bridge(documents, "pptx_like", lambda d, _, t: spanize_pptx_deck(d, t))


def spanize_media_docs(documents: DataFrame) -> DataFrame:
    """(doc_id int64, text, ...) -> ('media_page-{id}', interleaved media spans)."""
    return _bridge(documents, "media_page", lambda d, _, t: spanize_media(d, t))
