"""Layout-text heuristics (O4, O7-O11) — vectorized over pandas Series.

Thresholds and regexes mirror the reference layout path
(``/root/reference/docstrange/pipeline/layout_detector.py``):

- block classification (``:188-239``): list-item regexes, the
  pipe/tab/double-space table-row heuristic, the "≤5 words AND (ends '.'
  OR isupper)" heading rule;
- heading level from word count (``:206-216``): ≤3 -> h1, ≤5 -> h2, else h3;
- OCR post-processing (``:172-186``): the lossy ``| -> I``, ``0 -> o``,
  ``1 -> l`` substitutions, whitespace collapse, sentence spacing, and
  the character-class strip — observable semantics, reproduced exactly;
- punctuation-aware text join (``:121-170``);
- whitespace cleanup with header re-spacing (``processors/
  url_processor.py:335-360`` and the docx/excel/pptx variants).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

LIST_ITEM_RE = re.compile(r"^(?:\d+\.|[•·▪▫◦‣⁃]|[-*+]|[a-zA-Z]\.)")
MULTISPACE_RE = re.compile(r"\s+")
SENTENCE_SPACING_RE = re.compile(r"([.!?])\s*([A-Z])")
OCR_STRIP_RE = re.compile(r"[^\w\s.,!?;:()\[\]{}\"'-]")
TABLE_SPLIT_RE = re.compile(r"\s{2,}")

NO_SPACE_BEFORE = set(",.!?;:")
OPENERS = set("([{")
CLOSERS = set(")]}")


def classify_blocks(texts: pd.Series) -> pd.Series:
    """Classify each text block as list_item / table_row / heading / text.

    Vectorized np.select over the reference's rule order (list first,
    then table row, then heading)."""
    s = texts.fillna("").str.strip()
    is_list = s.str.match(LIST_ITEM_RE)
    word_counts = s.str.split().str.len().fillna(0)
    is_table = (
        s.str.contains("|", regex=False)
        | s.str.contains("\t", regex=False)
        | ((word_counts >= 4) & s.str.contains("  ", regex=False))
    )
    is_heading = (word_counts <= 5) & (s.str.endswith(".") | s.map(str.isupper))
    return pd.Series(
        np.select(
            [is_list, is_table, is_heading],
            ["list_item", "table_row", "heading"],
            default="text",
        ),
        index=texts.index,
    )


def heading_levels(texts: pd.Series) -> pd.Series:
    """Heading level from word count: ≤3 -> 1, ≤5 -> 2, else 3."""
    wc = texts.fillna("").str.strip().str.split().str.len().fillna(0)
    return pd.Series(
        np.select([wc <= 3, wc <= 5], [1, 2], default=3), index=texts.index
    )


def format_table_rows(texts: pd.Series) -> pd.Series:
    """Render a raw table-row text as a markdown row ``| a | b |``.

    Split precedence: pipe, then tab, then runs of ≥2 spaces."""

    def _fmt(text: str) -> str:
        if "|" in text:
            cells = text.split("|")
        elif "\t" in text:
            cells = text.split("\t")
        else:
            cells = TABLE_SPLIT_RE.split(text)
        return "| " + " | ".join(c.strip() for c in cells) + " |"

    return texts.fillna("").map(_fmt)


def ocr_postprocess(texts: pd.Series) -> pd.Series:
    """The reference's lossy OCR cleanup chain — order matters."""
    s = texts.fillna("")
    s = s.str.replace("|", "I", regex=False)
    s = s.str.replace("0", "o", regex=False)
    s = s.str.replace("1", "l", regex=False)
    s = s.str.replace(MULTISPACE_RE, " ", regex=True)
    s = s.str.replace(SENTENCE_SPACING_RE, r"\1 \2", regex=True)
    return s.str.replace(OCR_STRIP_RE, "", regex=True)


def smart_join(texts: list[str]) -> str:
    """Join block texts with punctuation-aware spacing: no space before
    closing punctuation, after openers, before closers; hyphen-merge."""
    parts = [t.strip() for t in texts if t and t.strip()]
    if not parts:
        return ""
    buf = parts[0]
    for text in parts[1:]:
        prev, cur = buf[-1], text[0]
        if cur in NO_SPACE_BEFORE or prev in OPENERS or cur in CLOSERS:
            buf += text
        elif prev == "-" and cur.isalpha():
            buf += text
        else:
            buf += " " + text
    return buf


def clean_content(text: str, header_prefixes: tuple[str, ...] = ("# ", "## ")) -> str:
    """Collapse intra-line whitespace, drop blank lines, then re-insert a
    newline before header markers (reference cleanup shared across the
    url/docx/excel/pptx processors)."""
    lines = [" ".join(line.split()) for line in text.split("\n")]
    out = "\n".join(line for line in lines if line.strip())
    for prefix in header_prefixes:
        out = out.replace(prefix, "\n" + prefix)
    return out.strip()
