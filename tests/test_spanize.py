"""The nine Spark spanize bridges equal their page functions applied row
by row in plain Python, id prefix included — for NULL text, empty text and
a multi-part text."""

import pytest

from docstrange_spark.operators import spanize as sp

# 3 title tokens + 50 body tokens: five paragraphs, two "Part" headings
MULTI = " ".join(f"w{i}" for i in range(53))
ROWS = [(2, None), (3, ""), (4, MULTI), (5, MULTI)]

BRIDGES = {
    "spanize": ("doc", lambda d, n, t: sp.spanize_text(d, t)),
    "spanize_tables": ("csv_sheet", lambda d, n, t: sp.spanize_tabular(d, t)),
    "spanize_lists": ("no_headers", lambda d, n, t: sp.spanize_list(d, t)),
    "spanize_markup": ("html_page", sp.spanize_markup_page),
    "spanize_layout": ("pdf_pages", lambda d, n, t: sp.spanize_layout_page(d, t)),
    "spanize_ocr": (
        "ocr_noisy",
        lambda d, n, t: sp.spanize_layout_page(d, t, noisy=True),
    ),
    "spanize_docx": ("docx_like", lambda d, n, t: sp.spanize_docx_table(d, t)),
    "spanize_pptx": ("pptx_like", lambda d, n, t: sp.spanize_pptx_deck(d, t)),
    "spanize_media_docs": ("media_page", lambda d, n, t: sp.spanize_media(d, t)),
}


@pytest.fixture(scope="module")
def documents(spark):
    return spark.createDataFrame(ROWS, "doc_id long, text string")


@pytest.mark.parametrize("name", sorted(BRIDGES))
def test_bridge_equals_page_function(documents, name):
    prefix, page = BRIDGES[name]
    got = {
        r["doc_id"]: [s.asDict() for s in r["spans"]]
        for r in getattr(sp, name)(documents).collect()
    }
    expected = {f"{prefix}-{n}": page(f"{prefix}-{n}", n, t) for n, t in ROWS}
    assert got == expected


def test_markup_container_class_alternates_on_numeric_id(documents):
    classes = {
        r["doc_id"]: [
            s["media_ref"]
            for s in r["spans"]
            if s["kind"] == "tag_open" and s["text"] == "div"
        ][1]
        for r in sp.spanize_markup(documents).collect()
    }
    assert classes == {
        "html_page-2": "class=content",
        "html_page-3": "class=post",
        "html_page-4": "class=content",
        "html_page-5": "class=post",
    }
