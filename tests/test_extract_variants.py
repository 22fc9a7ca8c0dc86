"""Extraction variants must be semantically identical: fused renditions ==
the pure rendition kernels; span-budget slicing invisible."""

import json

import pandas as pd

from docstrange_spark import datagen
from docstrange_spark.kernels import mdcsv, mdhtml, mdjson
from docstrange_spark.operators import extract


def test_fused_renditions_equal_kernels(spark):
    """The fused rendition columns equal the pure kernels run in the
    local process on the same collected markdown (mega-document included)."""
    spans = datagen.fixture_spans(spark, include_mega=True)
    rows = extract.extract(spans, formats=("json", "html", "csv", "meta")).collect()
    assert "mega_doc-00000000" in {r["doc_id"] for r in rows}
    for r in rows:
        md = r["markdown"]
        meta = mdjson.parse_markdown(md)["document"]["metadata"]
        assert r["json"] == json.dumps(
            mdjson.extract_data(md), ensure_ascii=False, sort_keys=True
        ), r["doc_id"]
        assert r["html"] == mdhtml.markdown_to_html_page(md), r["doc_id"]
        assert r["csv"] == mdcsv.markdown_to_csv(md), r["doc_id"]
        assert r["doc_meta"].asDict() == {
            k: meta.get(k, dflt) for k, _, dflt in extract.META_FIELDS
        }, r["doc_id"]


def test_span_budget_slicing_invisible(spark, monkeypatch):
    import docstrange_spark.operators.extract as ex_mod

    spans = datagen.fixture_spans(spark, include_mega=True)
    normal = {r["doc_id"]: r["markdown"] for r in extract.extract(spans).collect()}

    monkeypatch.setattr(ex_mod, "MAX_BATCH_SPANS", 100)
    sliced = {r["doc_id"]: r["markdown"] for r in extract.extract(spans).collect()}
    assert normal == sliced


def test_slicer_unit():
    pdf = pd.DataFrame(
        {
            "doc_id": [f"d{i}" for i in range(6)],
            "spans": [[{"k": 1}] * n for n in (10, 10, 200, 10, 500, 10)],
        }
    )
    import docstrange_spark.operators.extract as ex_mod

    old = ex_mod.MAX_BATCH_SPANS
    ex_mod.MAX_BATCH_SPANS = 100
    try:
        chunks = list(ex_mod._slice_by_span_budget(pdf))
    finally:
        ex_mod.MAX_BATCH_SPANS = old
    # every doc appears exactly once, order preserved
    ids = [d for c in chunks for d in c["doc_id"]]
    assert ids == list(pdf["doc_id"])
    # oversized docs sit alone in their chunk
    for c in chunks:
        sizes = c["spans"].map(len)
        assert sizes.sum() <= 100 or len(c) == 1


def test_fused_processor_variants_html_gpu_json_cloud(spark):
    """R6/R7 as fused formats: html_gpu is the GPU-badged page
    (gpu_processor.py:60-78 byte format), json_cloud is the cloud flat
    envelope (cloud_processor.py:168-175) around the same canonical
    parse as the json rendition."""
    import json as _json

    from docstrange_spark.kernels import mdhtml

    df = extract.extract(
        datagen.fixture_spans(spark),
        formats=("json", "html", "html_gpu", "json_cloud"),
        include_spans=False,
    )
    rows = df.select("markdown", "json", "html", "html_gpu", "json_cloud").collect()
    assert rows
    for r in rows:
        assert r["html_gpu"] == mdhtml.add_gpu_badge(r["html"])
        assert 'GPU Processed' in r["html_gpu"]
        cloud = _json.loads(r["json_cloud"])
        plain = _json.loads(r["json"])
        assert cloud["format"] == "cloud_flat_json"
        assert cloud["document"] == plain["document"]
        # byte construction matches the operator-level envelope helper
        from docstrange_spark.operators import llm

        assert cloud == llm.cloud_envelope_document(plain["document"])
