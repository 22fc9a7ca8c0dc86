"""Spark end-to-end pipeline tests: span table -> extraction -> renditions
-> navigation, including shuffle-invariance (salted vs unsalted plans must
produce identical rows) and a mega-doc on the default plan."""

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F

from docstrange_spark import datagen
from docstrange_spark.kernels import assembly
from docstrange_spark.kernels.sections import split_sections
from docstrange_spark.operators import extract, navigation, renditions


@pytest.fixture(scope="module")
def extracted(spark):
    df = extract.extract(datagen.fixture_spans(spark))
    df.cache()
    yield df
    df.unpersist()


def local_expected():
    docs = datagen.fixture_docs()
    pdf = pd.DataFrame(docs, columns=["doc_id", "spans"])
    return assembly.assemble_batch(pdf["doc_id"], pdf["spans"])


def test_spark_matches_local_kernel(extracted):
    got = {r["doc_id"]: r for r in extracted.collect()}
    exp = local_expected()
    assert set(got) == set(exp["doc_id"])
    for _, row in exp.iterrows():
        g = got[row["doc_id"]]
        assert g["markdown"] == row["markdown"], row["doc_id"]
        gs = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in g["out_spans"]]
        es = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row["out_spans"]]
        assert gs == es, row["doc_id"]


def test_salting_is_semantically_invisible(spark):
    spans = datagen.fixture_spans(spark)
    a = {r["doc_id"]: r["markdown"] for r in extract.extract(spans, salt=True).collect()}
    b = {r["doc_id"]: r["markdown"] for r in extract.extract(spans, salt=False).collect()}
    assert a == b


def test_mega_doc_default_path(spark):
    spans = datagen.fixture_spans(spark, include_mega=True)
    out = extract.extract(spans)
    rows = {r["doc_id"]: r["n_blocks"] for r in out.collect()}
    assert rows["mega_doc-00000000"] == 2000


def test_renditions_on_spark(spark, ref_result):
    with_r = extract.extract(
        datagen.fixture_spans(spark), formats=("html", "json", "csv", "meta")
    )
    rows = {r["doc_id"]: r for r in with_r.collect()}
    br = rows["business_report-00000000"]
    # differential: rendition columns equal reference library output
    ref = ref_result.ConversionResult(br["markdown"])
    assert json.loads(br["json"])["document"] == ref.extract_data()["document"]
    assert br["csv"] == ref.extract_csv(include_all_tables=True)
    assert ref_result.MarkdownToHTMLConverter().extract(br["markdown"]) in br["html"]
    assert br["doc_meta"]["has_tables"] is True
    assert rows["empty_doc-00000000"]["json"]  # still valid JSON envelope


def test_sections_kernel_vs_relational(spark, extracted):
    """The Spark section table equals the pure kernel run in the driver
    on the same collected markdown."""
    md = extracted.select("doc_id", "markdown")
    expected = sorted(
        (r["doc_id"], i, s["level"], s["title"], s["content"],
         s["start_line"], s["end_line"], s["token_count"])
        for r in md.collect()
        for i, s in enumerate(split_sections(r["markdown"] or ""))
    )
    cols = ["doc_id", "section_idx", "level", "title", "content",
            "start_line", "end_line", "token_count"]
    got = sorted(map(tuple, navigation.sections_relational(md).select(cols).collect()))
    assert expected and got == expected


def test_search_relational(spark, extracted):
    md = extracted.select("doc_id", "markdown")
    hits = navigation.search_relational(md, "needle").collect()
    assert len(hits) == 2
    assert all(h["section"].startswith("Chapter") for h in hits)
    assert all("needle" in h["context"] for h in hits)


def test_chunks_and_hierarchy(spark, extracted):
    md = extracted.select("doc_id", "markdown").where(
        F.col("doc_id").startswith("search_nav")
    )
    chunks = navigation.chunks_kernel(md, max_tokens=300).collect()
    assert len(chunks) >= 2
    assert all(c["token_count"] <= 300 or c["start_index"] == c["end_index"] for c in chunks)
    h = json.loads(navigation.hierarchy_kernel(md).collect()[0]["hierarchy"])
    assert h["total_sections"] == 8


def test_combine_documents(spark, extracted):
    row = renditions.combine_documents(extracted).collect()[0]
    assert row["count"] == extracted.count()
    assert "\n\n---\n\n" in row["combined"]


def test_scale_generator_parallelism_invariance(spark):
    one = datagen.scale_spans(spark, 64).repartition(1)
    many = datagen.scale_spans(spark, 64).repartition(13)
    a = {r["doc_id"]: r["spans"] for r in one.collect()}
    b = {r["doc_id"]: r["spans"] for r in many.collect()}
    assert a == b
    # extraction over the scaled corpus works and covers all profiles
    out = extract.extract(datagen.scale_spans(spark, 64))
    profs = {r["profile"] for r in out.select("profile").distinct().collect()}
    assert {"markup", "layout", "ocr", "direct"} <= profs
