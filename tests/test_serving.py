"""MCP serving wrapper: full protocol loop over the navigation surface
(reference mcp_server_module/server.py tool parity, corpus-addressed)."""

import io
import json

import pytest

from docstrange_spark import datagen
from docstrange_spark.kernels import sections
from docstrange_spark.serving import TOOLS, DocServer


# Text spans pass through extraction verbatim, so these documents put
# header and whitespace edge cases into the extracted markdown: a title
# ending in a tab, headers whose "#" is followed by non-ASCII whitespace,
# a carriage return inside a title, an all-whitespace title, and
# sections whose content starts or ends with spaces and tabs.
EDGE_DOCS = {
    "edge_tab_title": ["  lead line\t", "# Tab title\t", "body one  ",
                       "## Second\x0b", "\tbody two"],
    "edge_unicode_ws": ["#\xa0Nbsp title", "x\u3000", "#\u3000Wide\u2003",
                        "# A\rB", "#  \t", "  tail  "],
    "edge_no_header": ["  only text\t", "#NoSpace", "####### seven"],
}


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    import pandas as pd

    p = str(tmp_path_factory.mktemp("serve") / "spans")
    rows = datagen.fixture_docs() + [
        (doc_id, [datagen.sp("text", t, offset=i) for i, t in enumerate(lines)])
        for doc_id, lines in EDGE_DOCS.items()
    ]
    spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "spans"]),
        schema=datagen.SPAN_SCHEMA_DDL,
    ).write.parquet(p)
    return p


@pytest.fixture(scope="module")
def server(spark):
    return DocServer(spark)


def _call(server, name, args, rid=1):
    resp = server.handle({
        "jsonrpc": "2.0", "id": rid, "method": "tools/call",
        "params": {"name": name, "arguments": args},
    })
    assert "error" not in resp, resp
    return json.loads(resp["result"]["content"][0]["text"])


DOC = "md_structure-00000000"


def test_initialize_and_tool_listing(server):
    init = server.handle({"jsonrpc": "2.0", "id": 0, "method": "initialize"})
    assert init["result"]["serverInfo"]["name"] == "docstrange_spark"
    listing = server.handle({"jsonrpc": "2.0", "id": 1, "method": "tools/list"})
    names = {t["name"] for t in listing["result"]["tools"]}
    assert names == set(TOOLS) and len(names) == 12
    # notifications are silently accepted; unknown methods error
    assert server.handle({"jsonrpc": "2.0",
                          "method": "notifications/initialized"}) is None
    err = server.handle({"jsonrpc": "2.0", "id": 2, "method": "bogus"})
    assert err["error"]["code"] == -32601


def test_parse_and_navigate(server, corpus):
    info = _call(server, "parse_document",
                 {"corpus_path": corpus, "doc_id": DOC})
    assert info["status"] == "parsed" and info["n_sections"] >= 2
    assert info["recommendation"] == "full_document"

    headers = _call(server, "get_headers",
                    {"corpus_path": corpus, "doc_id": DOC})["headers"]
    assert headers and all(1 <= h["level"] <= 6 for h in headers)
    top = _call(server, "get_headers",
                {"corpus_path": corpus, "doc_id": DOC, "max_level": 1})
    assert all(h["level"] == 1 for h in top["headers"])

    full = _call(server, "get_full_content",
                 {"corpus_path": corpus, "doc_id": DOC})
    assert full["markdown"].startswith("#")

    sec = _call(server, "get_section", {
        "corpus_path": corpus, "doc_id": DOC,
        "section_title": headers[0]["title"].upper(),  # case-insensitive
    })
    assert sec["title"] == headers[0]["title"] and sec["content"]

    missing = _call(server, "get_section", {
        "corpus_path": corpus, "doc_id": DOC, "section_title": "no such",
    })
    assert "error" in missing and missing["available_sections"]

    sums = _call(server, "get_section_summaries",
                 {"corpus_path": corpus, "doc_id": DOC, "max_length": 30})
    assert all(len(s["summary"]) <= 33 for s in sums["summaries"])

    tree = _call(server, "get_hierarchical_structure",
                 {"corpus_path": corpus, "doc_id": DOC})
    assert isinstance(tree, dict) and tree

    cached = _call(server, "list_cached_documents", {})
    assert cached["count"] == 1 and corpus in cached["cached_documents"][0]


# md_structure: header on line 0; classify_edge: lines before the first
# header; no_headers: one "Document Content" section; empty_doc: "";
# search_nav: a long multi-section document; edge_*: EDGE_DOCS
PARITY_DOCS = ["md_structure-00000000", "classify_edge-00000000",
               "no_headers-00000000", "empty_doc-00000000",
               "search_nav-00000000", *EDGE_DOCS]


def test_search_matches_contract_kernel(server, corpus, spark):
    """The kernels the server answers from agree, field by field, with
    the Spark contract path on the same extracted markdown: cached
    sections against sections_relational, search_document hits against
    search_relational, summaries against section_summary_col, and the
    hierarchy and chunk tools against the mapInPandas kernels."""
    from docstrange_spark.operators import extract, navigation

    for doc_id in PARITY_DOCS:
        md = extract.extract(
            spark.read.parquet(corpus).where(f"doc_id = '{doc_id}'"),
            include_spans=False,
        ).select("doc_id", "markdown")
        secs = navigation.sections_relational(md).orderBy("section_idx")
        want = [r.asDict() for r in secs.collect()]
        assert server._load(corpus, doc_id)["sections"] == want, doc_id
        for max_length in (12, -1):
            got = _call(server, "get_section_summaries",
                        {"corpus_path": corpus, "doc_id": doc_id,
                         "max_length": max_length})
            assert got["summaries"] == [r.asDict() for r in secs.select(
                "section_idx", "title", "level",
                navigation.section_summary_col("content", max_length)
                .alias("summary"),
            ).collect()], (doc_id, max_length)
        for query, cs in (("the", False), ("E", False), ("E", True),
                          ("-", False), ("no such text", False),
                          ("", False), ("\t", False)):
            got = _call(server, "search_document",
                        {"corpus_path": corpus, "doc_id": doc_id,
                         "query": query, "case_sensitive": cs})
            want = [r.asDict() for r in
                    navigation.search_relational(md, query, case_sensitive=cs)
                    .orderBy("line_number").collect()]
            assert got["n_results"] == len(want), (doc_id, query, cs)
            assert got["results"] == want, (doc_id, query, cs)
        # hierarchy and chunks: same text as the batch mapInPandas kernels
        args = {"corpus_path": corpus, "doc_id": doc_id}
        resp = server.handle({"jsonrpc": "2.0", "id": 1, "method": "tools/call",
                              "params": {"name": "get_hierarchical_structure",
                                         "arguments": args}})
        tree = navigation.hierarchy_kernel(md).collect()[0]["hierarchy"]
        assert resp["result"]["content"][0]["text"] == json.dumps(
            json.loads(tree), indent=2)
        got = _call(server, "get_section_chunks", {**args, "max_tokens": 20})
        assert got["chunks"] == [
            {k: r[k] for k in ("chunk_idx", "token_count", "titles")}
            for r in navigation.chunks_kernel(md, max_tokens=20)
            .orderBy("chunk_idx").collect()
        ], doc_id

    # what both paths return on the inputs where Spark's ASCII-only trim
    # and \s once disagreed with the kernels' Python str.strip and re
    def titles(doc_id):
        return [(h["title"], h["level"]) for h in _call(
            server, "get_section_summaries",
            {"corpus_path": corpus, "doc_id": doc_id})["summaries"]]

    assert titles("edge_tab_title") == [("Tab title", 1), ("Second", 2)]
    assert titles("edge_unicode_ws") == [
        ("Nbsp title", 1), ("Wide", 1), ("A\rB", 1), ("", 1)]
    assert titles("edge_no_header") == [("Document Content", 0)]
    # an empty query on an empty document hits its one empty line, which
    # belongs to no section
    got = _call(server, "search_document",
                {"corpus_path": corpus, "doc_id": "empty_doc-00000000",
                 "query": ""})
    assert got["results"] == [
        {"doc_id": "empty_doc-00000000", "line_number": 1, "line_content": "",
         "section": "Unknown Section", "context": ""}]


def test_header_whitespace_class_is_python_isspace(spark):
    """navigation's Java whitespace class holds exactly the characters
    Python's re \\s and str.strip() treat as whitespace."""
    from pyspark.sql import functions as F

    from docstrange_spark.operators import navigation

    top = 0x3100  # above the largest whitespace code point, U+3000
    got = {
        r["c"] for r in spark.createDataFrame(
            [(chr(i),) for i in range(1, top)], "c string")
        .where(F.col("c").rlike(f"^{navigation._WS}$")).collect()
    }
    assert got == {chr(i) for i in range(top) if chr(i).isspace()}


def test_chunks_roundtrip(server, corpus):
    ch = _call(server, "get_section_chunks",
               {"corpus_path": corpus, "doc_id": DOC, "max_tokens": 20})
    assert ch["n_chunks"] >= 1
    c0 = _call(server, "get_chunk_content", {
        "corpus_path": corpus, "doc_id": DOC,
        "chunk_index": 0, "max_tokens": 20,
    })
    full = _call(server, "get_full_content",
                 {"corpus_path": corpus, "doc_id": DOC})["markdown"]
    assert c0["content"] and c0["content"] in full
    oob = _call(server, "get_chunk_content", {
        "corpus_path": corpus, "doc_id": DOC,
        "chunk_index": 99, "max_tokens": 20,
    })
    assert "error" in oob


def test_chunk_content_is_the_chunks_sections(server, corpus):
    """A chunk's start/end index its SECTIONS: the content is those
    sections' markdown lines, from the first one's header line to the
    last one's end line, even when sections span several lines."""
    args = {"corpus_path": corpus, "doc_id": DOC}
    md = _call(server, "get_full_content", args)["markdown"]
    secs = sections.split_sections(md)
    assert any(s["end_line"] > s["start_line"] for s in secs)
    chunks = sections.chunk_sections(secs, 20)
    assert len(chunks) > 1
    lines = md.split("\n")
    for i, c in enumerate(chunks):
        got = _call(server, "get_chunk_content",
                    {**args, "chunk_index": i, "max_tokens": 20})
        first, last = secs[c["start_index"]], secs[c["end_index"]]
        assert got["content"] == "\n".join(
            lines[first["start_line"]: last["end_line"] + 1])


def test_documents_style_corpus_and_missing_doc(server):
    got = _call(server, "get_document_info", {
        "corpus_path": "/root/testdata/sf0.001/documents.parquet",
        "doc_id": "doc-0",
    }, rid=7)
    assert got["doc_id"] == "doc-0" and got["total_tokens"] > 0
    resp = server.handle({
        "jsonrpc": "2.0", "id": 8, "method": "tools/call",
        "params": {"name": "get_full_content",
                   "arguments": {"corpus_path":
                                 "/root/testdata/sf0.001/documents.parquet",
                                 "doc_id": "doc-999999"}},
    })
    assert resp["error"]["code"] == -32000


def test_stdio_loop(server, corpus):
    lines = [
        json.dumps({"jsonrpc": "2.0", "id": 1, "method": "initialize"}),
        "not json at all",
        json.dumps({"jsonrpc": "2.0", "method": "notifications/initialized"}),
        json.dumps({"jsonrpc": "2.0", "id": 2, "method": "tools/call",
                    "params": {"name": "get_document_info",
                               "arguments": {"corpus_path": corpus,
                                             "doc_id": DOC}}}),
    ]
    out = io.StringIO()
    server.serve(stdin=io.StringIO("\n".join(lines) + "\n"), stdout=out)
    resps = [json.loads(l) for l in out.getvalue().splitlines()]
    assert [r["id"] for r in resps] == [1, 2]  # garbage + notification skipped
    info = json.loads(resps[1]["result"]["content"][0]["text"])
    assert info["n_sections"] >= 2


def test_search_corpus_matches_cli_path(server, capsys):
    """The corpus-level search_corpus tool answers from the same
    retrieval.bm25_search kernel as the CLI's --search — identical
    ranks, ids, and scores for the same query."""
    from docstrange_spark import cli

    src = "/root/testdata/sf0.001/documents.parquet"
    out = _call(server, "search_corpus",
                {"corpus_path": src, "query": "spark window", "top_k": 3})
    assert out["n_results"] == 3
    assert [h["rank"] for h in out["results"]] == [1, 2, 3]

    assert cli.main([src, "--search", "spark window",
                     "--top-k", "3", "--cpus", "4"]) == 0
    cli_hits = [json.loads(l)
                for l in capsys.readouterr().out.splitlines() if l.strip()]
    assert out["results"] == cli_hits

    # empty query: structured error, no traceback
    err = _call(server, "search_corpus",
                {"corpus_path": src, "query": "   "})
    assert err == {"error": "empty query"}


def test_search_corpus_passage_granularity(server):
    """granularity=passage answers from the shared passage_corpus helper
    — ids are doc_id#section_idx and match the contract query's ranks."""
    import __spark_entry__ as em

    src = "/root/testdata/sf0.001/documents.parquet"
    out = _call(server, "search_corpus",
                {"corpus_path": src, "query": "spark window",
                 "top_k": 5, "granularity": "passage"})
    assert out["n_results"] == 5
    assert all("#" in h["doc_id"] for h in out["results"])
    contract = {
        r["passage_id"]: (r["rank"], r["score"])
        for r in em.queries()["passage_search"](
            server.spark, "/root/testdata/sf0.001"
        ).collect()
    }
    for h in out["results"]:
        assert contract[h["doc_id"]] == (h["rank"], h["score"])
