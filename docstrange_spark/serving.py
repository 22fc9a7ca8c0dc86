"""MCP serving wrapper over the navigation surface — the Spark-native
analog of the reference's MCP server process
(`/root/reference/mcp_server_module/server.py:339-533`): the same 11
tools (parse / headers / search / section / summaries / full content /
cache listing / info / hierarchy / chunks / chunk content) plus a 12th,
corpus-level ``search_corpus`` (BM25 over the whole corpus — the
engine's retrieval surface the reference's per-document server has no
analog for, mirroring the CLI's ``--search``), served over the MCP
stdio transport (newline-delimited JSON-RPC 2.0).

Corpus-native addressing: where the reference parses one LOCAL FILE
per call, this server navigates documents of a corpus — ``parse_document``
takes (corpus_path, doc_id) and caches the document driver-side (the
analog of the reference's in-memory ``DocumentCache``, server.py:47-60).

Which tools run Spark:
- Spark keeps corpus access. A document's first access reads the
  corpus, spanizes it if it is documents-style, and extracts its
  markdown: one narrowly filtered job chain per document.
  ``search_corpus`` is Spark end to end (``retrieval.bm25_search``,
  with ``retrieval.passage_corpus`` at passage granularity), the same
  path as the CLI's ``--search``.
- Every per-document tool answers from the cache, with no Spark job:
  the pure kernels of ``kernels/sections.py`` give ``split_sections``
  (run once at parse), ``search_document``, ``build_tree`` and
  ``chunk_sections``. ``navigation.sections_relational`` and
  ``search_relational`` follow the kernels' header and whitespace rules,
  and the ``hierarchy_kernel``/``chunks_kernel`` mapInPandas wrappers
  run the same kernels, so serving and batch answers agree; the tests
  hold each tool to its batch operator field by field. Section
  summaries strip only spaces, as ``section_summary_col`` (Spark
  ``trim``) does, not all whitespace as the kernel's
  ``section_summary`` does.

Stdlib-only protocol implementation (no MCP SDK in this environment):
``initialize`` / ``tools/list`` / ``tools/call`` with the standard
``content: [{type: "text", ...}]`` result envelope. Run as::

    python -m docstrange_spark.serving        # stdio loop

Scale note: serving is a driver-side read path over per-document data
(KBs per doc); the heavy lifting (extraction) runs as a narrowly
filtered Spark job on first access per document. A production
deployment would materialize the corpus-wide section/markdown tables
once (`navigation.sections_relational`, the `search_materialized`
contract path) and serve lookups from that store; this wrapper keeps
the reference's lazy per-document semantics.
"""

from __future__ import annotations

import json
import sys

from docstrange_spark.kernels import sections

PROTOCOL_VERSION = "2024-11-05"
SERVER_INFO = {"name": "docstrange_spark", "version": "1.0"}

# tool name -> (description, properties, required) — mirrors the
# reference's schema list (server.py:346-531); file_path is replaced by
# the corpus-native (corpus_path, doc_id) pair
_DOC_ARGS = {
    "corpus_path": {"type": "string",
                    "description": "Parquet dir (documents- or span-style)"},
    "doc_id": {"type": "string", "description": "Document id in the corpus"},
}
TOOLS: dict[str, tuple[str, dict, list[str]]] = {
    "parse_document": (
        "Parse a document from a corpus and load it into memory for navigation",
        dict(_DOC_ARGS), ["corpus_path", "doc_id"],
    ),
    "get_headers": (
        "Get all headers/sections from a parsed document",
        {**_DOC_ARGS,
         "max_level": {"type": "integer", "default": 6,
                       "description": "Maximum header level to include (1-6)"}},
        ["corpus_path", "doc_id"],
    ),
    "search_document": (
        "Search for keywords or phrases in the document",
        {**_DOC_ARGS,
         "query": {"type": "string", "description": "Search query"},
         "case_sensitive": {"type": "boolean", "default": False}},
        ["corpus_path", "doc_id", "query"],
    ),
    "get_section": (
        "Get the content of a specific section by title",
        {**_DOC_ARGS, "section_title": {"type": "string"}},
        ["corpus_path", "doc_id", "section_title"],
    ),
    "get_section_summaries": (
        "Get summaries of all sections in the document",
        {**_DOC_ARGS, "max_length": {"type": "integer", "default": 200}},
        ["corpus_path", "doc_id"],
    ),
    "get_full_content": (
        "Get the full markdown content of the document",
        dict(_DOC_ARGS), ["corpus_path", "doc_id"],
    ),
    "list_cached_documents": (
        "List all documents currently cached in memory", {}, [],
    ),
    "get_document_info": (
        "Get document metadata including token count, section structure, "
        "and recommendations for processing",
        dict(_DOC_ARGS), ["corpus_path", "doc_id"],
    ),
    "get_hierarchical_structure": (
        "Get the hierarchical tree structure of document sections",
        dict(_DOC_ARGS), ["corpus_path", "doc_id"],
    ),
    "get_section_chunks": (
        "Get document divided into chunks that fit within a token limit",
        {**_DOC_ARGS, "max_tokens": {"type": "integer", "default": 4000}},
        ["corpus_path", "doc_id"],
    ),
    "get_chunk_content": (
        "Get the content of a specific chunk by index",
        {**_DOC_ARGS,
         "chunk_index": {"type": "integer"},
         "max_tokens": {"type": "integer", "default": 4000}},
        ["corpus_path", "doc_id", "chunk_index"],
    ),
    # corpus-level retrieval — beyond the reference's per-document
    # server surface: BM25-rank the whole corpus for a query, the same
    # engine path as the CLI's --search (retrieval.bm25_search, the
    # oracle-checked `bm25_search` contract query)
    "search_corpus": (
        "BM25-rank the documents of a corpus for a query and return the "
        "top hits (corpus-level retrieval, not within one document)",
        {"corpus_path": {"type": "string",
                         "description": "Documents-style parquet dir "
                                        "(doc_id, text)"},
         "query": {"type": "string", "description": "Search query"},
         "top_k": {"type": "integer", "default": 10},
         "granularity": {"type": "string", "enum": ["doc", "passage"],
                         "default": "doc",
                         "description": "Index whole documents or "
                                        "extracted sections (RAG "
                                        "passages, ids doc_id#idx)"}},
        ["corpus_path", "query"],
    ),
}


class DocServer:
    """Tool dispatch + per-document cache; transport-independent."""

    def __init__(self, spark):
        self.spark = spark
        self._cache: dict[str, dict] = {}

    # -- document loading ---------------------------------------------------

    def _key(self, corpus_path: str, doc_id: str) -> str:
        return f"{corpus_path}::{doc_id}"

    def _load(self, corpus_path: str, doc_id: str) -> dict:
        key = self._key(corpus_path, doc_id)
        if key in self._cache:
            return self._cache[key]
        from pyspark.sql import functions as F

        from docstrange_spark.operators import extract, spanize

        df = self.spark.read.parquet(corpus_path)
        if "spans" in df.columns:
            spans = df.where(F.col("doc_id").cast("string") == doc_id)
        else:
            # documents-style corpus: the spanizer prefixes ids with
            # 'doc-' — accept either form
            raw = doc_id[4:] if doc_id.startswith("doc-") else doc_id
            spans = spanize.spanize(
                df.where(F.col("doc_id").cast("string") == raw)
            )
        rows = extract.extract(spans, include_spans=False).select(
            "doc_id", "markdown"
        ).collect()
        if not rows:
            raise KeyError(f"document {doc_id!r} not found in {corpus_path}")
        markdown = rows[0]["markdown"]
        secs = [
            {"doc_id": rows[0]["doc_id"], "section_idx": i, **sec}
            for i, sec in enumerate(sections.split_sections(markdown))
        ]
        total = sum(s["token_count"] for s in secs)
        entry = {
            "doc_id": rows[0]["doc_id"],
            "markdown": markdown,
            "sections": secs,
            "total_tokens": total,
        }
        self._cache[key] = entry
        return entry

    # -- tools --------------------------------------------------------------

    def call(self, name: str, args: dict):
        if name == "list_cached_documents":
            return {"cached_documents": sorted(self._cache),
                    "count": len(self._cache)}
        if name == "search_corpus":
            from docstrange_spark.operators import retrieval

            terms = args["query"].split()
            if not terms:
                return {"error": "empty query"}
            top_k = int(args.get("top_k", 10))
            corpus_df = self.spark.read.parquet(args["corpus_path"])
            if args.get("granularity", "doc") == "passage":
                # RAG passage index: extract -> section split -> BM25,
                # ids doc_id#section_idx (same path as CLI --granularity)
                corpus_df = retrieval.passage_corpus(
                    corpus_df
                ).withColumnRenamed("passage_id", "doc_id")
            hits = retrieval.bm25_search(
                corpus_df,
                terms,
                top_k=top_k,
            ).collect()  # bounded by top_k — never the corpus
            return {"query": args["query"], "n_results": len(hits),
                    "results": [
                        {"rank": r["rank"], "doc_id": r["doc_id"],
                         "score": r["score"]}
                        for r in hits
                    ]}
        doc = self._load(args["corpus_path"], str(args["doc_id"]))
        if name == "parse_document":
            info = self._info(doc)
            return {"status": "parsed", **info}
        if name == "get_headers":
            max_level = int(args.get("max_level", 6))
            return {"headers": [
                {"title": s["title"], "level": s["level"],
                 "line_number": s["start_line"]}
                for s in doc["sections"]
                if s["title"] is not None and 1 <= s["level"] <= max_level
            ]}
        if name == "search_document":
            hits = [
                {"doc_id": doc["doc_id"], **h}
                for h in sections.search_document(
                    doc["markdown"], doc["sections"], args["query"],
                    case_sensitive=bool(args.get("case_sensitive", False)),
                )
            ]
            return {"query": args["query"], "n_results": len(hits),
                    "results": hits}
        if name == "get_section":
            want = args["section_title"].strip().lower()
            for s in doc["sections"]:
                if (s["title"] or "").strip().lower() == want:
                    return {"title": s["title"], "level": s["level"],
                            "content": s["content"],
                            "token_count": s["token_count"]}
            return {"error": f"Section '{args['section_title']}' not found",
                    "available_sections": [s["title"] for s in doc["sections"]]}
        if name == "get_section_summaries":
            max_length = int(args.get("max_length", 200))
            summaries = []
            for s in doc["sections"]:
                # strip(" ") is Spark's trim in navigation.section_summary_col
                c = s["content"].strip(" ")
                summaries.append({
                    "section_idx": s["section_idx"], "title": s["title"],
                    "level": s["level"],
                    "summary": c if len(c) <= max_length
                    else c[:max(max_length, 0)] + "...",
                })
            return {"summaries": summaries}
        if name == "get_full_content":
            return {"doc_id": doc["doc_id"], "markdown": doc["markdown"]}
        if name == "get_document_info":
            return self._info(doc)
        if name == "get_hierarchical_structure":
            # round-trip for the key order of the batch hierarchy column
            # (navigation.hierarchy_kernel), so both serialize alike
            return json.loads(json.dumps(
                sections.build_tree(doc["sections"]), sort_keys=True))
        if name in ("get_section_chunks", "get_chunk_content"):
            max_tokens = int(args.get("max_tokens", 4000))
            chunks = [
                {"chunk_idx": i, "start_index": c["start_index"],
                 "end_index": c["end_index"], "token_count": c["token_count"],
                 "titles": [t["title"] for t in c["sections"]]}
                for i, c in enumerate(
                    sections.chunk_sections(doc["sections"], max_tokens))
            ]
            if name == "get_section_chunks":
                return {"max_tokens": max_tokens, "n_chunks": len(chunks),
                        "chunks": [
                            {k: c[k] for k in
                             ("chunk_idx", "token_count", "titles")}
                            for c in chunks
                        ]}
            idx = int(args["chunk_index"])
            if not 0 <= idx < len(chunks):
                return {"error": f"chunk_index {idx} out of range "
                                 f"(0..{len(chunks) - 1})"}
            c = chunks[idx]
            # start/end index the section list, not markdown lines
            content = "\n".join(
                s["content"]
                for s in doc["sections"][c["start_index"]: c["end_index"] + 1]
            )
            return {"chunk_index": idx, "token_count": c["token_count"],
                    "titles": c["titles"], "content": content}
        raise ValueError(f"unknown tool {name!r}")

    def _info(self, doc: dict) -> dict:
        secs = doc["sections"]
        counts = [s["token_count"] for s in secs] or [0]
        total = doc["total_tokens"]
        return {
            "doc_id": doc["doc_id"],
            "n_sections": len(secs),
            "total_tokens": total,
            "min_tokens": min(counts),
            "max_tokens": max(counts),
            "recommendation": sections.processing_recommendation(total),
        }

    # -- JSON-RPC / MCP ----------------------------------------------------

    def handle(self, msg: dict) -> dict | None:
        """One JSON-RPC request -> response dict (None for notifications)."""
        rid = msg.get("id")
        method = msg.get("method", "")
        if method.startswith("notifications/"):
            return None
        try:
            if method == "initialize":
                result = {
                    "protocolVersion": PROTOCOL_VERSION,
                    "capabilities": {"tools": {}},
                    "serverInfo": SERVER_INFO,
                }
            elif method == "tools/list":
                result = {"tools": [
                    {"name": n, "description": d,
                     "inputSchema": {"type": "object", "properties": p,
                                     "required": req}}
                    for n, (d, p, req) in TOOLS.items()
                ]}
            elif method == "tools/call":
                params = msg.get("params", {})
                name = params.get("name")
                if name not in TOOLS:
                    raise ValueError(f"unknown tool {name!r}")
                payload = self.call(name, params.get("arguments", {}))
                result = {
                    "content": [{"type": "text",
                                 "text": json.dumps(payload, indent=2)}],
                    "isError": "error" in payload,
                }
            else:
                return {"jsonrpc": "2.0", "id": rid,
                        "error": {"code": -32601,
                                  "message": f"method not found: {method}"}}
            return {"jsonrpc": "2.0", "id": rid, "result": result}
        except Exception as e:  # tool errors -> JSON-RPC error envelope
            return {"jsonrpc": "2.0", "id": rid,
                    "error": {"code": -32000, "message": str(e)}}

    def serve(self, stdin=None, stdout=None) -> None:
        """Newline-delimited JSON-RPC loop (the MCP stdio transport)."""
        stdin = stdin or sys.stdin
        stdout = stdout or sys.stdout
        for line in stdin:
            line = line.strip()
            if not line:
                continue
            try:
                msg = json.loads(line)
            except json.JSONDecodeError:
                continue
            resp = self.handle(msg)
            if resp is not None:
                stdout.write(json.dumps(resp) + "\n")
                stdout.flush()


def main() -> int:
    from docstrange_spark.session import get_spark

    server = DocServer(get_spark(app_name="docstrange_spark_mcp"))
    server.serve()
    return 0


if __name__ == "__main__":
    sys.exit(main())
