"""CLI — the Spark-native analog of the reference's ``docstrange`` command
(``/root/reference/docstrange/cli.py:165-556``): input corpus in, chosen
rendition out. Where the reference loops over files sequentially
(``cli.py:429-441``), this dispatches one Spark job over the corpus.

Usage::

    python -m docstrange_spark.cli INPUT --output-format markdown \
        [--out OUT_DIR] [--combine] [--resume] [--cpus 32] \
        [--extract-fields F1 F2 | --json-schema FILE] [--list-formats]

INPUT: a span-table parquet dir / Iceberg identifier, or a documents-
style parquet (doc_id, text) which is spanized first (--spanize).

Without ``--out`` the rendition prints to stdout, mirroring the
reference's default (``cli.py:541-550``): a single document prints its
content; multiple documents print the combined form (markdown/text
``---`` separators, html ``<hr>``, the json ``{results,count,errors}``
envelope, csv ``=== File i ===`` sections).
"""

from __future__ import annotations

import argparse
import itertools
import json
import sys

# the reference's print_supported_formats grouping (cli.py:22-45) over
# the union of its processors' extensions (extractor.py:374-408). The
# reference iterates a set() so its own within-category order is hash-
# randomized; we pin the canonical order of its category filter lists.
SUPPORTED_FORMAT_CATEGORIES = [
    ("Documents", [".pdf", ".docx", ".doc", ".txt", ".text"]),
    ("Data Files", [".xlsx", ".xls", ".csv"]),
    ("Presentations", [".ppt", ".pptx"]),
    ("Web", ["URLs"]),
    ("Images", [".jpg", ".jpeg", ".png", ".bmp", ".tiff", ".webp", ".gif"]),
    ("Web Files", [".html", ".htm"]),
]


def print_supported_formats(out=None) -> None:
    out = out or sys.stdout
    print("Supported input formats:", file=out)
    print(file=out)
    for category, fmts in SUPPORTED_FORMAT_CATEGORIES:
        print(f"  {category}:", file=out)
        for fmt in fmts:
            print(f"    - {fmt}", file=out)
        print(file=out)


def _llm_json_payloads(out, args):
    """Per-doc JSON payload column for --extract-fields / --json-schema,
    mirroring result.extract_data's envelopes (result.py:955-980): the
    llm path wraps in local_specified_fields / local_json_schema, any
    unavailable/parse-error row degrades to the deterministic
    structured_json parse — the reference's own fallback
    (result.py:1001-1009). Returns (doc_id, payload) DataFrame.

    ``out`` already carries the fused ``json`` rendition (the fields/
    schema paths force ``formats=("json",)``), which is byte-identical
    to what a separate JSON rendition pass would produce — reusing it
    avoids a second chained Python-UDF stage (which doubles Python
    workers per task; see extract.py's fused-renditions note)."""
    from pyspark.sql import functions as F

    from docstrange_spark.operators import llm

    fallback = F.col("json")
    if args.extract_fields:
        fielded = llm.extract_fields(
            out, args.extract_fields, endpoint=args.llm_endpoint, model=args.llm_model
        ).withColumnRenamed("extracted_fields", "payload_inner")
        src = out.select("doc_id", "json").join(fielded, "doc_id")
        envelope = F.concat(
            F.lit('{"extracted_fields": '),
            F.col("payload_inner"),
            F.lit(', "requested_fields": ' + json.dumps(args.extract_fields)),
            F.lit(', "format": "local_specified_fields", "extractor": "ollama"}'),
        )
    else:
        schema = args.schema_obj
        structured = llm.extract_with_schema(
            out, schema, endpoint=args.llm_endpoint, model=args.llm_model
        ).withColumnRenamed("extracted_json", "payload_inner")
        src = out.select("doc_id", "json").join(structured, "doc_id")
        envelope = F.concat(
            F.lit('{"extracted_data": '),
            F.col("payload_inner"),
            F.lit(', "schema": ' + json.dumps(schema, sort_keys=True)),
            F.lit(', "format": "local_json_schema", "extractor": "ollama"}'),
        )
    return src.select(
        "doc_id",
        F.when(F.col("extractor") == "llm", envelope).otherwise(fallback).alias(
            "payload"
        ),
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="docstrange_spark")
    ap.add_argument("input", nargs="?", default=None,
                    help="span table (parquet dir or iceberg id)")
    ap.add_argument("--out", default=None,
                    help="output parquet dir (omit to print to stdout)")
    ap.add_argument(
        "--output-format",
        default="markdown",
        choices=["markdown", "text", "html", "json", "csv",
                 "html_gpu", "json_cloud", "all"],
    )
    ap.add_argument("--spanize", action="store_true",
                    help="input is (doc_id, text) — bridge it to spans first")
    ap.add_argument("--combine", action="store_true",
                    help="single combined document (reference multi-file mode)")
    ap.add_argument("--resume", action="store_true",
                    help="checkpointed processing: skip the buckets already "
                         "committed for this input and output format")
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--extract-fields", nargs="+", default=None,
                    help="extract named fields as JSON (reference --extract-fields)")
    ap.add_argument("--json-schema", default=None,
                    help="JSON schema file for structured extraction")
    ap.add_argument("--llm-endpoint", default="http://localhost:11434",
                    help="inference endpoint (reference --ollama-url); "
                         "fake:// activates the offline test double")
    ap.add_argument("--llm-model", default="llama3.2")
    ap.add_argument("--list-formats", action="store_true",
                    help="list supported input formats and exit")
    ap.add_argument("--build-corpus", action="store_true",
                    help="run the resumable end-to-end corpus builder "
                         "(extract -> signals -> dedup -> select -> pack) "
                         "over a documents-style parquet; needs --out, "
                         "resumes from committed stages on rerun")
    ap.add_argument("--update-corpus", default=None, metavar="OLD_INPUT",
                    help="incremental corpus refresh: INPUT is the new "
                         "snapshot, OLD_INPUT the previous one; re-extracts "
                         "only the diff and re-runs the chain (needs --out "
                         "holding the previous build)")
    ap.add_argument("--search", default=None, metavar="QUERY",
                    help="BM25-rank the corpus for QUERY (documents-style "
                         "parquet input: doc_id, text) and print the top "
                         "hits as JSON lines")
    ap.add_argument("--top-k", type=int, default=10,
                    help="result count for --search (default 10)")
    ap.add_argument("--granularity", choices=("doc", "passage"), default="doc",
                    help="--search index granularity: whole documents "
                         "(default) or extracted sections (RAG passages, "
                         "ids doc_id#section_idx)")
    ap.add_argument("--report", action="store_true",
                    help="print the one-row corpus health report "
                         "(doc/lang/source counts, token volume, exact-dup "
                         "rate) as JSON for a documents-style parquet")
    args = ap.parse_args(argv)

    if args.list_formats:
        print_supported_formats()
        return 0
    if args.input is None:
        print("Error: no input specified", file=sys.stderr)
        return 2
    if args.search is not None:
        from docstrange_spark.session import get_spark
        from docstrange_spark.operators import retrieval

        if not args.search.split():
            # an empty/whitespace query has no terms to rank on — the
            # same clean exit-2 convention as the other modes, not a
            # ValueError traceback out of bm25_search
            print("Error: --search query is empty", file=sys.stderr)
            return 2
        spark = get_spark(app_name="docstrange_spark_cli", cores=args.cpus)
        corpus_df = spark.read.parquet(args.input)
        if args.granularity == "passage":
            # RAG-shaped retrieval: extract -> section split -> BM25
            # over passages; ids become doc_id#section_idx
            corpus_df = retrieval.passage_corpus(corpus_df).withColumnRenamed(
                "passage_id", "doc_id"
            )
        hits = retrieval.bm25_search(
            corpus_df,
            args.search.split(),
            top_k=args.top_k,
        ).collect()  # bounded by --top-k — never the corpus
        for r in hits:
            print(json.dumps(
                {"rank": r["rank"], "doc_id": r["doc_id"], "score": r["score"]}
            ))
        return 0
    if args.report:
        from docstrange_spark.session import get_spark
        from docstrange_spark.operators import curation

        spark = get_spark(app_name="docstrange_spark_cli", cores=args.cpus)
        row = curation.corpus_report(spark.read.parquet(args.input)).collect()[0]
        print(json.dumps(row.asDict()))
        return 0
    if args.update_corpus is not None:
        if args.out is None:
            print("Error: --update-corpus needs --out", file=sys.stderr)
            return 2
        from docstrange_spark.session import get_spark
        from docstrange_spark.operators import corpus

        spark = get_spark(app_name="docstrange_spark_cli", cores=args.cpus)
        try:
            summary = corpus.update_corpus(
                spark, args.update_corpus, args.input, args.out
            )
        except ValueError as e:
            print(f"Error: {e}", file=sys.stderr)
            return 2
        print(json.dumps(summary))
        return 0
    if args.build_corpus:
        if args.out is None:
            print("Error: --build-corpus needs --out", file=sys.stderr)
            return 2
        from docstrange_spark.session import get_spark
        from docstrange_spark.operators import corpus

        spark = get_spark(app_name="docstrange_spark_cli", cores=args.cpus)
        summary = corpus.build_corpus(spark, args.input, args.out)
        print(json.dumps(summary))
        return 0
    if (args.extract_fields or args.json_schema) and args.output_format != "json":
        print("Error: --extract-fields/--json-schema need --output-format json",
              file=sys.stderr)
        return 2
    if args.extract_fields and args.json_schema:
        print("Error: --extract-fields and --json-schema are mutually exclusive",
              file=sys.stderr)
        return 2
    if (args.extract_fields or args.json_schema) and args.resume:
        print("Error: --resume does not support --extract-fields/--json-schema",
              file=sys.stderr)
        return 2
    schema_obj = None
    if args.json_schema:
        # parse the schema file ONCE, before spinning up a Spark session:
        # a bad path/body gets the CLI's clean exit-2 convention, and the
        # job uses this parse (no second read, no TOCTOU window)
        try:
            with open(args.json_schema) as f:
                schema_obj = json.load(f)
        except (OSError, json.JSONDecodeError) as e:
            print(f"Error loading JSON schema: {e}", file=sys.stderr)
            return 2

    from pyspark.sql import functions as F

    from docstrange_spark.session import get_spark
    from docstrange_spark.operators import extract as ex
    from docstrange_spark.operators import renditions, spanize
    from docstrange_spark.sources import manifest, span_table

    spark = get_spark(app_name="docstrange_spark_cli", cores=args.cpus)
    fmts: tuple[str, ...] = (
        ("json", "html", "csv")
        if args.output_format == "all"
        else (args.output_format,)
        if args.output_format in ("json", "html", "csv", "html_gpu", "json_cloud")
        else ()
    )

    if args.spanize:
        # documents-style input: (doc_id, text, ...) — bridge to spans
        src = spanize.spanize(spark.read.parquet(args.input))
    else:
        src = span_table.read_spans(spark, args.input)

    if args.resume:
        if args.out is None:
            print("Error: --resume needs --out", file=sys.stderr)
            return 2
        snap = span_table.snapshot_id(spark, args.input)
        summary = manifest.process_resumable(
            src,
            args.out,
            lambda df: ex.extract(df, formats=fmts),
            snapshot_id=snap,
            config={"formats": fmts, "spanize": args.spanize},
        )
        print(json.dumps(summary))
        return 0

    out = ex.extract(src, formats=fmts)

    if args.extract_fields or args.json_schema:
        args.schema_obj = schema_obj
        # the payload plan references the extract output twice (the LLM
        # kernel input and the fused-json fallback side of the join);
        # cache it so the expensive extraction kernel runs once
        out = out.cache()
        try:
            payloads = _llm_json_payloads(out, args).withColumnRenamed(
                "payload", "json"
            )
            if args.out is not None and not args.combine:
                payloads.write.mode("overwrite").parquet(args.out)
                print(f"wrote {args.out}")
                return 0
            # materialize the joined payloads, then release the cache
            payloads = payloads.localCheckpoint()
        finally:
            out.unpersist()
        out = payloads

    if args.out is None:
        # stdout mode (reference cli.py:483-550): one doc prints its
        # content, many print the combined form
        if args.output_format == "all":
            print("stdout mode needs a single output format", file=sys.stderr)
            return 2
        col = "markdown" if args.output_format in ("markdown", "text") else args.output_format
        # format families: the GPU/cloud variants combine like their base
        # format (json_cloud payloads are JSON -> envelope; html_gpu pages
        # join on <hr>)
        jsonish = args.output_format in ("json", "json_cloud")
        htmlish = args.output_format in ("html", "html_gpu")
        # memory contract: the presentation path STREAMS — toLocalIterator
        # holds one partition of renditions on the driver at a time (the
        # orderBy range-partitions, so partition-by-partition iteration
        # preserves global doc_id order), never the whole corpus; a full
        # collect() here was a driver OOM at corpus scale. Output bytes
        # are identical to the previous collect-based formatting.
        # Failure contract: a task failing mid-iteration aborts with a
        # nonzero exit AFTER earlier partitions' bytes are already on
        # stdout (collect() failed before any bytes) — consumers must
        # check the exit code, as with any streaming unix tool.
        it = (
            out.select("doc_id", F.col(col).alias("payload"))
            .orderBy("doc_id")
            .toLocalIterator()
        )
        first = next(it, None)
        second = next(it, None)
        if first is not None and second is None:
            payload = first["payload"]
            if jsonish:
                payload = json.dumps(json.loads(payload), indent=2)
            elif args.output_format == "csv" and not payload.strip():
                # reference single-file parity (result.py:1064 via cli.py:480)
                print("Error: No tables found in the document content",
                      file=sys.stderr)
                return 1
            print(payload)
            return 0
        rows = itertools.chain(
            (r for r in (first, second) if r is not None), it
        )
        w = sys.stdout.write
        if jsonish:
            # stream the exact json.dumps({"results": [...], "count": n,
            # "errors": []}, indent=2) byte layout: each element rendered
            # with indent=2 and re-indented 4 spaces under "results"
            n = 0
            for r in rows:
                w('{\n  "results": [\n    ' if n == 0 else ",\n    ")
                chunk = json.dumps(json.loads(r["payload"]), indent=2)
                w(chunk.replace("\n", "\n    "))
                n += 1
            if n == 0:
                w('{\n  "results": [],\n')
            else:
                w("\n  ],\n")
            w(f'  "count": {n},\n  "errors": []\n}}\n')
        elif args.output_format == "csv":
            # index i is positional among ALL documents; empty-table docs
            # are skipped but keep their neighbors' numbers (cli.py:523-531)
            n_sections = 0
            for i, r in enumerate(rows):
                if not r["payload"].strip():
                    continue
                if n_sections:
                    w("\n\n")
                w(f"=== File {i + 1} ===\n{r['payload']}")
                n_sections += 1
            if not n_sections:
                print("Error: No tables found in any of the input files",
                      file=sys.stderr)
                return 1
            w("\n")
        else:
            sep = "\n\n<hr>\n\n" if htmlish else "\n\n---\n\n"
            for i, r in enumerate(rows):
                if i:
                    w(sep)
                w(r["payload"])
            w("\n")
        return 0

    if args.combine:
        if args.output_format == "all":
            print("--combine needs a single output format", file=sys.stderr)
            return 2
        combined = renditions.combine_documents(out, args.output_format)
        if args.output_format == "csv":
            # one pass: the empty check and the write share the cached
            # 1-row result instead of executing the pipeline twice
            combined = combined.cache()
            try:
                if combined.first()["count"] == 0:
                    # reference parity: csv combine with no tables
                    # anywhere is an error (cli.py:533-535)
                    print("Error: No tables found in any of the input files",
                          file=sys.stderr)
                    return 1
                combined.write.mode("overwrite").parquet(args.out)
            finally:
                combined.unpersist()
        else:
            combined.write.mode("overwrite").parquet(args.out)
    else:
        out.write.mode("overwrite").parquet(args.out)
    print(f"wrote {args.out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
