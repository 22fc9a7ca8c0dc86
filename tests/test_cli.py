"""CLI + span-table IO smoke tests."""

import pandas as pd

from docstrange_spark import cli, datagen
from docstrange_spark.sources import span_table


def test_cli_markdown_roundtrip(spark, tmp_path):
    src = str(tmp_path / "spans_in")
    out = str(tmp_path / "md_out")
    datagen.fixture_spans(spark).write.parquet(src)

    assert cli.main([src, "--out", out, "--output-format", "markdown", "--cpus", "4"]) == 0
    got = spark.read.parquet(out)
    assert got.count() == 15
    assert "markdown" in got.columns


def test_cli_combine_and_spanize(spark, tmp_path):
    out = str(tmp_path / "combined")
    rc = cli.main(
        [
            "/root/testdata/sf0.001/documents.parquet",
            "--spanize",
            "--out", out,
            "--output-format", "markdown",
            "--combine",
            "--cpus", "4",
        ]
    )
    assert rc == 0
    row = spark.read.parquet(out).collect()[0]
    assert row["count"] == 500
    assert "\n\n---\n\n" in row["combined"]


def test_cli_resume_mode(spark, tmp_path):
    src = str(tmp_path / "spans_in2")
    out = str(tmp_path / "resumable_out")
    datagen.fixture_spans(spark).write.parquet(src)
    rc = cli.main([src, "--out", out, "--output-format", "json", "--resume", "--cpus", "4"])
    assert rc == 0
    got = span_table.read_spans.__globals__  # noqa: F841 (import sanity)
    data = spark.read.parquet(out + "/data")
    assert data.count() == 15
    assert "json" in data.columns


def test_resume_config_change_reruns(spark, tmp_path, capsys):
    """--resume records are keyed on (input snapshot, config): a rerun
    with another --output-format reprocesses every bucket instead of
    keeping the first format's data, and a repeated run skips them all
    (15 docs over 16 buckets leave buckets empty; those commit as done
    too)."""
    import json

    src = str(tmp_path / "spans_in")
    out = str(tmp_path / "resumable_out")
    datagen.fixture_spans(spark).write.parquet(src)

    def run(fmt):
        capsys.readouterr()
        assert cli.main([src, "--out", out, "--output-format", fmt,
                         "--resume", "--cpus", "4"]) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    assert run("json")["processed_buckets"] == list(range(16))
    assert run("markdown")["processed_buckets"] == list(range(16))
    data = spark.read.option("mergeSchema", "true").parquet(out + "/data")
    assert "json" not in data.columns and "markdown" in data.columns
    assert data.count() == 15
    again = run("markdown")
    assert again["processed_buckets"] == []
    assert again["skipped_buckets"] == list(range(16))


def test_span_table_helpers(spark, tmp_path):
    p = str(tmp_path / "st")
    df = datagen.fixture_spans(spark)
    span_table.write_spans(df, p, buckets=4)
    back = span_table.read_spans(spark, p)
    assert back.count() == df.count()
    assert not span_table.is_iceberg_table(p)
    assert span_table.is_iceberg_table("db.tbl")
    assert len(span_table.snapshot_id(spark, p)) == 32


def test_cli_csv_combine_errors_without_tables(spark, tmp_path):
    """Reference parity (cli.py:533-535): csv combine over a corpus with
    zero tables exits 1 with the reference's error message; a corpus
    WITH tables combines fine."""
    from docstrange_spark import cli

    rc = cli.main([
        "/root/testdata/sf0.001/documents.parquet", "--spanize",
        "--out", str(tmp_path / "none"), "--combine",
        "--output-format", "csv", "--cpus", "4",
    ])
    assert rc == 1

    src = str(tmp_path / "spans")
    datagen.fixture_spans(spark).write.parquet(src)
    rc = cli.main([
        src, "--out", str(tmp_path / "some"), "--combine",
        "--output-format", "csv", "--cpus", "4",
    ])
    assert rc == 0
    got = spark.read.parquet(str(tmp_path / "some")).first()
    assert got["count"] > 0 and "=== File " in got["combined"]


def test_cli_list_formats(capsys):
    """--list-formats prints the reference's grouped format listing
    (reference cli.py:22-45) and exits 0 without needing an input."""
    assert cli.main(["--list-formats"]) == 0
    got = capsys.readouterr().out
    assert got.startswith("Supported input formats:\n\n")
    for header in ("  Documents:", "  Data Files:", "  Presentations:",
                   "  Web:", "  Images:", "  Web Files:"):
        assert header in got
    for ext in ("- .pdf", "- .pptx", "- URLs", "- .html"):
        assert ext in got


def test_cli_stdout_single_and_multi(spark, tmp_path, capsys):
    """No --out prints to stdout (reference cli.py:541-550): one doc
    prints its markdown, many docs print the '---'-joined combination."""
    src = str(tmp_path / "one_doc")
    datagen.fixture_spans(spark).where("doc_id = 'md_structure-00000000'").write.parquet(src)
    assert cli.main([src, "--output-format", "markdown", "--cpus", "4"]) == 0
    single = capsys.readouterr().out
    assert single.strip() and "---" not in single

    src_all = str(tmp_path / "many_docs")
    datagen.fixture_spans(spark).write.parquet(src_all)
    assert cli.main([src_all, "--output-format", "markdown", "--cpus", "4"]) == 0
    multi = capsys.readouterr().out
    # >= 14 separators (15 docs; a doc's own horizontal rule may add more)
    assert multi.count("\n\n---\n\n") >= 14
    assert "# Quarterly Business Report" in multi


def test_cli_extract_fields_stdout(spark, tmp_path, capsys):
    """--extract-fields routes through llm.extract_fields; the fake://
    endpoint yields the local_specified_fields envelope the reference's
    result.extract_data returns (result.py:960-968)."""
    import json as _json

    src = str(tmp_path / "one_doc_f")
    datagen.fixture_spans(spark).where("doc_id = 'md_structure-00000000'").write.parquet(src)
    rc = cli.main([
        src, "--output-format", "json",
        "--extract-fields", "title", "total",
        "--llm-endpoint", "fake://ok", "--cpus", "4",
    ])
    assert rc == 0
    got = _json.loads(capsys.readouterr().out)
    assert got["format"] == "local_specified_fields"
    assert got["extractor"] == "ollama"
    assert got["requested_fields"] == ["title", "total"]
    assert set(got["extracted_fields"]) == {"title", "total"}


def test_cli_json_schema_stdout_and_fallback(spark, tmp_path, capsys):
    """--json-schema wraps in local_json_schema (result.py:970-978);
    an unreachable endpoint degrades to the deterministic
    structured_json parse — the reference's own fallback."""
    import json as _json

    schema_file = tmp_path / "schema.json"
    schema_file.write_text(_json.dumps(
        {"type": "object", "properties": {"lead": {"type": "string"},
                                          "n": {"type": "integer"}}}
    ))
    src = str(tmp_path / "one_doc_s")
    datagen.fixture_spans(spark).where("doc_id = 'md_structure-00000000'").write.parquet(src)

    rc = cli.main([
        src, "--output-format", "json", "--json-schema", str(schema_file),
        "--llm-endpoint", "fake://ok", "--cpus", "4",
    ])
    assert rc == 0
    got = _json.loads(capsys.readouterr().out)
    assert got["format"] == "local_json_schema"
    assert set(got["extracted_data"]) == {"lead", "n"}
    assert got["schema"]["properties"]["n"]["type"] == "integer"

    rc = cli.main([
        src, "--output-format", "json", "--json-schema", str(schema_file),
        "--llm-endpoint", "fake://bad", "--cpus", "4",
    ])
    assert rc == 0
    fb = _json.loads(capsys.readouterr().out)
    assert fb["format"] == "structured_json"  # parse-error -> fallback parser


def test_cli_extract_fields_requires_json(capsys):
    rc = cli.main(["whatever", "--output-format", "csv",
                   "--extract-fields", "a"])
    assert rc == 2


def test_cli_extract_fields_parquet_out(spark, tmp_path):
    """--extract-fields with --out lands (doc_id, json) parquet rows."""
    src = str(tmp_path / "spans_f")
    out = str(tmp_path / "fields_out")
    datagen.fixture_spans(spark).write.parquet(src)
    rc = cli.main([
        src, "--output-format", "json", "--extract-fields", "title",
        "--llm-endpoint", "fake://ok", "--out", out, "--cpus", "4",
    ])
    assert rc == 0
    got = spark.read.parquet(out)
    assert got.count() == 15 and set(got.columns) == {"doc_id", "json"}


def test_cli_variant_formats_combine_families(spark, tmp_path, capsys):
    """html_gpu combines like html (<hr> separator) and json_cloud like
    json ({results,count,errors} envelope), in both stdout-multi mode
    and combine_documents; conflicting/unsupported flag pairs exit 2."""
    import json as _json

    src = str(tmp_path / "spans_v")
    datagen.fixture_spans(spark).limit(3).write.parquet(src)

    assert cli.main([src, "--output-format", "html_gpu", "--cpus", "4"]) == 0
    out = capsys.readouterr().out
    assert out.count("\n\n<hr>\n\n") == 2 and "GPU Processed" in out

    assert cli.main([src, "--output-format", "json_cloud", "--cpus", "4"]) == 0
    raw = capsys.readouterr().out
    env = _json.loads(raw)
    assert env["count"] == 3 and len(env["results"]) == 3
    assert all(r["format"] == "cloud_flat_json" for r in env["results"])
    # the STREAMED envelope must be byte-identical to a one-shot
    # json.dumps of the same structure (the pre-streaming formatting)
    assert raw == _json.dumps(env, indent=2) + "\n"

    outdir = str(tmp_path / "jc_combined")
    assert cli.main([src, "--output-format", "json_cloud", "--combine",
                     "--out", outdir, "--cpus", "4"]) == 0
    row = spark.read.parquet(outdir).first()
    combined = _json.loads(row["combined"])
    assert combined["count"] == 3

    # flag validation
    assert cli.main([src, "--output-format", "json", "--extract-fields", "a",
                     "--json-schema", "x.json"]) == 2
    assert cli.main([src, "--output-format", "json", "--extract-fields", "a",
                     "--resume", "--out", str(tmp_path / "r")]) == 2


def test_cli_build_corpus_runs_and_resumes(spark, tmp_path, capsys):
    """--build-corpus runs the staged job end-to-end from the CLI and a
    second invocation skips every committed stage."""
    out = str(tmp_path / "corpus_cli")
    rc = cli.main(["/root/testdata/sf0.001/documents.parquet",
                   "--build-corpus", "--out", out, "--cpus", "4"])
    assert rc == 0
    import json as _json

    first = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert first["stages"]["pack"] == "ran"
    assert spark.read.parquet(f"{out}/pack").count() > 20
    rc = cli.main(["/root/testdata/sf0.001/documents.parquet",
                   "--build-corpus", "--out", out, "--cpus", "4"])
    assert rc == 0
    again = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert again["stages"]["pack"] == "skipped"
    # flag validation: no --out is exit 2
    assert cli.main(["/root/testdata/sf0.001/documents.parquet",
                     "--build-corpus"]) == 2


def test_cli_search_and_report(spark, capsys):
    import json as _json

    src = "/root/testdata/sf0.001/documents.parquet"
    rc = cli.main([src, "--search", "spark window", "--top-k", "3", "--cpus", "4"])
    assert rc == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if l.strip()]
    hits = [_json.loads(l) for l in lines]
    assert len(hits) == 3
    assert [h["rank"] for h in hits] == [1, 2, 3]
    assert hits[0]["score"] >= hits[1]["score"] >= hits[2]["score"]

    # empty / whitespace-only query: clean exit-2, no traceback
    assert cli.main([src, "--search", "   ", "--cpus", "4"]) == 2

    rc = cli.main([src, "--report", "--cpus", "4"])
    assert rc == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["n_docs"] == 500 and rep["n_langs"] == 5
    assert rep["exact_dup_docs"] == 0


def test_cli_update_corpus_roundtrip(spark, tmp_path, capsys):
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    old_p, new_p = str(tmp_path / "old"), str(tmp_path / "new")
    docs.where(F.col("doc_id") % 3 != 0).write.parquet(old_p)
    docs.write.parquet(new_p)
    out = str(tmp_path / "corpus")
    assert cli.main([old_p, "--build-corpus", "--out", out, "--cpus", "4"]) == 0
    capsys.readouterr()
    rc = cli.main([new_p, "--update-corpus", old_p, "--out", out, "--cpus", "4"])
    assert rc == 0
    import json as _json

    summ = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summ["extract_patch"]["n_added"] > 0
    assert summ["stages"]["extract"] == "skipped"
    # refresh without a prior build is a clean exit-2 error
    assert cli.main([new_p, "--update-corpus", old_p,
                     "--out", str(tmp_path / "empty"), "--cpus", "4"]) == 2


def test_cli_passage_search(spark, capsys):
    """--granularity passage indexes extracted sections and matches the
    passage_search contract query's top hits."""
    import json as _json

    import __spark_entry__ as em

    src = "/root/testdata/sf0.001/documents.parquet"
    rc = cli.main([src, "--search", "spark window", "--granularity",
                   "passage", "--top-k", "5", "--cpus", "4"])
    assert rc == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if l.strip()]
    hits = [_json.loads(l) for l in lines]
    assert len(hits) == 5
    assert all("#" in h["doc_id"] for h in hits)
    contract = {
        r["passage_id"]: (r["rank"], r["score"])
        for r in em.queries()["passage_search"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    for h in hits:
        assert contract[h["doc_id"]] == (h["rank"], h["score"])
