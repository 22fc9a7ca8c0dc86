"""Optional LLM extraction surface (U1-U3) — the engine's analog of the
reference's Ollama escape hatches
(``/root/reference/docstrange/services/ollama_service.py:74-300``).

OFF by default and excluded from all goldens/oracles — exactly like the
reference, which silently falls back to the deterministic parser when
Ollama is unreachable (``result.py:979-1001``). The Spark shape is a
``mapInPandas`` stage batching prompts to a local inference endpoint:

- **U1** ``extract_fields``: named-field extraction, null-filled misses;
- **U2** ``extract_with_schema``: user JSON schema in the prompt
  (``ollama_service.py:153-225``), JSON scraped out of the reply with
  the reference's ``\\{.*\\}`` repair, then **post-validated JVM-side
  with** ``F.from_json(col, ddl)`` where the DDL is derived from the
  schema — downstream plans get a typed struct, not a string;
- **U3** ``extract_document_json``: whole-document field mining
  (``ollama_service.py:227-300``) with the ``{"document": ...}``
  envelope guarantee; endpoint-down degrades to the deterministic
  markdown parser (the reference's own fallback).

``endpoint="fake://..."`` activates a deterministic in-process test
double (no network) so the full pipeline — prompt, JSON repair,
envelope, from_json validation — is testable offline; ``fake://bad``
returns unparseable text to exercise the repair-failure path.
"""

from __future__ import annotations

import json
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LLM_SCHEMA = "doc_id string, extracted_fields string, extractor string"

_JSON_SCRAPE = re.compile(r"\{.*\}", re.DOTALL)


# ---------------------------------------------------------------------------
# transport


def _fake_generate(endpoint: str, prompt: str) -> str:
    """Deterministic test double. Replies are pure functions of the
    prompt: schema prompts get a type-correct object wrapped in noise
    (exercising the JSON scrape), document prompts get a one-field
    mining result, field prompts get ``{field: "<field>:<token>"}``."""
    if endpoint.startswith("fake://bad"):
        return "no structured output here"

    def _content(marker: str) -> str:
        return prompt.split(marker, 1)[1].split("\n\nReturn", 1)[0].strip()

    if "JSON Schema:" in prompt:
        schema = json.loads(
            prompt.split("JSON Schema:\n", 1)[1].split("\n\nDocument content:")[0]
        )
        tok = (_content("Document content:\n").split() or ["x"])[0]
        by_type = {"string": tok, "integer": 42, "number": 3.5, "boolean": True}
        out = {
            k: by_type.get(spec.get("type", "string"), tok)
            for k, spec in (schema.get("properties") or {}).items()
        }
        return "Here is the extracted JSON: " + json.dumps(out)
    if "Extract all important fields" in prompt:
        tok = (_content("Document content:\n").split() or ["x"])[0]
        return json.dumps({"lead_token": tok})
    # U1 field-list prompt
    fields_part = prompt.split("exactly these keys: ", 1)[1].split(".\n\n", 1)
    fields = fields_part[0].split(", ")
    tok = (fields_part[1].split() or ["x"])[0]
    return json.dumps({f: f"{f}:{tok}" for f in fields})


def _generate(endpoint: str, model: str, prompt: str) -> str | None:
    """One prompt round-trip; None on any failure (fallback path)."""
    if endpoint.startswith("fake://"):
        return _fake_generate(endpoint, prompt)
    try:
        import urllib.request

        req = urllib.request.Request(
            f"{endpoint}/api/generate",
            data=json.dumps(
                {"model": model, "prompt": prompt, "stream": False, "format": "json"}
            ).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=30) as resp:
            body = json.loads(resp.read())
        return body.get("response", "")
    except Exception:
        return None


def _scrape_json(text: str) -> dict | None:
    """The reference's JSON repair: parse whole reply, else regex-scrape
    the first ``{...}`` block (``ollama_service.py:203-214``)."""
    try:
        obj = json.loads(text.strip())
        return obj if isinstance(obj, dict) else None
    except json.JSONDecodeError:
        m = _JSON_SCRAPE.search(text)
        if not m:
            return None
        try:
            obj = json.loads(m.group())
            return obj if isinstance(obj, dict) else None
        except json.JSONDecodeError:
            return None


def _prompt_stage(
    df: DataFrame, endpoint: str, model: str, schema: str, prompt, reply
) -> DataFrame:
    """The batch loop all three stages share: (doc_id, markdown) ->
    ``schema`` = (doc_id, payload, extractor) in one ``mapInPandas``.
    ``prompt(md)`` builds a document's prompt; ``reply(resp, md)`` maps
    the model's reply (None when the endpoint failed) to
    ``(payload, extractor)``."""
    cols = [c.split()[0] for c in schema.split(",")]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (doc_id, *reply(_generate(endpoint, model, prompt(md)), md))
                for doc_id, md in zip(pdf["doc_id"], pdf["markdown"])
            ]
            yield pd.DataFrame(rows, columns=cols)

    return df.select("doc_id", "markdown").mapInPandas(kernel, schema=schema)


# ---------------------------------------------------------------------------
# U1: named fields


def extract_fields(
    df: DataFrame,
    fields: list[str],
    endpoint: str = "http://localhost:11434",
    model: str = "llama3.2",
) -> DataFrame:
    """(doc_id, markdown) -> (doc_id, extracted_fields json, extractor).

    ``extractor`` records which path produced each row: 'llm' or
    'unavailable' (endpoint down — deterministic null-fill, mirroring the
    reference fallback)."""

    def prompt(md):
        return (
            "Extract the following fields from the document as JSON "
            f"with exactly these keys: {', '.join(fields)}.\n\n"
            f"{(md or '')[:8000]}"
        )

    def reply(resp, md):
        got = _scrape_json(resp) if resp is not None else None
        if got is None:
            return json.dumps({f: None for f in fields}), "unavailable"
        # null-fill missing fields, reference behavior
        return json.dumps({f: got.get(f) for f in fields}, sort_keys=True), "llm"

    return _prompt_stage(df, endpoint, model, LLM_SCHEMA, prompt, reply)


# ---------------------------------------------------------------------------
# U2: user JSON schema


_DDL_TYPES = {
    "string": "string",
    "integer": "bigint",
    "number": "double",
    "boolean": "boolean",
}


def ddl_from_json_schema(json_schema: dict) -> str:
    """Spark DDL for a flat JSON schema's properties (unknown types
    degrade to string; string arrays supported)."""
    cols = []
    for name, spec in (json_schema.get("properties") or {}).items():
        t = spec.get("type", "string")
        if t == "array":
            inner = _DDL_TYPES.get(
                (spec.get("items") or {}).get("type", "string"), "string"
            )
            cols.append(f"`{name}` array<{inner}>")
        else:
            cols.append(f"`{name}` {_DDL_TYPES.get(t, 'string')}")
    return ", ".join(cols)


def _schema_prompt(md: str, schema_str: str) -> str:
    # mirrors the reference prompt shape (ollama_service.py:174-186)
    return (
        "Extract data from this document content according to the provided "
        "JSON schema. Return ONLY a valid JSON object that matches the "
        "schema structure, no additional text or explanation.\n\n"
        f"JSON Schema:\n{schema_str}\n\n"
        f"Document content:\n{(md or '')[:8000]}\n\n"
        "Return a JSON object that matches the schema exactly. If a field "
        "is not found, use null for optional fields or an appropriate "
        "default value.\n\nJSON:"
    )


SCHEMA_OUT = "doc_id string, extracted_json string, extractor string"


def extract_with_schema(
    df: DataFrame,
    json_schema: dict,
    endpoint: str = "http://localhost:11434",
    model: str = "llama3.2",
) -> DataFrame:
    """U2: (doc_id, markdown) -> (doc_id, extracted_json, extractor,
    data struct<...>, valid boolean).

    The LLM reply is scraped/repaired in the kernel; conformance is then
    enforced JVM-side with ``F.from_json(extracted_json, ddl)`` derived
    from the user schema — type mismatches null out field-wise, a fully
    unparseable payload nulls the struct, and ``valid`` flags rows whose
    reply both came from the model and parsed under the schema."""
    schema_str = json.dumps(json_schema, indent=2, sort_keys=True)
    props = list((json_schema.get("properties") or {}).keys())
    ddl = ddl_from_json_schema(json_schema)

    def reply(resp, md):
        if resp is None:
            return json.dumps({k: None for k in props}), "unavailable"
        got = _scrape_json(resp)
        if got is None:
            return json.dumps({k: None for k in props}), "parse_error"
        return json.dumps({k: got.get(k) for k in props}, sort_keys=True), "llm"

    out = _prompt_stage(
        df, endpoint, model, SCHEMA_OUT,
        lambda md: _schema_prompt(md, schema_str), reply,
    )
    return out.withColumn("data", F.from_json("extracted_json", ddl)).withColumn(
        "valid", F.col("data").isNotNull() & (F.col("extractor") == "llm")
    )


# ---------------------------------------------------------------------------
# U3: whole-document mining


def _document_prompt(md: str) -> str:
    # mirrors ollama_service.py:240-262
    return (
        "Extract all important fields and their values from the following "
        "document. Focus on extracting key data points such as names, "
        "dates, amounts, identifiers, and structured information.\n\n"
        f"Document content:\n{(md or '')[:8000]}\n\n"
        "Return ONLY a valid JSON object where keys are the field names "
        "and values are the extracted data.\n\nJSON:"
    )


def extract_document_json(
    df: DataFrame,
    endpoint: str = "http://localhost:11434",
    model: str = "llama3.2",
) -> DataFrame:
    """U3: (doc_id, markdown) -> (doc_id, document_json, extractor).

    Replies are wrapped in the ``{"document": ...}`` envelope when the
    model omits it (``ollama_service.py:288-291``). An unreachable
    endpoint degrades to the deterministic markdown parser — the exact
    fallback the reference takes (``result.py:979-1001``), tagged
    ``fallback_parser``."""
    from docstrange_spark.kernels import mdjson

    def reply(resp, md):
        got = _scrape_json(resp) if resp is not None else None
        if got is None:
            doc = mdjson.parse_markdown(md or "")
            return json.dumps(doc, sort_keys=True), "fallback_parser"
        if "document" not in got:
            got = {"document": got}
        return json.dumps(got, sort_keys=True), "llm"

    return _prompt_stage(
        df, endpoint, model,
        "doc_id string, document_json string, extractor string",
        _document_prompt, reply,
    )


# ---------------------------------------------------------------------------
# GPU-path JSON repair (deterministic part of U4): the exact cleanup
# chain the reference's GPU processor applies to model output before
# parsing (``gpu_processor.py:176-186``) — wrap bare keys in double
# quotes, replace single quotes, and degrade to ``{"raw_text": ...}``
# when still unparseable. The model inference itself stays out of scope;
# the repair is a pure string function any pipeline output can reuse.

_BARE_KEY = re.compile(r"(\w+):")


def repair_json_gpu(text: str) -> dict:
    """Parse model-emitted JSON with the reference GPU processor's
    repair heuristics, byte-compatible with ``try_parse_json``:
    plain parse first; else ``(\\w+): -> "\\1":`` then ``' -> "`` and
    reparse; else ``{"raw_text": <original text>}``."""
    try:
        return json.loads(text)
    except json.JSONDecodeError:
        # reference quirk, preserved for byte parity: its ``text``
        # variable is reassigned by the repair steps BEFORE the reparse,
        # so the raw_text fallback carries the REPAIRED string, not the
        # original input
        try:
            text = _BARE_KEY.sub(r'"\1":', text)
            text = text.replace("'", '"')
            return json.loads(text)
        except Exception:
            return {"raw_text": text}


def gpu_envelope(extracted: dict, ocr_provider: str = "nanonets") -> dict:
    """The GPU processor's result shape (``gpu_processor.py:191-203``),
    deterministic fields only (runtime file paths omitted)."""
    return {
        "document": extracted,
        "format": "gpu_structured_json",
        "gpu_processing_info": {
            "ocr_provider": ocr_provider,
            "processing_mode": "gpu",
            "json_extraction_method": "nanonets_model",
        },
    }


# ---------------------------------------------------------------------------
# R7 (deterministic part): the cloud result envelope shapes
# (``cloud_processor.py:140-184``). The external API itself is out of
# scope; these wrap OUR extraction outputs in the exact dict shapes the
# reference's CloudConversionResult.extract_data returns, so downstream
# consumers of either engine see identical structures.


def cloud_envelope_fields(extracted: dict) -> dict:
    """specified-fields shape (cloud_processor.py:152-157)."""
    return {"extracted_fields": extracted, "format": "specified_fields"}


def cloud_envelope_schema(structured: dict) -> dict:
    """specified-json shape (cloud_processor.py:159-166)."""
    return {"structured_data": structured, "format": "structured_json"}


def cloud_envelope_document(document: dict) -> dict:
    """flat-json shape (cloud_processor.py:168-175)."""
    return {"document": document, "format": "cloud_flat_json"}


def cloud_envelope_error(raw_content: str, error: str) -> dict:
    """parse-failure shape (cloud_processor.py:177-183)."""
    return {
        "document": {"raw_content": raw_content},
        "format": "json_parse_error",
        "error": error,
    }


def with_cloud_envelope(df: DataFrame, json_col: str, mode: str) -> DataFrame:
    """Wrap a JSON-string column in a cloud envelope, JVM-side: the
    envelope is a fixed frame around an already-serialized payload, so
    plain concat reproduces json.dumps byte-for-byte (insertion-order
    keys, ', ' separators)."""
    key = {
        "fields": ("extracted_fields", "specified_fields"),
        "schema": ("structured_data", "structured_json"),
        "document": ("document", "cloud_flat_json"),
    }[mode]
    return df.withColumn(
        f"{json_col}_enveloped",
        F.concat(
            F.lit('{"' + key[0] + '": '),
            F.col(json_col),
            F.lit(', "format": "' + key[1] + '"}'),
        ),
    )
