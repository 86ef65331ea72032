"""Output checks. Every check raises CheckFailed with the reason; none
accepts an empty result.

- rows in equal rows out, with the same document ids, and never 0 vs 0;
- extraction rows from Spark equal, field by field, what the in-process
  kernel (`kernel.reader.extract_html`) returns for the same HTML;
- long_media: every generated article paragraph and image is extracted and
  no boilerplate text or ad image leaks;
- pipeline: funnel counts are consistent and the survivors equal the DuckDB
  restatement in `oracle_sql()["pipeline_end_to_end"]` over the run's
  extracted doc table;
- repeated samples of one input produce the same output digest.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
from datetime import datetime


class CheckFailed(AssertionError):
    pass


def _fail(msg: str) -> None:
    raise CheckFailed(msg)


def jsonable(v):
    """Spark Row / dict values → plain JSON values in schema field order;
    timestamps become epoch seconds so both sides compare as instants."""
    if hasattr(v, "asDict"):
        return [jsonable(x) for x in v]
    if isinstance(v, (list, tuple)):
        return [jsonable(x) for x in v]
    if isinstance(v, dict):
        return sorted([k, jsonable(x)] for k, x in v.items())
    if isinstance(v, datetime):
        return v.timestamp()
    return v


def kernel_row(doc_id: str, r: dict) -> list:
    """The output row the extraction operator builds from one
    `extract_html` result, in EXTRACT_SCHEMA order."""
    return jsonable(
        [
            doc_id,
            [[s["kind"], s["text"], s["media_ref"], s["offset"]] for s in r["spans"]],
            r["title"],
            r["byline"],
            r["dir"],
            r["language"],
            r["excerpt"],
            r["site_name"],
            r["author"],
            r["published_at"],
            r["featured_image"],
            dict(r["alternative_language_uris"]),
            r["reading_time_sec"],
            r["is_readable"],
            [
                r["metrics"]["candidates_scored"],
                r["metrics"]["nodes_stripped"],
                r["metrics"]["chars_retained"],
            ],
            r["error"],
        ]
    )


def check_counts(docs_in: int, ids_in, ids_out: list) -> None:
    if docs_in <= 0:
        _fail("the generated input has no rows")
    if len(ids_out) != docs_in:
        _fail(f"{docs_in} rows in, {len(ids_out)} rows out")
    if set(map(str, ids_in)) != set(map(str, ids_out)):
        _fail("output document ids differ from the input ids")


def check_against_kernel(actual: dict[str, list], html: dict[str, str]) -> None:
    """`actual`: doc_id → output row as `jsonable` renders it; `html`:
    doc_id → the HTML the program handed the kernel."""
    from smartreader_spark.kernel.reader import extract_html

    if not html:
        _fail("no sampled documents to compare against the kernel")
    for doc_id, page in sorted(html.items()):
        if doc_id not in actual:
            _fail(f"sampled document {doc_id} missing from the output")
        want = kernel_row(doc_id, extract_html(page))
        got = actual[doc_id]
        if got != want:
            from smartreader_spark.pipeline.extract import EXTRACT_SCHEMA

            names = [f.name for f in EXTRACT_SCHEMA.fields]
            diff = [n for n, g, w in zip(names, got, want) if g != w]
            _fail(f"document {doc_id}: output differs from the kernel in {diff}")


def digest(items) -> str:
    h = hashlib.sha256()
    for item in sorted(json.dumps(i, sort_keys=True) for i in items):
        h.update(item.encode())
    return h.hexdigest()


# --- long_media --------------------------------------------------------------


def read_extracted(output_dir: str) -> list[dict]:
    """The checkpointed output rows, read straight from the parquet files
    (no Spark), as dicts in EXTRACT_SCHEMA order."""
    import pyarrow.parquet as pq

    from smartreader_spark.pipeline.extract import EXTRACT_SCHEMA

    names = [f.name for f in EXTRACT_SCHEMA.fields]
    files = sorted(glob.glob(f"{output_dir}/run_id=*/*.parquet"))
    if not files:
        _fail(f"no output files under {output_dir}")
    rows = []
    for f in files:
        rows.extend(pq.read_table(f, columns=names).to_pylist())
    return rows


def arrow_row(rec: dict) -> list:
    """A parquet record (pyarrow renders structs as dicts and maps as
    key/value tuples) → the `jsonable` row layout."""
    out = []
    for name, v in rec.items():
        if name == "spans":
            v = [[s["kind"], s["text"], s["media_ref"], s["offset"]] for s in v or []]
        elif name == "metrics":
            v = [v["candidates_scored"], v["nodes_stripped"], v["chars_retained"]]
        elif name == "alternative_language_uris":
            v = dict(v or [])
        out.append(jsonable(v))
    return out


def check_media_recall(rows: list[dict], pages) -> None:
    """Every generated paragraph and image of every page is extracted;
    no boilerplate text (BOILERPLATE_MARK) or ad image leaks."""
    from perfbench.gen import BOILERPLATE_MARK

    by_id = {r["doc_id"]: r for r in rows}
    for doc_id, _html, paras, images in pages:
        spans = by_id[doc_id]["spans"] or []
        texts = {s["text"] for s in spans if s["kind"] == "text"}
        missing = [p for p in paras if p not in texts]
        if missing:
            _fail(f"{doc_id}: {len(missing)} of {len(paras)} article paragraphs lost")
        refs = {s["media_ref"] for s in spans}
        lost = [i for i in images if i not in refs]
        if lost:
            _fail(f"{doc_id}: {len(lost)} of {len(images)} article images lost")
        for s in spans:
            if BOILERPLATE_MARK in (s["text"] or "") or "/ad" in (s["media_ref"] or ""):
                _fail(f"{doc_id}: boilerplate leaked into the article: {s['text'][:80]!r}")


# --- pipeline ----------------------------------------------------------------


FUNNEL_ORDER = ("00_extracted", "10_exact_deduped", "20_near_deduped", "30_quality_passed")


def check_funnel(funnel: dict[str, int], docs_in: int, pdf_docs: int, survivors: int) -> None:
    if docs_in <= 0:
        _fail("the generated input has no rows")
    if funnel.get("00_extracted") != docs_in + pdf_docs:
        _fail(
            f"extracted {funnel.get('00_extracted')} docs, expected "
            f"{docs_in} generated + {pdf_docs} PDFs"
        )
    counts = [funnel[s] for s in FUNNEL_ORDER]
    if any(b > a for a, b in zip(counts, counts[1:])):
        _fail(f"funnel grows between stages: {dict(zip(FUNNEL_ORDER, counts))}")
    if funnel["30_quality_passed"] != survivors:
        _fail(f"funnel says {funnel['30_quality_passed']} survivors, job returned {survivors}")
    if survivors <= 0:
        _fail("no document survived the pipeline")


def oracle_survivors(docs_parquet_dir: str) -> list[list]:
    """`oracle_sql()["pipeline_end_to_end"]` on DuckDB, pointed at the
    run's extracted doc table instead of the committed expected table."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()["pipeline_end_to_end"]
    committed = f"read_parquet('{entry._EXPECTED_PIPELINE_PQ}')"
    if committed not in sql:
        _fail("the pipeline oracle no longer reads the committed doc table")
    sql = sql.replace(committed, f"read_parquet('{docs_parquet_dir}/*.parquet')")
    con = duckdb.connect()
    try:
        return [list(r) for r in con.execute(sql).fetchall()]
    finally:
        con.close()


def check_survivors(actual: list[list], expected: list[list]) -> None:
    if not expected:
        _fail("the oracle returned no survivors")
    if len(actual) != len(expected):
        _fail(f"{len(actual)} survivors, the oracle has {len(expected)}")
    for got, want in zip(sorted(actual, key=str), sorted(expected, key=str)):
        for g, w in zip(got, want):
            same = (
                math.isclose(g, w, abs_tol=1e-9)
                if isinstance(g, float) or isinstance(w, float)
                else str(g) == str(w)
            )
            if not same:
                _fail(f"survivor {got[0]}: {got} differs from the oracle row {want}")
