"""One cold benchmark sample: a fresh process, a fresh Spark session, one
workload job, then the outputs the parent process checks.

Run by run.py, never by hand:

    python3 perfbench/sample.py --workload short_html --input DIR --out R.json ...

The parent passes the generated input; this process sees only those rows.
It writes one JSON result: set-up times, the job's wall, process-tree CPU
and peak RSS, the outputs to check and, with ``--trace 1``, the status-store
split of the job and the spans recorded around each call.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.checks import jsonable  # noqa: E402
from perfbench.procmon import TreeMonitor, tree_cpu_s  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402

#: job group of the timed workload (status-store filter)
GROUP = "perfbench.workload"
#: extraction partitions per task slot (spread_repartition's advice for
#: the extraction stage: 3-4x the slots, so work stealing absorbs skew)
PARTITIONS_PER_SLOT = 4


def _hash_cols():
    from pyspark.sql import functions as F
    from smartreader_spark.pipeline.extract import EXTRACT_SCHEMA

    # Spark refuses to hash a map; hash its JSON rendering instead
    return [
        F.to_json(f.name) if f.name == "alternative_language_uris" else F.col(f.name)
        for f in EXTRACT_SCHEMA.fields
    ]


# --- workloads: the timed part ---------------------------------------------


def run_short_html(spark, a, tracer, res) -> int:
    from pyspark.sql import functions as F
    from smartreader_spark.pipeline.corpus import wrap_plain_documents
    from smartreader_spark.pipeline.extract import EXTRACT_SCHEMA, extract_articles

    slots = spark.sparkContext.defaultParallelism
    picked = F.col("doc_id").isin(a.sample_ids)
    with tracer.span("extract.job"):
        out = extract_articles(
            wrap_plain_documents(spark, a.input),
            num_partitions=PARTITIONS_PER_SLOT * slots,
        )
        rows = out.select(
            "doc_id",
            F.col("error").isNotNull().alias("err"),
            F.xxhash64(*_hash_cols()).alias("h"),
            F.when(picked, F.struct(*[f.name for f in EXTRACT_SCHEMA.fields])).alias("row"),
        ).collect()
    res["rows"] = [[r.doc_id, r.err, r.h] for r in rows]
    res["sampled"] = {r.doc_id: jsonable(r.row) for r in rows if r.row is not None}
    return len(rows)


def run_long_media(spark, a, tracer, res) -> int:
    from smartreader_spark.pipeline.checkpoint import run_resumable_extraction

    slots = spark.sparkContext.defaultParallelism
    with tracer.span("checkpoint.run"):
        summary = run_resumable_extraction(
            spark,
            spark.read.parquet(a.input),
            a.output,
            num_partitions=PARTITIONS_PER_SLOT * slots,
        )
    res["run_docs"] = summary["run_docs"]
    return summary["run_docs"]


def run_pipeline(spark, a, tracer, res) -> int:
    from smartreader_spark.pipeline.training import training_funnel, training_pipeline

    with tracer.span("training.pipeline"):
        survivors = training_pipeline(spark, a.input).collect()
    t0 = time.perf_counter()
    with tracer.span("training.funnel"):
        funnel = training_funnel(spark, a.input).collect()
    res["funnel_s"] = time.perf_counter() - t0
    res["survivors"] = [jsonable(r) for r in survivors]
    res["funnel"] = {r.stage: r.n_rows for r in funnel}
    return len(survivors)


WORKLOADS = {
    "short_html": run_short_html,
    "long_media": run_long_media,
    "pipeline": run_pipeline,
}


# --- untimed: material for the parent's checks -----------------------------


def kernel_inputs(spark, a) -> dict[str, str]:
    """The HTML the program hands the kernel for the sampled documents,
    built by the program's own wrapper + reassembly expressions."""
    from pyspark.sql import functions as F
    from smartreader_spark.pipeline.corpus import wrap_plain_documents
    from smartreader_spark.pipeline.extract import reassemble_html_expr

    rows = (
        wrap_plain_documents(spark, a.input)
        .filter(F.col("doc_id").isin(a.sample_ids))
        .select("doc_id", reassemble_html_expr().alias("html"))
        .collect()
    )
    return {r.doc_id: r.html for r in rows}


def extracted_docs(spark, a, path: str) -> None:
    """The pipeline's extracted doc table, for the DuckDB restatement."""
    from smartreader_spark.pipeline.training import unified_doc_table

    unified_doc_table(spark, a.input).write.mode("overwrite").parquet(path)


def layer_split(spark, a, res) -> None:
    """Status-store split of the timed job group."""
    from perfbench.status import StatusStore, plan_udfs, python_node_summary

    sc = spark.sparkContext
    store = StatusStore(sc.uiWebUrl, sc.applicationId)
    store.wait_settled(GROUP)
    view = store.group_view(GROUP)
    slots = sc.defaultParallelism
    res["spark"] = view.stage_totals()
    if a.workload != "pipeline":
        # the pipeline's extraction job also runs the PDF leg's function
        res["extract"] = python_node_summary(view, "extract_batch", slots)
    if a.workload == "long_media":
        data, rest = [], []
        for e in view.executions:
            runs_kernel = "extract_batch" in plan_udfs(e.get("planDescription", ""))
            (data if runs_kernel else rest).append(e)
        res["checkpoint"] = {
            "write_s": sum(e["duration"] for e in data) / 1e3,
            "lineage_s": sum(e["duration"] for e in rest) / 1e3,
        }


def run_stages(spark, a, tracer, res) -> None:
    """The pipeline's stages as separately materialized public calls, each
    in its own job group (trace only; after the timed job, so the JVM is
    warm but no memo is shared with it)."""
    from pyspark.sql import functions as F
    from smartreader_spark.functions.dedup import exact_dedup_groups, simhash_pairs_for_docs
    from smartreader_spark.pipeline.pdf_ingest import pdf_to_span_table
    from smartreader_spark.pipeline.training import (
        PDF_DOCS,
        quality_token_stage,
        unified_doc_table,
    )
    from smartreader_spark.sources.pdf_corpus import pdf_corpus_rows
    from perfbench.status import StatusStore, python_node_summary

    sc = spark.sparkContext
    store = StatusStore(sc.uiWebUrl, sc.applicationId)

    def timed(group, name, action):
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        with tracer.span(name):
            value = action()
        res[name] = time.perf_counter() - t0
        store.wait_settled(group)
        return value, store.group_view(group)

    def digest(df):
        # max of a row hash forces every column; a sum could overflow
        return df.agg(F.count("*"), F.max(F.xxhash64(*df.columns))).collect()[0]

    timed("stage.unified", "training.unified_docs",
          lambda: digest(unified_doc_table(spark, a.input)))
    pdf_rows = spark.createDataFrame(pdf_corpus_rows(PDF_DOCS), "doc_id long, pdf binary")
    _, view = timed("stage.pdf", "pdf.ingest",
                    lambda: digest(pdf_to_span_table(pdf_rows, num_partitions=2)))
    res["pdf"] = python_node_summary(view, "_pdf_batch", sc.defaultParallelism)
    sc.setJobGroup("stage.cache", "stage.cache")
    docs = unified_doc_table(spark, a.input).cache()
    docs.count()
    timed("stage.exact", "dedup.exact", lambda: exact_dedup_groups(spark, a.input).collect())
    pairs, view = timed(
        "stage.simhash", "dedup.simhash_pairs",
        lambda: simhash_pairs_for_docs(docs.select("doc_id", "text")).collect(),
    )
    res["verified_pairs"] = len(pairs)
    res["candidate_pairs"] = max(view.max_join_output_rows(e) for e in view.executions)
    timed("stage.quality", "textqa.quality", lambda: digest(quality_token_stage(docs)))


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--input", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--output", help="long_media: fresh output directory")
    p.add_argument("--sample-ids", default="[]", help="JSON list of doc ids")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--check", type=int, default=0,
                   help="1: also write the material for the full checks")
    a = p.parse_args(argv)
    a.sample_ids = json.loads(a.sample_ids)

    tracer = Tracer(run_id="pending", enabled=bool(a.trace))
    res: dict = {"workload": a.workload}
    pid = os.getpid()
    with TreeMonitor(pid) as mon:
        with tracer.span("sample"):
            t0 = time.perf_counter()
            with tracer.span("session.start"):
                from smartreader_spark.pipeline.session import (
                    make_session,
                    warm_python_workers,
                )

                spark = make_session()
            t1 = time.perf_counter()
            sc = spark.sparkContext
            with tracer.span("session.warm_workers"):
                warm_python_workers(spark, sc.defaultParallelism)
            t2 = time.perf_counter()
            res.update(app_id=sc.applicationId, slots=sc.defaultParallelism,
                       start_s=t1 - t0, warm_s=t2 - t1)
            try:
                sc.setJobGroup(GROUP, GROUP)
                cpu0 = tree_cpu_s(pid)
                mon.reset_peak()
                t3 = time.perf_counter()
                with tracer.span("workload"):
                    res["docs_out"] = WORKLOADS[a.workload](spark, a, tracer, res)
                res["wall_s"] = time.perf_counter() - t3
                res["cpu_s"] = tree_cpu_s(pid) - cpu0
                res["peak_rss_bytes"] = mon.peak_rss_bytes()
                sc.setJobGroup("perfbench.after", "perfbench.after")
                if a.trace:
                    layer_split(spark, a, res)
                if a.trace and a.workload == "pipeline":
                    res["stages"] = {}
                    run_stages(spark, a, tracer, res["stages"])
                if a.check and a.workload != "long_media":
                    res["kernel_inputs"] = kernel_inputs(spark, a)
                if a.check and a.workload == "pipeline":
                    res["docs_path"] = a.out + ".docs.parquet"
                    extracted_docs(spark, a, res["docs_path"])
            finally:
                spark.stop()
    for s in tracer.spans:
        s.run_id = res["app_id"]
    res["spans"] = tracer.to_json()
    tmp = a.out + ".tmp"
    with open(tmp, "w") as f:
        json.dump(res, f)
    os.replace(tmp, a.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
