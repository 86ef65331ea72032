#!/usr/bin/env python
"""Scale step: one operator family at ×1 and on ×K replicas of the sf
tables, in one session.

    python tools/scale_step.py --op components [--replicas 10] [--attempts 2]

The ×1 input is $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1); the
×K copy is written to a fresh temporary directory and removed at exit.
The session comes from pipeline.session.make_session(), so its size is
$SPARK_GRAFT_CPUS. Each attempt starts with an empty session memo and
Spark cache, so every attempt pays the full build; the attempt with the
lowest total wall is reported. Prints one JSON line: per query, the wall
and result counts at ×1 and ×K, the wall ratio, and the ×K/×1 ratio of
every count (a non-numeric count reports whether it is unchanged).
Experiment tool, not the benchmark; record results in BASELINE.md.

How each op replicates, and what that makes its counts show:

* extract — ids re-keyed, text identical: the pipeline's HTML leg
  (wrap → kernel via mapInPandas) at K× volume; docs scale exactly ×K.
* pipeline, components — replica k>0 appends " rev{k}", so replicas
  survive exact dedup and reach the simhash stage as near-dup families:
  banding and the bucket valve must keep candidate volume in check when
  near-dup density explodes. Components' rounds should stay near-flat
  (pointer jumping).
* decon — text identical; K coprime with 97 gives every replica its own
  ~1% benchmark slice, so the broadcast gram set grows ~K× and every
  benchmark doc gets K−1 corpus twins.
* seqpack — text and source identical: each per-source window partition
  carries K× the rows; no new exchange may appear.
* unigram — text identical: tokens ×K while the vocabulary (the
  localCheckpointed, joined side) keeps its exact size.
* bpe — text identical: the vocabulary is the same, so the merge rules
  must be identical and every pair count exactly ×K; the merge rounds'
  cost should not grow with the corpus.
* events, stream — each replica shifts user_id by a disjoint offset:
  K× the entities, each with an unchanged history, so sessions and
  as-of matches are exactly ×K; stream windows are keyed by (window,
  type), so their count stays the same while their sums scale ×K.
* newops — payloads identical; embeddings take block-offset ids so the
  codebook/query/training slots (vec_id < 40) stay the base vectors.
  semantic_dedup also runs with a √K-scaled codebook (64 cells), the
  mitigation for cells that grow K×.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
USER_STRIDE = 1_000_000


# ---- replica builders: table → {column: expression over (base, rep)} ----

def _docs(k: int, n: int) -> dict:
    return {"doc_id": F.col("doc_id") * k + F.col("rep")}


def _docs_perturbed(k: int, n: int) -> dict:
    return {
        **_docs(k, n),
        "text": F.when(F.col("rep") == 0, F.col("text")).otherwise(
            F.concat(F.col("text"), F.lit(" rev"), F.col("rep"))
        ),
    }


def _events(k: int, n: int) -> dict:
    return {
        "event_id": F.col("event_id") * k + F.col("rep"),
        "user_id": F.col("user_id") + F.col("rep") * USER_STRIDE,
    }


def _embeddings(k: int, n: int) -> dict:
    return {"vec_id": F.col("vec_id") + F.col("rep") * n}


# ---- queries: (spark, dir) → counts ----

def _agg(df, **exprs) -> dict:
    return df.agg(*[e.alias(n) for n, e in exprs.items()]).first().asDict()


def _extract(spark, d):
    from smartreader_spark.pipeline.corpus import wrap_plain_documents
    from smartreader_spark.pipeline.extract import extract_articles

    return _agg(
        extract_articles(wrap_plain_documents(spark, d)),
        docs=F.count("*"), errors=F.count("error"), spans=F.sum(F.size("spans")),
    )


def _pipeline(spark, d):
    from smartreader_spark.pipeline.training import training_pipeline

    return {"survivors": training_pipeline(spark, d).count()}


def _funnel(spark, d):
    from smartreader_spark.pipeline.training import training_funnel

    return {r["stage"]: r["n_rows"] for r in training_funnel(spark, d).collect()}


def _components(spark, d):
    from smartreader_spark.functions import components as C

    counts = _agg(
        C.dedup_components(spark, d),
        docs=F.count("*"), components=F.sum(F.col("is_canonical").cast("int")),
    )
    return {**counts, "rounds": C.LAST_ROUNDS}


def _decon(spark, d):
    from smartreader_spark.functions.curation import decontaminate_ngrams

    return _agg(
        decontaminate_ngrams(spark, d),
        docs=F.count("*"), grams=F.sum("n_grams"), overlap=F.sum("n_overlap"),
        contaminated=F.sum(F.col("contaminated").cast("int")),
    )


def _seqpack(spark, d):
    from smartreader_spark.functions.curation import sequence_pack

    per_source = sequence_pack(spark, d).groupBy("source").agg(
        F.count("*").alias("docs"),
        F.sum("n_tokens").alias("tokens"),
        (F.max(F.col("seq_first") + F.col("n_seqs")) - 1).alias("last_seq"),
        F.max("n_seqs").alias("max_span"),
    )
    return _agg(
        per_source,
        docs=F.sum("docs"), tokens=F.sum("tokens"),
        sequences=F.sum("last_seq") + F.count("*"),
        max_span=F.max("max_span"), sources=F.count("*"),
    )


def _unigram(spark, d):
    from smartreader_spark.functions.textqa import unigram_surprisal

    return _agg(
        unigram_surprisal(spark, d),
        docs=F.count("*"), tokens=F.sum("n_tokens"),
        passed=F.sum(F.col("passes_lm").cast("long")),
        avg_nats=F.round(F.avg("mean_surprisal_nats"), 4),
    )


def _vocab(spark, d):
    from smartreader_spark.functions.textqa import _load, _norm

    toks = _load(spark, d).select(
        F.explode(F.split(_norm(F.col("text")), " ")).alias("t")
    )
    return _agg(toks.where(F.col("t") != ""), vocab=F.countDistinct("t"))


def _bpe(spark, d):
    from smartreader_spark.functions.bpe import learn_bpe_merges

    merges = learn_bpe_merges(spark, d).collect()
    rules = "\n".join(f"{m['lhs']} {m['rhs']}" for m in merges)
    return {
        "merges": len(merges),
        "pair_count": sum(m["pair_count"] for m in merges),
        "rules_md5": hashlib.md5(rules.encode()).hexdigest(),
    }


def _sessions(spark, d):
    from smartreader_spark.functions.events import event_sessions

    return _agg(
        event_sessions(spark, d),
        sessions=F.count("*"), events=F.sum("n_events"), cents=F.sum("value_cents"),
    )


def _asof(spark, d):
    from smartreader_spark.functions.events import events_asof_error

    return _agg(
        events_asof_error(spark, d),
        rows=F.count("*"),
        matched=F.sum(F.col("last_error_id").isNotNull().cast("long")),
        age_sum=F.sum("micros_since_error"),
    )


def _stream(spark, d):
    from smartreader_spark.streaming.window_stream import stream_event_windows_bounded

    return _agg(
        stream_event_windows_bounded(spark, d),
        windows=F.count("*"), events=F.sum("n_events"), cents=F.sum("value_cents"),
    )


def _semdedup(n_cells):
    def run(spark, d):
        from smartreader_spark.functions.similarity import semantic_dedup

        return _agg(
            semantic_dedup(spark, d, n_cells=n_cells),
            vecs=F.count("*"), removed=F.sum((~F.col("is_kept")).cast("int")),
        )
    return run


def _bm25(spark, d):
    from smartreader_spark.functions.retrieval import bm25_search

    return _agg(
        bm25_search(spark, d),
        hits=F.count("*"), matched=F.sum("n_terms_matched"),
    )


def _dsir(spark, d):
    from smartreader_spark.functions.curation import dsir_importance

    return _agg(
        dsir_importance(spark, d),
        docs=F.count("*"), selected=F.sum(F.col("selected").cast("int")),
        feats=F.sum("n_feats"),
    )


def _ann_pq(spark, d):
    from smartreader_spark.functions.similarity import ann_pq

    return _agg(ann_pq(spark, d), hits=F.count("*"), top_score=F.max("score"))


#: op → (tables it replicates, queries it runs in order)
OPS = {
    "extract": ({"documents": _docs}, {"extract_articles": _extract}),
    "pipeline": (
        {"documents": _docs_perturbed},
        {"training_pipeline": _pipeline, "training_funnel": _funnel},
    ),
    "components": ({"documents": _docs_perturbed}, {"dedup_components": _components}),
    "decon": ({"documents": _docs}, {"decontaminate_ngrams": _decon}),
    "seqpack": ({"documents": _docs}, {"sequence_pack": _seqpack}),
    "unigram": (
        {"documents": _docs},
        {"unigram_surprisal": _unigram, "vocab_size": _vocab},
    ),
    "bpe": ({"documents": _docs}, {"learn_bpe_merges": _bpe}),
    "events": (
        {"events": _events},
        {"event_sessions": _sessions, "events_asof_error": _asof},
    ),
    "stream": ({"events": _events}, {"stream_event_windows_bounded": _stream}),
    "newops": (
        {"documents": _docs, "embeddings": _embeddings},
        {
            "semantic_dedup": _semdedup(16),
            "semantic_dedup_64_cells": _semdedup(64),
            "bm25_search": _bm25,
            "dsir_importance": _dsir,
            "ann_pq": _ann_pq,
        },
    ),
}


def build_replicas(spark, op: str, sf_dir: str, k: int, out_dir: str) -> str:
    """Write ×k copies of the op's tables of `sf_dir` under `out_dir`;
    every copy keeps the base columns, with re-keyed (distinct) ids."""
    for table, rekey in OPS[op][0].items():
        base = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        cols = rekey(k, base.count())
        (
            base.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(k - 1))))
            .select(*[cols.get(c, F.col(c)).alias(c) for c in base.columns])
            .repartition(spark.sparkContext.defaultParallelism)
            .write.parquet(f"{out_dir}/{table}.parquet")
        )
    return out_dir


def run_queries(spark, op: str, d: str, attempts: int) -> dict:
    """Best-of-`attempts` walls and counts of the op's queries over `d`."""
    from smartreader_spark.pipeline import memo

    best, totals = None, []
    for _ in range(attempts):
        memo.clear()
        spark.catalog.clearCache()
        res = {}
        for name, query in OPS[op][1].items():
            t0 = time.time()
            counts = query(spark, d)
            res[name] = {"wall_sec": round(time.time() - t0, 2), **counts}
        totals.append(round(sum(r["wall_sec"] for r in res.values()), 2))
        if best is None or totals[-1] < min(totals[:-1]):
            best = res
    return {"attempt_walls_sec": totals, **best}


def _ratio(xk, x1):
    if isinstance(x1, (int, float)):
        return round(xk / x1, 3) if x1 else None
    return xk == x1


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--op", required=True, choices=sorted(OPS))
    ap.add_argument("--replicas", type=int, default=10)
    ap.add_argument("--attempts", type=int, default=2)
    args = ap.parse_args()
    k = args.replicas

    from smartreader_spark.pipeline.session import make_session, warm_python_workers

    spark = make_session()
    cpus = spark.sparkContext.defaultParallelism
    warm_python_workers(spark, cpus)
    tmp = tempfile.mkdtemp(prefix=f"scale_step_{args.op}_x{k}_")
    try:
        scaled = build_replicas(spark, args.op, SF_DIR, k, tmp)
        x1 = run_queries(spark, args.op, SF_DIR, args.attempts)
        xk = run_queries(spark, args.op, scaled, args.attempts)
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)

    queries = {}
    for name in OPS[args.op][1]:
        a, b = x1[name], xk[name]
        wall_ratio = b["wall_sec"] / max(a["wall_sec"], 0.01)
        queries[name] = {
            "x1": a,
            "xk": b,
            "wall_ratio": round(wall_ratio, 2),
            "wall_ratio_vs_linear": round(wall_ratio / k, 2),
            "count_ratios": {
                c: _ratio(b[c], a[c]) for c in a if c != "wall_sec"
            },
        }
    print(json.dumps({
        "op": args.op,
        "replicas": k,
        "sf_dir": SF_DIR,
        "cpus": cpus,
        "attempt_walls_sec": {"x1": x1["attempt_walls_sec"], "xk": xk["attempt_walls_sec"]},
        "queries": queries,
    }))


if __name__ == "__main__":
    main()
