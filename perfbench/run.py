"""Cold, seeded benchmark of smartreader_spark at local[4], split by layer.

    python3 perfbench/run.py --workload short_html --seed 1 --seconds 10 --trace 0

Workloads (inputs generated from --seed by perfbench/gen.py):
  short_html  sf-shaped one-span pages → pipeline.extract.extract_articles
  long_media  heavy-tailed media pages → pipeline.checkpoint.run_resumable_extraction
  pipeline    sf-shaped documents with duplicates → training.training_pipeline
              then training.training_funnel

Every sample is a fresh Python process with a fresh Spark session, so no
session memo can hit. A run takes MIN_SAMPLES[workload] samples, and more
until --seconds have passed; the end-to-end metrics are medians over them.
Outputs are checked (see checks.py) and a failed check makes the exit
code 1.

--trace 1 runs one untraced and one traced sample (the traced pipeline
sample then runs its stages as separate calls) and an in-process kernel pass, and reports the
per-layer metrics, each layer's self time and the tracing overhead. Spans
are written to .perfbench_work/traces/.

The last line of stdout is one JSON object:
{"correct": bool, "attempted": docs, "failed": docs, "metrics": {...}}.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
WORKLOADS = ("short_html", "long_media", "pipeline")
MASTER_CPUS = 4
#: a run never starts a sample after this many seconds, so it ends in time
RUN_BUDGET_S = 120.0
SAMPLE_TIMEOUT_S = 150.0
#: cold samples per run at least: short_html, the most CPU-bound workload,
#: swings most with the host's speed, so its run takes the median of two
#: samples a minute apart; one sample each keeps the others' runs short
MIN_SAMPLES = {"short_html": 2, "long_media": 1, "pipeline": 1}
#: sampled documents compared against the in-process kernel
CHECK_DOCS = {"short_html": 200, "long_media": 16, "pipeline": 200}
#: documents of the in-process kernel pass (--trace 1)
KERNEL_DOCS = {"short_html": 1000, "long_media": 80, "pipeline": 1000}

END_TO_END = (
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("docs_per_s", "1/s"),
    ("input_mb_per_s", "MB/s"),
    ("cpu_s_per_kdoc", "s"),
    ("peak_rss_mb", "MiB"),
)

_EXTRACT = ("short_html", "long_media")
_ALL = WORKLOADS
#: per-layer metric → (unit, end-to-end metric it should move, workloads)
PER_LAYER = {
    "session.start_s": ("s", "setup_s", _ALL),
    "session.warm_workers_s": ("s", "setup_s", _ALL),
    "extract.py_busy_s": ("s", "docs_per_s, wall_s", _EXTRACT),
    "extract.py_init_s": ("s", "docs_per_s, wall_s", _EXTRACT),
    "extract.arrow_in_mb": ("MiB", "input_mb_per_s", _EXTRACT),
    "extract.arrow_out_mb": ("MiB", "input_mb_per_s", _EXTRACT),
    "extract.jvm_s": ("s", "docs_per_s, wall_s", _EXTRACT),
    "extract.slot_occupancy": ("ratio", "docs_per_s, wall_s", _EXTRACT),
    "extract.task_skew": ("ratio", "wall_s", _EXTRACT),
    "kernel.doc_ms_p50": ("ms", "docs_per_s", _ALL),
    "kernel.doc_ms_p99": ("ms", "docs_per_s", _ALL),
    "kernel.docs_per_s_core": ("1/s", "docs_per_s", _ALL),
    "kernel.parse_html_self_ms": ("ms", "docs_per_s", _ALL),
    "kernel.grab_article_self_ms": ("ms", "docs_per_s", _ALL),
    "kernel.get_article_metadata_self_ms": ("ms", "docs_per_s", _ALL),
    "kernel.dom_to_output_spans_self_ms": ("ms", "docs_per_s", _ALL),
    "kernel.extract_html_self_ms": ("ms", "docs_per_s", _ALL),
    "kernel.parse_calls_per_doc": ("count", "docs_per_s", _ALL),
    "kernel.share_of_py_busy": ("ratio", "docs_per_s", _EXTRACT),
    "training.unified_docs_s": ("s", "wall_s", ("pipeline",)),
    "dedup.exact_s": ("s", "wall_s", ("pipeline",)),
    "dedup.simhash_pairs_s": ("s", "wall_s", ("pipeline",)),
    "textqa.quality_s": ("s", "wall_s", ("pipeline",)),
    "training.funnel_s": ("s", "wall_s", ("pipeline",)),
    "dedup.candidate_pairs": ("count", "wall_s", ("pipeline",)),
    "dedup.pair_yield": ("ratio", "wall_s", ("pipeline",)),
    "pdf.py_busy_s": ("s", "wall_s", ("pipeline",)),
    "spark.task_s": ("s", "wall_s", _ALL),
    "spark.shuffle_write_mb": ("MiB", "wall_s", _ALL),
    "spark.spill_mb": ("MiB", "wall_s", _ALL),
    "spark.stages": ("count", "wall_s", _ALL),
    "checkpoint.write_s": ("s", "wall_s", ("long_media",)),
    "checkpoint.lineage_s": ("s", "wall_s", ("long_media",)),
    "checkpoint.bytes_written_per_input_byte": ("ratio", "wall_s", ("long_media",)),
    "trace.overhead_s": ("s", "wall_s", _ALL),
}


class SampleFailed(RuntimeError):
    pass


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# --- processes ---------------------------------------------------------------


def become_subreaper() -> None:
    """Orphaned descendants (the JVM, the PySpark daemon, which moves to
    its own process group) are re-parented to this process, so
    `stop_descendants` can find, stop and reap every one of them."""
    libc = ctypes.CDLL(None, use_errno=True)
    PR_SET_CHILD_SUBREAPER = 36
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _descendants() -> list[int]:
    me = os.getpid()
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            parent[int(name)] = int(raw[raw.rindex(")") + 2:].split()[1])
    out = []
    for pid in parent:
        p = parent.get(pid)
        while p is not None and p > 1:
            if p == me:
                out.append(pid)
                break
            p = parent.get(p)
    return out


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float = 10.0) -> None:
    """Wait for every descendant to end, TERM after `grace_s`, KILL after
    twice that; reap them all."""
    deadline = time.monotonic() + grace_s
    sig = None
    while True:
        _reap()
        pids = _descendants()
        if not pids:
            return
        now = time.monotonic()
        if now > deadline + grace_s:
            sig = signal.SIGKILL
        elif now > deadline:
            sig = signal.SIGTERM
        if sig is not None:
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def child_env(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=ROOT + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""),
        SPARK_GRAFT_CPUS=str(MASTER_CPUS),
        # heap max = the session's -Xms2g, so the heap never resizes and
        # peak RSS does not depend on when the JVM chose to grow it
        SPARK_DRIVER_MEMORY="2g",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return env


def run_sample(ctx, tag: str, *, trace=0, check=0, sample_ids=()) -> dict:
    out = os.path.join(ctx.work, f"{tag}.json")
    cmd = [
        sys.executable, os.path.join(HERE, "sample.py"),
        "--workload", ctx.workload, "--input", ctx.gen.path, "--out", out,
        "--trace", str(trace), "--check", str(check),
        "--sample-ids", json.dumps(list(sample_ids)),
    ]
    if ctx.workload == "long_media":
        cmd += ["--output", os.path.join(ctx.work, f"{tag}-out")]
    logpath = os.path.join(ctx.work, f"{tag}.log")
    with open(logpath, "w") as logf:
        proc = subprocess.Popen(cmd, env=ctx.env, cwd=ROOT, stdout=logf, stderr=logf)
        try:
            code = proc.wait(timeout=SAMPLE_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
        finally:
            stop_descendants()
    if code != 0:
        with open(logpath) as f:
            tail = f.read()[-3000:]
        raise SampleFailed(f"sample {tag} exited with {code}:\n{tail}")
    with open(out) as f:
        return json.load(f)


# --- checks over one sample ----------------------------------------------------


def check_sample(ctx, res: dict, full: bool) -> tuple[int, str]:
    """Check one sample's outputs; returns (failed docs, output digest)."""
    from perfbench import checks

    w = ctx.workload
    if w == "short_html":
        ids_out = [r[0] for r in res["rows"]]
        checks.check_counts(ctx.gen.docs, range(ctx.gen.docs), ids_out)
        if full:
            checks.check_against_kernel(res["sampled"], res["kernel_inputs"])
        failed = sum(1 for r in res["rows"] if r[1])
        return failed, checks.digest(res["rows"])
    if w == "long_media":
        out_dir = os.path.join(ctx.work, f"{res['tag']}-out")
        rows = checks.read_extracted(out_dir)
        if res["run_docs"] != len(rows):
            raise checks.CheckFailed(f"lineage counts {res['run_docs']} docs, output has {len(rows)}")
        checks.check_counts(ctx.gen.docs, [p[0] for p in ctx.gen.pages], [r["doc_id"] for r in rows])
        arrow_rows = [checks.arrow_row(r) for r in rows]
        if full:
            by_id = {r[0]: r for r in arrow_rows}
            html = {p[0]: p[1] for p in ctx.gen.pages if p[0] in set(ctx.check_ids)}
            checks.check_against_kernel(by_id, html)
            checks.check_media_recall(rows, ctx.gen.pages)
        failed = sum(1 for r in rows if r["error"] is not None)
        return failed, checks.digest(arrow_rows)
    from smartreader_spark.pipeline.training import PDF_DOCS

    checks.check_funnel(res["funnel"], ctx.gen.docs, PDF_DOCS, len(res["survivors"]))
    if full:
        expected = checks.oracle_survivors(res["docs_path"])
        checks.check_survivors(res["survivors"], expected)
    failed = ctx.gen.docs + PDF_DOCS - res["funnel"]["00_extracted"]
    return failed, checks.digest(res["survivors"] + [sorted(res["funnel"].items())])


def docs_attempted(ctx) -> int:
    if ctx.workload == "pipeline":
        from smartreader_spark.pipeline.training import PDF_DOCS

        return ctx.gen.docs + PDF_DOCS
    return ctx.gen.docs


# --- runs ----------------------------------------------------------------------


class Ctx:
    def __init__(self, workload: str, seed: int, work: str):
        from perfbench import gen

        self.workload, self.seed, self.work = workload, seed, work
        self.env = child_env(work)
        t0 = time.perf_counter()
        self.gen = gen.generate(workload, seed, os.path.join(work, "input"))
        self.gen_s = time.perf_counter() - t0
        self.check_ids = pick_ids(self, CHECK_DOCS[workload])


def pick_ids(ctx, k: int) -> list[str]:
    """Deterministic document sample: evenly spaced ids, or for long_media
    evenly spaced ranks in page size, so big pages are always in."""
    n = ctx.gen.docs
    step = max(1, n // k)
    if ctx.workload == "long_media":
        by_size = sorted(ctx.gen.pages, key=lambda p: (len(p[1]), p[0]))
        return [by_size[i][0] for i in range(step // 2, n, step)][:k]
    return [str(i) for i in range(0, n, step)][:k]


def sample_metrics(ctx, res: dict) -> dict:
    docs = docs_attempted(ctx)
    return {
        "setup_s": res["start_s"] + res["warm_s"],
        "wall_s": res["wall_s"],
        "docs_per_s": docs / res["wall_s"],
        "input_mb_per_s": ctx.gen.input_bytes / 1e6 / res["wall_s"],
        "cpu_s_per_kdoc": res["cpu_s"] / (docs / 1000.0),
        "peak_rss_mb": res["peak_rss_bytes"] / 2**20,
    }


def timed_run(ctx, seconds: float, t_run0: float) -> tuple[list[dict], list[dict]]:
    """Cold samples until `seconds` have passed and at least
    MIN_SAMPLES[workload] were taken."""
    results, per_sample = [], []
    t0 = time.monotonic()
    while len(results) < MIN_SAMPLES[ctx.workload] or (
        time.monotonic() - t0 < seconds and time.monotonic() - t_run0 < RUN_BUDGET_S
    ):
        k = len(results)
        res = run_sample(ctx, f"s{k}", check=int(k == 0), sample_ids=ctx.check_ids)
        res["tag"] = f"s{k}"
        results.append(res)
        per_sample.append(sample_metrics(ctx, res))
    return results, per_sample


def trace_run(ctx) -> tuple[list[dict], dict, list[dict]]:
    """One untraced and one traced sample, the pipeline's stages and the
    in-process kernel pass → (samples, per-layer metrics, spans)."""
    from perfbench.kernelpass import kernel_pass
    from perfbench.tracing import Tracer

    w = ctx.workload
    kernel_ids = pick_ids(ctx, KERNEL_DOCS[w])
    plain = run_sample(ctx, "u0", check=1, sample_ids=kernel_ids)
    plain["tag"] = "u0"
    traced = run_sample(ctx, "t0", trace=1, sample_ids=ctx.check_ids)
    traced["tag"] = "t0"
    spans = list(traced["spans"])
    m = {name: 0.0 for name in PER_LAYER}
    m["session.start_s"] = traced["start_s"]
    m["session.warm_workers_s"] = traced["warm_s"]
    m["trace.overhead_s"] = traced["wall_s"] - plain["wall_s"]
    sp = traced["spark"]
    m["spark.task_s"] = sp["task_s"]
    m["spark.shuffle_write_mb"] = sp["shuffle_write_bytes"] / 2**20
    m["spark.spill_mb"] = sp["spill_bytes"] / 2**20
    m["spark.stages"] = sp["stages"]
    for key, value in traced.get("extract", {}).items():
        m[f"extract.{key}"] = value
    if w == "long_media":
        m["checkpoint.write_s"] = traced["checkpoint"]["write_s"]
        m["checkpoint.lineage_s"] = traced["checkpoint"]["lineage_s"]
        written = sum(
            os.path.getsize(os.path.join(d, f))
            for base in ("t0-out", "t0-out_lineage")
            for d, _, files in os.walk(os.path.join(ctx.work, base))
            for f in files
        )
        m["checkpoint.bytes_written_per_input_byte"] = written / ctx.gen.input_bytes
    if w == "pipeline":
        m["training.funnel_s"] = traced["funnel_s"]
        stages = traced["stages"]
        m["training.unified_docs_s"] = stages["training.unified_docs"]
        m["dedup.exact_s"] = stages["dedup.exact"]
        m["dedup.simhash_pairs_s"] = stages["dedup.simhash_pairs"]
        m["textqa.quality_s"] = stages["textqa.quality"]
        m["dedup.candidate_pairs"] = stages["candidate_pairs"]
        m["dedup.pair_yield"] = stages["verified_pairs"] / max(1, stages["candidate_pairs"])
        m["pdf.py_busy_s"] = stages["pdf"]["py_busy_s"]
    if w == "long_media":
        pages = {p[0]: p[1] for p in ctx.gen.pages}
        html = [pages[i] for i in kernel_ids]
    else:
        html = [plain["kernel_inputs"][i] for i in kernel_ids]
    tracer = Tracer(run_id=f"kernel-{w}-{ctx.seed}")
    k = kernel_pass(html, tracer)
    spans += tracer.to_json()
    m.update({f"kernel.{key}": v for key, v in k.items() if key != "mean_doc_s"})
    if m["extract.py_busy_s"] > 0:
        m["kernel.share_of_py_busy"] = k["mean_doc_s"] * ctx.gen.docs / m["extract.py_busy_s"]
    return [plain, traced], m, spans


# --- report ----------------------------------------------------------------------


def _fmt(v: float) -> str:
    return f"{v:.6g}"


def report_e2e(per_sample: list[dict]) -> dict:
    log(f"{'metric':<16}{'median':>12}  unit   min..max over {len(per_sample)} samples")
    out = {}
    for name, unit in END_TO_END:
        vals = [s[name] for s in per_sample]
        med = statistics.median(vals)
        out[name] = {"value": med, "unit": unit}
        log(f"{name:<16}{_fmt(med):>12}  {unit:<6} {_fmt(min(vals))}..{_fmt(max(vals))}")
    return out


def report_layers(ctx, m: dict, spans: list[dict]) -> dict:
    from perfbench.tracing import self_times

    log(f"{'per-layer metric':<42}{'value':>12}  {'unit':<6} moves")
    out = {}
    for name, (unit, moves, workloads) in PER_LAYER.items():
        here = ctx.workload in workloads
        out[name] = {"value": m[name], "unit": unit}
        note = moves if here else f"n/a on {ctx.workload} (0)"
        log(f"{name:<42}{_fmt(m[name]):>12}  {unit:<6} {note}")
    log("self time per span (s):")
    for name, s in sorted(self_times(spans).items(), key=lambda kv: -kv[1]):
        log(f"  {name:<40}{s:>10.3f}")
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "smartreader_spark", "__init__.py")):
        log(f"smartreader_spark is not in {ROOT}: nothing to benchmark")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.checks import CheckFailed

    t_run0 = time.monotonic()
    become_subreaper()
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{a.workload}-seed{a.seed}-{os.getpid()}")
    os.makedirs(work)
    correct, failed, results, ctx = True, 0, [], None
    try:
        ctx = Ctx(a.workload, a.seed, work)
        log(
            f"workload {a.workload} seed {a.seed}: {ctx.gen.docs} docs, "
            f"{ctx.gen.input_bytes / 1e6:.2f} MB, generated in {ctx.gen_s:.2f} s; "
            f"master local[{MASTER_CPUS}], host nproc {os.cpu_count()}"
        )
        if a.trace:
            results, layer_m, spans = trace_run(ctx)
        else:
            results, per_sample = timed_run(ctx, a.seconds, t_run0)
        digests = set()
        for i, res in enumerate(results):
            n_failed, dig = check_sample(ctx, res, full=(i == 0))
            failed += n_failed
            digests.add(dig)
        if len(digests) != 1:
            raise CheckFailed("samples of one input produced different outputs")
        log(f"doc_fail_frac {failed / (docs_attempted(ctx) * len(results)):.6g} "
            "(error rows + missing rows over docs attempted)")
        apps = [r["app_id"] for r in results]
        if len(set(apps)) != len(apps):
            raise CheckFailed(f"samples shared a Spark application: {apps}")
        if a.trace:
            metrics = report_layers(ctx, layer_m, spans)
            from perfbench.tracing import write_spans

            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            write_spans(
                os.path.join(base, "traces", f"{a.workload}-seed{a.seed}.json"), spans
            )
        else:
            metrics = report_e2e(per_sample)
    except CheckFailed as e:
        log(f"CHECK FAILED: {e}")
        correct = False
        metrics = {}
    finally:
        stop_descendants()
        shutil.rmtree(work, ignore_errors=True)
    attempted = (docs_attempted(ctx) if ctx else 1) * max(1, len(results))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
