"""In-process kernel pass: the same documents the Spark job extracts, run
through `kernel.reader.extract_html` in this process, one core.

Pass 1 times each document with nothing patched. Pass 2 wraps the kernel's
phase functions in spans (patched for the pass, restored after) to get
each phase's self time and the number of `parse_html` calls per document.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from statistics import quantiles

from perfbench.tracing import Tracer, self_times

#: (module attribute the kernel calls through, span name)
PHASES = (
    ("extractor.parse_html", "kernel.parse_html"),
    ("extractor.Extractor.grab_article", "kernel.grab_article"),
    ("extractor.get_article_metadata", "kernel.get_article_metadata"),
    ("reader.dom_to_output_spans", "kernel.dom_to_output_spans"),
)


@contextmanager
def instrumented(tracer: Tracer):
    from smartreader_spark.kernel import extractor, reader

    modules = {"extractor": extractor, "reader": reader}
    saved = []
    try:
        for path, name in PHASES:
            mod, *attrs = path.split(".")
            owner = modules[mod]
            for attr in attrs[:-1]:
                owner = getattr(owner, attr)
            fn = getattr(owner, attrs[-1])
            saved.append((owner, attrs[-1], fn))
            setattr(owner, attrs[-1], tracer.wrap(fn, name))
        yield
    finally:
        for owner, attr, fn in reversed(saved):
            setattr(owner, attr, fn)


def kernel_pass(pages: list[str], tracer: Tracer) -> dict:
    from smartreader_spark.kernel.reader import extract_html

    if not pages:
        raise ValueError("kernel pass needs at least one document")
    times = []
    for html in pages:
        t0 = time.perf_counter()
        extract_html(html)
        times.append(time.perf_counter() - t0)
    first = len(tracer.spans)
    with instrumented(tracer):
        for html in pages:
            with tracer.span("kernel.extract_html"):
                extract_html(html)
    spans = tracer.to_json()[first:]
    own = self_times(spans)
    n = len(pages)
    cuts = quantiles(times, n=100, method="inclusive")
    out = {
        "doc_ms_p50": cuts[49] * 1e3,
        "doc_ms_p99": cuts[98] * 1e3,
        "docs_per_s_core": n / sum(times),
        "mean_doc_s": sum(times) / n,
        "parse_calls_per_doc": sum(s["name"] == "kernel.parse_html" for s in spans) / n,
    }
    for _path, name in PHASES + (("", "kernel.extract_html"),):
        out[name.split(".", 1)[1] + "_self_ms"] = own.get(name, 0.0) * 1e3 / n
    return out
