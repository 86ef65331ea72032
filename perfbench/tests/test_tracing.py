"""Span self time and the process-tree sampler."""

import os

from perfbench.procmon import is_spawn_helper, tree_cpu_s, tree_rss_bytes
from perfbench.tracing import Tracer, self_times


def test_self_time_subtracts_covered_child_time():
    spans = [
        {"id": 0, "name": "a", "start": 0.0, "end": 10.0, "parent": None, "run_id": "r"},
        {"id": 1, "name": "b", "start": 1.0, "end": 4.0, "parent": 0, "run_id": "r"},
        {"id": 2, "name": "b", "start": 3.0, "end": 6.0, "parent": 0, "run_id": "r"},
        {"id": 3, "name": "c", "start": 2.0, "end": 3.0, "parent": 1, "run_id": "r"},
    ]
    own = self_times(spans)
    assert own["a"] == 10.0 - 5.0
    assert own["b"] == 3.0 - 1.0 + 3.0
    assert own["c"] == 1.0


def test_tracer_records_parents_and_disabled_tracer_records_nothing():
    t = Tracer("run")
    with t.span("outer"):
        with t.span("inner"):
            pass
    inner, outer = t.spans
    assert inner.parent == outer.id and outer.parent is None
    off = Tracer("run", enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_tree_sampler_sees_this_process():
    cpu0 = tree_cpu_s(os.getpid())
    sum(i * i for i in range(2_000_000))
    assert tree_cpu_s(os.getpid()) > cpu0
    assert tree_rss_bytes(os.getpid()) > 10 * 2**20


def test_rss_leaves_out_the_jvm_spawn_helpers_only():
    # names as /proc shows them: a helper cloned from an executor thread
    # before exec, then jspawnhelper, then its target; the Python daemon
    # the JVM starts and the workers the daemon forks are counted
    assert is_spawn_helper("Executor task l", "java")
    assert is_spawn_helper("jspawnhelper", "java")
    assert is_spawn_helper("chmod", "java")
    assert not is_spawn_helper("python", "java")
    assert not is_spawn_helper("python", "python")
    assert not is_spawn_helper("java", "python3")
