"""Spark SQL-metric strings, as captured from the status store."""

import pytest

from perfbench.status import parse_metric, plan_udfs


def test_time_metric_with_task_split():
    m = parse_metric(
        "total (min, med, max (stageId: taskId))\n"
        "15.2 s (3.1 s, 4.2 s, 4.3 s (stage 10.0: task 21))"
    )
    assert (m.total, m.min, m.med, m.max) == (15.2, 3.1, 4.2, 4.3)
    assert (m.stage_id, m.stage_attempt, m.task_id, m.kind) == (10, 0, 21, "time")


def test_mixed_time_units():
    m = parse_metric(
        "total (min, med, max (stageId: taskId))\n"
        "1.5 min (407 ms, 595 ms, 1.2 h (stage 2.1: task 4))"
    )
    assert m.total == pytest.approx(90.0)
    assert m.min == pytest.approx(0.407)
    assert m.max == pytest.approx(4320.0)
    assert m.stage_attempt == 1


def test_size_metric():
    m = parse_metric(
        "total (min, med, max (stageId: taskId))\n"
        "3.9 MiB (989.6 KiB, 990.6 KiB, 991.4 KiB (stage 10.0: task 20))"
    )
    assert m.kind == "size"
    assert m.total == pytest.approx(3.9 * 2**20)
    assert m.med == pytest.approx(990.6 * 2**10)
    assert parse_metric("1834.0 KiB").total == pytest.approx(1834 * 1024)
    assert parse_metric("2.0 GiB").total == 2 * 2**30
    assert parse_metric("896.0 B").total == 896


def test_plain_values():
    assert parse_metric("0 ms").total == 0
    assert parse_metric("5,000").total == 5000
    assert parse_metric("5,000").kind == "count"


def test_unknown_format_fails_loudly():
    with pytest.raises(ValueError):
        parse_metric("total (min, max)\n1 s (2 s, 3 s)")
    with pytest.raises(ValueError):
        parse_metric("12 parsecs")


PLAN = """== Physical Plan ==
AdaptiveSparkPlan (9)
+- == Final Plan ==
   MapInPandas (2)

(1) Range [codegen id : 2]
Output [1]: [id#0L]
Arguments: Range (0, 100, step=1, splits=Some(4))

(2) MapInPandas
Input [1]: [id#0L]
Arguments: extract_batch(id#0L)#1, [id#2L], false

(7) MapInPandas
Input [1]: [id#3L]
Arguments: _pdf_batch(id#3L)#7, [id#8L], false
"""


def test_plan_udfs_names_each_python_operator():
    assert plan_udfs(PLAN) == ["extract_batch", "_pdf_batch"]
