"""The session memo's one rule (pipeline/memo.py) and the scale-step
harness's replica builders (tools/scale_step.py)."""

import importlib.util
import os
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("smartreader-memo-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .getOrCreate()
    )
    yield s


@pytest.fixture
def memo():
    from smartreader_spark.pipeline import memo

    memo.clear()
    yield memo
    memo.clear()


@pytest.fixture(scope="module")
def scale_step():
    spec = importlib.util.spec_from_file_location(
        "scale_step", os.path.join(ROOT, "tools", "scale_step.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Builds:
    """A build callable that counts its calls."""

    def __init__(self, make):
        self.make, self.calls = make, 0

    def __call__(self, *args, **kwargs):
        self.calls += 1
        return self.make(*args, **kwargs)


def test_hit_returns_identical_object(spark, memo):
    build = Builds(lambda: spark.range(3))
    first = memo.memo(spark, "t", ("a", 1), build)
    assert memo.memo(spark, "t", ("a", 1), build) is first
    assert build.calls == 1


def test_key_change_releases_old_entry(spark, memo):
    old = memo.memo(spark, "t", "a", lambda: spark.range(5).cache())
    old.count()
    assert old.is_cached
    new = memo.memo(spark, "t", "b", lambda: spark.range(6).cache())
    assert not old.is_cached
    assert new.is_cached
    # a dict entry releases every frame it holds
    held = memo.memo(spark, "t", "c", lambda: {"x": spark.range(2).cache()})
    memo.memo(spark, "t", "d", lambda: 0)
    assert not held["x"].is_cached


def test_other_application_is_not_served(spark, memo):
    other = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app-other"))
    theirs = memo.memo(other, "t", "k", lambda: "theirs")
    assert memo.memo(spark, "t", "k", lambda: "ours") == "ours"
    assert theirs == "theirs"
    # one live entry per name: the other application's entry was replaced
    assert memo.memo(other, "t", "k", lambda: "rebuilt") == "rebuilt"


def test_clear_forces_rebuild(spark, memo):
    build = Builds(lambda: object())
    first = memo.memo(spark, "t", "k", build)
    memo.clear()
    assert memo.memo(spark, "t", "k", build) is not first
    assert build.calls == 2


def test_pipeline_then_funnel_builds_stages_once(spark, memo, monkeypatch):
    from smartreader_spark.pipeline import training

    build = Builds(training._build_stages)
    monkeypatch.setattr(training, "_build_stages", build)
    survivors = training.training_pipeline(spark, SF).count()
    funnel = {r.stage: r.n_rows for r in training.training_funnel(spark, SF).collect()}
    assert build.calls == 1
    assert funnel["30_quality_passed"] == survivors > 0


def test_replicas_are_k_times_base_with_distinct_ids(spark, scale_step, tmp_path):
    ids = {"documents": "doc_id", "events": "event_id", "embeddings": "vec_id"}
    k = 2
    for op, (tables, _queries) in scale_step.OPS.items():
        out = scale_step.build_replicas(spark, op, SF, k, str(tmp_path / op))
        for table in tables:
            base = spark.read.parquet(f"{SF}/{table}.parquet")
            rep = spark.read.parquet(f"{out}/{table}.parquet")
            n = base.count()
            assert n > 0
            assert rep.columns == base.columns, (op, table)
            counts = rep.agg(
                F.count("*").alias("rows"), F.countDistinct(ids[table]).alias("ids")
            ).first()
            assert (counts.rows, counts.ids) == (k * n, k * n), (op, table)


def test_every_attempt_pays_the_build(spark, memo, scale_step, monkeypatch):
    """Attempts after the first must not time a memo lookup: the
    harness clears the memo before each one."""
    from smartreader_spark.functions import dedup

    build = Builds(dedup.simhash_pairs_for_docs)
    monkeypatch.setattr(dedup, "simhash_pairs_for_docs", build)
    res = scale_step.run_queries(spark, "components", SF, attempts=2)
    assert build.calls == 2
    assert res["dedup_components"]["docs"] == 500
