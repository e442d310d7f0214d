"""One-pass profiling and one-check rewriting.

The profiler materializes each stage once, from its inputs' cached
frames, and times that stage alone; ``Optimizer.apply`` lands every
edit of one ``Advice`` on one clone and checks the schema once. These
tests pin both: a stage's work runs once per profile, self times are
measured (never the clamp floor), ``sample_rows`` bounds every stage,
and ``apply`` builds the same plan as the chained public rewrites."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from plumberapp_spark import pipelines
from plumberapp_spark.metrics.profiler import PipelineProfiler
from plumberapp_spark.optimizer.advisor import Advice, Optimizer
from plumberapp_spark.plans import rewrites
from plumberapp_spark.plans.nodes import CACHE_DENYLIST_OPS, PARALLELIZABLE_OPS, Pipeline
from tests.conftest import SF_DIR


@pytest.mark.parametrize("shared", [False, True], ids=["linear", "cache_prefetch"])
def test_profile_computes_each_stage_once(spark, shared):
    """Profiling a linear pipeline runs its Python UDF once per row: the
    filter and the last map read the UDF stage's cached frame instead of
    recomputing their whole prefix. ``cache`` and ``prefetch`` nodes hand
    on their input's frame itself; it must stay cached until the last of
    them is counted."""
    calls = spark.sparkContext.accumulator(0)

    def bucket(x):
        calls.add(1)
        return x % 3

    udf = F.udf(bucket, "long")
    p = Pipeline.source_range(1000).with_columns({"b": udf(F.col("id"))})
    if shared:
        p = p.cache().prefetch(2)
    p = p.filter(F.col("b") == 0, desc="b==0").with_columns({"c": F.col("id") + 1})
    model = PipelineProfiler(spark).profile(p)
    assert calls.value == 1000
    assert model.stats[-1].aggregate_elements_produced == 334


@pytest.fixture(scope="module")
def curation_model(spark):
    return PipelineProfiler(spark).profile(pipelines.curation_pipeline(spark, SF_DIR))


def test_curation_self_times_are_measured(curation_model):
    stats = curation_model.stats
    assert all(s.self_processing_time > 1e-6 for s in stats)
    assert sum(s.p_busy for s in stats) == pytest.approx(1.0)
    sink = stats[-1]
    assert all(sink.processing_time >= s.processing_time for s in stats)
    # a stage's processing time is its self time on top of its input's
    # (the curation pipeline is linear, so the input is the critical path)
    by_name = {s.name: s for s in stats}
    for s in stats[:-1]:
        consumer = by_name[s.parent_name]
        assert consumer.processing_time == pytest.approx(
            consumer.self_processing_time + s.processing_time
        )
    assert curation_model.duration_s == sink.processing_time


def test_sample_rows_bounds_every_stage(spark):
    model = PipelineProfiler(spark).profile(
        pipelines.curation_pipeline(spark, SF_DIR), sample_rows=50
    )
    assert all(s.aggregate_elements_produced <= 50 for s in model.stats)
    assert model.stats[0].aggregate_elements_produced == 50


def _layout(p: Pipeline) -> list[tuple]:
    return [(n.name, n.op, n.parallelism, n.cached, n.prefetch_buffer) for n in p.nodes()]


@pytest.mark.parametrize("name", ["resnet", "gnmt", "curation"])
def test_apply_matches_chained_rewrites(spark, name):
    """``Optimizer.apply`` (one clone, one schema check) builds the plan
    the chained public rewrites build from the same advice."""
    p = (
        pipelines.curation_pipeline(spark, SF_DIR)
        if name == "curation"
        else pipelines.ALL_PIPELINES[name](spark, 400)
    )
    nodes = p.nodes()
    width = spark.sparkContext.defaultParallelism
    par = [n.name for n in nodes if n.op in PARALLELIZABLE_OPS]
    # one width-raising override (actuates) and one sub-width (does not)
    partitions = {par[0]: 2 * width + 1, par[-1]: 1}
    advice = Advice(
        partitions=partitions,
        cache_at=[n.name for n in nodes if n.op not in CACHE_DENYLIST_OPS][-1],
        prefetch_at=nodes[1].name,
        prefetch_buffer=3,
    )

    applied = Optimizer(spark).apply(p, advice)

    raises = {n: float(v) for n, v in partitions.items() if v > width}
    chained = rewrites.apply_parallelism(p, raises, spark)
    chained = rewrites.insert_cache_after(chained, advice.cache_at, spark)
    chained = rewrites.set_prefetch(chained, advice.prefetch_at, 3, spark)

    assert _layout(applied) == _layout(chained)
    assert _layout(applied) != _layout(p)
    assert applied.schema(spark) == chained.schema(spark) == p.schema(spark)
