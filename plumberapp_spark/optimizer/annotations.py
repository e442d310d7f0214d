"""Annotation front-end — entry point 1 (SURVEY §3.1).

``@optimize_pipeline`` wraps a Pipeline-builder function: build →
profile on a sample → optimize → return the rebuilt plan, gated by the
same environment flags the reference honors
(pa/annotations.py:86-211; env gates
pa/pipeline_optimizer_wrapper.py:238-270: PLUMBER_OPTIMIZE_PIPELINE /
PLUMBER_NO_OPTIMIZE / PLUMBER_FAKE_PIPELINE).
"""

from __future__ import annotations

import functools
import itertools
import os
from typing import Callable

from pyspark.sql import SparkSession

from plumberapp_spark.optimizer.advisor import Optimizer
from plumberapp_spark.plans.nodes import Pipeline

ENV_OPTIMIZE = "PLUMBER_OPTIMIZE_PIPELINE"
ENV_NO_OPTIMIZE = "PLUMBER_NO_OPTIMIZE"


def _truthy(val: str | None) -> bool:
    return (val or "").strip().lower() in {"1", "true", "yes", "on"}


def should_optimize(override: bool | None = None) -> bool:
    """Precondition gate: explicit arg > PLUMBER_NO_OPTIMIZE >
    PLUMBER_OPTIMIZE_PIPELINE (default on, as the reference's decorated
    call sites run optimized unless opted out)."""
    if override is not None:
        return override
    if _truthy(os.environ.get(ENV_NO_OPTIMIZE)):
        return False
    if os.environ.get(ENV_OPTIMIZE) is not None:
        return _truthy(os.environ.get(ENV_OPTIMIZE))
    return True


def optimize_pipeline(
    sample_rows: int | None = 2000,
    kwargs_precondition_f: Callable[..., bool] | None = None,
    calibrated: bool = False,
):
    """Decorator for ``fn(spark, **kwargs) -> Pipeline``; returns the
    (maybe) optimized Pipeline. ``kwargs_precondition_f`` mirrors the
    reference's per-call gate (pa/annotations.py:130-169).

    ``calibrated=True`` runs the full calibrate-then-solve flow
    (profile for structure + per-node ceiling sweep for measured rates,
    the reference's benchmark_all_nodes → convex_solver path) instead
    of solving on the profiler's one-pass self-time estimates — slower
    to advise, sounder θs; the flow tools/optimize_curation.py records
    at Zipf scale (SCALE.md §12)."""

    def deco(fn):
        @functools.wraps(fn)
        def wrapper(spark: SparkSession, **kwargs) -> Pipeline:
            pipeline = fn(spark, **kwargs)
            if not isinstance(pipeline, Pipeline):
                raise TypeError(f"{fn.__name__} must return a Pipeline, got {type(pipeline)}")
            gate = True
            if kwargs_precondition_f is not None:
                gate = bool(kwargs_precondition_f(**kwargs))
            if not (gate and should_optimize()):
                return pipeline
            opt = Optimizer(spark)
            if calibrated:
                advice = opt.advise_calibrated(pipeline, sample_rows=sample_rows)
                tuned, _kept = opt.apply_validated(pipeline, advice)
                return tuned
            optimized, _advice = opt.optimize(pipeline, sample_rows=sample_rows)
            return optimized

        return wrapper

    return deco


def expand_grid_combinations(grid: dict[str, list]) -> list[dict]:
    """Q13 best-of-grid expansion (pa/annotations.py:213-219)."""
    keys = sorted(grid)
    return [dict(zip(keys, combo)) for combo in itertools.product(*(grid[k] for k in keys))]


def find_best_pipeline(
    spark: SparkSession,
    builder: Callable[..., Pipeline],
    grid: dict[str, list],
    bench_time_s: float = 5.0,
) -> tuple[Pipeline, dict, float]:
    """Q13 maybe_find_best_pipeline: benchmark every grid combination,
    return the argmax-rate pipeline
    (pa/pipeline_optimizer_wrapper.py:472-501)."""
    from plumberapp_spark.metrics.bench import bench_dataframe

    best = None
    for combo in expand_grid_combinations(grid):
        p = builder(spark, **combo)
        summary = bench_dataframe(p.to_df(spark), time_limit_s=bench_time_s)
        if best is None or summary.element_rate > best[2]:
            best = (p, combo, summary.element_rate)
    return best
