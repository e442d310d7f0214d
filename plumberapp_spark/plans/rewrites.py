"""Plan rewrites — the reference's graph surgery re-expressed as plan
reconstruction with changed configs.

Every rewrite enforces the element-spec invariant (schema equality before/
after, pa/pipeline_optimizer.py:84-89,591-593,665-669) except
``truncate_to_source``, which intentionally changes the plan's sink
(pa/graphdef_util.py:835-880 keeps only the source subgraph to measure its
throughput ceiling).
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession

from plumberapp_spark.plans.nodes import PARALLELIZABLE_OPS, Pipeline, PlanNode


class SchemaChangedError(RuntimeError):
    """Raised when a rewrite would alter the element spec — the invariant
    the reference asserts around every graph mutation."""


def _clone(p: Pipeline) -> Pipeline:
    """Deep-copy the node DAG (builders are shared closures — immutable)."""
    memo: dict[str, PlanNode] = {}

    def cp(n: PlanNode) -> PlanNode:
        if n.name in memo:
            return memo[n.name]
        c = PlanNode(
            op=n.op,
            name=n.name,
            params=dict(n.params),
            inputs=[cp(i) for i in n.inputs],
            builder=n.builder,
            deterministic=n.deterministic,
            parallelism=n.parallelism,
            cached=n.cached,
            prefetch_buffer=n.prefetch_buffer,
        )
        memo[n.name] = c
        return c

    return Pipeline(cp(p.root), p._counter)


def _checked(original: Pipeline, rewritten: Pipeline, spark: SparkSession | None) -> Pipeline:
    if spark is not None:
        before = original.schema(spark)
        after = rewritten.schema(spark)
        if before != after:
            raise SchemaChangedError(f"rewrite changed schema:\n  before={before}\n  after={after}")
    return rewritten


def set_parallelism(p: Pipeline, name: str, parallelism: int, spark: SparkSession | None = None) -> Pipeline:
    """increase_node_parallelism analog (pa/graphdef_util.py:904-955):
    set the partition-count override on one node."""
    out = _clone(p)
    node = out.find(name)
    if node.op not in PARALLELIZABLE_OPS:
        raise ValueError(f"{name} ({node.op}) is not a parallelizable op")
    node.parallelism = max(1, int(parallelism))
    return _checked(p, out, spark)


def apply_parallelism(p: Pipeline, thetas: dict[str, float], spark: SparkSession | None = None) -> Pipeline:
    """Apply LP core-shares: ceil to partition counts, min 1
    (pa/pipeline_optimizer.py:77-89)."""
    out = _clone(p)
    _set_thetas(out, thetas)
    return _checked(p, out, spark)


def _set_thetas(out: Pipeline, thetas: dict[str, float]) -> None:
    """Set each parallelizable named node of ``out`` (a clone) to its
    core share rounded up; other ops keep their width."""
    for name, theta in thetas.items():
        node = out.find(name)
        if node.op in PARALLELIZABLE_OPS:
            node.parallelism = max(1, math.ceil(theta))


def insert_cache_after(p: Pipeline, name: str, spark: SparkSession | None = None) -> Pipeline:
    """Q6 cache insertion (pa/graphdef_util.py:618-643): persist at the
    chosen node."""
    out = _clone(p)
    out.find(name).cached = True
    return _checked(p, out, spark)


def remove_caches(p: Pipeline, spark: SparkSession | None = None) -> Pipeline:
    """RemoveCaches extension (pa/extensions.py:100-126; splice-out
    pa/graphdef_util.py:797-833): clear every persist point."""
    out = _clone(p)
    for n in out.nodes():
        n.cached = False
    return _checked(p, out, spark)


def set_prefetch(p: Pipeline, name: str, buffer_size: int, spark: SparkSession | None = None) -> Pipeline:
    """Q8 prefetch insert/resize (pa/pipeline_optimizer.py:363-397) —
    modeled: recorded on the node, consumed by the LP only."""
    out = _clone(p)
    out.find(name).prefetch_buffer = int(buffer_size)
    return _checked(p, out, spark)


def truncate_to_source(p: Pipeline, name: str) -> Pipeline:
    """Source-subgraph truncation (pa/graphdef_util.py:835-880): the plan
    rooted at ``name`` becomes the sink — used to measure the source's
    throughput ceiling in isolation. (Schema intentionally changes.)"""
    out = _clone(p)
    return Pipeline(out.find(name), p._counter)


def plan_diff(a: Pipeline, b: Pipeline) -> dict[str, set[str]]:
    """Q10 plan compatibility diff (pa/pipeline_optimizer.py:466-499):
    added/removed/common node names."""
    na = {n.name for n in a.nodes()}
    nb = {n.name for n in b.nodes()}
    return {"added": nb - na, "removed": na - nb, "common": na & nb}


def is_compatible(a: Pipeline, b: Pipeline) -> bool:
    """Name-isomorphism gate for mutable updates
    (pa/pipeline_optimizer.py:600-630)."""
    d = plan_diff(a, b)
    return not d["added"] and not d["removed"]
