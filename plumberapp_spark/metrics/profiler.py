"""Pipeline profiler: materializes each plan stage once, in topological
order, and assembles the per-operator :class:`MetricsModel`.

The reference gets per-op counters from one instrumented run of the
pipeline (the tf.data runtime's stats dump, pa/gen_util.py:61-78 →
stats.pb). Spark exposes no per-operator clock, so the profiler makes the
stage boundaries real instead: it builds each node from its inputs'
already-materialized frames (the same build rule as ``Pipeline.to_df``),
persists it and times its ``count()``. That time is the node's self time,
measured directly; its processing time is the self time plus the slowest
input's processing time (the critical path), so the sink's processing
time is the pipeline's duration. Each stage is computed once — one
``count()`` per node — and a node's frame is unpersisted as soon as its
last consumer has been counted, so at most the frontier stays cached.

``sample_rows`` limits each node's output to that many rows before it is
persisted, so every downstream stage is profiled on the sample its inputs
kept: the reference's take(n)-sandwich benchmarking trick
(pa/pipeline_optimizer.py:151-192), applied at every stage. Rates and
ratios are then those of the sampled stream.
"""

from __future__ import annotations

import time
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from plumberapp_spark.plans.nodes import PARALLELIZABLE_OPS, Pipeline, PlanNode
from plumberapp_spark.metrics.model import MetricsModel, NodeStats

# The per-node throughput-ceiling sweep (benchmark_all_nodes analog) lives
# in metrics/node_bench.py; re-exported here because it is profiling
# surface and earlier rounds imported it from this module.
from plumberapp_spark.metrics.node_bench import (  # noqa: F401
    IGNORE_OPS,
    benchmark_all_nodes,
    benchmark_node,
    ceiling_table,
    node_benchmark_pipeline,
)


def _plan_size_bytes(df) -> float:
    """Catalyst's own size estimate (optimizedPlan().stats) — the
    expected_dataset_size analog without materializing."""
    try:
        return float(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:  # noqa: BLE001 — py4j estimate is best-effort
        return 0.0


class PipelineProfiler:
    def __init__(self, spark: SparkSession):
        self.spark = spark

    def profile(self, pipeline: Pipeline, sample_rows: int | None = None) -> MetricsModel:
        nodes = pipeline.nodes()
        consumers: dict[str, str] = {}
        for child, parent in pipeline.edges():
            consumers[child] = parent
        # consumers of each node not yet counted; a node's frame is
        # released when this reaches zero (the sink's starts at zero)
        pending: Counter[int] = Counter(id(i) for n in nodes for i in n.inputs)

        tainted = pipeline.random_tainted()
        default_par = self.spark.sparkContext.defaultParallelism
        processing: dict[int, float] = {}
        rows: dict[int, int] = {}
        stats: list[NodeStats] = []
        # Frames this profile persisted (by id), how many unreleased nodes
        # hold each, and the one each node holds. ``cache``/``prefetch``
        # nodes return their input's frame, so a frame is unpersisted
        # only when its last holder is released. The build's own
        # persists at ``cached`` nodes, and whatever is left if profiling
        # stops early, are unpersisted at the end.
        ours: dict[int, DataFrame] = {}
        refs: Counter[int] = Counter()
        holds: dict[int, int] = {}
        built: list = []

        def release(node: PlanNode) -> None:
            key = holds.pop(id(node), None)
            if key is not None:
                refs[key] -= 1
                if refs[key] == 0:
                    ours.pop(key).unpersist()

        def measure(node: PlanNode, df: DataFrame) -> DataFrame:
            if sample_rows is not None:
                df = df.limit(sample_rows)
            size_bytes = _plan_size_bytes(df)
            if df.storageLevel == StorageLevel.NONE:
                df = df.persist(StorageLevel.MEMORY_AND_DISK)
                ours[id(df)] = df
            if id(df) in ours:
                refs[id(df)] += 1
                holds[id(node)] = id(df)

            t0 = time.perf_counter()
            n_rows = df.count()
            self_time = max(time.perf_counter() - t0, 1e-6)
            processing[id(node)] = self_time + max(
                (processing[id(i)] for i in node.inputs), default=0.0
            )
            rows[id(node)] = n_rows
            for i in node.inputs:
                pending[id(i)] -= 1
                if pending[id(i)] == 0:
                    release(i)
            if pending[id(node)] == 0:
                release(node)

            in_rows = sum(rows[id(i)] for i in node.inputs)
            parallelism = node.parallelism or default_par
            per_core = (n_rows / self_time) / parallelism
            stats.append(
                NodeStats(
                    name=node.name,
                    op=node.op,
                    parent_name=consumers.get(node.name, ""),
                    topo_idx=len(stats),
                    parallelism=parallelism,
                    is_parallel=node.op in PARALLELIZABLE_OPS,
                    is_random_udf=not node.deterministic,
                    is_random_udf_downstream=node.name in tainted,
                    cached=node.cached,
                    observed_rate=n_rows / processing[id(node)],
                    processing_time=processing[id(node)],
                    self_processing_time=self_time,
                    p_busy=0.0,  # filled below once total known
                    expected_per_core_max_rate=per_core,
                    expected_parallel_max_rate=per_core * parallelism,
                    aggregate_elements_produced=n_rows,
                    element_ratio=(n_rows / in_rows) if in_rows else 1.0,
                    expected_dataset_size=size_bytes,
                    average_bytes_per_element_produced=(size_bytes / n_rows) if n_rows else 0.0,
                    derived_cardinality=n_rows,
                    num_cores_used=0.0,
                )
            )
            return df

        try:
            pipeline.to_df(self.spark, persisted_out=built, visit=measure)
        finally:
            for f in [*ours.values(), *built]:
                f.unpersist()

        total_self = sum(s.self_processing_time for s in stats) or 1.0
        sink = stats[-1]
        for s in stats:
            s.p_busy = s.self_processing_time / total_self
            s.num_cores_used = s.p_busy * s.parallelism
        return MetricsModel(
            self.spark,
            stats,
            pipeline_rate=sink.observed_rate,
            duration_s=sink.processing_time,
        )
