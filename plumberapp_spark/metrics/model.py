"""The per-operator performance model — the table Plumber actually queries.

``ranked_nodes_to_df`` (pa/graph_rewrites.py:333-441) defines a 45-column
per-node stats frame; this module re-expresses its load-bearing columns as
a Spark DataFrame built by :class:`plumberapp_spark.metrics.profiler.
PipelineProfiler`. Columns that require the TF runtime's per-op queueing
counters (p_wait_blame, scheduling_delay…) are approximated from wall-time
attribution — the one declared approximation layer (SURVEY §7.6).
"""

from __future__ import annotations

from dataclasses import dataclass, field, asdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class NodeStats:
    """One row of the metrics table (subset of the reference's 45 columns,
    same names)."""

    name: str
    op: str
    parent_name: str  # downstream consumer ('' for the sink)
    topo_idx: int
    parallelism: int
    is_parallel: bool
    is_random_udf: bool
    is_random_udf_downstream: bool
    cached: bool
    observed_rate: float  # elements produced / processing_time
    processing_time: float  # self time + slowest input's processing_time (critical path)
    self_processing_time: float  # measured: count() of this node over its inputs' cached frames
    p_busy: float  # self time / pipeline total
    expected_per_core_max_rate: float
    expected_parallel_max_rate: float
    aggregate_elements_produced: int
    element_ratio: float  # produced / consumed
    expected_dataset_size: float  # bytes (optimizer size estimate)
    average_bytes_per_element_produced: float
    derived_cardinality: int
    num_cores_used: float
    N_customers: float = 0.0
    bandwidth_used: float | None = None


class MetricsModel:
    """Holds the profiled stats + pipeline-level rollups; every §2.6 query
    is a method returning a DataFrame (so the analytic layer is itself
    relational, as in the reference's pandas frames)."""

    def __init__(self, spark: SparkSession, stats: list[NodeStats], pipeline_rate: float, duration_s: float):
        self.spark = spark
        self.stats = stats
        self.pipeline_rate = pipeline_rate
        self.duration_s = duration_s

    SCHEMA = (
        "name string, op string, parent_name string, topo_idx int, parallelism int, "
        "is_parallel boolean, is_random_udf boolean, is_random_udf_downstream boolean, "
        "cached boolean, observed_rate double, processing_time double, "
        "self_processing_time double, p_busy double, expected_per_core_max_rate double, "
        "expected_parallel_max_rate double, aggregate_elements_produced bigint, "
        "element_ratio double, expected_dataset_size double, "
        "average_bytes_per_element_produced double, derived_cardinality bigint, "
        "num_cores_used double, N_customers double, bandwidth_used double"
    )

    def to_df(self) -> DataFrame:
        rows = [asdict(s) for s in self.stats]
        return self.spark.createDataFrame(rows, schema=self.SCHEMA)

    def to_pandas(self):
        import pandas as pd

        return pd.DataFrame([asdict(s) for s in self.stats])

    # -- §2.6 queries ------------------------------------------------------

    def ranked_bottlenecks(self) -> DataFrame:
        """Ranked list (pa/graph_rewrites.py:550-551): ascending expected
        max rate — head is the bottleneck."""
        return self.to_df().orderBy("expected_parallel_max_rate", "name")

    def bottleneck_node(self) -> NodeStats:
        """Q1 (pa/graph_rewrites.py:562)."""
        return min(self.stats, key=lambda s: (s.expected_parallel_max_rate, s.name))

    def roofline(self, num_cores: int) -> dict:
        """Q5 roofline stats (pa/pipeline_optimizer.py:745-810):
        W = total work time, T = pipeline wall time, N = W/T cores used,
        R = W/C work per element, X_cpu = cores/R upper bound."""
        W = sum(s.self_processing_time for s in self.stats)
        T = self.duration_s
        C = max(sum(s.aggregate_elements_produced for s in self.stats if not s.is_parallel), 1)
        total_elements = max((s.aggregate_elements_produced for s in self.stats), default=1)
        R = W / max(total_elements, 1)
        return {
            "total_work_s": W,
            "duration_s": T,
            "cores_used_N": W / T if T > 0 else 0.0,
            "work_per_element_R": R,
            "cpu_upper_bound_rate": num_cores / R if R > 0 else float("inf"),
            "observed_rate": self.pipeline_rate,
        }

    def disk_upper_bound(self, bandwidth_mbps: float) -> float:
        """Q4: X_disk = bandwidth / bytes_per_root_element
        (pa/pipeline_optimizer.py:1047-1100)."""
        sources = [s for s in self.stats if not s.parent_name or s.topo_idx == 0]
        sources = [s for s in self.stats if s.op.startswith("source")] or sources
        bpe = max((s.average_bytes_per_element_produced for s in sources), default=0.0)
        if bpe <= 0:
            return float("inf")
        return bandwidth_mbps * 1e6 / bpe

    def edges_df(self) -> DataFrame:
        """J6 parent/child relation as a joinable table."""
        return self.to_df().select("name", "parent_name")

    def join_thetas(self, thetas: dict[str, float]) -> DataFrame:
        """J5 metrics⋈LP-recommendation join
        (pa/graph_rewrites.py:699-706)."""
        t_df = self.spark.createDataFrame(
            list(thetas.items()) or [("", 0.0)], "name string, LP_Thetas_Recommendation double"
        )
        return self.to_df().join(t_df, on="name", how="left")
