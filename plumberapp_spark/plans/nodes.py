"""Pipeline plan IR — the rewritable dataflow graph.

The reference carries its pipeline as a serialized tf1 GraphDef and spends
most of its code on protobuf surgery (pa/graphdef_util.py: positional const
indices :43-63, function-name heuristics :139-183, node splicing :566-833).
Here the plan is plain Python objects built fluently; "surgery" is
reconstruction with different node configs, and the element-spec invariant
is a schema equality check (reference: pa/pipeline_optimizer.py:84-89,
:591-593, :665-669).

Materialization (``to_df``) walks the DAG and composes the operator
library; Catalyst then owns physical planning. Node ``parallelism`` maps to
partition counts (the reference's ``num_parallel_calls``/``cycle_length``
consts, pa/graphdef_util.py:43-63); ``cached`` maps to ``persist()``;
``prefetch`` is a modeled no-op (SURVEY §7.5).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field
from typing import Any, Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

# Ops whose parallelism the optimizer may rewrite — mirrors
# SUPPORTED_PARALLELISM_OPS (pa/graphdef_util.py:13-17).
PARALLELIZABLE_OPS = {"source_parquet", "source_range", "map", "batch", "interleave"}

# Ops the cache advisor refuses to cache at/after — mirrors the deny-list
# logic in pa/pipeline_optimizer.py:1178-1218.
CACHE_DENYLIST_OPS = {"shuffle", "repeat", "cache", "prefetch"}


@dataclass
class PlanNode:
    op: str
    name: str
    params: dict[str, Any]
    inputs: list["PlanNode"]
    # builder(spark, input_dfs) -> DataFrame for THIS node
    builder: Callable[[SparkSession, list[DataFrame]], DataFrame]
    deterministic: bool = True
    parallelism: int | None = None
    cached: bool = False
    prefetch_buffer: int | None = None

    def label(self) -> str:
        return f"{self.op}({', '.join(f'{k}={v}' for k, v in self.params.items())})"


class Pipeline:
    """Immutable-ish fluent builder over :class:`PlanNode` DAGs.

    Every combinator returns a NEW Pipeline sharing upstream nodes —
    rewrites therefore never mutate a plan another pipeline holds
    (the reference needs explicit GraphDef copies for this,
    pa/pipeline_optimizer.py:587-630).
    """

    def __init__(self, root: PlanNode, counter: int = 0):
        self.root = root
        self._counter = counter

    # -- construction -----------------------------------------------------

    @staticmethod
    def _mk(op: str, params: dict, inputs: list[PlanNode], builder, counter: int, **kw) -> PlanNode:
        return PlanNode(op=op, name=f"{op}_{counter}", params=params, inputs=inputs, builder=builder, **kw)

    @classmethod
    def source_parquet(cls, path: str, columns: Sequence[str] | None = None) -> "Pipeline":
        """S1-analog parquet source (the canonical storage; SURVEY §2.1)."""

        def build(spark: SparkSession, _: list[DataFrame]) -> DataFrame:
            from plumberapp_spark.session import ensure_read_confs

            ensure_read_confs(spark)
            df = spark.read.parquet(path)
            return df.select(*columns) if columns else df

        node = cls._mk("source_parquet", {"path": path, "columns": list(columns or [])}, [], build, 0)
        return cls(node, 1)

    @classmethod
    def source_text(cls, path: str) -> "Pipeline":
        """S2 TextLineDataset (mb/simple_gnmt/estimator.py:102-103)."""

        def build(spark: SparkSession, _: list[DataFrame]) -> DataFrame:
            return spark.read.text(path)

        return cls(cls._mk("source_text", {"path": path}, [], build, 0), 1)

    @classmethod
    def source_range(cls, n: int) -> "Pipeline":
        """S5 Dataset.range (notebook/Example.ipynb cell 4)."""

        def build(spark: SparkSession, _: list[DataFrame]) -> DataFrame:
            return spark.range(n)

        return cls(cls._mk("source_range", {"n": n}, [], build, 0), 1)

    @classmethod
    def from_dataframe(cls, df: DataFrame, desc: str = "literal") -> "Pipeline":
        """S4 from_tensor_slices analog: wrap an existing DataFrame."""
        return cls(cls._mk("source_literal", {"desc": desc}, [], lambda spark, _: df, 0), 1)

    def _chain(self, op: str, params: dict, builder, deterministic: bool = True, extra_inputs: list[PlanNode] | None = None) -> "Pipeline":
        extra_inputs = list(extra_inputs or [])
        if extra_inputs:
            # Merging two independently-built pipelines: their per-pipeline
            # counters can collide on node names (both have a "map_1"), and
            # name collisions would corrupt taint/diff/find. Rename the
            # incoming subtree's colliding nodes (pure clone — the other
            # pipeline keeps its own names).
            mine = {n.name for n in self.nodes()}

            def rename(n: PlanNode, memo: dict[int, PlanNode]) -> PlanNode:
                if id(n) in memo:
                    return memo[id(n)]
                c = PlanNode(
                    op=n.op,
                    name=(n.name + "~r") if n.name in mine else n.name,
                    params=dict(n.params),
                    inputs=[rename(i, memo) for i in n.inputs],
                    builder=n.builder,
                    deterministic=n.deterministic,
                    parallelism=n.parallelism,
                    cached=n.cached,
                    prefetch_buffer=n.prefetch_buffer,
                )
                memo[id(n)] = c
                return c

            extra_inputs = [rename(r, {}) for r in extra_inputs]
        node = self._mk(
            op,
            params,
            [self.root] + extra_inputs,
            builder,
            self._counter,
            deterministic=deterministic,
        )
        return Pipeline(node, self._counter + 1)

    # -- per-row transforms (P1-P16) --------------------------------------

    def map(self, fn: Callable[[DataFrame], DataFrame], desc: str = "udf", deterministic: bool = True) -> "Pipeline":
        """P1 MapDataset. ``fn`` must be a DataFrame->DataFrame projection
        (column expressions); pass ``deterministic=False`` for seeded/
        random logic — that taints downstream caching (Q7)."""
        return self._chain("map", {"desc": desc}, lambda spark, ins: fn(ins[0]), deterministic)

    def with_columns(self, exprs: dict[str, Column], deterministic: bool = True) -> "Pipeline":
        def build(spark, ins):
            df = ins[0]
            for name, col in exprs.items():
                df = df.withColumn(name, col)
            return df

        return self._chain("map", {"desc": f"with_columns({list(exprs)})"}, build, deterministic)

    def select(self, *cols) -> "Pipeline":
        return self._chain("map", {"desc": f"select({cols})"}, lambda spark, ins: ins[0].select(*cols))

    def filter(self, cond: Column, desc: str = "") -> "Pipeline":
        """P2 FilterDataset."""
        return self._chain("filter", {"desc": desc or str(cond)}, lambda spark, ins: ins[0].filter(cond))

    # -- stream ops (O1-O9) ------------------------------------------------

    def with_row_idx(self, order_by: Sequence[str]) -> "Pipeline":
        from plumberapp_spark.operators.stream import with_row_idx

        return self._chain(
            "row_idx", {"order_by": list(order_by)}, lambda spark, ins: with_row_idx(ins[0], order_by)
        )

    def shuffle(self, seed: int) -> "Pipeline":
        """O1 — marked non-deterministic ACROSS SEEDS like the reference's
        seed detection (pa/graphdef_util.py:251-266); with a fixed seed the
        result is stable, but the cache advisor must not cache below it."""
        from plumberapp_spark.operators.stream import shuffle

        return self._chain("shuffle", {"seed": seed}, lambda spark, ins: shuffle(ins[0], seed), deterministic=False)

    def repeat(self, count: int) -> "Pipeline":
        from plumberapp_spark.operators.stream import repeat

        return self._chain("repeat", {"count": count}, lambda spark, ins: repeat(ins[0], count))

    def take(self, n: int) -> "Pipeline":
        from plumberapp_spark.operators.stream import take

        return self._chain("take", {"n": n}, lambda spark, ins: take(ins[0], n))

    def skip(self, n: int) -> "Pipeline":
        from plumberapp_spark.operators.stream import skip

        return self._chain("skip", {"n": n}, lambda spark, ins: skip(ins[0], n))

    def shard(self, num_shards: int, index: int) -> "Pipeline":
        from plumberapp_spark.operators.stream import shard

        return self._chain(
            "shard", {"num": num_shards, "index": index}, lambda spark, ins: shard(ins[0], num_shards, index)
        )

    def cache(self) -> "Pipeline":
        """O6 — materialize-on-first-pass; the node the optimizer's Q6
        advisor inserts/removes."""
        p = self._chain("cache", {}, lambda spark, ins: ins[0])
        p.root.cached = True
        return p

    def prefetch(self, buffer_size: int) -> "Pipeline":
        """O7 — modeled no-op, buffer recorded for the LP (SURVEY §7.5)."""
        p = self._chain("prefetch", {"buffer": buffer_size}, lambda spark, ins: ins[0])
        p.root.prefetch_buffer = buffer_size
        return p

    def echo(self, factor: int) -> "Pipeline":
        from plumberapp_spark.operators.stream import echo

        return self._chain("echo", {"factor": factor}, lambda spark, ins: echo(ins[0], factor))

    # -- batching (A1-A4) --------------------------------------------------

    def batch(self, batch_size: int, drop_remainder: bool = False) -> "Pipeline":
        from plumberapp_spark.operators.batching import batch

        return self._chain(
            "batch",
            {"size": batch_size, "drop_remainder": drop_remainder},
            lambda spark, ins: batch(ins[0], batch_size, drop_remainder),
        )

    def padded_batch(self, batch_size: int, padded_shapes: dict, padding_values: dict, drop_remainder: bool = False) -> "Pipeline":
        from plumberapp_spark.operators.batching import padded_batch

        return self._chain(
            "padded_batch",
            {"size": batch_size, "shapes": padded_shapes},
            lambda spark, ins: padded_batch(ins[0], batch_size, padded_shapes, padding_values, drop_remainder),
        )

    def group_by_window(self, key: Column, window_size: int, key_desc: str = "key") -> "Pipeline":
        from plumberapp_spark.operators.batching import group_by_window

        return self._chain(
            "group_by_window",
            {"window_size": window_size, "key": key_desc},
            lambda spark, ins: group_by_window(ins[0], key, window_size),
        )

    def unbatch(self) -> "Pipeline":
        from plumberapp_spark.operators.batching import unbatch

        return self._chain("unbatch", {}, lambda spark, ins: unbatch(ins[0]))

    # -- multi-input (J1-J3) -----------------------------------------------

    def zip_with(self, other: "Pipeline") -> "Pipeline":
        from plumberapp_spark.operators.stream import zip_by_index

        return self._chain(
            "zip",
            {},
            lambda spark, ins: zip_by_index(ins[0], ins[1]),
            extra_inputs=[other.root],
        )

    def concatenate(self, other: "Pipeline") -> "Pipeline":
        from plumberapp_spark.operators.stream import concatenate

        return self._chain(
            "concatenate", {}, lambda spark, ins: concatenate(ins[0], ins[1]), extra_inputs=[other.root]
        )

    # -- materialization ---------------------------------------------------

    def to_df(
        self,
        spark: SparkSession,
        persisted_out: list | None = None,
        visit: Callable[[PlanNode, DataFrame], DataFrame] | None = None,
    ) -> DataFrame:
        """Materialize the plan: build every node once, in :meth:`nodes`
        order (inputs first). A node's frame is its builder over its
        inputs' frames, repartitioned where a parallelism override is
        set and persisted at cached nodes.

        ``persisted_out``: optional list the builder appends every
        DataFrame it persists to, so a caller can unpersist exactly its
        own caches without touching unrelated session caches.

        ``visit(node, df)``: optional hook that sees each node's frame as
        soon as it is built and returns the frame its consumers are built
        from — how the profiler materializes and times one stage at a
        time.

        This is S7 (``ResumeDataset``, ``pa/graphdef_util.py:456-483``,
        ``pa/pipeline_optimizer.py:28-41``): where the reference
        re-instantiates a pipeline from serialized GraphDef +
        element_spec after surgery, we simply rebuild the DataFrame from
        the (rewritten) plan object — no serialization round-trip."""
        frames: dict[int, DataFrame] = {}
        for node in self.nodes():
            df = node.builder(spark, [frames[id(i)] for i in node.inputs])
            if node.parallelism is not None and node.op in PARALLELIZABLE_OPS:
                df = df.repartition(node.parallelism)
            if node.cached:
                df = df.persist(StorageLevel.MEMORY_AND_DISK)
                if persisted_out is not None:
                    persisted_out.append(df)
            if visit is not None:
                df = visit(node, df)
            frames[id(node)] = df
        return frames[id(self.root)]

    def schema(self, spark: SparkSession):
        return self.to_df(spark).schema

    # -- graph views (the reference's networkx layer, Q9/Q10/A6) ----------

    def nodes(self) -> list[PlanNode]:
        """Topological order, sources first (A6: nx.topological_sort
        analog, pa/pipeline_optimizer.py:1168-1172)."""
        seen: set[int] = set()
        order: list[PlanNode] = []

        def visit(n: PlanNode):
            if id(n) in seen:
                return
            seen.add(id(n))
            for i in n.inputs:
                visit(i)
            order.append(n)

        visit(self.root)
        return order

    def edges(self) -> list[tuple[str, str]]:
        """(name, parent_name) pairs, parent = downstream CONSUMER — the
        reference's parent convention (pa/graph_rewrites.py:426)."""
        out = []
        for n in self.nodes():
            for i in n.inputs:
                out.append((i.name, n.name))
        return out

    def edges_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(self.edges() or [("", "")], "name string, parent_name string")

    def fingerprint(self, iterations: int = 3) -> str:
        """Q9 Weisfeiler-Lehman graph hash keyed on the ``op`` attr
        (pa/pipeline_optimizer.py:1220-1227) — config-cache key."""
        labels = {n.name: n.op for n in self.nodes()}
        neigh: dict[str, list[str]] = {n.name: [i.name for i in n.inputs] for n in self.nodes()}
        consumers: dict[str, list[str]] = {n.name: [] for n in self.nodes()}
        for child, parent in self.edges():
            consumers[child].append(parent)
        for _ in range(iterations):
            new = {}
            for name in labels:
                parts = sorted(labels[m] for m in neigh[name]) + ["|"] + sorted(
                    labels[m] for m in consumers[name]
                )
                new[name] = hashlib.md5((labels[name] + ":" + ",".join(parts)).encode()).hexdigest()[:12]
            labels = new
        return hashlib.md5(",".join(sorted(labels.values())).encode()).hexdigest()

    def random_tainted(self) -> set[str]:
        """Q7 random-UDF taint: non-deterministic nodes taint every
        topo-descendant (toward the sink) — caching at/after them would
        freeze one random draw (pa/pipeline_optimizer.py:91-148,
        1198-1216)."""
        tainted: set[str] = set()
        for n in self.nodes():  # topo order: inputs before consumers
            if not n.deterministic or any(i.name in tainted for i in n.inputs):
                tainted.add(n.name)
        return tainted

    def find(self, name: str) -> PlanNode:
        for n in self.nodes():
            if n.name == name:
                return n
        raise KeyError(name)
