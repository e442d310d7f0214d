"""The optimizer proper: profile → query the model → emit plan advice →
apply as a rewritten Pipeline (DataPipelineOptimizer analog,
pa/pipeline_optimizer.py:508-533 + step_par_2,
pa/pipeline_optimizer_wrapper.py:122-202).

Advice maps the reference's rewrites onto Spark levers:
parallelism θ → partition counts; cache point → persist(); prefetch →
modeled buffer (LP input only); disk scaling → source partition count.
Every application re-checks schema invariance.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from plumberapp_spark.metrics.machine_info import (
    FRACTION_CACHEABLE_MEMORY,
    DEFAULT_DISK_BANDWIDTH_MBPS,
    MachineInfo,
)
from plumberapp_spark.metrics.model import MetricsModel
from plumberapp_spark.metrics.profiler import PipelineProfiler
from plumberapp_spark.optimizer.lp import (
    BandwidthBound,
    LPResult,
    fit_piecewise_linear,
    max_min_throughput,
)
from plumberapp_spark.plans.nodes import CACHE_DENYLIST_OPS, PARALLELIZABLE_OPS, Pipeline
from plumberapp_spark.plans import rewrites


@dataclass
class Advice:
    thetas: dict[str, float] = field(default_factory=dict)
    partitions: dict[str, int] = field(default_factory=dict)
    cache_at: str | None = None
    prefetch_at: str | None = None
    prefetch_buffer: int = 0
    bottleneck: str | None = None
    lp: LPResult | None = None
    notes: list[str] = field(default_factory=list)


def choose_cache_candidate(model: MetricsModel, machine: MachineInfo) -> str | None:
    """Q6/A7 cache placement (pa/pipeline_optimizer.py:1178-1218,
    pa/graph_rewrites.py:707-731): keep nodes with
    0 < expected_dataset_size < 0.9·memory, not in the deny-list, not at or
    downstream of a random UDF; take the LAST survivor in topo order."""
    budget = FRACTION_CACHEABLE_MEMORY * machine.memory_bytes
    survivors = [
        s
        for s in model.stats
        if 0 < s.expected_dataset_size < budget
        and s.op not in CACHE_DENYLIST_OPS
        and not s.is_random_udf_downstream
        and not s.cached
    ]
    if not survivors:
        return None
    return max(survivors, key=lambda s: s.topo_idx).name


def prefetch_gap(model: MetricsModel, num_cores: int) -> int:
    """Q8 prefetch sizing: N_gap = max(N* − N, 0), N* = cores the roofline
    says we need, N = cores actually used
    (pa/pipeline_optimizer.py:1102-1127)."""
    roof = model.roofline(num_cores)
    n_star = min(float(num_cores), roof["cpu_upper_bound_rate"] / max(roof["observed_rate"], 1e-9) * roof["cores_used_N"])
    return max(0, math.ceil(n_star - roof["cores_used_N"]))


def machine_bandwidth_mbps(machine: MachineInfo) -> float:
    """Disk bandwidth the advice should assume: the MEASURED number when
    the machine has probed file stores (metrics/disk_probe.py —
    reference pa/resource_measurements.py:43-107), else the reference's
    100 MB/s fallback (pa/graph_rewrites.py:156-168). Multiple stores:
    the fastest one (the reference sweeps stores and optimizes placement
    per store; our single-store advice takes the best)."""
    if machine.files:
        return max(f.bandwidth_mbps for f in machine.files)
    return DEFAULT_DISK_BANDWIDTH_MBPS


def disk_parallelism_scale(
    model: MetricsModel,
    bandwidth_mbps: float = DEFAULT_DISK_BANDWIDTH_MBPS,
    max_parallelism: int | None = None,
) -> dict[str, int]:
    """Q4 disk optimization: if source utilization of the disk bound is
    below 1, scale source parallelism by ceil(par/required_util)
    (pa/pipeline_optimizer.py:1047-1100), capped at ``max_parallelism``
    — a task can't use more than one core, so recommending more read
    tasks than cores only adds scheduling overhead (the reference's
    interleave scaling is likewise bounded by the thread pool)."""
    x_disk = model.disk_upper_bound(bandwidth_mbps)
    out: dict[str, int] = {}
    if not math.isfinite(x_disk) or x_disk <= 0:
        return out
    for s in model.stats:
        if s.op.startswith("source"):
            required_util = s.observed_rate / x_disk
            if 0 < required_util < 1:
                scaled = max(s.parallelism, math.ceil(s.parallelism / required_util))
                if max_parallelism is not None:
                    scaled = min(scaled, max_parallelism)
                out[s.name] = scaled
    return out


class Optimizer:
    def __init__(
        self,
        spark: SparkSession,
        machine: MachineInfo | None = None,
        bandwidth_sweep: list[tuple[float, float]] | None = None,
    ):
        """``bandwidth_sweep``: optional (read parallelism, observed rate)
        calibration points (the reference's sweep,
        pa/pipeline_optimizer_wrapper.py:365-459). When given, the fitted
        2-segment curve becomes bandwidth rows on the source node's θ in
        the Q2 LP (pa/convex_solver.py:104-128) — a disk-bound pipeline
        then stops over-allocating cores to the reader."""
        self.spark = spark
        self.machine = machine or MachineInfo()
        self.bandwidth_fit = (
            fit_piecewise_linear([p for p, _ in bandwidth_sweep], [r for _, r in bandwidth_sweep])
            if bandwidth_sweep and len(bandwidth_sweep) >= 2
            else None
        )

    def advise(self, pipeline: Pipeline, sample_rows: int | None = None) -> Advice:
        model = PipelineProfiler(self.spark).profile(pipeline, sample_rows=sample_rows)
        return self.advise_from_model(pipeline, model)

    def advise_calibrated(
        self,
        pipeline: Pipeline,
        sample_rows: int | None = None,
        parallelism_grid: list[int] | None = None,
        take_amount: int = 500,
        time_limit_s: float = 2.0,
    ) -> Advice:
        """Calibrate-then-solve (the reference's flow: a measured
        ``benchmark_all_nodes`` sweep feeds the solver's rates,
        pa/pipeline_optimizer_wrapper.py:365-459 → convex_solver): run
        the per-node ceiling sweep, convert cells to per-core service
        rates, and solve the Q2 LP on the MEASURED rates instead of the
        profiler's one-pass self-time estimates. The profiler still
        supplies structure (topology, parallelizability, cache taint);
        only the rate column is overridden."""
        from plumberapp_spark.metrics.node_bench import (
            benchmark_all_nodes,
            per_core_rates,
        )

        model = PipelineProfiler(self.spark).profile(pipeline, sample_rows=sample_rows)
        rows = benchmark_all_nodes(
            self.spark,
            pipeline,
            parallelism_grid=parallelism_grid,
            take_amount=take_amount,
            time_limit_s=time_limit_s,
        )
        return self.advise_from_model(
            pipeline, model, rate_overrides=per_core_rates(rows)
        )

    def advise_from_model(
        self,
        pipeline: Pipeline,
        model: MetricsModel,
        rate_overrides: dict[str, float] | None = None,
    ) -> Advice:
        advice = Advice()
        advice.bottleneck = model.bottleneck_node().name

        all_rates = {s.name: s.expected_per_core_max_rate for s in model.stats}
        if rate_overrides:
            # calibrated ceilings replace estimates ONLY for nodes the
            # model knows — a sweep row for a node outside the plan is a
            # caller error we surface rather than silently solve with
            unknown = sorted(set(rate_overrides) - set(all_rates))
            if unknown:
                raise ValueError(f"rate_overrides for nodes not in the model: {unknown}")
            calibrated = {n: r for n, r in rate_overrides.items() if r > 0}
            all_rates.update(calibrated)
            advice.notes.append(
                "calibrated per-core rates from node sweep: "
                + ", ".join(f"{n}={r:.3g}" for n, r in sorted(calibrated.items()))
            )
        sequential = {s.name for s in model.stats if not s.is_parallel}
        if all_rates:
            bw_bound = None
            if self.bandwidth_fit is not None:
                src = next((s.name for s in model.stats if s.op.startswith("source")), None)
                if src is not None:
                    f = self.bandwidth_fit
                    bw_bound = BandwidthBound(src, max(f.m1, 0.0), f.b1, max(f.m2, 0.0), f.b2)
                    advice.notes.append(
                        f"bandwidth rows on {src}: m1={f.m1:.3g} b1={f.b1:.3g} "
                        f"m2={f.m2:.3g} b2={f.b2:.3g} (knee at θ={f.x_thresh:.3g})"
                    )
            lp = max_min_throughput(
                all_rates,
                float(self.machine.num_cores),
                sequential_ops=sequential,
                bandwidth=bw_bound,
            )
            advice.lp = lp
            advice.thetas = lp.thetas
            # second-solver validation, warn-on-mismatch (reference
            # pa/graph_rewrites.py:478-484 cross-checks vs cvxpy)
            from plumberapp_spark.optimizer.lp import cross_check_throughput

            warn = cross_check_throughput(
                lp,
                all_rates,
                float(self.machine.num_cores),
                sequential_ops=sequential,
                bandwidth=bw_bound,
            )
            if warn:
                advice.notes.append(warn)
            for name, theta in lp.thetas.items():
                node = pipeline.find(name)
                if node.op in PARALLELIZABLE_OPS:
                    advice.partitions[name] = max(1, math.ceil(theta))

        bw = machine_bandwidth_mbps(self.machine)
        for name, n in disk_parallelism_scale(
            model, bandwidth_mbps=bw, max_parallelism=2 * self.machine.num_cores
        ).items():
            advice.partitions[name] = max(advice.partitions.get(name, 1), n)
            advice.notes.append(
                f"disk underutilized: raised {name} to {n} partitions (Q4, {bw:.0f} MB/s)"
            )

        advice.cache_at = choose_cache_candidate(model, self.machine)
        gap = prefetch_gap(model, self.machine.num_cores)
        if gap > 0:
            first_real = next((s.name for s in model.stats if not s.op.startswith("source")), None)
            advice.prefetch_at = first_real
            advice.prefetch_buffer = gap
        return advice

    def apply(self, pipeline: Pipeline, advice: Advice) -> Pipeline:
        """Apply advice as plan rewrites; schema invariance enforced
        (reference's _throw_if_element_spec_changed).

        Partition translation is Spark-semantics-aware (measured on the
        zipf10 curation pipeline, SCALE.md §12): the LP's θ is a CORE
        SHARE under the reference's all-ops-run-concurrently executor,
        but Spark batch stages run sequentially, each getting the whole
        machine time-multiplexed — so a θ below machine width is a
        diagnosis ("this op needs only 7/32 of the machine at the
        balanced rate"), not an instruction to repartition the stage
        down to 7 (which inserts an exchange AND narrows it; measured
        0.87× on the curation pipeline). Only overrides that RAISE an
        op's width above the session default (disk-underutilization
        scaling, skew spreading) actuate; sub-width θs stay visible in
        ``advice.thetas``/``advice.lp``.

        Every edit lands on one clone, so the schema is checked once per
        call; advice with nothing to actuate returns ``pipeline`` itself."""
        width = self.spark.sparkContext.defaultParallelism
        raises = {n: float(p) for n, p in advice.partitions.items() if p > width}
        prefetch = bool(advice.prefetch_at and advice.prefetch_buffer)
        if not (raises or advice.cache_at or prefetch):
            return pipeline
        out = rewrites._clone(pipeline)
        rewrites._set_thetas(out, raises)
        if advice.cache_at:
            out.find(advice.cache_at).cached = True
        if prefetch:
            out.find(advice.prefetch_at).prefetch_buffer = int(advice.prefetch_buffer)
        return rewrites._checked(pipeline, out, self.spark)

    def apply_validated(
        self,
        pipeline: Pipeline,
        advice: Advice,
        time_limit_s: float = 2.0,
        min_gain: float = 1.05,
    ) -> tuple[Pipeline, bool]:
        """:meth:`apply` with the reference's measure-then-keep gate on
        the cache step (pa/pipeline_optimizer.py's benchmark-driven
        insertion): apply the structural rewrites, then A/B the cache
        under a short benchmark and keep it only on a measured ≥
        ``min_gain`` rate improvement.

        Why the gate is LOAD-BEARING on Spark (measured, SCALE.md §12):
        a mid-pipeline ``persist()`` is not the reference's cache op.
        tf.data re-executes its input lineage per epoch, so a cache is
        near-free insurance; Spark already dedups identical subplans
        within an action (ReusedExchange), so a persist converts fused
        whole-stage-codegen recompute into one InMemoryTableScan
        (columnar decompress + row conversion) PER PLAN REFERENCE — the
        zipf10 curation pipeline references its corpus frame 204 times
        and measured 9.6 s → 46 s with the advisor's cache applied
        blind. Returns ``(pipeline, cache_kept)``."""
        import dataclasses

        from plumberapp_spark.metrics.bench import bench_dataframe

        base = self.apply(pipeline, dataclasses.replace(advice, cache_at=None))
        if not advice.cache_at:
            return base, False
        cached = self.apply(pipeline, advice)
        own: list = []
        df_c = cached.to_df(self.spark, persisted_out=own)
        df_c.count()  # untimed cache fill + codegen
        s_c = bench_dataframe(df_c, time_limit_s=time_limit_s)
        for c in own:
            try:
                c.unpersist()
            except Exception:  # noqa: BLE001 — hygiene only
                pass
        df_b = base.to_df(self.spark)
        df_b.count()
        s_b = bench_dataframe(df_b, time_limit_s=time_limit_s)
        # compare TIME PER FULL CONSUMPTION, not element rate: a pipeline
        # whose sink legitimately produces zero rows (e.g. a gate that
        # drops everything) rates 0 el/s on both sides, and 0 >= 0 would
        # keep every cache unexamined
        t_c = s_c.duration_s / max(s_c.num_runs, 1)
        t_b = s_b.duration_s / max(s_b.num_runs, 1)
        if t_c * min_gain <= t_b:
            return cached, True
        return base, False

    def optimize(self, pipeline: Pipeline, sample_rows: int | None = None) -> tuple[Pipeline, Advice]:
        advice = self.advise(pipeline, sample_rows=sample_rows)
        return self.apply(pipeline, advice), advice
