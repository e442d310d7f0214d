"""The three benchmark workloads.

Each workload is a closed loop with one client. It has

* ``setup(rep)``: the set-up a user pays before the first request, run
  several times into fresh directories (the last one is served);
* ``warmup()``: one untimed pass over every operation that also checks
  the outputs for correctness, returning a list of problems;
* ``round``: the fixed list of operation keys one pass is made of, and
  ``run(key)``, which sends one of them through the tracer;
* ``final_check()``: correctness checks that need the timed phase's end
  state;
* ``layer_metrics()``: the per-layer numbers of a traced run.

The seed reaches the library only through generated inputs: the bed,
query terms and vectors, update batches and the order of requests.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

import bed

# corpus_batch: registered corpus-pass queries, one per layer family.
# All have a DuckDB oracle that completes on the bed in under a second
# and matches exactly on every seed (q35 is left out: its rounded double
# revenue sums land on exact half-cent ties on some seeded beds, where
# the oracle's double sum rounds down and Spark's rounds up).
BATCH_QUERIES = (
    "q14_exact_dedup",        # llm.dedup: digest group-by
    "q17_minhash_lsh_pairs",  # llm.dedup: MinHash + LSH banding (near-dup)
    "q22_text_quality",       # llm.textqa: Arrow quality features
    "q85_dsir_selection",     # llm.sampling: DSIR importance scores
    "q83_bm25_search",        # llm.dedup: direct BM25 top-k
)


def med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _frame_digest(cols, rows):
    from check_correctness import frame_digest

    return frame_digest(list(cols), [tuple(r) for r in rows])


class Workload:
    name = ""
    # op kinds whose latencies count as reads for read_mean_s
    read_kinds: tuple[str, ...] = ()

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed
        self.rng = np.random.default_rng(seed + 1)
        self.fingerprints: list[str] = []
        self.layer_setup: dict[str, list[float]] = {"bed": [], "index_build": []}

    def _write_bed(self, rep: int, **sizes) -> str:
        out = os.path.join(self.work, f"bed_r{rep}")
        t = time.perf_counter()
        self.fingerprints.append(bed.write_bed(out, self.seed, **sizes))
        self.layer_setup["bed"].append(time.perf_counter() - t)
        return out

    def ops_by_key(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for o in self.tracer.ops:
            if not o.failed and o.phase == "timed":
                out.setdefault(o.key, []).append(o.latency_s)
        return out

    def pass_s(self) -> float:
        """Wall time of one pass: the sum, over the pass's operations, of
        each operation's median latency in the timed phase."""
        lat = self.ops_by_key()
        return sum(med(lat.get(k, [])) for k in self.round)

    def next_round(self) -> list[str]:
        """The items of one pass, in the order they are sent."""
        return list(self.round)

    def final_check(self) -> list[str]:
        return []

    def spans_named(self, name: str, field: str = "duration") -> dict[int, float]:
        """op id -> summed ``field`` of the op's spans called ``name``."""
        out: dict[int, float] = {}
        for s in self.tracer.spans:
            if s.name == name:
                out[s.op_id] = out.get(s.op_id, 0.0) + getattr(s, field)
        return out

    def timed_op_ids(self, pred=lambda o: True) -> set[int]:
        return {o.id for o in self.tracer.ops if o.phase == "timed" and not o.failed and pred(o)}

    def span_median(self, name: str, field: str = "duration", pred=lambda o: True) -> float:
        ids = self.timed_op_ids(pred)
        return med(v for k, v in self.spans_named(name, field).items() if k in ids)


class CorpusBatch(Workload):
    """Registered corpus-pass queries back to back: plan build, then a
    noop write that runs the whole plan."""

    name = "corpus_batch"
    read_kinds = ("query",)
    round = BATCH_QUERIES
    sizes = {"n_docs": 1500, "n_vecs": 1000}

    def __init__(self, *a):
        super().__init__(*a)
        import plumberapp_spark.all_queries  # noqa: F401 — registers the queries
        from plumberapp_spark.registry import REGISTRY

        self.registry = REGISTRY

    def setup(self, rep: int) -> None:
        self.sf_dir = self._write_bed(rep, **self.sizes)

    def _oracle_digests(self) -> dict[str, tuple[str, int]]:
        """Each query's DuckDB oracle, run over the same bed files."""
        import duckdb

        con = duckdb.connect()
        try:
            con.execute(f"SET temp_directory='{self.work}/duckdb'")
            for name in os.listdir(self.sf_dir):
                table = name.removesuffix(".parquet")
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{self.sf_dir}/{name}'")
            out = {}
            for q in BATCH_QUERIES:
                rel = con.sql(self.registry[q].oracle)
                out[q] = _frame_digest(rel.columns, rel.fetchall())
            return out
        finally:
            con.close()

    def warmup(self) -> list[str]:
        """One pass that collects every query's output and compares its
        digest with the DuckDB oracle's (which runs meanwhile on a second
        thread: the warm-up is not timed)."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=1) as pool:
            oracle = pool.submit(self._oracle_digests)
            got = {}
            for q in BATCH_QUERIES:
                with self.tracer.op("query", q) as op:
                    df = self.registry[q].fn(self.spark, self.sf_dir)
                    got[q] = _frame_digest(df.columns, df.collect())
                if op.failed:
                    got[q] = None
            want = oracle.result()
        return [
            f"{q}: digest {got[q]} != oracle {want[q]}"
            for q in BATCH_QUERIES
            if got[q] != want[q]
        ]

    def run(self, key: str) -> None:
        with self.tracer.op("query", key):
            with self.tracer.span("queries.build"):
                df = self.registry[key].fn(self.spark, self.sf_dir)
            with self.tracer.span("queries.action"):
                df.write.format("noop").mode("overwrite").save()

    def layer_metrics(self) -> dict[str, float]:
        lat = self.ops_by_key()
        m = {f"batch.{q.split('_')[0]}_s": med(lat.get(q, [])) for q in BATCH_QUERIES}
        for span in ("queries.build", "queries.action"):
            m[f"{span}_s"] = sum(
                self.span_median(span, pred=lambda o, q=q: o.key == q) for q in BATCH_QUERIES
            )
        return m


class IndexServing(Workload):
    """A seeded request stream against a segmented lexical index and an
    IVF index: three reads (BM25, IVF, RRF hybrid of both) per write. A
    write is one corpus update: new documents appended to both tiers, a
    few live ids deleted from both, then each tier's size-bounded
    compaction runs if its bound is crossed. The IVF policy compacts on
    any tombstone; the lexical one past three segments, which the
    warm-up write and one timed pass do not reach, so timed reads fan
    out over three segments and two tombstones."""

    name = "index_serving"
    read_kinds = ("read",)
    round = ("lexical", "dense", "hybrid", "write")
    n_base, n_pool = 600, 200
    append_n, delete_n = 20, 5
    max_segments, max_deltas = 3, 2

    def setup(self, rep: int) -> None:
        from plumberapp_spark.llm.segments import build_segmented_index
        from plumberapp_spark.llm.similarity import build_ivf_index

        out = os.path.join(self.work, f"bed_r{rep}")
        t = time.perf_counter()
        os.makedirs(out, exist_ok=True)
        rng = np.random.default_rng(self.seed)
        n = self.n_base + self.n_pool
        bed.write_documents(out, rng, n)
        bed.write_embeddings(out, rng, n)
        self.fingerprints.append(bed.fingerprint(out))
        self.layer_setup["bed"].append(time.perf_counter() - t)
        self.docs = self.spark.read.parquet(f"{out}/documents.parquet")
        self.embs = self.spark.read.parquet(f"{out}/embeddings.parquet")
        # index layout sized to this corpus: one bucket per core, like
        # the session's shuffle partitions
        self.n_buckets = self.spark.sparkContext.defaultParallelism
        ix = os.path.join(self.work, f"index_r{rep}")
        self.lex, self.ivf = f"{ix}/lex", f"{ix}/ivf"
        t = time.perf_counter()
        build_segmented_index(
            self.docs.filter(f"doc_id < {self.n_base}"), self.lex, n_buckets=self.n_buckets
        )
        build_ivf_index(self.embs.filter(f"vec_id < {self.n_base}"), self.ivf)
        self.layer_setup["index_build"].append(time.perf_counter() - t)
        self.vectors = np.array(
            pq.read_table(f"{out}/embeddings.parquet")["embedding"].to_pylist(),
            dtype=np.float64,
        )
        self.live = set(range(self.n_base))
        self.next_id = self.n_base
        self.fanout: dict[int, tuple[int, int]] = {}
        self.qid = 10**9
        self.served: dict = {}

    # -- request content -------------------------------------------------
    def _text_queries(self, n: int = 4):
        words = [f"w{r:04d}" for r in self.rng.integers(30, 800, 3 * n)]
        rows = [(self.qid + i, " ".join(words[3 * i: 3 * i + 3])) for i in range(n)]
        self.qid += n
        return self.spark.createDataFrame(rows, "query_id bigint, q_text string")

    def _vector_queries(self, first_id: int, n: int = 4):
        picks = self.rng.integers(0, len(self.vectors), n)
        vecs = self.vectors[picks] + self.rng.normal(0.0, 0.05, (n, self.vectors.shape[1]))
        rows = [(first_id + i, [float(x) for x in v]) for i, v in enumerate(vecs)]
        return self.spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    # -- layer calls -----------------------------------------------------
    def _lexical(self, lex: str, queries):
        from plumberapp_spark.llm.segments import bm25_topk_segmented

        with self.tracer.span("segments.bm25_topk_segmented"):
            return bm25_topk_segmented(self.spark, lex, queries, k=10)

    def _dense(self, ivf: str, queries):
        from plumberapp_spark.llm.similarity import ivf_topk_indexed

        with self.tracer.span("similarity.ivf_topk_indexed"):
            return ivf_topk_indexed(self.spark, ivf, queries, k=10)

    def _hybrid(self, lex: str, ivf: str, text_q, vec_q):
        from plumberapp_spark.llm.hybrid import rrf_fuse

        ranked = [self._lexical(lex, text_q), self._dense(ivf, vec_q)]
        with self.tracer.span("hybrid.rrf_fuse"):
            return rrf_fuse(ranked, k=10)

    def _fanout(self) -> tuple[int, int]:
        """(lexical segments + tombstones, IVF delta segments) a read
        fans out over."""
        n_lex = sum(e.startswith(("seg_", "tomb_")) for e in os.listdir(self.lex))
        n_delta = sum(e.startswith("delta_") for e in os.listdir(self.ivf))
        return n_lex, n_delta

    def run(self, key: str) -> None:
        if key == "write":
            return self._write()
        text_q = self._text_queries()
        vec_q = self._vector_queries(self.qid - 4)
        fanout = self._fanout()
        with self.tracer.op("read", key) as op:
            self.fanout[op.id] = fanout
            if key == "lexical":
                df = self._lexical(self.lex, text_q)
            elif key == "dense":
                df = self._dense(self.ivf, vec_q)
            else:
                df = self._hybrid(self.lex, self.ivf, text_q, vec_q)
            with self.tracer.span("action"):
                rows = sorted(tuple(r) for r in df.collect())
        if key != "hybrid" and not op.failed:
            self.served[key] = (text_q if key == "lexical" else vec_q, rows)

    def next_round(self) -> list[str]:
        """The write opens the pass, so every read of the pass sees the
        same index state; the order of the reads is seeded."""
        reads = [k for k in self.round if k != "write"]
        return ["write"] + [reads[i] for i in self.rng.permutation(len(reads))]

    def _write(self) -> None:
        from plumberapp_spark.llm.segments import append_segment, delete_docs, maybe_compact
        from plumberapp_spark.llm.similarity import (
            append_to_ivf_index,
            delete_from_ivf_index,
            maybe_compact_ivf,
        )

        lo, hi = self.next_id, self.next_id + self.append_n
        if hi > self.n_base + self.n_pool:
            raise RuntimeError("update pool exhausted; raise n_pool")
        dead = sorted(int(i) for i in self.rng.choice(sorted(self.live), self.delete_n, replace=False))
        dead_df = self.spark.createDataFrame([(i,) for i in dead], "doc_id bigint")
        with self.tracer.op("write", "write") as op:
            with self.tracer.span("segments.append_segment"):
                append_segment(self.docs.filter(f"doc_id >= {lo} AND doc_id < {hi}"), self.lex)
            with self.tracer.span("segments.delete_docs"):
                delete_docs(self.spark, self.lex, dead_df)
            with self.tracer.span("similarity.append_to_ivf_index"):
                append_to_ivf_index(self.embs.filter(f"vec_id >= {lo} AND vec_id < {hi}"), self.ivf)
            with self.tracer.span("similarity.delete_from_ivf_index"):
                delete_from_ivf_index(
                    self.spark, self.ivf, dead_df.withColumnRenamed("doc_id", "vec_id")
                )
            with self.tracer.span("segments.maybe_compact"):
                retired = maybe_compact(self.spark, self.lex, max_segments=self.max_segments)
            if retired:
                shutil.rmtree(retired)
            with self.tracer.span("similarity.maybe_compact_ivf"):
                retired = maybe_compact_ivf(self.spark, self.ivf, max_deltas=self.max_deltas)
            if retired:
                shutil.rmtree(retired)
        if not op.failed:
            self.next_id = hi
            self.live.update(range(lo, hi))
            self.live.difference_update(dead)

    def warmup(self) -> list[str]:
        problems = []
        for key in ("lexical", "dense", "write"):
            self.run(key)
            if self.tracer.ops[-1].failed:
                problems.append(f"{key}: failed in warm-up")
        return problems

    def final_check(self) -> list[str]:
        """Replay the last lexical and dense reads of the timed phase
        against an index rebuilt from the final live corpus (lexical)
        and a compacted copy of the IVF index; each must return exactly
        what the served index returned."""
        from plumberapp_spark.llm.segments import build_segmented_index
        from plumberapp_spark.llm.similarity import compact_ivf_index

        ref = os.path.join(self.work, "reference")
        live = self.spark.createDataFrame([(i,) for i in sorted(self.live)], "doc_id bigint")
        build_segmented_index(
            self.docs.join(live, "doc_id", "left_semi"), f"{ref}/lex", n_buckets=self.n_buckets
        )
        compact_ivf_index(self.spark, self.ivf, f"{ref}/ivf")
        problems = []
        for key, search, path in (
            ("lexical", self._lexical, f"{ref}/lex"), ("dense", self._dense, f"{ref}/ivf")
        ):
            if key not in self.served:
                problems.append(f"{key}: no read completed in the timed phase")
                continue
            queries, served = self.served[key]
            fresh = sorted(tuple(r) for r in search(path, queries).collect())
            if not served or served != fresh:
                problems.append(f"{key}: served index returned {len(served)} rows that "
                                f"differ from the reference index's {len(fresh)}")
        return problems

    def layer_metrics(self) -> dict[str, float]:
        lat = self.ops_by_key()
        reads = self.timed_op_ids(lambda o: o.kind == "read")
        writes = self.timed_op_ids(lambda o: o.kind == "write")

        def span_med(name, ids):
            vals = self.spans_named(name)
            return med(vals[i] for i in ids if i in vals)

        return {
            "segments.read_s": med(lat.get("lexical", [])),
            "similarity.read_s": med(lat.get("dense", [])),
            "hybrid.read_s": med(lat.get("hybrid", [])),
            "segments.fanout": med(self.fanout[i][0] for i in reads if i in self.fanout),
            "similarity.deltas": med(self.fanout[i][1] for i in reads if i in self.fanout),
            "serving.write_p50_s": med(lat.get("write", [])),
            "segments.append_s": span_med("segments.append_segment", writes),
            "segments.delete_s": span_med("segments.delete_docs", writes),
            "segments.compact_s": span_med("segments.maybe_compact", writes),
            "similarity.append_s": span_med("similarity.append_to_ivf_index", writes),
            "similarity.delete_s": span_med("similarity.delete_from_ivf_index", writes),
            "similarity.compact_s": span_med("similarity.maybe_compact_ivf", writes),
        }


class PipelineDiagnose(Workload):
    """Plumber's loop on the curation pipeline over the bed: consume it,
    profile it, advise from the model, apply the advice, consume the
    rewritten pipeline."""

    name = "pipeline_diagnose"
    read_kinds = ("consume",)
    round = ("run", "diagnose", "run_opt")

    def setup(self, rep: int) -> None:
        from plumberapp_spark.optimizer.advisor import Optimizer
        from plumberapp_spark.pipelines import curation_pipeline

        self.sf_dir = self._write_bed(rep, n_docs=1000, n_vecs=10)
        t = time.perf_counter()
        self.pipeline = curation_pipeline(self.spark, self.sf_dir)
        self.optimizer = Optimizer(self.spark)
        self.layer_setup["index_build"].append(time.perf_counter() - t)
        self.rewritten = None
        self.rows = 0
        self.bottlenecks: list[str] = []

    def _consume(self, step: str, collect: bool = False):
        """Materialize the original (``run``) or rewritten (``run_opt``)
        pipeline; with ``collect``, return its output digest."""
        pipeline = self.pipeline if step == "run" else self.rewritten
        own: list = []
        out = None
        with self.tracer.op("consume", step):
            with self.tracer.span("pipelines.to_df"):
                df = pipeline.to_df(self.spark, persisted_out=own)
            if collect:
                out = _frame_digest(df.columns, df.collect())
            else:
                df.write.format("noop").mode("overwrite").save()
        for c in own:
            c.unpersist()
        return out

    def _diagnose(self) -> None:
        from plumberapp_spark.metrics.profiler import PipelineProfiler

        with self.tracer.op("diagnose", "diagnose") as op:
            with self.tracer.span("profiler.profile"):
                model = PipelineProfiler(self.spark).profile(self.pipeline)
            with self.tracer.span("advisor.advise_from_model"):
                advice = self.optimizer.advise_from_model(self.pipeline, model)
            with self.tracer.span("rewrites.apply"):
                self.rewritten = self.optimizer.apply(self.pipeline, advice)
        if not op.failed:
            self.bottlenecks.append(advice.bottleneck)

    def run(self, step: str) -> None:
        if step == "diagnose":
            self._diagnose()
        else:
            self._consume(step)

    def warmup(self) -> list[str]:
        """One loop; the rewritten pipeline must return exactly the
        original's output."""
        want = self._consume("run", collect=True)
        self._diagnose()
        if want is None or self.rewritten is None:
            return ["curation: failed in warm-up"]
        self.rows = want[1]
        got = self._consume("run_opt", collect=True)
        if got != want:
            return [f"curation: rewritten output {got} != original {want}"]
        return []

    def layer_metrics(self) -> dict[str, float]:
        lat = self.ops_by_key()
        run_opt = med(lat.get("run_opt", []))
        top = Counter(self.bottlenecks).most_common(1)
        return {
            "diagnose.diagnose_s": med(lat.get("diagnose", [])),
            "diagnose.optimized_rows_per_s": self.rows / run_opt if run_opt else 0.0,
            "pipelines.run_s": med(lat.get("run", [])),
            "pipelines.run_opt_s": run_opt,
            "profiler.profile_s": self.span_median("profiler.profile"),
            "profiler.jobs": self.span_median("profiler.profile", "jobs"),
            "advisor.advise_s": self.span_median("advisor.advise_from_model"),
            "rewrites.apply_s": self.span_median("rewrites.apply"),
            # share of this run's profiles (warm-up and timed) that name
            # the most frequent bottleneck
            "advisor.bottleneck_agreement": top[0][1] / len(self.bottlenecks) if top else 0.0,
        }


WORKLOADS = {w.name: w for w in (CorpusBatch, IndexServing, PipelineDiagnose)}
