"""Round-9 fixes pinned by test (VERDICT r8 items 1/3/4 + ADVICE r8):

- free-text (out-of-corpus) retrieval serving with documented OOV
  semantics over the persisted lexical index;
- the recorded bucket modulus governs serve-time pruning (a
  DEFAULT_BUCKETS change can never silently mis-prune an old index);
- the uncapped n-gram Jaccard path fail-fasts on projected
  candidate-pair volume instead of grinding to disk exhaustion;
- ensure_ivf_index records a layout-format field and rebuilds when it
  changes (pre-format sidecars parse as format 1);
- PipelineProfiler leaves no persisted frames behind.
"""

from __future__ import annotations

import os
import shutil
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.001"


def test_jaccard_fail_fast_on_projected_pairs(spark):
    """VERDICT r8 #3: the uncapped inverted-index self-join must refuse
    loudly (with guidance) when the candidate-volume probe exceeds the
    bound, not spill to death; the capped path and the dedup-first
    composition stay available."""
    from plumberapp_spark.llm.dedup import dedup_then_jaccard, ngram_jaccard_pairs

    # 40 identical docs: every shingle appears in all 40 -> projected
    # candidates = |shingles| * C(40,2), far above a bound of 100
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(40)],
        "doc_id bigint, text string",
    )
    with pytest.raises(ValueError, match="dedup_then_jaccard"):
        ngram_jaccard_pairs(
            docs, "text", "doc_id", threshold=0.0, max_candidate_pairs=100
        ).collect()
    # the prescribed escape hatch completes on the same corpus: one
    # survivor -> no pairs
    assert (
        dedup_then_jaccard(docs, "text", "doc_id", threshold=0.0).count() == 0
    )
    # a healthy corpus under the same bound completes and returns pairs
    ok = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "x y z w")],
        "doc_id bigint, text string",
    )
    rows = ngram_jaccard_pairs(
        ok, "text", "doc_id", threshold=0.0, max_candidate_pairs=100
    ).collect()
    assert len(rows) == 1 and rows[0]["id_a"] == 1 and rows[0]["id_b"] == 2
    # None disables the probe entirely (legacy behavior)
    assert (
        len(
            ngram_jaccard_pairs(
                docs.limit(5), "text", "doc_id", threshold=0.0, max_candidate_pairs=None
            ).collect()
        )
        > 0
    )


def test_lexical_serving_uses_recorded_bucket_modulus(spark, tmp_path):
    """ADVICE r8 #2: the postings index records its bucket modulus in
    scalars, and serve-time pruning reads it back — so an index built
    under n_buckets=8 serves complete results even though the module
    constant says 64."""
    from plumberapp_spark.llm import segments, store
    from plumberapp_spark.llm.dedup import tfidf_topk
    from plumberapp_spark.llm.scoring import DEFAULT_BUCKETS
    from plumberapp_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents").limit(80)
    path = str(tmp_path / "lex8")
    segments.build_segmented_index(docs, path, n_buckets=8)
    n_buckets = segments._seg_buckets(spark, store.members(path, "seg", "scalars")[0])
    assert n_buckets == 8
    assert DEFAULT_BUCKETS != 8, "test needs a modulus != the constant"
    segments.refresh_tfidf_norms(spark, path)
    queries = docs.filter(F.col("doc_id") < 3)
    served = {
        tuple(r)
        for r in segments.tfidf_topk_segmented(
            spark, path, queries, k=5, text_col="text", id_col="doc_id"
        ).collect()
    }
    direct = {tuple(r) for r in tfidf_topk(docs, queries, k=5).collect()}
    assert served == direct, (
        "serving under the recorded modulus must be complete and "
        "bit-identical to the direct operator"
    )


def test_freetext_retrieval_semantics(spark, tmp_path):
    """VERDICT r8 #1: free-text serving weights novel strings from the
    index's own statistics; OOV terms drop from dot AND query norm; a
    fully-OOV query returns no rows (never an error)."""
    from plumberapp_spark.llm import segments

    docs = spark.createDataFrame(
        [
            (0, "spark shuffle join"),
            (1, "spark broadcast join"),
            (2, "duck waddles away"),
        ],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "lexft")
    segments.build_segmented_index(docs, path)
    segments.refresh_tfidf_norms(spark, path)
    q = spark.createDataFrame(
        [(9001, "spark join zzzoov"), (9002, "totally unseen words")],
        "query_id bigint, q_text string",
    )
    got = segments.bm25_topk_segmented(spark, path, q, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    # q9001 matches docs 0/1 strongly ('spark join'), doc 2 not at all
    assert set(by_q[9001]) == {0, 1}
    # fully-OOV query: zero rows, no exception
    assert 9002 not in by_q
    cos = segments.tfidf_topk_segmented(spark, path, q, k=5).collect()
    assert all(r["query_id"] == 9001 for r in cos)
    # OOV term dropped from query norm: the matched-term-only norm keeps
    # cos_sim within (0, 1]
    assert all(0.0 < r["cos_sim"] <= 1.0 for r in cos)


def test_ivf_sidecar_format_triggers_rebuild(spark, tmp_path):
    """VERDICT r8 #4: an IVF sidecar written by an older layout (bare
    mtime, no format field) must trigger a rebuild on next ensure — and
    the rewritten sidecar carries the current format."""
    from plumberapp_spark.llm.similarity import IVF_INDEX_FORMAT, ensure_ivf_index
    from plumberapp_spark.session import clear_table_cache

    sf_dir = str(tmp_path / "sfZ")
    os.makedirs(sf_dir)
    src = f"{SF_DIR}/embeddings.parquet"
    if os.path.isdir(src):
        shutil.copytree(src, f"{sf_dir}/embeddings.parquet")
    else:
        shutil.copy(src, f"{sf_dir}/embeddings.parquet")
    path = ensure_ivf_index(spark, sf_dir, "embeddings", n_centroids=4)
    marker = os.path.join(path, "cells", "_SUCCESS")
    sidecar = os.path.join(path, "source_mtime.txt")
    built1 = os.stat(marker).st_mtime
    with open(sidecar) as fh:
        recorded = fh.read().split()
    assert int(recorded[1]) == IVF_INDEX_FORMAT
    # simulate a pre-format sidecar (format parses as 1 when absent —
    # if the current format is 1, use an explicit stale value)
    with open(sidecar, "w") as fh:
        fh.write(recorded[0] if IVF_INDEX_FORMAT != 1 else f"{recorded[0]} 0")
    clear_table_cache()
    ensure_ivf_index(spark, sf_dir, "embeddings", n_centroids=4)
    assert os.stat(marker).st_mtime > built1, "format mismatch must rebuild"
    with open(sidecar) as fh:
        assert int(fh.read().split()[1]) == IVF_INDEX_FORMAT


def test_profiler_leaves_no_persisted_frames(spark):
    """ADVICE r8 #3: profiling a pipeline containing a cached node must
    unpersist everything it persisted before returning."""
    from plumberapp_spark.metrics.profiler import PipelineProfiler
    from plumberapp_spark.plans.nodes import Pipeline

    jsc_sc = spark.sparkContext._jsc.sc()
    before = jsc_sc.getRDDStorageInfo()

    p = (
        Pipeline.source_range(1000)
        .with_columns({"doubled": F.col("id") * 2})
        .cache()
        .filter(F.col("doubled") % 4 == 0, desc="mod4")
    )
    model = PipelineProfiler(spark).profile(p)
    assert model.pipeline_rate > 0
    after = jsc_sc.getRDDStorageInfo()
    assert len(after) <= len(before), (
        f"profiling leaked persisted frames: {len(before)} -> {len(after)}"
    )


def test_bench_revisit_recorded_in_artifact():
    """ADVICE r8 #1: the end-of-run outlier revisit must write both the
    revisited names and the pre-revisit timings into the detail artifact,
    and the sample must be symmetric (both ratio tails)."""
    src = Path(__file__).resolve().parent.parent / "bench.py"
    text = src.read_text()
    assert '"revisited": revisited' in text
    assert '"pre_revisit": pre_revisit' in text
    # symmetric tails: both >2x and <0.5x are revisited
    assert "0.5 <= ratio <= 2.0" in text


def test_apply_drops_subwidth_partitions(spark):
    """SCALE.md §12: the LP's θ is a core share under the reference's
    all-ops-concurrent executor; Spark batch stages run sequentially
    with the whole machine, so apply() must not repartition a stage
    DOWN below machine width (measured 0.87× on the curation pipeline)
    — only width-raising overrides actuate."""
    from plumberapp_spark.optimizer.advisor import Advice, Optimizer
    from plumberapp_spark.plans.nodes import Pipeline

    p = Pipeline.source_range(100).with_columns({"v": F.col("id") * 2})
    node = p.root.name  # the with_columns node (parallelizable map op)
    opt = Optimizer(spark)
    width = spark.sparkContext.defaultParallelism

    down = opt.apply(p, Advice(partitions={node: max(1, width // 4)}))
    assert down.find(node).parallelism is None, "sub-width θ must not actuate"

    up = opt.apply(p, Advice(partitions={node: width * 2}))
    assert up.find(node).parallelism == width * 2, "width-raising θ must actuate"


def test_apply_validated_cache_gate(spark, monkeypatch):
    """The cache step is measure-then-keep (the reference's
    benchmark-driven insertion): kept only on a measured time-per-
    consumption win — and the comparison must work for ZERO-ROW sinks,
    where element rates are 0 on both sides (the zipf10 curation
    pipeline's gate drops every synthetic-vocab doc; a rate-based gate
    kept a 6x-regression cache there because 0 >= 0)."""
    from plumberapp_spark.metrics import bench as bench_mod
    from plumberapp_spark.metrics.bench import BenchSummary
    from plumberapp_spark.optimizer.advisor import Advice, Optimizer
    from plumberapp_spark.plans.nodes import Pipeline

    p = Pipeline.source_range(50).with_columns({"v": F.col("id") * 2})
    node = p.root.name
    opt = Optimizer(spark)

    def mk_fake(cached_s, base_s):
        calls = []

        def fake(df, time_limit_s=2.0, **kw):
            calls.append(1)
            dur = cached_s if len(calls) == 1 else base_s
            return BenchSummary(
                total_elements=0, num_runs=1, duration_s=dur, element_rate=0.0
            )

        return fake

    # cached variant measured 40 s/run vs 7 s base: cache must be dropped
    monkeypatch.setattr(bench_mod, "bench_dataframe", mk_fake(40.0, 7.0))
    tuned, kept = opt.apply_validated(p, Advice(cache_at=node))
    assert not kept and not tuned.find(node).cached

    # cached variant measured 3 s/run vs 7 s base: cache kept
    monkeypatch.setattr(bench_mod, "bench_dataframe", mk_fake(3.0, 7.0))
    tuned, kept = opt.apply_validated(p, Advice(cache_at=node))
    assert kept and tuned.find(node).cached

    # no cache advised: nothing to validate, no benchmark calls needed
    tuned, kept = opt.apply_validated(p, Advice())
    assert not kept
