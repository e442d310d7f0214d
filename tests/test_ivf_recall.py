"""IVF ANN quality contract: deterministic output, and recall@k vs the
exact brute-force ranking stays above a floor at the default
n_centroids/nprobe (everything md5-seeded, so this is a fixed number for
the fixture corpus, not a flaky statistic)."""

from __future__ import annotations

import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from plumberapp_spark.llm.similarity import brute_force_topk, ivf_topk  # noqa: E402
from plumberapp_spark.queries_llm import embedding_topk_sql  # noqa: E402
from plumberapp_spark.registry import REGISTRY  # noqa: E402
from tests.conftest import assert_matches_duckdb  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def test_ivf_recall_vs_brute_force(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    k = 5
    exact = brute_force_topk(emb, queries, k=k).collect()
    approx = ivf_topk(emb, queries, k=k, n_centroids=16, nprobe=2).collect()

    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    assert set(approx_sets) == set(exact_sets)  # every query answered
    hits = sum(len(approx_sets[q] & exact_sets[q]) for q in exact_sets)
    recall = hits / (len(exact_sets) * k)
    # nprobe=2 of 16 cells scans ~1/8 of the corpus; the fixture's recall
    # is deterministic — pin a floor well under it so corpus regen at the
    # same SF doesn't flap, but a broken cell assignment (recall ~1/8) fails.
    assert recall >= 0.4, f"recall@{k} = {recall}"


def test_ivf_is_deterministic(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    a = sorted(map(tuple, ivf_topk(emb, queries, k=3).collect()))
    b = sorted(map(tuple, ivf_topk(emb, queries, k=3).collect()))
    assert a == b


def test_ivf_vectorized_matches_expression_form(spark, duck):
    # The block-matmul IVF against its relational definition (q54's
    # oracle: md5-ranked centroids, argmax-cosine cells with ties to the
    # smaller centroid id, nprobe=2 probe, round-6 re-rank).
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    assert_matches_duckdb(
        ivf_topk(emb, queries, k=5, n_centroids=16, nprobe=2),
        REGISTRY["q54_ivf_topk"].oracle,
        duck,
    )


def test_lsh_bucketing_vectorized_matches_expression_form(spark, duck):
    # The numpy matmul bucketing must produce the buckets the md5 plane
    # derivation defines (component j of plane p = md5 56-bit prefix of
    # 'h<p>:<j>' / 2^55 - 1, sign decided at >= 0) and therefore q56's
    # re-ranked results bit for bit.
    from plumberapp_spark.llm.similarity import lsh_bucketed_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    assert_matches_duckdb(
        lsh_bucketed_topk(emb, q, k=5, dim=64, num_planes=4),
        REGISTRY["q56_lsh_bucketed_topk"].oracle,
        duck,
    )


def test_ann_router_exact_under_threshold(spark):
    from plumberapp_spark.llm.similarity import ann_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    routed = sorted(map(tuple, ann_topk(emb, queries, k=3).collect()))
    exact = sorted(map(tuple, brute_force_topk(emb, queries, k=3).collect()))
    assert routed == exact


def test_brute_force_vectorized_matches_expression_form(spark, duck):
    # q20's scorer: the numpy matmul path must rank exactly as the SQL
    # definition does — same round-6, tie-to-smaller-id contracts.
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    fast = assert_matches_duckdb(
        brute_force_topk(emb, q, k=7), embedding_topk_sql("vec_id % 50 = 0", 7), duck
    )
    assert len(fast) > 0


def test_brute_force_query_broadcast_contract_enforced(spark):
    import pytest

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 50 == 0)  # 10 rows
    with pytest.raises(ValueError, match="broadcastable contract"):
        brute_force_topk(emb, q, k=3, max_broadcast_queries=5).collect()


def test_ivf_query_broadcast_contract_enforced(spark):
    # The vectorized path collects the query side — a documented
    # small-side contract that is now ENFORCED: exceeding
    # max_broadcast_queries raises instead of silently materializing an
    # unbounded query set on the driver.
    import pytest

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0)  # 10 rows
    with pytest.raises(ValueError, match="broadcastable contract"):
        ivf_topk(emb, queries, k=3, max_broadcast_queries=5).collect()
    # at-the-limit query sets still work
    assert len(ivf_topk(emb, queries, k=3, max_broadcast_queries=10).collect()) > 0


def test_ann_router_ivf_above_threshold(spark):
    from plumberapp_spark.llm.similarity import ann_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    routed = sorted(
        map(tuple, ann_topk(emb, queries, k=3, exact_max_candidates=10).collect())
    )
    ivf = sorted(map(tuple, ivf_topk(emb, queries, k=3).collect()))
    assert routed == ivf


def test_multiprobe_lsh_parity_and_recall_monotone(spark, duck):
    # Round 5: nprobe_flips=1 probes the num_planes Hamming-1 buckets.
    # Contract: (a) == q73's DuckDB probe replay exactly; (b) recall@k
    # vs brute force is >= the single-probe route on the same corpus
    # (the whole point of multi-probe); (c) single-probe output is
    # UNCHANGED by the feature (nprobe_flips=0 default).
    from plumberapp_spark.llm.similarity import brute_force_topk, lsh_bucketed_topk
    from plumberapp_spark.session import load_table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    kw = dict(k=5, dim=64, num_planes=4)

    multi_probe = lsh_bucketed_topk(emb, qs, nprobe_flips=1, **kw)
    assert_matches_duckdb(multi_probe, REGISTRY["q73_lsh_multiprobe"].oracle, duck)

    exact = {(r[0], r[1]) for r in brute_force_topk(emb, qs, 5).collect()}
    single = {(r[0], r[1]) for r in lsh_bucketed_topk(emb, qs, **kw).collect()}
    multi = {(r[0], r[1]) for r in lsh_bucketed_topk(emb, qs, nprobe_flips=1, **kw).collect()}
    r_single = len(single & exact) / len(exact)
    r_multi = len(multi & exact) / len(exact)
    assert r_multi >= r_single
    assert r_multi > 0.2  # fixture-measured 0.36; a broken probe expansion reverts to ~0.1


def test_semantic_dedup_parity_and_contract(spark, duck):
    # Round 5 SemDeDup: == q74's DuckDB definition exactly (a vector is
    # dropped iff a smaller-id in-cell neighbor has round-6 cosine >=
    # tau); NULL-free boolean output.
    from plumberapp_spark.llm.similarity import semantic_dedup
    from plumberapp_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    fast = assert_matches_duckdb(
        semantic_dedup(emb, tau=0.32, n_centroids=16), REGISTRY["q74_semantic_dedup"].oracle, duck
    )
    assert len(fast) == emb.count()  # one row per vector, kept or not
    assert all(r[2] in (True, False) for r in fast)
    # tau above the fixture's max pairwise cosine drops nothing
    allkept = semantic_dedup(emb, tau=0.99).collect()
    assert all(r["kept"] for r in allkept)


def test_semantic_dedup_cell_guard_raises(spark):
    from plumberapp_spark.llm.similarity import semantic_dedup
    from plumberapp_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    import pytest as _pytest

    with _pytest.raises(Exception, match="max_cell_rows"):
        semantic_dedup(emb, tau=0.32, n_centroids=2, max_cell_rows=10).collect()


# ---- round 9: incremental append (delta segments) ----------------------


def test_ivf_append_equals_full_assignment(spark, tmp_path):
    """build(A) + append(B) must serve exactly what ONE index whose
    cells hold A∪B (assigned under A's centroids) serves: the frozen-
    codebook contract, end to end."""
    import os
    import shutil

    import pyspark.sql.functions as F

    from plumberapp_spark.llm.similarity import (
        _assign_to_cells,
        _load_centroids,
        _read_ivf_cells,
        append_to_ivf_index,
        build_ivf_index,
        ivf_topk_indexed,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 4 != 0)
    delta = emb.filter(F.col("vec_id") % 4 == 0)

    inc = str(tmp_path / "inc")
    build_ivf_index(base, inc, n_centroids=8)
    append_to_ivf_index(delta, inc)

    # reference: the SAME frozen centroids, but all of A∪B assigned into
    # ONE cells relation (no delta segments at all) — a genuinely
    # independent construction of what the base+delta union claims to be
    # (ADVICE r9: the previous reference replayed the identical
    # build+append sequence, making the assertion near-tautological)
    ref = str(tmp_path / "ref")
    os.makedirs(ref)
    shutil.copytree(os.path.join(inc, "centroids"), os.path.join(ref, "centroids"))
    c_mat, c_norm = _load_centroids(spark, inc)
    _assign_to_cells(
        emb.select("vec_id", "embedding"), c_mat, c_norm, "vec_id", "embedding"
    ).write.partitionBy("_cell").mode("overwrite").parquet(f"{ref}/cells")

    n_union = _read_ivf_cells(spark, inc).count()
    assert n_union == emb.count()

    q = emb.filter(F.col("vec_id") % 50 == 0)
    got = sorted(
        tuple(r) for r in ivf_topk_indexed(spark, inc, q, k=5, nprobe=2).collect()
    )
    ref_rows = sorted(
        tuple(r) for r in ivf_topk_indexed(spark, ref, q, k=5, nprobe=2).collect()
    )
    assert got == ref_rows
    # appended vectors are actually servable: at least one neighbor id
    # comes from the delta subset
    assert any(r[1] % 4 == 0 for r in got)


def test_ivf_append_idempotent_and_half_written_invisible(spark, tmp_path):
    import os

    import pyspark.sql.functions as F

    from plumberapp_spark.llm import store
    from plumberapp_spark.llm.similarity import (
        _read_ivf_cells,
        append_to_ivf_index,
        build_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "idx")
    build_ivf_index(emb.filter(F.col("vec_id") % 2 == 0), path, n_centroids=8)
    d = emb.filter(F.col("vec_id") % 2 == 1)
    append_to_ivf_index(d, path, name="delta_e0", skip_if_complete=True)
    n1 = _read_ivf_cells(spark, path).count()
    append_to_ivf_index(d, path, name="delta_e0", skip_if_complete=True)
    assert _read_ivf_cells(spark, path).count() == n1, "replay double-ingested"
    assert len(store.members(path, "delta", "cells")) == 1

    # a torn append (no _SUCCESS) must be invisible, not an exception
    os.makedirs(os.path.join(path, "delta_dead", "cells"))
    assert len(store.members(path, "delta", "cells")) == 1
    assert _read_ivf_cells(spark, path).count() == n1


def test_ivf_probe_prunes_partitions_across_segments(spark, tmp_path):
    """The probe's IN filter must reach the partition filters of BOTH
    the base scan and every delta scan."""
    import pyspark.sql.functions as F

    from plumberapp_spark.llm.similarity import (
        _read_ivf_cells,
        append_to_ivf_index,
        build_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "idx")
    build_ivf_index(emb.filter(F.col("vec_id") % 2 == 0), path, n_centroids=8)
    append_to_ivf_index(emb.filter(F.col("vec_id") % 2 == 1), path)
    pruned = _read_ivf_cells(spark, path).filter(F.col("_cell").isin([1, 3]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert plan.count("PartitionFilters: [_cell") == 2 or plan.count(
        "PartitionFilters: [isnotnull(_cell"
    ) == 2, plan
    got = sorted(r["_cell"] for r in pruned.select("_cell").distinct().collect())
    assert set(got) <= {1, 3}


def test_streaming_ivf_ingest_via_foreachbatch(spark, tmp_path):
    """append_to_ivf_index is streaming-ready: a foreachBatch sink with
    epoch-keyed delta names ingests a multi-batch vector stream, and
    serving equals the all-at-once append."""
    import pyspark.sql.functions as F

    from plumberapp_spark.llm import store
    from plumberapp_spark.llm.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        ivf_topk_indexed,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    delta = emb.filter(F.col("vec_id") % 2 == 1)

    idx = str(tmp_path / "idx")
    build_ivf_index(base, idx, n_centroids=8)

    src = str(tmp_path / "src")
    delta.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(src)
    )

    def sink(batch_df, epoch_id):
        if batch_df.limit(1).count() == 0:
            return
        append_to_ivf_index(
            batch_df, idx, name=f"delta_e{epoch_id:09d}", skip_if_complete=True
        )

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(store.members(idx, "delta", "cells")) == 3

    ref = str(tmp_path / "ref")
    build_ivf_index(base, ref, n_centroids=8)
    append_to_ivf_index(delta, ref)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    got = sorted(
        tuple(r) for r in ivf_topk_indexed(spark, idx, queries, k=5, nprobe=2).collect()
    )
    want = sorted(
        tuple(r) for r in ivf_topk_indexed(spark, ref, queries, k=5, nprobe=2).collect()
    )
    assert got == want
