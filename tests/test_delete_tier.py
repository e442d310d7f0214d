"""Deletion tier (round 10): tombstone segments for the persisted
indexes — serving after delete must equal an index built fresh on
corpus-minus-deleted, and compaction must drop tombstoned rows
physically without changing what is served."""

import os

import pyspark.sql.functions as F
import pytest

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _queries(spark):
    return spark.createDataFrame(
        [(1, "the model data"), (2, "training pipeline quality")],
        "query_id bigint, q_text string",
    )


def _bm25(spark, path, k=10):
    from plumberapp_spark.llm.segments import bm25_topk_segmented

    return sorted(
        tuple(r) for r in bm25_topk_segmented(spark, path, _queries(spark), k=k).collect()
    )


@pytest.fixture(scope="module")
def deleted_index(spark, tmp_path_factory):
    """80/20 build+append then delete doc_id % 7 == 3 — the registered
    fixture shape, built once for the module."""
    from plumberapp_spark.llm.segments import (
        append_segment,
        build_segmented_index,
        delete_docs,
    )

    docs = _docs(spark)
    path = str(tmp_path_factory.mktemp("del") / "idx")
    build_segmented_index(docs.filter(F.col("doc_id") % 5 != 0), path)
    append_segment(docs.filter(F.col("doc_id") % 5 == 0), path)
    delete_docs(spark, path, docs.filter(F.col("doc_id") % 7 == 3).select("doc_id"))
    return path


def test_bm25_after_delete_equals_fresh_build(spark, deleted_index, tmp_path):
    from plumberapp_spark.llm.segments import build_segmented_index

    fresh = str(tmp_path / "fresh")
    build_segmented_index(_docs(spark).filter(F.col("doc_id") % 7 != 3), fresh)
    got = _bm25(spark, deleted_index)
    want = _bm25(spark, fresh)
    assert got == want
    assert got, "fixture must produce result rows"
    assert all(r[1] % 7 != 3 for r in got), "a deleted doc was served"


def test_delete_is_idempotent_and_ignores_unknown_ids(spark, deleted_index):
    from plumberapp_spark.llm import store
    from plumberapp_spark.llm.segments import delete_docs

    before = _bm25(spark, deleted_index)
    docs = _docs(spark)
    # replaying the same takedown batch + ids that don't exist at all
    ids = docs.filter(F.col("doc_id") % 7 == 3).select("doc_id").unionByName(
        spark.range(10**9, 10**9 + 5).select(F.col("id").alias("doc_id"))
    )
    t = delete_docs(spark, deleted_index, ids)
    sc = spark.read.parquet(f"{t}/scalars").first()
    assert sc["_nd"] == 0 and sc["_tt"] == 0, "replay must subtract nothing"
    assert len(store.tombstones(deleted_index, "scalars")) == 2
    assert _bm25(spark, deleted_index) == before


def test_compaction_after_delete_shrinks_postings_and_serves_identically(
    spark, deleted_index, tmp_path
):
    from plumberapp_spark.llm import store
    from plumberapp_spark.llm.segments import (
        _union_pruned,
        compact_segments,
    )

    segs = store.members(deleted_index, "seg", "scalars")
    n_before = _union_pruned(spark, segs, "postings", []).count()
    before = _bm25(spark, deleted_index)

    out = str(tmp_path / "compacted")
    compact_segments(spark, deleted_index, out)
    assert len(store.members(out, "seg", "scalars")) == 1
    assert not store.tombstones(out, "scalars"), "compaction must not carry tombstones"
    n_after = spark.read.parquet(f"{out}/seg_00000/postings").count()
    assert n_after < n_before, "physical drop must shrink postings"
    # no tombstoned doc survives physically
    dead = spark.read.parquet(f"{out}/seg_00000/postings").filter(
        F.col("doc_id") % 7 == 3
    )
    assert dead.count() == 0
    assert _bm25(spark, out) == before


def test_tfidf_after_delete_requires_refresh_then_matches_fresh(
    spark, deleted_index, tmp_path
):
    from plumberapp_spark.llm.segments import (
        build_segmented_index,
        delete_docs,
        refresh_tfidf_norms,
        tfidf_topk_segmented,
    )

    # norms refreshed BEFORE the delete must be refused afterwards
    pre = str(tmp_path / "pre")
    docs = _docs(spark)
    build_segmented_index(docs, pre)
    refresh_tfidf_norms(spark, pre)
    delete_docs(spark, pre, docs.filter(F.col("doc_id") % 7 == 3).select("doc_id"))
    with pytest.raises(ValueError, match="refresh_tfidf_norms"):
        tfidf_topk_segmented(spark, pre, _queries(spark)).collect()

    # after refresh: identical to a fresh index over corpus-minus-deleted
    refresh_tfidf_norms(spark, pre)
    got = sorted(
        tuple(r) for r in tfidf_topk_segmented(spark, pre, _queries(spark)).collect()
    )
    fresh = str(tmp_path / "fresh")
    build_segmented_index(docs.filter(F.col("doc_id") % 7 != 3), fresh)
    refresh_tfidf_norms(spark, fresh)
    want = sorted(
        tuple(r) for r in tfidf_topk_segmented(spark, fresh, _queries(spark)).collect()
    )
    assert got == want and got


def test_tokenless_doc_delete_decrements_n_exactly(spark, tmp_path):
    """A doc with no tokens has no postings rows — only the doclens
    relation can see it; deleting it must still shrink N (it weighted
    avgdl's denominator)."""
    from plumberapp_spark.llm import store
    from plumberapp_spark.llm.segments import (
        _global_scalars,
        build_segmented_index,
        delete_docs,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, ""), (3, "beta gamma delta")],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "idx")
    build_segmented_index(docs, path)
    delete_docs(spark, path, spark.createDataFrame([(2,)], "doc_id bigint"))
    g = _global_scalars(
        spark, store.members(path, "seg", "scalars"), store.tombstones(path, "scalars")
    ).first()
    assert g["_nd"] == 2
    assert abs(g["_avgdl"] - 2.5) < 1e-9  # (2 + 3) tokens / 2 docs


# ---- dense route: IVF deletion + delta compaction -----------------------


def test_ivf_delete_and_compaction(spark, tmp_path):
    from plumberapp_spark.llm import store
    from plumberapp_spark.llm.similarity import (
        _read_ivf_cells,
        append_to_ivf_index,
        build_ivf_index,
        compact_ivf_index,
        delete_from_ivf_index,
        ivf_topk_indexed,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "idx")
    build_ivf_index(emb.filter(F.col("vec_id") % 5 != 0), path, n_centroids=8)
    append_to_ivf_index(emb.filter(F.col("vec_id") % 5 == 0), path)
    n_full = _read_ivf_cells(spark, path).count()
    delete_from_ivf_index(
        spark, path, emb.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    )
    n_live = _read_ivf_cells(spark, path).count()
    assert n_live < n_full
    q = emb.filter(F.col("vec_id") % 50 == 0)
    got = sorted(
        tuple(r) for r in ivf_topk_indexed(spark, path, q, k=5, nprobe=2).collect()
    )
    assert got and all(r[1] % 7 != 3 for r in got), "a deleted vector was served"

    # compaction: one cells relation, no deltas/tombstones, identical serving
    out = str(tmp_path / "compacted")
    compact_ivf_index(spark, path, out)
    assert not store.members(out, "delta", "cells")
    assert not store.tombstones(out, "ids")
    assert _read_ivf_cells(spark, out).count() == n_live
    assert (
        _read_ivf_cells(spark, out).filter(F.col("vec_id") % 7 == 3).count() == 0
    ), "physical drop must remove tombstoned vectors"
    after = sorted(
        tuple(r) for r in ivf_topk_indexed(spark, out, q, k=5, nprobe=2).collect()
    )
    assert after == got


def test_ivf_maybe_compact_bounds_streaming_fanout(spark, tmp_path):
    """20 epoch-keyed appends (the q112 shape) then the size-bounded
    policy: fan-out collapses to zero deltas, serving unchanged, the
    swap hook sees (compacted, live) when supplied."""
    _check_maybe_compact_bounds(spark, tmp_path, "raw")


@pytest.mark.parametrize("codec", ["sq", "pq"])
def test_coded_ivf_maybe_compact_bounds_streaming_fanout(spark, tmp_path, codec):
    """The same bound and swap hook on the compressed layouts: the
    codec changes the cells relation, never the maintenance policy."""
    _check_maybe_compact_bounds(spark, tmp_path, codec)


def _check_maybe_compact_bounds(spark, tmp_path, codec):
    from plumberapp_spark.llm import store
    from plumberapp_spark.llm.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        ivf_topk_indexed,
        maybe_compact_ivf,
    )
    from tests.conftest import ivf_codec

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "idx")
    build_ivf_index(
        emb.filter(F.col("vec_id") % 21 == 0), path, n_centroids=4,
        codec=ivf_codec(codec),
    )
    for epoch in range(20):
        append_to_ivf_index(
            emb.filter(F.col("vec_id") % 21 == epoch + 1),
            path,
            name=f"delta_e{epoch:09d}",
            skip_if_complete=True,
        )
    cells = ivf_codec(codec).cells
    assert len(store.members(path, "delta", cells)) == 20
    q = emb.filter(F.col("vec_id") % 50 == 0).limit(5)

    def serve():
        return sorted(
            tuple(r)
            for r in ivf_topk_indexed(
                spark, path, q, k=3, nprobe=2, corpus=emb
            ).collect()
        )

    before = serve()
    assert maybe_compact_ivf(spark, path, max_deltas=32) is None  # under bound
    retired = maybe_compact_ivf(spark, path, max_deltas=8)
    assert retired is not None
    assert len(store.members(path, "delta", cells)) == 0, "fan-out must collapse"
    assert serve() == before

    # custom swap hook: no filesystem mutation by maybe_compact itself
    import os

    append_to_ivf_index(emb.filter(F.col("vec_id") % 21 == 1), path)
    seen = {}

    def my_swap(tmp, live):
        seen["args"] = (tmp, live)
        return "retired-by-hook"

    assert maybe_compact_ivf(spark, path, max_deltas=0, swap=my_swap) == "retired-by-hook"
    assert seen["args"] == (f"{path}.compact", path)
    assert os.path.exists(f"{path}.compact"), "hook swap must leave dirs to the caller"


# ---- segmented bigram LM (round 10, VERDICT r9 #3) ----------------------


def test_bigram_lm_segments_additive_and_compactable(spark, tmp_path):
    """build(80%) + append(20%) must score exactly like the direct
    corpus fit; epoch replays are no-ops; compaction is bit-identical."""
    from plumberapp_spark.llm import store
    from plumberapp_spark.llm.textqa import (
        append_bigram_segment,
        bigram_logprob_score,
        bigram_logprob_score_segmented,
        build_bigram_lm,
        compact_bigram_lm,
    )

    docs = _docs(spark)
    path = str(tmp_path / "lm")
    build_bigram_lm(docs.filter(F.col("doc_id") % 5 != 0), path)
    append_bigram_segment(
        docs.filter(F.col("doc_id") % 5 == 0), path,
        name="seg_s000000001", skip_if_complete=True,
    )
    # at-least-once replay of the same epoch: no third segment
    append_bigram_segment(
        docs.filter(F.col("doc_id") % 5 == 0), path,
        name="seg_s000000001", skip_if_complete=True,
    )
    assert len(store.members(path, "seg", "scalars")) == 2

    got = sorted(
        tuple(r) for r in bigram_logprob_score_segmented(spark, path, docs).collect()
    )
    want = sorted(tuple(r) for r in bigram_logprob_score(docs).collect())
    assert got == want and got

    out = str(tmp_path / "compact")
    compact_bigram_lm(spark, path, out)
    assert len(store.members(out, "seg", "scalars")) == 1
    after = sorted(
        tuple(r) for r in bigram_logprob_score_segmented(spark, out, docs).collect()
    )
    assert after == got

    # delta-batch serving: scoring only the fifth against the FULL LM
    # still uses full-corpus counts (not the batch's own) — spot-check
    # that a batch score differs from a self-fit on the batch
    fifth = docs.filter(F.col("doc_id") % 5 == 0)
    served = sorted(
        tuple(r)
        for r in bigram_logprob_score_segmented(spark, path, fifth).collect()
    )
    self_fit = sorted(tuple(r) for r in bigram_logprob_score(fifth).collect())
    assert {r[0] for r in served} == {r[0] for r in self_fit}
    assert served != self_fit, "segmented serving must use the corpus LM"


def test_codebook_drift_advice_flags_drifted_delta(spark, tmp_path):
    """VERDICT r9 #6: a delta that crowds the boundary BETWEEN two
    frozen centroids splits true neighbor sets across cells, so an
    nprobe=1 probe must lose recall — the advice flips to rebuild.
    Control: boundary-free queries on the same index stay healthy."""
    import math

    from plumberapp_spark.llm.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        codebook_drift_advice,
    )

    def vec(angle_deg):
        a = math.radians(angle_deg)
        return [math.cos(a), math.sin(a)]

    # base corpus = the two axis vectors -> centroids are exactly those
    base = spark.createDataFrame(
        [(0, vec(0.0)), (1, vec(90.0))], "vec_id bigint, embedding array<double>"
    )
    path = str(tmp_path / "idx")
    build_ivf_index(base, path, n_centroids=2)

    # drifted delta: dense around the 45-degree boundary (the frozen
    # codebook has no centroid there, so assignments split at 45)
    delta = spark.createDataFrame(
        [(100 + i, vec(40.0 + 0.5 * i)) for i in range(21)],
        "vec_id bigint, embedding array<double>",
    )
    append_to_ivf_index(delta, path)

    boundary_queries = spark.createDataFrame(
        [(900, vec(44.8)), (901, vec(45.2)), (902, vec(44.6)), (903, vec(45.4))],
        "vec_id bigint, embedding array<double>",
    )
    row = codebook_drift_advice(
        spark, path, boundary_queries, k=5, nprobe=1, min_recall=0.9
    ).first()
    assert row["n_deltas"] == 1
    assert row["recall"] < 0.9
    assert row["recommend_rebuild"] is True
    assert "re-train" in row["advice"]

    # away from the boundary the same index is healthy
    safe_queries = spark.createDataFrame(
        [(910, vec(5.0)), (911, vec(85.0))],
        "vec_id bigint, embedding array<double>",
    )
    ok = codebook_drift_advice(
        spark, path, safe_queries, k=3, nprobe=1, min_recall=0.9
    ).first()
    assert ok["recommend_rebuild"] is False
    assert ok["recall"] >= 0.9


def test_lexical_maybe_compact_swap_hook(spark, tmp_path):
    """VERDICT r9 #7: on object stores rename is not atomic — a caller
    may supply the swap; maybe_compact then performs no filesystem
    mutation of its own."""
    from plumberapp_spark.llm import store
    from plumberapp_spark.llm.segments import (
        append_segment,
        build_segmented_index,
        maybe_compact,
    )

    docs = _docs(spark)
    path = str(tmp_path / "idx")
    build_segmented_index(docs.filter(F.col("doc_id") % 3 == 0), path)
    append_segment(docs.filter(F.col("doc_id") % 3 == 1), path)
    append_segment(docs.filter(F.col("doc_id") % 3 == 2), path)

    assert maybe_compact(spark, path, max_segments=8) is None  # under bound
    seen = {}

    def my_swap(tmp, live):
        seen["args"] = (tmp, live)
        return "retired-by-hook"

    assert maybe_compact(spark, path, max_segments=2, swap=my_swap) == "retired-by-hook"
    assert seen["args"] == (f"{path}.compact", path)
    assert os.path.exists(f"{path}.compact"), "hook swap leaves dirs to the caller"
    segs = store.members(path, "seg", "scalars")
    assert len(segs) == 3, "live index untouched by hook swap"
    assert len(store.members(f"{path}.compact", "seg", "scalars")) == 1


def test_autocompact_preserves_exactly_once_across_replay(spark, tmp_path):
    """Round 10: compaction swaps epoch segments away, so a replayed
    epoch would re-ingest (double count) unless the compacted index
    remembers what it absorbed. absorbed.json is that ledger — pinned
    here end-to-end: append epochs, compact via the size-bounded
    policy, replay every epoch, and serving must not move."""
    from plumberapp_spark.llm import store
    from plumberapp_spark.llm.segments import (
        _global_scalars,
        append_segment,
        maybe_compact,
    )

    docs = _docs(spark)
    path = str(tmp_path / "idx")
    for epoch in range(4):
        append_segment(
            docs.filter(F.col("doc_id") % 4 == epoch), path,
            name=f"seg_s{epoch:09d}", skip_if_complete=True,
        )
    before = _bm25(spark, path)
    segs = store.members(path, "seg", "scalars")
    n_before = _global_scalars(spark, segs, []).first()["_nd"]

    assert maybe_compact(spark, path, max_segments=2) is not None
    assert len(store.members(path, "seg", "scalars")) == 1
    assert store.absorbed(path) == {f"seg_s{e:09d}" for e in range(4)}

    # at-least-once delivery: every epoch replays after the swap
    for epoch in range(4):
        append_segment(
            docs.filter(F.col("doc_id") % 4 == epoch), path,
            name=f"seg_s{epoch:09d}", skip_if_complete=True,
        )
    segs = store.members(path, "seg", "scalars")
    assert len(segs) == 1, "replay of an absorbed epoch re-ingested"
    assert _global_scalars(spark, segs, []).first()["_nd"] == n_before
    assert _bm25(spark, path) == before

    # a genuinely NEW epoch still lands
    append_segment(docs.limit(0), path, name="seg_s000000009")
    assert len(store.members(path, "seg", "scalars")) == 2


def test_ivf_absorbed_ledger_preserves_exactly_once(spark, tmp_path):
    _check_absorbed_ledger(spark, tmp_path, "raw")


@pytest.mark.parametrize("codec", ["sq", "pq"])
def test_coded_ivf_absorbed_ledger_preserves_exactly_once(spark, tmp_path, codec):
    _check_absorbed_ledger(spark, tmp_path, codec)


def _check_absorbed_ledger(spark, tmp_path, codec):
    from plumberapp_spark.llm import store
    from plumberapp_spark.llm.similarity import (
        _read_ivf_cells,
        append_to_ivf_index,
        build_ivf_index,
        maybe_compact_ivf,
    )
    from tests.conftest import ivf_codec

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "idx")
    build_ivf_index(
        emb.filter(F.col("vec_id") % 3 == 0), path, n_centroids=4,
        codec=ivf_codec(codec),
    )
    for epoch in (1, 2):
        append_to_ivf_index(
            emb.filter(F.col("vec_id") % 3 == epoch), path,
            name=f"delta_e{epoch:09d}", skip_if_complete=True,
        )
    n = _read_ivf_cells(spark, path).count()
    assert maybe_compact_ivf(spark, path, max_deltas=1) is not None
    assert store.absorbed(path) == {"delta_e000000001", "delta_e000000002"}
    for epoch in (1, 2):  # replay after swap
        append_to_ivf_index(
            emb.filter(F.col("vec_id") % 3 == epoch), path,
            name=f"delta_e{epoch:09d}", skip_if_complete=True,
        )
    assert _read_ivf_cells(spark, path).count() == n, "absorbed delta re-ingested"


def test_bigram_lm_delete_cancels_exactly(spark, tmp_path):
    """A negative segment must cancel counts exactly: scoring the
    survivors against the deleted LM == a fresh fit on the survivors;
    fully-cancelled bigrams/tokens vanish; compaction folds the debt
    physically; an epoch-keyed delete replays as a no-op."""
    from plumberapp_spark.llm import store
    from plumberapp_spark.llm.textqa import (
        _merged_bigram_counts,
        append_bigram_segment,
        bigram_logprob_score,
        bigram_logprob_score_segmented,
        build_bigram_lm,
        compact_bigram_lm,
        delete_bigram_docs,
    )

    docs = _docs(spark)
    gone = docs.filter(F.col("doc_id") % 7 == 3)
    kept = docs.filter(F.col("doc_id") % 7 != 3)
    path = str(tmp_path / "lm")
    build_bigram_lm(docs.filter(F.col("doc_id") % 5 != 0), path)
    append_bigram_segment(docs.filter(F.col("doc_id") % 5 == 0), path)
    delete_bigram_docs(gone, path, name="seg_d000000001", skip_if_complete=True)
    delete_bigram_docs(gone, path, name="seg_d000000001", skip_if_complete=True)
    segs = store.members(path, "seg", "scalars")
    assert len(segs) == 3, "delete replay must be a no-op"

    got = sorted(
        tuple(r) for r in bigram_logprob_score_segmented(spark, path, kept).collect()
    )
    want = sorted(tuple(r) for r in bigram_logprob_score(kept).collect())
    assert got == want and got

    # no zero/negative residue survives the merge
    bgc, uni, sc = _merged_bigram_counts(spark, segs)
    assert bgc.filter(F.col("_c12") <= 0).count() == 0
    assert uni.filter(F.col("_c") <= 0).count() == 0

    out = str(tmp_path / "compacted")
    compact_bigram_lm(spark, path, out)
    after = sorted(
        tuple(r) for r in bigram_logprob_score_segmented(spark, out, kept).collect()
    )
    assert after == got
