"""Round-11 regression pins for the ADVICE-r10 fixes: crash-recoverable
compaction swap, doclens format guard, empty-IVF compaction, the bigram
negative-count invariant, and the unigram vocab broadcast ceiling."""

import os

import pyspark.sql.functions as F
import pytest


def _docs(spark, n=200):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter(
        F.col("doc_id") < n
    )


def _serve(spark, path, k=5):
    from plumberapp_spark.llm.segments import bm25_topk_segmented

    q = spark.createDataFrame(
        [(1, "hash join table"), (2, "slow scan row")],
        "query_id bigint, q_text string",
    )
    return sorted(
        tuple(r) for r in bm25_topk_segmented(spark, path, q, k=k).collect()
    )


# ---- crash-recoverable swap (ADVICE r10, medium) -------------------------


def test_swap_crash_between_renames_rolls_forward(spark, tmp_path):
    """The silent-data-loss window: a crash after rename(path, .old.N)
    but before rename(.compact, path) used to leave `path` absent — a
    restarted sink would recreate it holding only the replayed epoch.
    With the intent marker, the next index touch completes the swap."""
    from plumberapp_spark.llm import store
    from plumberapp_spark.llm.segments import (
        append_segment,
        build_segmented_index,
        compact_segments,
    )

    docs = _docs(spark)
    path = str(tmp_path / "idx")
    build_segmented_index(docs.filter(F.col("doc_id") % 2 == 0), path)
    append_segment(docs.filter(F.col("doc_id") % 2 == 1), path)
    before = _serve(spark, path)

    # compact beside serving, then simulate the exact crash state:
    # intent written, first rename done, second rename never happened
    compact_segments(spark, path, f"{path}.compact")
    with open(f"{path}.swapintent", "w") as fh:
        fh.write(f"{path}.old.0")
    os.rename(path, f"{path}.old.0")
    assert not os.path.exists(path)

    # first touch recovers: the compacted index is swapped in
    segs = store.members(path, "seg", "scalars")
    assert len(segs) == 1, "recovery must roll the compacted index forward"
    assert not os.path.exists(f"{path}.swapintent")
    assert _serve(spark, path) == before


def test_swap_crash_before_first_rename_rolls_back(spark, tmp_path):
    """Intent marker present but the live path intact (crash before the
    first rename, or after full completion): the live index serves;
    recovery just discards the stale marker."""
    from plumberapp_spark.llm import store
    from plumberapp_spark.llm.segments import build_segmented_index

    docs = _docs(spark)
    path = str(tmp_path / "idx")
    build_segmented_index(docs, path)
    before = _serve(spark, path)
    with open(f"{path}.swapintent", "w") as fh:
        fh.write(f"{path}.old.0")
    assert len(store.members(path, "seg", "scalars")) == 1
    assert not os.path.exists(f"{path}.swapintent")
    assert _serve(spark, path) == before


def test_swap_crash_with_nothing_left_refuses(spark, tmp_path):
    """Marker present but neither the live path nor .compact survived —
    refuse loudly rather than serve an empty index."""
    from plumberapp_spark.llm import store

    path = str(tmp_path / "idx")
    with open(f"{path}.swapintent", "w") as fh:
        fh.write(f"{path}.old.0")
    with pytest.raises(RuntimeError, match="interrupted compaction swap"):
        store.members(path, "seg", "scalars")


def test_maybe_compact_leaves_no_intent_marker(spark, tmp_path):
    """The happy path: maybe_compact's default swap cleans up its own
    marker, and the compacted index serves identically."""
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
    before = _serve(spark, path)
    retired = maybe_compact(spark, path, max_segments=1)
    assert retired is not None
    assert not os.path.exists(f"{path}.swapintent")
    assert len(store.members(path, "seg", "scalars")) == 1
    assert _serve(spark, path) == before


def test_ivf_swap_crash_rolls_forward(spark, tmp_path):
    """The IVF twin: _read_ivf_cells (every probe's entry point) runs
    the same recovery, so a crashed maybe_compact_ivf swap heals on the
    next probe/append instead of serving a missing path."""
    _check_ivf_swap_crash_rolls_forward(spark, tmp_path, "raw")


@pytest.mark.parametrize("codec", ["sq", "pq"])
def test_coded_ivf_swap_crash_rolls_forward(spark, tmp_path, codec):
    """Swap-intent recovery on the compressed layouts: the recovered
    path must also name the right codec (its cells relation) again."""
    _check_ivf_swap_crash_rolls_forward(spark, tmp_path, codec)


def _check_ivf_swap_crash_rolls_forward(spark, tmp_path, codec):
    from plumberapp_spark.llm.similarity import (
        _read_ivf_cells,
        append_to_ivf_index,
        build_ivf_index,
        compact_ivf_index,
        ivf_topk_indexed,
    )
    from tests.conftest import SF_DIR, ivf_codec

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    build_ivf_index(
        emb.filter(F.col("vec_id") % 5 != 0), path, n_centroids=8,
        codec=ivf_codec(codec),
    )
    append_to_ivf_index(emb.filter(F.col("vec_id") % 5 == 0), path)
    q = emb.filter(F.col("vec_id") % 50 == 0)

    def serve():
        return sorted(
            tuple(r)
            for r in ivf_topk_indexed(
                spark, path, q, k=3, nprobe=2, corpus=emb
            ).collect()
        )

    before = serve()

    compact_ivf_index(spark, path, f"{path}.compact")
    with open(f"{path}.swapintent", "w") as fh:
        fh.write(f"{path}.old.0")
    os.rename(path, f"{path}.old.0")

    n = _read_ivf_cells(spark, path).count()
    assert n == emb.count()
    assert not os.path.exists(f"{path}.swapintent")
    assert serve() == before


# ---- empty-index IVF compaction (ADVICE r10, low) ------------------------


def test_compact_ivf_all_tombstoned_keeps_readable_schema(spark, tmp_path):
    """Every vector tombstoned: compaction must fall back to a plain
    schema-preserving write (partitionBy would emit a dataless dir whose
    read-back dies on schema inference), and the swapped-in index must
    keep serving (zero rows, not an AnalysisException)."""
    from plumberapp_spark.llm.similarity import (
        _read_ivf_cells,
        build_ivf_index,
        delete_from_ivf_index,
        maybe_compact_ivf,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(50)
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=4)
    delete_from_ivf_index(spark, path, emb.select("vec_id"))
    retired = maybe_compact_ivf(spark, path, max_deltas=16)
    assert retired is not None  # any tombstone triggers compaction
    assert _read_ivf_cells(spark, path).count() == 0  # readable, empty


# ---- doclens format guard (ADVICE r10, low) ------------------------------


def test_delete_and_compact_refuse_pre_doclens_segments(spark, tmp_path):
    """A hand-built index whose segment predates the doclens relation
    (format <= 2) must fail with guidance, not a raw parquet
    path-not-found — and must NOT be silently backfilled (token-less
    docs are unreconstructable from postings)."""
    import shutil

    from plumberapp_spark.llm.segments import (
        build_segmented_index,
        compact_segments,
        delete_docs,
    )

    docs = _docs(spark, 100)
    path = str(tmp_path / "idx")
    seg = build_segmented_index(docs, path)
    shutil.rmtree(os.path.join(seg, "doclens"))
    with pytest.raises(ValueError, match="doclens"):
        delete_docs(spark, path, docs.select("doc_id").limit(5))
    with pytest.raises(ValueError, match="doclens"):
        compact_segments(spark, path, str(tmp_path / "out"))


# ---- bigram negative-count invariant (VERDICT r10 #4) --------------------


def test_unkeyed_double_delete_fails_loudly(spark, tmp_path):
    """An un-keyed replay of the same takedown writes a second negative
    segment; the merge must now raise the pinned message instead of
    silently over-subtracting (dropping still-live bigrams and skewing
    the token total)."""
    from plumberapp_spark.llm.textqa import (
        bigram_logprob_score_segmented,
        build_bigram_lm,
        delete_bigram_docs,
    )

    docs = _docs(spark, 100)
    path = str(tmp_path / "lm")
    build_bigram_lm(docs, path)
    takedown = docs.filter(F.col("doc_id") % 7 == 3)
    delete_bigram_docs(takedown, path)  # legitimate
    delete_bigram_docs(takedown, path)  # un-keyed replay: over-subtracts
    survivors = docs.filter(F.col("doc_id") % 7 != 3)
    with pytest.raises(Exception, match="negative count"):
        bigram_logprob_score_segmented(spark, path, survivors).collect()


def test_epoch_keyed_double_delete_stays_idempotent(spark, tmp_path):
    """The documented replay contract: the SAME delete replayed with its
    epoch key is a no-op, and serving equals a fresh fit on survivors."""
    from plumberapp_spark.llm import store
    from plumberapp_spark.llm.textqa import (
        bigram_logprob_score,
        bigram_logprob_score_segmented,
        build_bigram_lm,
        delete_bigram_docs,
    )

    docs = _docs(spark, 100)
    path = str(tmp_path / "lm")
    build_bigram_lm(docs, path)
    takedown = docs.filter(F.col("doc_id") % 7 == 3)
    delete_bigram_docs(takedown, path, name="seg_del1", skip_if_complete=True)
    delete_bigram_docs(takedown, path, name="seg_del1", skip_if_complete=True)
    assert len(store.members(path, "seg", "scalars")) == 2  # build + ONE delete
    survivors = docs.filter(F.col("doc_id") % 7 != 3)
    served = {
        r["doc_id"]: (r["n_bigrams"], r["mean_logprob"])
        for r in bigram_logprob_score_segmented(spark, path, survivors).collect()
    }
    fresh = {
        r["doc_id"]: (r["n_bigrams"], r["mean_logprob"])
        for r in bigram_logprob_score(survivors).collect()
    }
    assert served == fresh


# ---- unigram vocab broadcast ceiling (VERDICT r10 #3) --------------------


def test_vocab_above_broadcast_ceiling_fails_loudly(spark, monkeypatch):
    """The closure/broadcast contract is enforced, not just documented:
    a vocabulary wider than the ceiling raises with guidance instead of
    shipping megabyte dicts to every executor."""
    from plumberapp_spark.llm import textqa

    monkeypatch.setattr(textqa, "_VOCAB_BROADCAST_CEILING", 2)
    docs = _docs(spark, 20)
    with pytest.raises(ValueError, match="broadcast-class ceiling"):
        textqa._score_with_unigram_lm(
            docs, {"a": 1, "b": 2, "c": 3}, 6, "text", "doc_id", 3
        )


# ---- rebuild_ivf_index (VERDICT r10 next-round #4) -----------------------
@pytest.mark.parametrize("codec", ["sq", "pq"])
def test_rebuild_rejects_coded_index(spark, tmp_path, codec):
    """rebuild_ivf_index and codebook_drift_advice re-train from
    full-precision vectors read back out of the cells; a coded index
    holds only codes, so both must refuse instead of silently training
    on them — and leave the index untouched."""
    from plumberapp_spark.llm.similarity import (
        build_ivf_index,
        codebook_drift_advice,
        rebuild_ivf_index,
    )
    from tests.conftest import SF_DIR, ivf_codec

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=4, codec=ivf_codec(codec))
    with pytest.raises(ValueError, match="full-precision"):
        rebuild_ivf_index(spark, path)
    with pytest.raises(ValueError, match="full-precision"):
        codebook_drift_advice(spark, path, emb.limit(5))
    assert not os.path.exists(f"{path}.compact")
    assert os.path.isdir(os.path.join(path, ivf_codec(codec).cells))




def test_rebuild_recovers_drift_recall(spark, tmp_path):
    """The closed loop: the drifted fixture from the drift-advice test
    (boundary-crowding delta under a frozen 2-centroid codebook) loses
    recall; rebuild_ivf_index re-draws the codebook from the live
    corpus and the SAME monitor must observe recall recover."""
    import math

    from plumberapp_spark.llm import store
    from plumberapp_spark.llm.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        codebook_drift_advice,
        rebuild_ivf_index,
    )

    def vec(angle_deg):
        a = math.radians(angle_deg)
        return [math.cos(a), math.sin(a)]

    base = spark.createDataFrame(
        [(0, vec(0.0)), (1, vec(90.0))], "vec_id bigint, embedding array<double>"
    )
    path = str(tmp_path / "idx")
    build_ivf_index(base, path, n_centroids=2)
    delta = spark.createDataFrame(
        [(100 + i, vec(40.0 + 0.5 * i)) for i in range(21)],
        "vec_id bigint, embedding array<double>",
    )
    append_to_ivf_index(delta, path)
    queries = spark.createDataFrame(
        [(900, vec(44.8)), (901, vec(45.2)), (902, vec(44.6)), (903, vec(45.4))],
        "vec_id bigint, embedding array<double>",
    )
    before = codebook_drift_advice(
        spark, path, queries, k=5, nprobe=1, min_recall=0.9
    ).first()
    assert before["recommend_rebuild"] is True

    retired = rebuild_ivf_index(spark, path)
    assert retired is not None
    assert store.members(path, "delta", "cells") == []
    assert store.tombstones(path, "ids") == []
    after = codebook_drift_advice(
        spark, path, queries, k=5, nprobe=1, min_recall=0.9
    ).first()
    assert after["recall"] > before["recall"]
    assert after["recommend_rebuild"] is False


def test_rebuild_equals_build_on_live_corpus(spark, tmp_path):
    """The hash contract: after build + append + delete, rebuild's
    serving must be row-identical to a from-scratch build_ivf_index on
    corpus-minus-deleted — same codebook draw, same assignments."""
    from plumberapp_spark.llm.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        delete_from_ivf_index,
        ivf_topk_indexed,
        rebuild_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "drifted")
    build_ivf_index(emb.filter(F.col("vec_id") % 5 != 0), path, n_centroids=8)
    append_to_ivf_index(emb.filter(F.col("vec_id") % 5 == 0), path)
    delete_from_ivf_index(
        spark, path, emb.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    )
    rebuild_ivf_index(spark, path)

    fresh = str(tmp_path / "fresh")
    build_ivf_index(emb.filter(F.col("vec_id") % 7 != 3), fresh, n_centroids=8)

    q = emb.filter(F.col("vec_id") % 50 == 0)
    got = sorted(
        tuple(r) for r in ivf_topk_indexed(spark, path, q, k=5, nprobe=2).collect()
    )
    want = sorted(
        tuple(r) for r in ivf_topk_indexed(spark, fresh, q, k=5, nprobe=2).collect()
    )
    assert got == want


def test_rebuild_preserves_exactly_once_replay(spark, tmp_path):
    """Epoch-keyed appends absorbed by a rebuild must stay no-ops when
    replayed after the swap (the absorbed.json ledger contract)."""
    from plumberapp_spark.llm import store
    from plumberapp_spark.llm.similarity import (
        _read_ivf_cells,
        append_to_ivf_index,
        build_ivf_index,
        rebuild_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(100)
    path = str(tmp_path / "idx")
    build_ivf_index(emb.filter(F.col("vec_id") % 2 == 0), path, n_centroids=4)
    append_to_ivf_index(
        emb.filter(F.col("vec_id") % 2 == 1),
        path,
        name="delta_e000000001",
        skip_if_complete=True,
    )
    rebuild_ivf_index(spark, path)
    n = _read_ivf_cells(spark, path).count()
    # replay of the absorbed epoch: must be a no-op, not a double-ingest
    append_to_ivf_index(
        emb.filter(F.col("vec_id") % 2 == 1),
        path,
        name="delta_e000000001",
        skip_if_complete=True,
    )
    assert store.members(path, "delta", "cells") == []
    assert _read_ivf_cells(spark, path).count() == n


# ---- filtered retrieval (VERDICT r10 next-round #5) ----------------------


def test_bm25_filter_restricts_candidates_not_stats(spark, tmp_path):
    """Lucene filtered-query semantics: only allowed docs come back,
    each at the SAME score it earns in the unfiltered run (df/N/avgdl
    stay collection-level), and ranks re-pack within the filtered set —
    never a post-rank subset that loses hits past k."""
    from plumberapp_spark.llm.segments import (
        append_segment,
        bm25_topk_segmented,
        build_segmented_index,
    )

    docs = _docs(spark)
    path = str(tmp_path / "idx")
    build_segmented_index(docs.filter(F.col("doc_id") % 2 == 0), path)
    append_segment(docs.filter(F.col("doc_id") % 2 == 1), path)
    q = spark.createDataFrame(
        [(1, "hash join table")], "query_id bigint, q_text string"
    )
    allowed = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id")
    full = bm25_topk_segmented(spark, path, q, k=200).collect()
    filt = bm25_topk_segmented(spark, path, q, k=10, candidates=allowed).collect()
    assert filt, "filtered search must return rows"
    assert all(r["neighbor_id"] % 3 == 0 for r in filt)
    full_scores = {r["neighbor_id"]: r["bm25"] for r in full}
    for r in filt:
        assert full_scores[r["neighbor_id"]] == r["bm25"], "stats must not move"
    # ranks are dense 1..n within the filtered set
    assert [r["rank"] for r in sorted(filt, key=lambda r: r["rank"])] == list(
        range(1, len(filt) + 1)
    )
    # and the filtered list is exactly the allowed subsequence of the
    # full ranking, truncated at k
    want = [r["neighbor_id"] for r in sorted(full, key=lambda r: r["rank"])
            if r["neighbor_id"] % 3 == 0][:10]
    got = [r["neighbor_id"] for r in sorted(filt, key=lambda r: r["rank"])]
    assert got == want


def test_bm25_filter_composes_with_deletes(spark, tmp_path):
    """Filter + tombstones: the filtered serve over a deleted index must
    equal the filtered serve over an index built on survivors (stats
    move with the DELETE, candidates restrict with the FILTER)."""
    from plumberapp_spark.llm.segments import (
        bm25_topk_segmented,
        build_segmented_index,
        delete_docs,
    )

    docs = _docs(spark)
    path = str(tmp_path / "idx")
    build_segmented_index(docs, path)
    delete_docs(spark, path, docs.filter(F.col("doc_id") % 7 == 3).select("doc_id"))

    fresh = str(tmp_path / "fresh")
    build_segmented_index(docs.filter(F.col("doc_id") % 7 != 3), fresh)

    q = spark.createDataFrame(
        [(1, "hash join table"), (2, "slow scan row")],
        "query_id bigint, q_text string",
    )
    allowed = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id")
    got = sorted(
        tuple(r)
        for r in bm25_topk_segmented(spark, path, q, k=10, candidates=allowed).collect()
    )
    want = sorted(
        tuple(r)
        for r in bm25_topk_segmented(spark, fresh, q, k=10, candidates=allowed).collect()
    )
    assert got == want


def test_ivf_filter_is_pre_topk(spark, tmp_path):
    """The classic filtered-ANN bug the plan must not have: filtering
    AFTER top-k returns fewer than k when the unfiltered head is
    predicate-sparse. The semi-join runs pre-k, so every query gets its
    full k allowed neighbors whenever the probed cells hold them."""
    from plumberapp_spark.llm.similarity import build_ivf_index, ivf_topk_indexed

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=4)
    q = emb.filter(F.col("vec_id") % 50 == 0)
    allowed = emb.filter(F.col("label") % 4 == 0).select("vec_id")
    allowed_ids = {r[0] for r in allowed.collect()}

    filt = ivf_topk_indexed(spark, path, q, k=5, nprobe=2, id_filter=allowed).collect()
    assert filt and all(r["neighbor_id"] in allowed_ids for r in filt)
    # pre-k: with ~25% of vectors allowed, an unfiltered top-5 head
    # rarely holds 5 allowed ids — the filtered search must still fill k
    from collections import Counter

    per_q = Counter(r["query_id"] for r in filt)
    assert max(per_q.values()) == 5, "filtered probe must fill k pre-rank"
    # consistency with brute force over the allowed subset, restricted
    # to the probed approximation: scores match the unfiltered run's
    unfilt = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in ivf_topk_indexed(spark, path, q, k=1000, nprobe=2).collect()
    }
    for r in filt:
        key = (r["query_id"], r["neighbor_id"])
        if key in unfilt:
            assert unfilt[key] == r["cos_sim"]


# ---- segmented unigram LM (VERDICT r10 next-round #6) --------------------


def test_unigram_segments_serve_equals_direct_fit(spark, tmp_path):
    """Build 60% + append 40%: serving from the merged segments must be
    bit-identical to the direct fit on the union (same vocabulary
    selection, same totals, same per-doc means)."""
    from plumberapp_spark.llm.textqa import (
        append_bigram_segment,
        build_bigram_lm,
        unigram_logprob_score,
        unigram_logprob_score_segmented,
    )

    docs = _docs(spark)
    path = str(tmp_path / "lm")
    build_bigram_lm(docs.filter(F.col("doc_id") % 5 > 1), path)
    append_bigram_segment(docs.filter(F.col("doc_id") % 5 <= 1), path)
    got = sorted(
        tuple(r)
        for r in unigram_logprob_score_segmented(spark, path, docs).collect()
    )
    want = sorted(tuple(r) for r in unigram_logprob_score(docs).collect())
    assert got == want


def test_unigram_delete_reshapes_vocabulary(spark, tmp_path):
    """The claim q123 makes over q96: deleting the only documents that
    carry a vocabulary token drops that token from the SERVED
    vocabulary itself — serving equals a fresh fit on survivors, and
    the compacted LM physically forgets the deleted counts."""
    from plumberapp_spark.llm.textqa import (
        build_bigram_lm,
        compact_bigram_lm,
        delete_bigram_docs,
        unigram_logprob_score,
        unigram_logprob_score_segmented,
    )

    rows = [(1, "zebra zebra zebra"), (2, "apple pie"), (3, "apple tart")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    path = str(tmp_path / "lm")
    build_bigram_lm(docs, path)
    delete_bigram_docs(docs.filter(F.col("doc_id") == 1), path)

    survivors = docs.filter(F.col("doc_id") != 1)
    got = sorted(
        tuple(r)
        for r in unigram_logprob_score_segmented(
            spark, path, survivors, vocab_size=3
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in unigram_logprob_score(survivors, vocab_size=3).collect()
    )
    assert got == want

    out = str(tmp_path / "compacted")
    compact_bigram_lm(spark, path, out)
    uni = {r["tk"]: r["_c"] for r in spark.read.parquet(f"{out}/seg_00000/uni").collect()}
    assert "zebra" not in uni, "compaction must physically drop zeroed tokens"
    assert uni == {"apple": 2, "pie": 1, "tart": 1}
    got_c = sorted(
        tuple(r)
        for r in unigram_logprob_score_segmented(
            spark, out, survivors, vocab_size=3
        ).collect()
    )
    assert got_c == want


def test_unigram_unkeyed_double_delete_fails_loudly(spark, tmp_path):
    """The shared non-negative invariant applies to the unigram merge
    too: an un-keyed replayed takedown raises the pinned message."""
    from plumberapp_spark.llm.textqa import (
        build_bigram_lm,
        delete_bigram_docs,
        unigram_logprob_score_segmented,
    )

    rows = [(1, "zebra zebra"), (2, "apple pie"), (3, "apple tart")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    path = str(tmp_path / "lm")
    build_bigram_lm(docs, path)
    takedown = docs.filter(F.col("doc_id") == 1)  # the only zebra-carrier
    delete_bigram_docs(takedown, path)
    delete_bigram_docs(takedown, path)  # un-keyed replay: zebra -> -2
    with pytest.raises(Exception, match="negative count"):
        unigram_logprob_score_segmented(
            spark, path, docs.filter(F.col("doc_id") != 1)
        ).collect()


def test_unigram_epoch_keyed_replays_are_noops(spark, tmp_path):
    """Epoch-keyed appends AND deletes replay as no-ops (the streaming
    sink contract the bigram tier already carries)."""
    from plumberapp_spark.llm import store
    from plumberapp_spark.llm.textqa import (
        append_bigram_segment,
        build_bigram_lm,
        delete_bigram_docs,
    )

    docs = _docs(spark, 100)
    path = str(tmp_path / "lm")
    build_bigram_lm(docs.filter(F.col("doc_id") % 2 == 0), path)
    for _ in range(2):
        append_bigram_segment(
            docs.filter(F.col("doc_id") % 2 == 1),
            path,
            name="seg_e1",
            skip_if_complete=True,
        )
    for _ in range(2):
        delete_bigram_docs(
            docs.filter(F.col("doc_id") % 7 == 3),
            path,
            name="seg_d1",
            skip_if_complete=True,
        )
    assert len(store.members(path, "seg", "scalars")) == 3
