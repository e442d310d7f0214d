"""Round 12: phrase retrieval over positional postings, and the IVF-PQ
compression tier (8 bytes/vector, ADC scoring, exact rerank).

Contracts pinned here:
* the positional anchor-intersection reduction counts phrase
  occurrences exactly — including OVERLAPPING occurrences and phrases
  with REPEATED tokens (the cases a naive bigram-join gets wrong);
* phrase serving prunes the positions scan to the phrase terms'
  buckets (explain-pinned) and never serves the query doc itself;
* the ADC lookup-table identity (q . de == sum_s LUT[s][code_s]) holds
  against explicit reconstruction;
* ``rerank`` covering every probed cell makes PQ search bit-identical
  to the uncompressed IVF index — compression changes where the
  shortlist comes from, never how survivors are scored;
* PQ cells are materially smaller than SQ cells (8 bytes vs 64 bytes
  per vector of payload);
* the PQ lifecycle (append under the frozen codebook, tombstone
  delete, compaction) is observation-identical before and after
  compaction, and physically drops tombstoned codes.
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from plumberapp_spark.llm.pq import (  # noqa: E402
    PQCodec,
    pq_compression_stats,
    pq_encode,
    pq_reconstruct,
)
from plumberapp_spark.llm.positional import (  # noqa: E402
    build_positional_index,
    ensure_positional_index,
    phrase_bm25_topk,
    phrase_matches,
    phrase_topk_indexed,
)
from plumberapp_spark.llm.similarity import (  # noqa: E402
    SQ,
    ensure_ivf_index,
    ivf_topk_indexed,
)
from plumberapp_spark.session import load_table  # noqa: E402
from tests.conftest import SF_DIR  # noqa: E402
from tests.test_sq_ivf import (  # noqa: E402
    check_append_idempotent_by_name,
    check_lifecycle_delete_and_compact_parity,
    check_probe_scan_prunes_cell_partitions,
)


def _dir_bytes(p: Path) -> int:
    return sum(f.stat().st_size for f in p.rglob("*") if f.is_file())


# ---- phrase retrieval ------------------------------------------------


def _brute_count(toks: list[str], phrase: list[str]) -> int:
    m = len(phrase)
    return sum(
        1 for i in range(len(toks) - m + 1) if toks[i : i + m] == phrase
    )


PHRASE_DOCS = {
    1: "a a a b",          # "a a" occurs twice (overlapping)
    2: "x a a y a a",      # twice, non-adjacent
    3: "a b a b a",        # "a b" twice, "b a" twice
    4: "b b b",            # no "a a"
    5: "a",                # shorter than any phrase
}


def test_phrase_matches_exact_counts_bruteforce(spark, tmp_path):
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": list(PHRASE_DOCS), "text": list(PHRASE_DOCS.values())}
        )
    )
    path = str(tmp_path / "pos")
    build_positional_index(corpus, path)
    for qid, phrase in ((101, ["a", "a"]), (102, ["a", "b"]), (103, ["b", "a", "b"])):
        queries = spark.createDataFrame(
            pd.DataFrame({"query_id": [qid], "phrase": [phrase]})
        )
        got = {
            (r["doc_id"], r["n_occ"])
            for r in phrase_matches(spark, path, queries).collect()
        }
        want = {
            (d, _brute_count(t.split(), phrase))
            for d, t in PHRASE_DOCS.items()
            if _brute_count(t.split(), phrase) > 0
        }
        assert got == want, (phrase, got, want)


def test_phrase_topk_ranks_by_count_and_excludes_self(spark, tmp_path):
    docs = dict(PHRASE_DOCS)
    docs[101] = "a a"  # the query doc itself contains the phrase
    corpus = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(docs), "text": list(docs.values())})
    )
    path = str(tmp_path / "pos")
    build_positional_index(corpus, path)
    queries = spark.createDataFrame(
        pd.DataFrame({"query_id": [101], "phrase": [["a", "a"]]})
    )
    rows = phrase_topk_indexed(spark, path, queries, k=10).collect()
    assert [r["neighbor_id"] for r in rows] == [1, 2]  # both count 2, id tie
    assert all(r["n_occ"] == 2 for r in rows)
    assert [r["rank"] for r in rows] == [1, 2]
    assert 101 not in {r["neighbor_id"] for r in rows}  # self excluded


def test_phrase_scan_prunes_buckets(spark):
    path = ensure_positional_index(spark, SF_DIR, "documents")
    queries = spark.createDataFrame(
        pd.DataFrame({"query_id": [0], "phrase": [["the", "quick"]]})
    )
    df = phrase_matches(spark, path, queries)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m is not None and "_b" in m.group(1), plan[:2000]


def test_phrase_bm25_candidates_are_phrase_matches(spark):
    from plumberapp_spark.llm.segments import ensure_segmented_index

    lex = ensure_segmented_index(spark, SF_DIR, "documents")
    pos = ensure_positional_index(spark, SF_DIR, "documents")
    docs = load_table(spark, SF_DIR, "documents")
    from plumberapp_spark.functions.text import tokenize

    queries = (
        docs.filter(F.col("doc_id") % 100 == 0)
        .select(
            F.col("doc_id").alias("query_id"),
            "text",
            tokenize(F.col("text")).alias("_t"),
        )
        .filter(F.size("_t") >= 2)
        .select("query_id", F.slice("_t", 1, 2).alias("phrase"), "text")
    )
    ranked = phrase_bm25_topk(spark, lex, pos, queries, k=10).collect()
    assert len(ranked) > 0
    match_pairs = {
        (r["query_id"], r["doc_id"])
        for r in phrase_matches(spark, pos, queries).collect()
    }
    assert {(r["query_id"], r["neighbor_id"]) for r in ranked} <= match_pairs
    # ranked descending within each query
    byq: dict = {}
    for r in ranked:
        byq.setdefault(r["query_id"], []).append((r["rank"], r["bm25"]))
    for rs in byq.values():
        rs.sort()
        assert all(a[1] >= b[1] for a, b in zip(rs, rs[1:]))


# ---- IVF-PQ ----------------------------------------------------------


def test_pq_encode_is_argmin_and_reconstruct_is_codebook_rows():
    rng = np.random.default_rng(11)
    cb = rng.normal(size=(4, 5, 3))  # m_sub=4, ks=5, sub=3
    vecs = rng.normal(size=(20, 12))
    codes = pq_encode(vecs, cb)
    assert codes.shape == (20, 4) and codes.dtype == np.int8
    for i in (0, 7, 19):
        for s in range(4):
            v = vecs[i, s * 3 : (s + 1) * 3]
            d2 = np.round(((v[None, :] - cb[s]) ** 2).sum(axis=1), 6)
            assert d2[codes[i, s]] == d2.min()
    de = pq_reconstruct(codes, cb)
    for i in (0, 7, 19):
        for s in range(4):
            assert np.array_equal(de[i, s * 3 : (s + 1) * 3], cb[s][codes[i, s]])


def test_pq_adc_identity_matches_reconstruction():
    rng = np.random.default_rng(23)
    cb = rng.normal(size=(8, 16, 8))
    vecs = rng.normal(size=(50, 64))
    q = rng.normal(size=(64,))
    codes = pq_encode(vecs, cb)
    de = pq_reconstruct(codes, cb)
    # the ADC identity the serving path relies on
    lut = np.einsum("sd,skd->sk", q.reshape(8, 8), cb)
    n2 = (cb * cb).sum(axis=2)
    s_idx = np.arange(8)
    dots = lut[s_idx[None, :], codes.astype(np.int64)].sum(axis=1)
    norms2 = n2[s_idx[None, :], codes.astype(np.int64)].sum(axis=1)
    assert np.allclose(dots, de @ q, atol=1e-10)
    assert np.allclose(norms2, (de * de).sum(axis=1), atol=1e-10)


def test_pq_full_rerank_equals_uncompressed(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    pq_path = ensure_ivf_index(
        spark, SF_DIR, "embeddings", n_centroids=16, codec=PQCodec()
    )
    fp_path = ensure_ivf_index(spark, SF_DIR, "embeddings", n_centroids=16)
    got = sorted(
        tuple(r)
        for r in ivf_topk_indexed(
            spark, pq_path, queries, k=5, nprobe=2, corpus=emb, rerank=10_000
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in ivf_topk_indexed(spark, fp_path, queries, k=5, nprobe=2).collect()
    )
    assert got == want and len(got) > 0


def test_pq_cells_smaller_than_sq_cells(spark):
    pq_path = ensure_ivf_index(
        spark, SF_DIR, "embeddings", n_centroids=16, codec=PQCodec()
    )
    sq_path = ensure_ivf_index(spark, SF_DIR, "embeddings", n_centroids=16, codec=SQ)
    pq_bytes = _dir_bytes(Path(pq_path) / "cells_pq")
    sq_bytes = _dir_bytes(Path(sq_path) / "cells_sq")
    # 8 bytes/vec vs 64 bytes/vec of payload; parquet framing at 500
    # rows x 16 cells eats most of the 8x, so pin a modest floor
    assert pq_bytes < sq_bytes, (pq_bytes, sq_bytes)
    schema = spark.read.parquet(f"{pq_path}/cells_pq").schema
    assert schema["_code"].dataType.simpleString() == "array<tinyint>"
    row = spark.read.parquet(f"{pq_path}/cells_pq").limit(1).collect()[0]
    assert len(row["_code"]) == 8  # one byte per subspace, not per dim


def test_pq_stats_card(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    row = pq_compression_stats(emb).collect()[0]
    assert row["n_vecs"] == emb.count()
    assert row["dim"] == 64 and row["m_sub"] == 8 and row["ks"] == 16
    assert row["fp32_bytes"] == row["n_vecs"] * 64 * 4
    assert row["code_bytes"] == row["n_vecs"] * 8
    assert row["compression_x"] == 32.0
    assert 0 < row["mse"] < row["max_abs_err"] ** 2


def test_pq_lifecycle_delete_and_compact_parity(spark):
    check_lifecycle_delete_and_compact_parity(spark, "pq")


def test_pq_append_idempotent_by_name(spark, tmp_path):
    check_append_idempotent_by_name(spark, tmp_path, PQCodec(m_sub=2, ks=3))


def test_pq_probe_scan_prunes_cell_partitions(spark):
    check_probe_scan_prunes_cell_partitions(spark, "pq")
