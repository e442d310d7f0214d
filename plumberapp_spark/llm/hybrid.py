"""Hybrid retrieval: lexical (BM25) + dense (embedding cosine) rankings
fused with Reciprocal Rank Fusion (RRF, Cormack et al. SIGIR '09) — the
standard production shape for LLM retrieval/curation stacks (every
major search system fuses a sparse and a dense ranker this way; RRF is
the fusion that needs no score calibration between routes).

A hybrid is ``rrf_fuse([lexical_route, dense_route])``: each route is
one of the engine's existing bounded retrieval operators
(``dedup.bm25_topk`` or ``segments.bm25_topk_segmented`` for sparse,
``similarity.brute_force_topk`` or ``ivf_topk_indexed`` for dense), so
the fusion input is AT MOST ``|queries| x k_route`` rows per route —
plan-bounded, never corpus-sized. Both routes exclude a query's own
doc (``neighbor_id != query_id``); free-text query ids live in their
own id space. :func:`query_vectors` builds the dense route's query
side for query docs drawn from the corpus. The fusion itself is one
union + one aggregate + the engine's one two-stage top-k. Nothing
here adds a corpus-sized exchange to what the routes already pay.

RRF score: ``sum over routes of 1 / (k_rrf + rank_route)``, rounded to
6 decimals BEFORE ranking with ties broken by neighbor id — the
engine-independent determinism contract every ranking operator here
follows (a neighbor absent from a route contributes nothing for it).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from plumberapp_spark.llm.scoring import _two_stage_topk


def rrf_fuse(
    rankings: Sequence[DataFrame],
    k: int = 10,
    k_rrf: int = 60,
) -> DataFrame:
    """Fuse ranked lists: each input carries ``(query_id, neighbor_id,
    rank)`` (extra columns ignored); output is ``(query_id, neighbor_id,
    rrf_score, rank)`` — the top ``k`` fused neighbors per query.

    ``k_rrf`` is RRF's smoothing constant (60 in the original paper and
    most production defaults): large enough that a rank-1 hit in one
    route cannot be drowned by mid-list noise in another."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    parts = [
        r.select(
            "query_id",
            "neighbor_id",
            (F.lit(1.0) / (F.lit(k_rrf) + F.col("rank"))).alias("_contrib"),
        )
        for r in rankings
    ]
    allr = parts[0]
    for p in parts[1:]:
        allr = allr.unionByName(p)
    scored = (
        allr.groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("_contrib"), 6).alias("rrf_score"))
    )
    return _two_stage_topk(scored, k, "rrf_score")


def query_vectors(embeddings: DataFrame, queries: DataFrame) -> DataFrame:
    """The dense-route query side for query docs drawn from the corpus:
    the ``(vec_id, embedding)`` rows of ``embeddings`` whose id is a
    query ``doc_id`` (the shared id space ``documents.doc_id`` ==
    ``embeddings.vec_id``), joined against the broadcast distinct query
    ids."""
    qids = queries.select(F.col("doc_id").alias("_qid")).distinct()
    return embeddings.join(
        F.broadcast(qids), embeddings["vec_id"] == F.col("_qid")
    ).select("vec_id", "embedding")
