"""Shared ranking pieces: the lexical weight expressions, the token
bucket key, and the engine's one top-k ranking tail.

Every lexical ranking in the engine builds its weights here, so the
direct operators (``dedup.tfidf_topk``/``bm25_topk``, which pass
literals for the corpus globals) and the segmented index (which passes
the columns ``segments._with_globals`` adds) evaluate one formula:

* tf-idf: ``tf · ln(N / df)`` (natural log, N = corpus docs);
* BM25 (Robertson/Lucene): ``ln(1 + (N - df + 0.5)/(df + 0.5)) ·
  tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))``.

Every retrieval ranking — lexical (direct and segmented), dense (brute
force, LSH multi-probe, direct and indexed IVF, the coded shortlist)
and the RRF hybrid fusion — ends in :func:`_two_stage_topk`, the one
``row_number`` window over ``query_id`` in the engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 64


def _bucket(col, n_buckets: int = DEFAULT_BUCKETS):
    """Partition key for a token: crc32 of the utf-8 bytes mod
    n_buckets — stable across sessions (no Spark-version hash-seed
    dependence), cheap, and pushdown-friendly (an int partition col)."""
    return F.crc32(F.col(col).cast("binary")) % n_buckets


def tfidf_weight(tf: Column, df: Column, nd: Column) -> Column:
    """tf-idf weight ``tf · ln(nd / df)``."""
    return tf * F.log(nd / df)


def bm25_weight(
    tf: Column, df: Column, dl: Column, nd: Column, avgdl: Column, k1: float, b: float
) -> Column:
    """BM25 weight of one (doc, term) posting: Robertson/Lucene idf
    times the ``k1``-saturated, ``b``-length-normalized tf."""
    return (
        F.log(F.lit(1.0) + (nd - df + 0.5) / (df + 0.5))
        * (tf * (k1 + 1))
        / (tf + k1 * (1 - b + b * dl / avgdl))
    )


def _two_stage_topk(scored: DataFrame, k: int, score_col: str) -> DataFrame:
    """The engine's one ranking tail: top ``k`` rows per ``query_id``
    by ``score_col`` descending, ties to the smaller ``neighbor_id``,
    ranked 1..k. One ``row_number`` window filtered to ``rank <= k``,
    which Spark plans in two stages around ONE exchange on
    ``query_id``: a Partial ``WindowGroupLimit`` caps every map
    partition at k rows per query before the shuffle, and the final
    window ranks those survivors. That inference holds while
    ``spark.sql.optimizer.windowGroupLimitThreshold`` (default 1000)
    is at least ``k``; every registered query asks for k = 10 (a coded
    IVF shortlist for its rerank depth, 20 by default). Above
    the threshold the result is the same but every scored row crosses
    the exchange."""
    w = Window.partitionBy("query_id").orderBy(F.col(score_col).desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            score_col,
            F.col("rank").cast("bigint").alias("rank"),
        )
    )
