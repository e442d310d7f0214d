"""Positional postings + phrase retrieval — the lexical tier's
exact-phrase feature (round 12).

The lexical index (:mod:`plumberapp_spark.llm.segments`) serves
bag-of-words rankings: postings are (term, doc, tf) rows with no record
of WHERE a term sits inside its document, so "exact phrase" — the
other half of every production search box, Lucene's ``PhraseQuery``
next to its term queries — cannot be answered. This module adds the
missing relation and the serving path on top of it:

* **build once** (:func:`build_positional_index`): one tokenize pass
  (``posexplode`` — the same whitespace tokenizer as every lexical
  operator, positions 1-based) materializes
  ``{path}/positions`` = ``(tk, doc_id, pos, _b)`` PARTITIONED BY
  ``_b = crc32(tk) % n_buckets`` — the exact bucket layout the
  weights postings use, so a phrase run's parquet scan prunes to the
  buckets its terms hash into. ``{path}/scalars`` records the bucket
  modulus (serve-time pruning reads it back, never re-derives it from
  the constant).

* **serve many** (:func:`phrase_topk_indexed`): the classic
  positional-intersection identity. Tokenize the phrase into
  ``(off, tk)`` pairs (offset 1..m), prune the positions scan to
  those terms' buckets, broadcast-join the pair map, and reduce each
  candidate row to an ANCHOR = ``pos - off`` — the position the
  phrase would have to START at for this row to participate. A
  ``(doc, anchor)`` holds a genuine occurrence iff ALL m offsets are
  present there: one ``groupBy(query, doc, anchor)`` counting
  DISTINCT offsets (repeated phrase terms contribute distinct
  offsets, so self-overlapping phrases count correctly), filtered to
  ``== m``, then a second count rolls anchors up to per-doc
  occurrence totals. No m-way self-join — the m-term intersection is
  ONE aggregation keyed on (query, doc, anchor).

* **phrase-constrained ranking** (:func:`phrase_bm25_topk`): the
  production composition "match the phrase exactly, rank matches by
  relevance". Phrase matches come from the positional relation; BM25
  scores come from the segmented index's serving core, with the
  phrase-match pairs as its candidate relation — semi-joined into the
  pruned postings BEFORE the dot aggregate, so the scoring
  aggregation's input shrinks to the phrase survivors instead of every
  doc sharing any query term.

100 TB posture: positions are ~doc-length rows where weight postings
are ~distinct-term rows (a constant small factor on the same layout —
Lucene pays the same ratio for its .pos files); a phrase run reads
``|phrase-term buckets| / n_buckets`` of that relation, everything
query-sided broadcasts, and the match reduction is one exchange keyed
(query, doc, anchor) whose width is the pruned scan, not the corpus.
Hot-head phrase terms (stopwords) stretch the pruned scan exactly as
they stretch Lucene's position lists — the documented mitigation is
the same (stop lists / gap-encoded skips), not a different plan.

Reference anchor: the reference's vocab/serving split
(``pa/pipeline_optimizer.py:1250-1350`` — calibrate once, serve many)
is the same build/serve boundary; phrase matching itself has no
reference counterpart (north-star tier).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from plumberapp_spark.llm.scoring import (
    DEFAULT_BUCKETS,
    _bucket,
    _two_stage_topk,
)

# Bumped whenever the on-disk layout changes; sidecar-recorded so a
# layout change forces a rebuild instead of serving garbage.
POS_FORMAT = 1


def build_positional_index(
    corpus: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
) -> None:
    """Materialize ``{path}/positions`` and ``{path}/scalars``
    (docstring above). One tokenize+posexplode pass, one partitioned
    write compacted to one file per bucket — no joins, no corpus-wide
    aggregation; the only exchange is the bucket repartition."""
    from plumberapp_spark.functions.text import tokenize

    spark = corpus.sparkSession
    spark.createDataFrame(
        [(int(n_buckets), int(POS_FORMAT))], "_n_buckets int, _format int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/scalars")
    (
        corpus.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(tokenize(F.col(text_col))).alias("_p0", "tk"),
        )
        # 1-based positions: matches the oracle's range(1, len+1) and
        # keeps anchor arithmetic sign-friendly
        .select("tk", "doc_id", (F.col("_p0") + 1).alias("pos"))
        .withColumn("_b", _bucket("tk", n_buckets).cast("int"))
        # one file per bucket: a pruned phrase read opens
        # |phrase buckets| files, not |buckets| x |shuffle partitions|
        .repartition("_b")
        .write.partitionBy("_b")
        .mode("overwrite")
        .parquet(f"{path}/positions")
    )


def ensure_positional_index(
    spark,
    sf_dir: str,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """Build-once path contract — the ``session.ensure_fixture`` sidecar
    pattern every index fixture uses: rebuilt when the marker is
    missing, the recorded source mtime differs, or the recorded layout
    format differs."""
    from plumberapp_spark.session import ensure_fixture, fixture_path, load_table

    path = fixture_path(spark, sf_dir, "pos", table)
    return ensure_fixture(
        path,
        sf_dir,
        table,
        lambda: build_positional_index(
            load_table(spark, sf_dir, table), path, text_col, id_col
        ),
        fields=(POS_FORMAT,),
        complete=lambda: os.path.exists(os.path.join(path, "positions", "_SUCCESS")),
    )


def _pos_scalars(spark, path: str) -> int:
    from plumberapp_spark.session import local_parquet_rows, read_parquet_cached

    rows = local_parquet_rows(f"{path}/scalars")
    if rows:
        return int(rows[0]["_n_buckets"])
    row = read_parquet_cached(spark, f"{path}/scalars").collect()[0]
    return int(row["_n_buckets"])


def _phrase_pairs(queries: DataFrame) -> DataFrame:
    """``(query_id, off, tk)`` — the phrase terms with their 1-based
    offsets; a bounded explode on the small-side query frame."""
    return queries.select(
        "query_id", F.posexplode("phrase").alias("_o0", "tk")
    ).select("query_id", (F.col("_o0") + 1).alias("off"), "tk")


def phrase_matches(
    spark,
    path: str,
    queries: DataFrame,
    min_count: int = 1,
) -> DataFrame:
    """``(query_id, doc_id, n_occ)`` — every doc containing each
    query's exact phrase at least ``min_count`` times, with its
    occurrence count. ``queries`` carries ``(query_id,
    phrase array<string>)``; docs equal to the query id are excluded
    (the family's self-exclusion rule). This is the reusable core —
    :func:`phrase_topk_indexed` ranks it, :func:`phrase_bm25_topk`
    uses it as a candidate filter."""
    import zlib

    from plumberapp_spark.session import (
        collect_bounded,
        local_relation,
        read_parquet_cached,
    )

    n_buckets = _pos_scalars(spark, path)
    # ONE bounded collect of the (query, off, term) pairs (the
    # bm25_topk_segmented contract): pruning buckets compute driver-side
    # under the index's recorded modulus (zlib.crc32 == Spark crc32 over
    # utf-8 bytes — parity pinned by test).
    qt_plan = _phrase_pairs(queries)
    qt_rows = collect_bounded(qt_plan, "phrase_matches: (query, off, term) pairs")
    # Round-11 restructure (guide §1.2 step 1, §2.3): the old plan
    # joined every pruned position row against every (query, off, term)
    # pair sharing its term, so a zipf-head phrase term was replicated
    # once per QUERY that used it before the anchor aggregation ever
    # saw it (measured at sf0.1: 270k pruned positions fanned out to
    # 9.0M hit rows feeding an 8.9M-group aggregate). The intersection
    # is now computed per DISTINCT PHRASE with corpus-bounded fan-out:
    #
    # * adjacency once: lead(tk) over (doc, pos-order) on the pruned
    #   scan yields (tk, tk2) token bigrams — ONE exchange, ≤ |pruned
    #   positions| rows, no query-side replication. Pruning cannot fake
    #   an adjacency: lead sees the next SURVIVING row and the filter
    #   keeps pos2 == pos+1 only; a pruned-out true neighbour is by
    #   construction not any phrase's term, so its bigram could never
    #   match a phrase prefix anyway.
    # * each distinct phrase's (t1, t2) prefix broadcast-joins that
    #   bigram relation → (pid, doc, anchor) genuine prefix matches;
    #   offsets 3..m (rare) extend matches by one bounded semi-join per
    #   offset against the pruned scan keyed (tk, doc, pos).
    # * query ids re-attach AFTER the per-phrase occurrence count — a
    #   broadcast map join on the aggregated (pid, doc) rows, where the
    #   self-exclusion filter drops whole pairs (counts are per-phrase,
    #   so exclusion timing cannot change them).
    by_q: dict = {}
    for r in qt_rows:
        by_q.setdefault(r["query_id"], set()).add((r["off"], r["tk"]))
    pid_of: dict = {}
    q2p_rows = []
    for qid, offs in by_q.items():
        key = tuple(tk for _, tk in sorted(offs))
        pid = pid_of.setdefault(key, len(pid_of))
        q2p_rows.append((qid, pid))
    # a NULL phrase term matches no position row under any join below
    # (and the old plan-side crc32(NULL) pruned to a NULL bucket), so it
    # contributes nothing — skip it rather than crash on .encode (ADVICE
    # r11: guard None before encoding)
    terms = sorted({r["tk"] for r in qt_rows if r["tk"] is not None})
    buckets = sorted(
        {zlib.crc32(tk.encode("utf-8")) % n_buckets for tk in terms}
    )
    positions = read_parquet_cached(spark, f"{path}/positions")
    if buckets:
        positions = positions.filter(F.col("_b").isin(buckets))
    # Round 12 (guide §6): prune WITHIN the buckets to the phrase terms
    # themselves — a bucket holds 1/n_buckets of the whole vocabulary,
    # so the adjacency window used to sort every co-bucketed token's
    # positions. Filtering to phrase terms preserves every true phrase
    # adjacency (both terms of a phrase bigram are phrase terms, so both
    # rows survive) and cannot invent one (lead() then keeps only
    # pos2 == pos+1, and a filtered-out true neighbour is by
    # construction not a phrase term, so its bigram could never match a
    # phrase prefix) — the same argument that makes bucket pruning safe,
    # one level finer. Skipped above 10k distinct terms to bound the
    # in-plan literal set.
    if terms and len(terms) <= 10_000:
        positions = positions.filter(F.col("tk").isin(terms))
    positions = positions.select("tk", "doc_id", "pos")

    long_f = StructField("_pid", LongType(), False)
    mlen_f = StructField("_m", LongType(), False)
    singles = [(ph[0], pid, 1) for ph, pid in pid_of.items() if len(ph) == 1]
    multis = [
        (ph[0], ph[1], pid, len(ph)) for ph, pid in pid_of.items() if len(ph) >= 2
    ]
    branches = []
    if singles:
        one = local_relation(
            spark,
            singles,
            StructType([qt_plan.schema["tk"], long_f, mlen_f]),
        )
        branches.append(
            positions.join(F.broadcast(one), "tk").select(
                "_pid", "doc_id", F.col("pos").alias("_anchor"), "_m"
            )
        )
    if multis:
        w = Window.partitionBy("doc_id").orderBy("pos")
        adj = positions.select(
            "tk",
            "doc_id",
            "pos",
            F.lead("tk").over(w).alias("_tk2"),
            F.lead("pos").over(w).alias("_pos2"),
        ).filter(F.col("_pos2") == F.col("pos") + 1)
        tk_f = qt_plan.schema["tk"]
        first2 = local_relation(
            spark,
            multis,
            StructType(
                [tk_f, StructField("_tk2", tk_f.dataType, True), long_f, mlen_f]
            ),
        )
        matched = adj.join(F.broadcast(first2), ["tk", "_tk2"]).select(
            "_pid", "doc_id", F.col("pos").alias("_anchor"), "_m"
        )
        max_m = max(m for _, _, _, m in multis)
        # ADVICE r11: the old loop rebuilt matched as
        # done.unionByName(cont) with BOTH branches referencing the
        # previous matched, so the logical plan doubled per offset —
        # exponential in phrase length. Keep ONE single-chain recurrence
        # (each iteration's survivor frame references the previous once)
        # and collect the finished-length branches for one union at the
        # end: total plan size is now quadratic in max phrase length.
        finished = []
        for j in range(3, max_m + 1):
            step = [
                (ph[j - 1], pid)
                for ph, pid in pid_of.items()
                if len(ph) >= j
            ]
            finished.append(matched.filter(F.col("_m") == j - 1))
            matched = (
                matched.filter(F.col("_m") >= j)
                .join(
                    F.broadcast(
                        local_relation(
                            spark, step, StructType([tk_f, long_f])
                        )
                    ),
                    "_pid",
                )
                .withColumn("pos", F.col("_anchor") + F.lit(j - 1))
                .join(positions, ["tk", "doc_id", "pos"], "left_semi")
                .select("_pid", "doc_id", "_anchor", "_m")
            )
        for fin in finished:
            matched = matched.unionByName(fin)
        branches.append(matched)
    if not branches:
        return queries.sparkSession.createDataFrame(
            [],
            StructType(
                [
                    qt_plan.schema["query_id"],
                    StructField("doc_id", LongType(), True),
                    StructField("n_occ", LongType(), False),
                ]
            ),
        )
    hits = branches[0]
    for b in branches[1:]:
        hits = hits.unionByName(b)
    q2p = local_relation(
        spark, q2p_rows, StructType([qt_plan.schema["query_id"], long_f])
    )
    occ = (
        hits.groupBy("_pid", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .join(F.broadcast(q2p), "_pid")
        .filter(F.col("doc_id") != F.col("query_id"))
        .select("query_id", "doc_id", "n_occ")
    )
    if min_count > 1:
        occ = occ.filter(F.col("n_occ") >= min_count)
    return occ


def phrase_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact-phrase top-k over a persisted positional index: docs
    containing the phrase, ranked by occurrence count (desc, doc-id
    tie-break) — Lucene ``PhraseQuery`` semantics with a frequency
    ranking. Columns ``(query_id, neighbor_id, n_occ, rank)``."""
    scored = phrase_matches(spark, path, queries).select(
        "query_id", F.col("doc_id").alias("neighbor_id"),
        F.col("n_occ").cast("long").alias("n_occ"),
    )
    return _two_stage_topk(scored, k, "n_occ")


def phrase_bm25_topk(
    spark,
    seg_path: str,
    pos_path: str,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Phrase-constrained BM25: candidates must contain the query's
    exact phrase (positional index); survivors are ranked by the BM25
    of the query's full term set over the segmented index at
    ``seg_path``.

    ``queries`` carries ``(query_id, phrase array<string>, text string)``
    — the phrase that must match and the text whose term set ranks
    (for a search box these coincide; the fixture ranks by the source
    doc's full text so scores are discriminative).

    The phrase-match pair set is per-query tiny (exact phrases are
    rare), so it enters the BM25 core as its ``(query_id, doc_id)``
    candidate relation and broadcasts INTO the postings scan: the BM25
    aggregate only ever sees rows for docs that already matched the
    phrase — scoring cost scales with match count, not with term
    popularity (join order: ``segments._match``)."""
    from plumberapp_spark.llm.segments import bm25_topk_segmented
    from plumberapp_spark.session import collect_bounded, local_relation

    # the query frame feeds two bounded collects (phrase pairs + term
    # set), each executing its full lineage — for a doc-derived fixture
    # that is two corpus-side tokenize scans. Materialize it once as a
    # local relation under the same 100k contract (round 11).
    queries = local_relation(
        spark, collect_bounded(queries, "phrase_bm25_topk: query side"), queries.schema
    )
    pairs = phrase_matches(spark, pos_path, queries).select("query_id", "doc_id")
    return bm25_topk_segmented(
        spark, seg_path, queries, k, "text", "query_id", candidates=pairs
    )
