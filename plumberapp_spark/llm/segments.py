"""The engine's lexical index: segment-based and INCREMENTAL — append
new documents without touching (or re-reading) what is already indexed,
and serve every lexical query (BM25 and tf-idf, in-corpus query docs
and free text, filtered, after deletes, phrase-constrained) through
one core.

A build-once index that stored FINAL weights (tf-idf, BM25) would bake
the corpus globals ``N`` / ``df(t)`` / ``avgdl`` into every posting, so
absorbing even one document would mean a rebuild: at 100 TB, a 1 %
crawl delta would re-tokenize 100 TB of text. Segments store raw
statistics instead, and serving computes the weights.

The design is the classic segmented (Lucene-style) inverted index,
re-expressed as parquet relations:

* a **segment** is an immutable trio of relations under
  ``{path}/seg_NNNNN/``:

  - ``postings`` — ``(tk, doc_id, _tf, _dl, _b)``: RAW statistics only
    (in-doc term frequency and doc length), partitioned by
    ``_b = crc32(tk) % n_buckets`` (``scoring._bucket``) so a
    query prunes its scan to the buckets its terms hash into;
  - ``termstats`` — ``(tk, _df, _b)``: the segment's per-term document
    frequency, same bucket layout (a query reads df for ITS terms via
    the same pruned pattern);
  - ``scalars`` — one row ``(_nd, _tt, _n_buckets)``: segment doc
    count, segment token count, and the bucket modulus the segment was
    laid out under.

* :func:`append_segment` tokenizes ONLY the new documents and writes
  one new segment directory. Existing segments are never read, never
  rewritten — append cost is proportional to the delta, not the
  corpus.

* :func:`bm25_topk_segmented` serves EXACT BM25 over the union of all
  segments. This works because every corpus-global BM25 needs is
  **additive across segments**: ``N = Σ nd_i``, ``df(t) = Σ df_i(t)``,
  ``avgdl = Σ tt_i / Σ nd_i`` — so the serving path sums the (tiny)
  per-segment scalars, merges df for just the query's terms out of the
  pruned termstats scans, and computes the weight per pruned posting
  row on the fly. The scores are bit-identical to a from-scratch build
  over the union corpus (q104's oracle IS q102's full-corpus oracle).

  tf-idf **cosine** needs one maintenance step: a doc's L2 norm
  ``sqrt(Σ_t (tf·idf_t)²)`` is NOT additive — it shifts with every
  df/N change, and recomputing it needs all of the doc's terms, not
  just the query's. :func:`refresh_tfidf_norms` recomputes the norms
  relation over the current segments (a numeric pass, no
  re-tokenization) and :func:`tfidf_topk_segmented` refuses to serve
  over norms that do not cover the current segment set.

* every serve runs one core: :func:`_query_postings` (one bounded
  collect of the query side, pruned postings scans) → score (one
  :mod:`~plumberapp_spark.llm.scoring` weight expression per ranking
  function, with :func:`_match`'s optional candidate relation and
  self-exclusion) → ``scoring._two_stage_topk``.

* :func:`compact_segments` merges all segments into one — a pure
  numeric pass over the raw postings (union + df re-roll), with NO
  re-tokenization, which is the expensive step at scale. Compaction
  bounds the per-query segment fan-out (each query run opens
  ``|segments| × |query-term buckets|`` pruned reads).

100 TB posture: append = ONE tokenize pass over the delta feeding
one bucket-partitioned postings write (written first, checked for
emptiness after, with a zero-job listing), and the other relations
derived from the written postings by numeric reads; serve = pruned
scans (bucket partition filter + broadcast semi-join on the query
terms, small tombstone sets as a ``NOT IN`` scan filter) + a
query-vocab-sized df merge + one bounded aggregate with N and avgdl
summed on the driver and inlined as literals + a top-k tail that
crosses one exchange. The only corpus-sized relation a query ever
touches is the pruned postings subset of its own terms, and the fixed
per-request cost is the handful of Spark jobs those steps need
(pinned by ``tests/test_index_job_floor.py``).

Segments and tombstones are members of :mod:`~plumberapp_spark.llm.store`
(``seg_*`` and ``tomb_*``, both complete once their ``scalars`` land):
listing, naming, the absorbed ledger, the compaction swap, the
tombstone splice and the streaming sink are the store's; this module
keeps the payload — the segment writer, the merge and the delete.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from plumberapp_spark.llm import store
from plumberapp_spark.llm.scoring import (
    DEFAULT_BUCKETS,
    _bucket,
    _two_stage_topk,
    bm25_weight,
    tfidf_weight,
)

# bumped whenever the on-disk segment layout changes; recorded in the
# ensure-path sidecar so a layout change rebuilds instead of serving an
# incompatible schema.
# 2: completion marker moved from postings to scalars — postings is
# written FIRST (the only relation needing the tokenize pass) and
# termstats/scalars are derived by reading it back, so a segment costs
# ONE tokenize pass instead of three.
# 3: added the slim ``doclens`` relation — (doc_id, _dl), ONE row per
# document INCLUDING token-less ones — which is what makes DELETION
# exact and cheap: a tombstone's scalar deltas (how much N and Σdl
# shrink) come from a two-int-column doc-count-sized scan instead of a
# postings scan, and token-less docs (invisible in postings) still
# decrement N correctly.
SEG_FORMAT = 3

def _write_segment(
    docs: DataFrame,
    seg_path: str,
    text_col: str,
    id_col: str,
    n_buckets: int,
) -> None:
    """One segment from ONE tokenize pass. Postings are written first,
    bucket-partitioned (one file per bucket, so a pruned read opens
    |query buckets| files per segment) through
    :func:`~plumberapp_spark.session.write_partitioned`, which writes
    before it checks for emptiness, so nothing re-runs the Arrow
    tokenize pass ahead of the write. Everything else derives from that
    one materialization, read back under the schema the write used (no
    footer-inference job): termstats count postings rows per (term,
    bucket), aggregated before the bucket exchange so only partial
    counts cross it; doclens joins the delta's ids to the postings'
    lengths; scalars are one aggregate over both written relations,
    ``_nd`` counting every doclens row (token-less docs included) and
    ``_tt`` summing postings' ``_tf``, exact even when a delta repeats
    a doc id. Scalars land last, as the completion marker. Raw
    statistics only — no corpus-global enters a segment, which is what
    keeps old segments immutable under append."""
    from plumberapp_spark.llm.dedup import term_frequencies
    from plumberapp_spark.session import write_partitioned

    spark = docs.sparkSession
    tf = term_frequencies(docs, text_col, id_col, with_doc_len=True)
    postings = tf.withColumn("_b", _bucket("tk", n_buckets).cast("int")).select(
        "tk", F.col(id_col).alias("doc_id"), "_tf", "_dl", "_b"
    )
    write_partitioned(postings.repartition("_b"), f"{seg_path}/postings", "_b")
    postings = spark.read.schema(postings.schema).parquet(f"{seg_path}/postings")
    # aggregate first (partial counts cross the shuffle, about one row
    # per term), then one file per bucket
    write_partitioned(
        postings.groupBy("tk", "_b").agg(F.count("*").alias("_df")).repartition("_b"),
        f"{seg_path}/termstats",
        "_b",
    )
    # doclens: (doc_id, _dl) for EVERY doc of the segment — token-less
    # docs carry _dl=0 (they have no postings rows but still weight N
    # and avgdl, and a later delete must be able to see them). This is
    # the relation the deletion tier charges its scalar deltas against.
    doclens = (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(
            postings.groupBy("doc_id").agg(F.first("_dl").alias("_dl")),
            "doc_id",
            "left",
        )
        .select("doc_id", F.coalesce(F.col("_dl"), F.lit(0)).alias("_dl"))
    )
    doclens.write.mode("overwrite").parquet(f"{seg_path}/doclens")
    # one aggregate over both written relations: _nd counts doclens
    # rows, _tt sums postings' _tf
    doclens = spark.read.schema(doclens.schema).parquet(f"{seg_path}/doclens")
    (
        postings.select("_tf", F.lit(None).cast("int").alias("_n"))
        .unionByName(
            doclens.select(F.lit(None).cast("bigint").alias("_tf"), F.lit(1).alias("_n"))
        )
        .groupBy()
        .agg(
            F.count("_n").alias("_nd"),
            F.coalesce(F.sum("_tf"), F.lit(0)).alias("_tt"),
        )
        .select("_nd", "_tt", F.lit(int(n_buckets)).alias("_n_buckets"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{seg_path}/scalars")
    )


def _seg_buckets(spark, seg_path: str) -> int:
    """The segment's recorded bucket modulus. One-row relation: the
    driver-side pyarrow fast path (the ``stats_bounds`` precedent)
    reads it with ZERO Spark jobs; non-local paths fall back to the
    Spark read (cached thereafter)."""
    from plumberapp_spark.session import local_parquet_rows, read_parquet_cached

    rows = local_parquet_rows(f"{seg_path}/scalars")
    if rows:
        return int(rows[0]["_n_buckets"])
    return int(
        read_parquet_cached(spark, f"{seg_path}/scalars")
        .select("_n_buckets")
        .first()[0]
    )


# ---- deletion (tombstone segments) --------------------------------------
#
# A takedown/retraction on a 100 TB corpus must not force the full
# rebuild the segment tier exists to avoid. The inverse of
# append_segment is an immutable TOMBSTONE: ``tomb_NNNNN/`` holding
#   - ``ids``     — the doc_ids actually removed (⊆ live index docs,
#                   pairwise disjoint across tombstones by construction);
#   - ``scalars`` — one row (_nd, _tt): how many docs and how much Σdl
#                   this tombstone subtracts from the additive globals
#                   (written LAST — the completion marker, exactly like
#                   a segment's scalars).
# Serving anti-joins the (broadcast) tombstone ids inside the pruned
# postings scan, corrects df(t) for the query's terms by COUNTING the
# removed rows already in that pruned scan (each (doc, term) appears
# once in postings, so removed-row count IS the df delta), and subtracts
# the signed scalars — algebraically identical to an index built on
# corpus-minus-deleted. Compaction drops tombstoned rows physically.
# Reference analog: cache REMOVAL is a first-class plan rewrite in the
# reference (plumber_analysis/src/plumber_analysis/graphdef_util.py
# splices CacheDataset out of a graph); this is the same inverse
# operation applied to the index tier.


def _require_doclens(segs: list[str]) -> None:
    """Fail with GUIDANCE when a segment predates the ``doclens``
    relation (layout format ≤ 2) instead of a raw parquet
    path-not-found deep inside a delete/compaction plan (ADVICE r10).
    A backfill from postings would be silently WRONG: token-less
    documents carry no postings rows, so a derived doclens would miss
    them — a later delete of such a doc would no-op and leave ``N``
    permanently overcounted. The only exact repair is a rebuild, which
    every ``ensure_*`` fixture already performs via the format sidecar;
    hand-built indexes rebuild via build_segmented_index/append_segment."""
    missing = [
        s
        for s in segs
        if not os.path.exists(os.path.join(s, "doclens", "_SUCCESS"))
    ]
    if missing:
        raise ValueError(
            f"segment(s) {[os.path.basename(s) for s in missing]} carry no "
            f"doclens relation (written under layout format <= 2; current "
            f"format {SEG_FORMAT}) — deletes and compaction need the exact "
            "per-document lengths, which postings cannot reconstruct for "
            "token-less documents. Rebuild the index (the ensure_* fixtures "
            "do this automatically via their format sidecar)."
        )


def delete_docs(spark, path: str, ids: DataFrame, id_col: str = "doc_id") -> str:
    """Remove documents from the index WITHOUT touching any segment:
    write one immutable tombstone. Cost is one scan of the slim doclens
    relations (two int columns, one row per doc) — never the postings,
    never a re-tokenize. Ids that are absent from the index or already
    deleted are dropped here (the semi-join against live doclens),
    which keeps tombstones pairwise disjoint — so the signed scalar
    deltas stay exact under replayed or overlapping delete requests.
    Duplicate requested ids need no distinct: a semi-join emits each
    live row at most once. The matched rows are materialized once and
    both relations derive from them; the cache belongs to this call
    and is released before it returns. The two cannot disagree even if
    a cached block is lost: ``ids`` is evaluated once, as the broadcast
    build side collected on the driver, and a recompute re-reads the
    immutable doclens files against that same broadcast."""
    segs = store.members(path, "seg", "scalars")
    if not segs:
        raise ValueError(f"no segments under {path!r} — nothing to delete from")
    _require_doclens(segs)
    tombs = store.tombstones(path, "scalars")
    tomb, _ = store.member_dir(path, "tomb", "scalars", tombs)
    doclens = _union_pruned(spark, segs, "doclens", [])
    doclens = store.minus_tombstones(spark, tombs, doclens)
    req = ids.select(F.col(id_col).alias("doc_id"))
    matched = doclens.join(F.broadcast(req), "doc_id", "left_semi").persist()
    try:
        matched.select("doc_id").coalesce(1).write.mode("overwrite").parquet(
            f"{tomb}/ids"
        )
        # scalars last — the completion marker
        (
            matched.groupBy()
            .agg(
                F.count("*").alias("_nd"),
                F.coalesce(F.sum("_dl"), F.lit(0)).alias("_tt"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{tomb}/scalars")
        )
    finally:
        matched.unpersist()
    return tomb


def _apply_tombstones(
    spark, path: str, postings: DataFrame, dfreq: DataFrame
) -> tuple[DataFrame, DataFrame, list[str]]:
    """Splice deletions into a serving plan: drop the tombstoned ids
    from the pruned postings (``store.minus_tombstones``), and REPLACE
    the termstats-derived df with a count over the live postings — each
    (doc, term) posting row is one df unit, so ``count(live rows per
    tk)`` IS ``Σ termstats − removed`` exactly (the postings are their
    own df relation). That costs one
    aggregate over rows the scoring scan touches anyway and saves both
    the termstats scans and a correction join; with no tombstones the
    cheaper summed-termstats ``dfreq`` passes through untouched.
    Returns (live postings, effective dfreq, tombs)."""
    tombs = store.tombstones(path, "scalars")
    if not tombs:
        return postings, dfreq, tombs
    live = store.minus_tombstones(spark, tombs, postings)
    return live, live.groupBy("tk").agg(F.count("*").alias("_df")), tombs


def build_segmented_index(
    corpus: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
) -> str:
    """Initial segment (``seg_00000``) from the starting corpus.
    Everything after this arrives via :func:`append_segment`."""
    seg = os.path.join(path, "seg_00000")
    _write_segment(corpus, seg, text_col, id_col, n_buckets)
    return seg


def append_segment(
    new_docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    name: str | None = None,
    skip_if_complete: bool = False,
) -> str:
    """Absorb new documents WITHOUT reading or rewriting any existing
    segment: tokenize only ``new_docs``, write one new segment. The
    bucket modulus is read back from the index's own first segment
    (never from the constant) — all segments of one index MUST share a
    layout or serve-time pruning would silently drop rows (the
    ADVICE-r8 lexical hardening, applied here from day one).

    ``name`` pins the segment directory (callers with a natural
    idempotency key — a streaming epoch id — pass it so a replayed
    write lands on the same path); with ``skip_if_complete`` a replay
    of an already-complete segment is a no-op, which is what turns
    foreachBatch's at-least-once delivery into exactly-once index
    contents."""
    segs = store.members(path, "seg", "scalars")
    seg, done = store.member_dir(path, "seg", "scalars", segs, name, skip_if_complete)
    if done:
        return seg
    # the first segment of an empty index takes the default layout (and,
    # when named, keeps the caller's name: a replay must land on the SAME
    # directory or epoch 0 would double-ingest under two names)
    spark = new_docs.sparkSession
    n_buckets = _seg_buckets(spark, segs[0]) if segs else DEFAULT_BUCKETS
    _write_segment(new_docs, seg, text_col, id_col, n_buckets)
    return seg


def _union_pruned(spark, segs: list[str], rel: str, buckets: list[int]) -> DataFrame:
    """Union of one relation across segments, each scan pruned to the
    query terms' buckets (an IN filter on the int partition column —
    partition pruning, not a runtime row filter). Segment relations are
    immutable, so each read is footer-cached per (session, path, mtime)
    — the round-11 profiler measured repeated ``read.parquet``
    resolutions as the bulk of the 10-14 driver-side jobs a serve paid
    before any task ran (guide §1/§7.3: driver-side planning work)."""
    from plumberapp_spark.session import read_parquet_cached

    frames = []
    for seg in segs:
        df = read_parquet_cached(spark, f"{seg}/{rel}")
        if buckets:
            df = df.filter(F.col("_b").isin(buckets))
        frames.append(df)
    out = frames[0]
    for df in frames[1:]:
        out = out.unionByName(df)
    return out


def _local_scalars(segs: list[str], tombs: list[str] = ()):
    """``(N, avgdl)`` of the union corpus summed on the driver, or None
    when any scalars relation is not locally readable. BM25's N and
    avgdl are ADDITIVE over segments — summing the per-segment one-row
    scalars relations reconstructs them exactly, which is the algebraic
    fact the whole module stands on. Tombstones are the same fact WITH
    SIGN: each contributes its (_nd, _tt) negatively, so the sum is
    exactly the globals of corpus-minus-deleted. The sums are exact
    integer adds, and the float division ``Σtt / Σnd`` is the same IEEE
    double Spark's long/long division produces."""
    from plumberapp_spark.session import local_parquet_rows

    acc_nd, acc_tt = 0, 0
    for rel, sign in [(s, 1) for s in segs] + [(t, -1) for t in tombs]:
        rows = local_parquet_rows(f"{rel}/scalars")
        if not rows:
            return None
        acc_nd += sign * int(rows[0]["_nd"])
        acc_tt += sign * int(rows[0]["_tt"])
    return acc_nd, (acc_tt / acc_nd) if acc_nd else None


def _global_scalars(spark, segs: list[str], tombs: list[str] = ()) -> DataFrame:
    """One-row union-corpus globals ``(_nd, _avgdl)``: the distributed
    sum over :func:`_signed_scalars`, which :func:`_with_globals` joins
    in when any scalars path isn't locally readable."""
    return _signed_scalars(spark, segs, tombs).groupBy().agg(
        F.sum("_nd").alias("_nd"),
        (F.sum("_tt") / F.sum("_nd")).alias("_avgdl"),
    )


def _with_globals(
    spark, df: DataFrame, segs: list[str], tombs: list[str], cols=("_nd", "_avgdl")
) -> DataFrame:
    """``df`` plus the union-corpus globals ``cols`` as columns. When
    the driver-side sums succeed they enter the plan as typed literals,
    which the optimizer folds into the scoring expression — no one-row
    relation, no broadcast nested-loop join, no job. Otherwise the
    distributed :func:`_global_scalars` is cross-joined in as a
    broadcast. Either way the scoring expression reads the same
    ``_nd``/``_avgdl`` values."""
    local = _local_scalars(segs, tombs)
    if local is None:
        return df.crossJoin(
            F.broadcast(_global_scalars(spark, segs, tombs).select(*cols))
        )
    nd, avgdl = local
    lits = {"_nd": F.lit(nd).cast("bigint"), "_avgdl": F.lit(avgdl).cast("double")}
    return df.withColumns({c: lits[c] for c in cols})


def _signed_scalars(spark, segs: list[str], tombs: list[str]) -> DataFrame:
    """Per-segment scalars unioned with each tombstone's NEGATED ones —
    the signed additive series both the serving globals and compaction
    fold (exact integer arithmetic; never reconstructed from avgdl)."""
    sc = _union_pruned(spark, segs, "scalars", []).select("_nd", "_tt")
    for t in tombs:
        sc = sc.unionByName(
            spark.read.parquet(f"{t}/scalars").select(
                (-F.col("_nd")).alias("_nd"), (-F.col("_tt")).alias("_tt")
            )
        )
    return sc


def _query_terms(spark, q_rows, n_buckets: int) -> tuple[DataFrame, list[int]]:
    """The distinct query terms of already-collected (query, term) rows
    as a local one-column relation, plus the buckets they hash into
    under the index's RECORDED modulus (zlib.crc32 == Spark's crc32,
    both CRC-32/zlib over the utf-8 bytes). Deduplicated on the driver,
    so no plan spends an exchange on a distinct over a LocalTableScan."""
    import zlib

    from plumberapp_spark.session import local_relation

    tks = sorted({r["tk"] for r in q_rows})
    buckets = sorted({zlib.crc32(tk.encode("utf-8")) % n_buckets for tk in tks})
    return local_relation(spark, [(tk,) for tk in tks], "tk string"), buckets


def _query_postings(
    spark, path: str, queries: DataFrame, text_col: str, id_col: str, qtf: bool
):
    """The serving core's read side, shared by both ranking functions:
    ``(segs, qterms, terms, buckets, postings)``.

    ONE bounded collect of the query side: the (query, term) pairs —
    with their in-query counts ``_qtf`` when ``qtf`` — under the same
    small-side contract as the ANN query-matrix collects. Everything
    query-sided then serves from LOCAL relations: ``qterms`` (the
    collected rows) and ``terms`` (the distinct terms, with the
    pruning ``buckets`` computed driver-side by :func:`_query_terms`),
    so every broadcast join ships a LocalTableScan instead of
    re-executing tokenize + distinct per branch. ``postings`` is the
    union of every segment's postings, each scan pruned to the query
    terms' buckets and semi-joined on the terms themselves. Query docs
    drawn from the corpus and free-text strings enter the same way:
    ``text_col`` is tokenized with the engine's one tokenizer."""
    from plumberapp_spark.functions.text import tokenize
    from plumberapp_spark.session import collect_bounded, local_relation

    segs = store.members(path, "seg", "scalars")
    if not segs:
        raise ValueError(f"no segments under {path!r} — build or append first")
    pairs = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(tokenize(F.col(text_col))).alias("tk"),
    )
    plan = (
        pairs.groupBy("query_id", "tk").agg(F.count("*").alias("_qtf"))
        if qtf
        else pairs.distinct()
    )
    q_rows = collect_bounded(plan, "query term set ((query, term) pairs)")
    terms, buckets = _query_terms(spark, q_rows, _seg_buckets(spark, segs[0]))
    postings = _union_pruned(spark, segs, "postings", buckets).join(
        F.broadcast(terms), "tk", "left_semi"
    )
    return segs, local_relation(spark, q_rows, plan.schema), terms, buckets, postings


def _summed_df(spark, segs: list[str], buckets: list[int], terms=None) -> DataFrame:
    """``(tk, _df)`` of the union corpus before deletes: per-segment
    termstats summed (df is additive over segments), pruned to
    ``buckets`` and semi-joined on ``terms`` when given."""
    ts = _union_pruned(spark, segs, "termstats", buckets)
    if terms is not None:
        ts = ts.join(F.broadcast(terms), "tk", "left_semi")
    return ts.groupBy("tk").agg(F.sum("_df").alias("_df"))


def _match(postings: DataFrame, query_side: DataFrame, candidates) -> DataFrame:
    """Pair every posting with the queries that ask for its term: the
    join with ``query_side`` (keyed ``(query_id, tk)``), restricted to
    ``candidates`` and with each query's own doc excluded.

    ``candidates`` is an optional relation of servable docs, semi-joined
    on whichever of ``(query_id, doc_id)`` it carries:

    * ``doc_id`` only — FILTERED retrieval (lang, source, date range):
      the allowed docs of every query, semi-joined against the pruned
      postings before any query fan-out, without a forced broadcast, so
      AQE picks broadcast for small filters and a shuffled semi-join for
      wide ones;
    * ``(query_id, doc_id)`` — per-query candidates such as phrase
      matches, assumed distinct on those keys. Join ORDER matters here:
      probing the small pair set FIRST (on doc_id) keeps the pipelined
      intermediate at |postings of matched docs × matching queries|;
      probing the query terms first would fan every common-term posting
      row out to every query sharing that term before the pairs could
      cut it. The pairs are distinct, so the inner join duplicates
      nothing, and the (query_id, tk) join then applies the same
      t ∈ terms(q) predicate.

    Either way a filter restricts CANDIDATES only: callers compute df
    over the whole live corpus before this step (Lucene/ES filtered-
    query semantics). Self-exclusion is the family's one rule,
    ``neighbor_id != query_id``: free-text query ids live in their own
    id space (the registered fixtures use 9000001+), so it only ever
    drops an in-corpus query doc's match with itself."""
    if candidates is not None and "query_id" in candidates.columns:
        matched = postings.join(
            F.broadcast(candidates.select("query_id", "doc_id")), "doc_id"
        ).join(F.broadcast(query_side), ["query_id", "tk"])
    else:
        if candidates is not None:
            postings = postings.join(
                candidates.select("doc_id").distinct(), "doc_id", "left_semi"
            )
        matched = postings.join(F.broadcast(query_side), "tk")
    return matched.filter(F.col("doc_id") != F.col("query_id"))


def bm25_topk_segmented(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    text_col: str = "q_text",
    id_col: str = "query_id",
    k1: float = 1.2,
    b: float = 0.75,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact BM25 top-k over ALL segments — score-identical to a
    from-scratch index over the union corpus and to ``dedup.bm25_topk``
    on it (one :func:`~plumberapp_spark.llm.scoring.bm25_weight`,
    6-decimal rounding before rank, neighbor-id tie-break). The query is
    the distinct term SET of ``text_col``: a free-text string, or the
    text of query docs drawn from the corpus (q95 passes its query
    docs' ``text``/``doc_id`` and shares q83's oracle).

    Per query run: :func:`_query_postings`' pruned scans, tombstoned ids
    dropped by ``store.minus_tombstones`` inside them, a
    query-vocab-sized df merge, :func:`_match`'s candidate restriction
    and self-exclusion, the per-row weight with N and avgdl inlined as
    literals (:func:`_with_globals`), one bounded aggregate, and the
    family's shared top-k tail. Nothing corpus-sized is recomputed.
    ``candidates``: see :func:`_match` (q120 passes a doc filter, q130
    its phrase-match pairs)."""
    segs, qterms, terms, buckets, postings = _query_postings(
        spark, path, queries, text_col, id_col, qtf=False
    )
    tombs = store.tombstones(path, "scalars")
    if tombs:
        # BM25 needs df only per posting row, so on a tombstoned index
        # it rides a window COUNT over the single live pruned scan — a
        # separate df relation would re-execute that scan (the termstats
        # shortcut is invalid once deletes shift df). One Zipf-hot query
        # term makes one fat window partition; that beats doubling the
        # scan (measured at zipf100: 6.7 s → 4.9 s).
        from pyspark.sql import Window

        postings = store.minus_tombstones(spark, tombs, postings).withColumn(
            "_df", F.count("*").over(Window.partitionBy("tk"))
        )
    weighted = _match(postings, qterms, candidates)
    if not tombs:
        weighted = weighted.join(F.broadcast(_summed_df(spark, segs, buckets, terms)), "tk")
    w = bm25_weight(
        F.col("_tf"), F.col("_df"), F.col("_dl"), F.col("_nd"), F.col("_avgdl"), k1, b
    )
    scored = (
        _with_globals(spark, weighted, segs, tombs)
        .select("query_id", "doc_id", w.alias("_w"))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("_w"), 6).alias("bm25"))
        .select("query_id", F.col("doc_id").alias("neighbor_id"), "bm25")
    )
    return _two_stage_topk(scored, k, "bm25")


def refresh_tfidf_norms(spark, path: str) -> str:
    """The maintenance job that buys tf-idf COSINE serving over the
    segmented index. A doc's L2 norm sqrt(Σ_t (tf·ln(N/df_t))²) is the
    ONE quantity an append invalidates corpus-wide (df/N shift for
    every doc), so it cannot live inside immutable segments; this job
    recomputes the norms relation over the CURRENT segment set — a
    numeric pass (postings ⋈ global df on the token, one doc-keyed
    aggregate), crucially with NO re-tokenization — and records which
    segments it covered. Serving raises if the segment set has moved
    since the last refresh (fail-fast with guidance, never a silently
    stale cosine). BM25 needs none of this — its globals are additive —
    which is exactly why BM25 is the zero-maintenance scoring function
    and tf-idf costs one numeric pass per delta batch."""
    import json

    segs = store.members(path, "seg", "scalars")
    if not segs:
        raise ValueError(f"no segments under {path!r} — nothing to refresh")
    # deletions shift every df and N too — the refresh applies them the
    # same way serving does (anti-join + counted corrections), so the
    # norms it writes are those of corpus-minus-deleted
    postings, dfreq, tombs = _apply_tombstones(
        spark, path, _union_pruned(spark, segs, "postings", []), _summed_df(spark, segs, [])
    )
    (
        _with_globals(spark, postings.join(dfreq, "tk"), segs, tombs, ("_nd",))
        .select(
            "doc_id",
            tfidf_weight(F.col("_tf"), F.col("_df"), F.col("_nd")).alias("_w"),
        )
        .groupBy("doc_id")
        .agg(F.sqrt(F.sum(F.col("_w") * F.col("_w"))).alias("nrm"))
        .write.mode("overwrite")
        .parquet(f"{path}/norms")
    )
    cover = {
        "segs": [os.path.basename(s) for s in segs],
        "tombs": [os.path.basename(t) for t in tombs],
    }
    with open(os.path.join(path, "norms_cover.json"), "w") as fh:
        json.dump(cover, fh)
    return f"{path}/norms"


def ensure_tfidf_norms(spark, path: str) -> None:
    """Refresh the norms relation iff it does not cover the current
    segment set (idempotent — the fixture-side convenience around
    :func:`refresh_tfidf_norms`)."""
    segs = store.members(path, "seg", "scalars")
    try:
        _covered_norms(spark, path, segs)
    except ValueError:
        refresh_tfidf_norms(spark, path)


def _covered_norms(spark, path: str, segs: list[str]) -> DataFrame:
    """The norms relation, IF it covers exactly the current segment
    set; raises with guidance otherwise — a cosine over stale norms is
    wrong silently, the one failure mode this module refuses."""
    import json

    try:
        with open(os.path.join(path, "norms_cover.json")) as fh:
            cover = json.load(fh)
    except OSError:
        cover = None
    if isinstance(cover, list):  # pre-deletion cover format (format ≤2)
        cover = {"segs": cover, "tombs": []}
    current = {
        "segs": [os.path.basename(s) for s in segs],
        "tombs": [os.path.basename(t) for t in store.tombstones(path, "scalars")],
    }
    if cover != current:
        raise ValueError(
            f"tf-idf norms under {path!r} cover {cover!r} but the index now "
            f"holds {current!r} — run refresh_tfidf_norms(path) after "
            "appends or deletes (BM25 serving needs no refresh)"
        )
    from plumberapp_spark.session import read_parquet_cached

    return read_parquet_cached(spark, f"{path}/norms")


def tfidf_topk_segmented(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    text_col: str = "q_text",
    id_col: str = "query_id",
) -> DataFrame:
    """tf-idf cosine top-k over the segmented index — output-identical
    to ``dedup.tfidf_topk`` on the union corpus for query docs drawn
    from it (q94 shares q80's oracle) and to the full-corpus free-text
    derivation for novel strings (q111 shares q101's oracle). The query
    vector is ``qtf(t) · ln(N/df(t))`` over the terms the corpus knows:
    OOV terms have no df, so they drop from the dot AND the query norm
    (for an in-corpus query doc that norm is the doc's own). Doc-side
    weights compute at serve time from the pruned scans (every SCORED
    posting carries a query term, so its df is already in the pruned df
    relation); the only extra relation is the refreshed norms, joined
    against the bounded scored frame (one slim doc-keyed scan per run).
    Self-exclusion: see :func:`_match`."""
    segs, qtf, terms, buckets, postings = _query_postings(
        spark, path, queries, text_col, id_col, qtf=True
    )
    norms = _covered_norms(spark, path, segs)
    postings, dfreq, tombs = _apply_tombstones(
        spark, path, postings, _summed_df(spark, segs, buckets, terms)
    )
    nd = F.col("_nd")
    qw = _with_globals(spark, qtf.join(dfreq, "tk"), segs, tombs, ("_nd",)).select(
        "query_id", "tk", tfidf_weight(F.col("_qtf"), F.col("_df"), nd).alias("_qw")
    )
    qn = qw.groupBy("query_id").agg(
        F.sqrt(F.sum(F.col("_qw") * F.col("_qw"))).alias("_qn")
    )
    weighted = _with_globals(
        spark, postings.join(F.broadcast(dfreq), "tk"), segs, tombs, ("_nd",)
    ).select("tk", "doc_id", tfidf_weight(F.col("_tf"), F.col("_df"), nd).alias("_w"))
    scored = (
        _match(weighted, qw.join(qn, "query_id"), None)
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum(F.col("_w") * F.col("_qw")).alias("_dot"),
            F.first("_qn").alias("_qn2"),
        )
    )
    out = (
        norms.join(F.broadcast(scored), "doc_id")
        .select(
            "query_id",
            F.col("doc_id").alias("neighbor_id"),
            F.round(F.col("_dot") / (F.col("nrm") * F.col("_qn2")), 6).alias(
                "cos_sim"
            ),
        )
    )
    return _two_stage_topk(out, k, "cos_sim")


def compact_segments(spark, path: str, out_path: str) -> str:
    """Merge every segment into ONE — a pure numeric pass over the raw
    relations (postings union is already disjoint by doc, termstats
    re-rolls df by token, scalars sum) with NO re-tokenization, the
    step that dominates build cost at scale. Tombstoned documents are
    dropped PHYSICALLY here: live postings/doclens are the anti-joined
    unions, termstats re-counts from the surviving postings, and the
    scalars fold the signed tombstone deltas — so the compacted index
    carries no tombstones at all and serving it needs no corrections.
    Writes a fresh single-segment index at ``out_path`` and leaves the
    source index untouched (compaction runs beside serving; swap is the
    caller's atomic-rename problem — see :func:`maybe_compact`).
    Serving the compacted index returns bit-identical scores to serving
    the segments — q105 pins this with the same full-corpus oracle as
    q104, and the delete family pins the tombstone case."""
    segs = store.members(path, "seg", "scalars")
    if not segs:
        raise ValueError(f"no segments under {path!r} — nothing to compact")
    from plumberapp_spark.session import write_partitioned

    _require_doclens(segs)
    n_buckets = _seg_buckets(spark, segs[0])
    tombs = store.tombstones(path, "scalars")
    seg = os.path.join(out_path, "seg_00000")
    postings = _union_pruned(spark, segs, "postings", [])
    postings = store.minus_tombstones(spark, tombs, postings)
    write_partitioned(postings.repartition("_b"), f"{seg}/postings", "_b")
    if tombs:
        # deletes shift df — recount from the SURVIVING postings (read
        # back, so the counts come from exactly what was written)
        termstats = (
            spark.read.schema(postings.schema)
            .parquet(f"{seg}/postings")
            .groupBy("tk", "_b")
            .agg(F.count("*").alias("_df"))
        )
    else:
        termstats = (
            _union_pruned(spark, segs, "termstats", [])
            .groupBy("tk", "_b")
            .agg(F.sum("_df").alias("_df"))
        )
    write_partitioned(termstats.repartition("_b"), f"{seg}/termstats", "_b")
    doclens = _union_pruned(spark, segs, "doclens", [])
    doclens = store.minus_tombstones(spark, tombs, doclens)
    doclens.write.mode("overwrite").parquet(f"{seg}/doclens")
    # scalars last — the completion marker
    (
        _signed_scalars(spark, segs, tombs)
        .groupBy()
        .agg(F.sum("_nd").alias("_nd"), F.sum("_tt").alias("_tt"))
        .select("_nd", "_tt", F.lit(int(n_buckets)).alias("_n_buckets"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{seg}/scalars")
    )
    # the exactly-once ledger an epoch-keyed replay checks after a swap
    store.write_absorbed(path, out_path, segs)
    return seg


def streaming_segment_ingest(
    stream_docs: DataFrame,
    path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = True,
    max_segments: int | None = None,
):
    """Live index maintenance: each non-empty micro-batch of the
    document stream becomes ONE immutable segment, named by its epoch
    id — so a foreachBatch replay after failure rewrites the SAME
    segment directory (and skips it outright once complete), turning
    the sink's at-least-once delivery into exactly-once index contents.
    Serving (:func:`bm25_topk_segmented`) sees each segment the instant
    its scalars marker lands; readers never block on the writer.

    This is the streaming face of :func:`append_segment`, exactly as
    ``streaming_exact_dedup`` is the streaming face of the batch dedup
    family — same engine, same relations, provably the same results
    (q106 shares the full-corpus q102 oracle).

    ``max_segments`` (round 10) wires the compaction policy INTO the
    sink: after each append, :func:`maybe_compact` runs under the
    given bound, so the per-query segment fan-out stays bounded under
    indefinite ingest with no external orchestration. Exactly-once
    survives the swap because compaction records the epoch segments it
    folded in (the store's absorbed ledger) and a replayed epoch treats
    an absorbed segment as complete. Left None, compaction cadence stays
    the caller's knob (micro-batch-per-segment = flattest ingest
    latency)."""

    def _append(batch_df: DataFrame, **kw) -> None:
        append_segment(batch_df, path, text_col, id_col, **kw)
        if max_segments is not None:
            maybe_compact(batch_df.sparkSession, path, max_segments)

    writer = (
        stream_docs.writeStream.foreachBatch(store.epoch_sink("seg_s", _append))
        .option("checkpointLocation", checkpoint)
        .queryName("segment_ingest")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def ensure_segmented_index(
    spark,
    sf_dir: str,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """Build-once fixture contract for the registered queries: the
    segmented index lives under the session warehouse as
    ``seglex_{table}_{sfdir}``, built as an 80/20 split — seg_00000
    from ``doc_id % 5 != 0``, then the remaining fifth APPENDED as
    seg_00001 — so serving exercises real multi-segment merge while the
    union is exactly the full table (q102's oracle applies verbatim).
    Rebuilt when the marker is missing, the recorded source mtime
    differs, or the recorded layout format differs (the
    ``session.ensure_fixture`` sidecar contract). Every registered
    lexical query on the full table serves this fixture."""
    from plumberapp_spark.session import ensure_fixture, fixture_path, load_table

    path = fixture_path(spark, sf_dir, "seglex", table)

    def build():
        docs = load_table(spark, sf_dir, table)
        build_segmented_index(
            docs.filter(F.col(id_col) % 5 != 0), path, text_col, id_col
        )
        append_segment(docs.filter(F.col(id_col) % 5 == 0), path, text_col, id_col)

    return ensure_fixture(
        path,
        sf_dir,
        table,
        build,
        fields=lambda: (SEG_FORMAT, len(store.members(path, "seg", "scalars"))),
        complete=lambda: len(store.members(path, "seg", "scalars")) >= 2,
    )


def maybe_compact(
    spark,
    path: str,
    max_segments: int = 16,
    swap=None,
) -> str | None:
    """Size-bounded maintenance policy: when the index has accumulated
    more than ``max_segments`` complete segments, compact them into a
    sibling ``<path>.compact`` index and swap it in. Returns the
    retired path when a compaction ran, None otherwise. Keeps the
    per-query fan-out (|segments| × |query buckets| pruned reads)
    bounded no matter how many micro-batch appends arrive; tombstoned
    docs are dropped physically in the process (compact_segments). The
    swap, its ``swap=`` hook for object stores and its crash recovery
    are :func:`~plumberapp_spark.llm.store.compact_and_swap`'s."""
    if len(store.members(path, "seg", "scalars")) <= max_segments:
        return None
    return store.compact_and_swap(
        path, lambda out_path: compact_segments(spark, path, out_path), swap
    )


def ensure_streamed_index(
    spark,
    sf_dir: str,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """Streaming-built fixture for the registered query: ingest the
    table through a real ``readStream`` file source + foreachBatch
    segment sink (availableNow — drain everything, then stop), under
    the same sidecar staleness contract as the batch ensure paths. The
    checkpoint lives inside the index dir and is wiped with it: a
    rebuild must re-deliver every file, not trust the dead index's
    progress log."""
    from plumberapp_spark.session import ensure_fixture, ensure_read_confs, fixture_path

    path = fixture_path(spark, sf_dir, "seglexst", table)

    def build():
        ensure_read_confs(spark)
        schema = spark.read.parquet(f"{sf_dir}/{table}.parquet").schema
        # FileStreamSource needs a directory base; the glob scopes it to
        # the table's file(s) (the q52 pattern)
        stream = (
            spark.readStream.schema(schema)
            .format("parquet")
            .load(f"{sf_dir}/{table}.*")
        )
        q = streaming_segment_ingest(
            stream, path, os.path.join(path, "_checkpoint"), text_col, id_col
        )
        q.awaitTermination()

    return ensure_fixture(
        path,
        sf_dir,
        table,
        build,
        fields=(SEG_FORMAT,),
        complete=lambda: bool(store.members(path, "seg", "scalars")),
    )


def ensure_deleted_segmented_index(
    spark,
    sf_dir: str,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """Fixture for the DELETION queries: the q104 shape (80 % build +
    20 % append, union = the full table) followed by a takedown batch —
    ``delete_docs`` of every ``doc_id % 7 == 3`` — as one tombstone.
    The deleted set cuts across BOTH segments, so serving exercises the
    anti-join, the counted df corrections, and the signed scalars on a
    real multi-segment index; the oracle is the full derivation over
    ``documents WHERE doc_id % 7 != 3``."""
    from plumberapp_spark.session import ensure_fixture, fixture_path, load_table

    path = fixture_path(spark, sf_dir, "seglexdel", table)

    def build():
        docs = load_table(spark, sf_dir, table)
        build_segmented_index(
            docs.filter(F.col(id_col) % 5 != 0), path, text_col, id_col
        )
        append_segment(docs.filter(F.col(id_col) % 5 == 0), path, text_col, id_col)
        delete_docs(
            spark, path, docs.filter(F.col(id_col) % 7 == 3).select(id_col), id_col
        )

    return ensure_fixture(
        path,
        sf_dir,
        table,
        build,
        fields=(SEG_FORMAT,),
        complete=lambda: len(store.members(path, "seg", "scalars")) >= 2
        and bool(store.tombstones(path, "scalars")),
    )


def ensure_deleted_compacted_index(
    spark, sf_dir: str, table: str = "documents"
) -> str:
    """Compacted twin of :func:`ensure_deleted_segmented_index` — the
    tombstoned docs are dropped PHYSICALLY, so the compacted index
    serves corpus-minus-deleted with zero correction terms (and the
    registered query's hash proves the physical drop is exact)."""
    from plumberapp_spark.session import ensure_fixture, fixture_path

    src = ensure_deleted_segmented_index(spark, sf_dir, table)
    path = fixture_path(spark, sf_dir, "seglexdelc", table)
    return ensure_fixture(
        path,
        sf_dir,
        table,
        lambda: compact_segments(spark, src, path),
        fields=(SEG_FORMAT,),
        complete=lambda: bool(store.members(path, "seg", "scalars")),
    )


def ensure_compacted_index(spark, sf_dir: str, table: str = "documents") -> str:
    """Compacted twin of :func:`ensure_segmented_index`'s fixture:
    compacts the segmented index into ``seglexc_{table}_{sfdir}``,
    keyed on the same source mtime + format so a source change flows
    through both tiers."""
    from plumberapp_spark.session import ensure_fixture, fixture_path

    src = ensure_segmented_index(spark, sf_dir, table)
    path = fixture_path(spark, sf_dir, "seglexc", table)
    return ensure_fixture(
        path,
        sf_dir,
        table,
        lambda: compact_segments(spark, src, path),
        fields=(SEG_FORMAT,),
        complete=lambda: bool(store.members(path, "seg", "scalars")),
    )
