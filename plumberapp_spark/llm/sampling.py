"""Deterministic sampling operators for training-data curation.

Stratified sampling ("k docs per language / source / quality band") is
the standard way a 100 TB corpus gets squeezed into a balanced training
mix. The sample here is a pure function of the data — rows are ranked
inside each stratum by a cross-engine content hash (md5), so the same
corpus yields the same sample on any cluster, any partitioning, any
engine (the DuckDB oracle reproduces it row-for-row).

Scale posture: the per-stratum rank is the distributed bucketed rank
from ``operators/windows.ranked_running_total`` (rank-only mode) — a
plain ``Window.partitionBy(stratum)`` is one task per stratum, the exact
low-cardinality wall q36 measured at 84× cost at 100× data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from plumberapp_spark.functions.hashing import md5_long
from plumberapp_spark.operators.windows import ranked_running_total


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    k: int,
    n_buckets: int | None = None,
) -> DataFrame:
    """Deterministic k-per-stratum sample: rank rows inside each stratum
    by ``md5(id)`` descending (a seedable uniform order independent of
    storage layout) and keep ``sample_rank <= k``.

    ``n_buckets=1`` routes to a plain window (right below ~2M rows per
    the q36 measurement); ``None`` uses the cluster default parallelism
    for the bucketed distributed rank.

    Oracle: ``row_number() OVER (PARTITION BY strata ORDER BY
    ('0x'||substr(md5(CAST(id AS VARCHAR)),1,14))::BIGINT DESC, id)``.
    """
    keyed = df.withColumn("_skey", md5_long(F.col(id_col).cast("string")))
    ranked = ranked_running_total(
        keyed,
        part_col=strata_col,
        order_col="_skey",
        id_col=id_col,
        n_buckets=n_buckets,
        rank_name="sample_rank",
        total_name=None,
    )
    return ranked.filter(F.col("sample_rank") <= k).drop("_skey")


def pack_by_token_budget(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    budget: int,
    n_buckets: int | None = None,
) -> DataFrame:
    """Deterministic sequence packing: walk the corpus in ``id_col``
    order and assign each document to the training bin in which its
    token span STARTS — ``bin_id = floor(exclusive_running_tokens /
    budget)`` — the standard "chunk the token stream into
    context-length bins" step in front of LLM training. Documents may
    straddle a boundary; they are counted into their starting bin
    (stream chunking, not bin-packing — deterministic and
    order-preserving, which first-fit-decreasing is not).

    The running token total is the distributed bucketed prefix sum
    (``operators/windows.ranked_running_total`` over a constant
    partition key — the exact single-task global window it exists to
    replace), ordered ascending by negating the id (the machinery
    ranks descending).

    Output: ``(id, tokens, token_offset, bin_id)`` where
    ``token_offset`` is the exclusive running total.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    keyed = df.select(
        F.col(id_col),
        F.col(tokens_col).cast("bigint").alias(tokens_col),
        (-F.col(id_col)).cast("double").alias("_negid"),
        F.lit(0).alias("_all"),
    )
    ranked = ranked_running_total(
        keyed,
        part_col="_all",
        order_col="_negid",
        id_col=id_col,
        value_col=tokens_col,
        n_buckets=n_buckets,
        rank_name="_rk",
        total_name="_ct",
    )
    return ranked.select(
        F.col(id_col),
        F.col(tokens_col),
        (F.col("_ct") - F.col(tokens_col)).cast("bigint").alias("token_offset"),
        F.floor((F.col("_ct") - F.col(tokens_col)) / budget).cast("bigint").alias("bin_id"),
    )


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, int] | None = None,
) -> DataFrame:
    """Deterministic train/val/test assignment: ``split`` is a pure
    function of ``md5(id)`` — stable across runs, engines, partitionings
    and cluster sizes, which is the property that keeps eval sets
    leak-free when the corpus is re-processed. ``weights`` maps split
    name to an integer percentage (must sum to 100); default 80/10/10.

    Zero shuffle: one row-local projection at any corpus size.
    """
    weights = weights or {"train": 80, "val": 10, "test": 10}
    if sum(weights.values()) != 100:
        raise ValueError(f"weights must sum to 100, got {weights}")
    bucket = md5_long(F.col(id_col).cast("string")) % 100
    expr = None
    acc = 0
    for name, w in weights.items():
        acc += w
        cond = bucket < acc
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn("split", expr)


def quota_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    quotas: dict[str, int],
    n_buckets: int | None = None,
) -> DataFrame:
    """Mixture-weighting sampler: a DIFFERENT deterministic cap per
    stratum (``quotas[stratum]`` rows, md5-ranked) — the "rebalance the
    language/source mix" step of corpus assembly, generalizing
    :func:`stratified_sample`'s single k. Strata absent from ``quotas``
    are dropped (an explicit mixture is a whitelist).

    Same machinery and scale posture as :func:`stratified_sample`; the
    quota map rides a broadcast join (mixtures are tiny by definition).
    """
    spark = df.sparkSession
    keyed = df.withColumn("_skey", md5_long(F.col(id_col).cast("string")))
    ranked = ranked_running_total(
        keyed,
        part_col=strata_col,
        order_col="_skey",
        id_col=id_col,
        n_buckets=n_buckets,
        rank_name="sample_rank",
        total_name=None,
    )
    from plumberapp_spark.session import local_relation

    qdf = local_relation(
        spark, [(k, v) for k, v in quotas.items()], f"{strata_col} string, _quota int"
    )
    return (
        ranked.join(F.broadcast(qdf), on=strata_col)
        .filter(F.col("sample_rank") <= F.col("_quota"))
        .drop("_skey", "_quota")
    )


def domain_mixture(
    df: DataFrame,
    domain_col: str = "source",
    text_col: str = "text",
    alpha: float = 0.3,
) -> DataFrame:
    """Temperature-scaled domain mixture weights — the multilingual /
    multi-domain sampling-rate computation (exponentiated-and-renormalized
    ``p^alpha``, the alpha-sampling of mBERT/XLM-R and the per-domain
    mixture step of The Pile / DoReMi-style recipes): upweight small
    domains, damp the head, and report how many effective epochs of each
    domain one pass over the reweighted mix consumes.

    Per domain: ``n_docs``, ``n_tokens``, ``p_raw`` (token share),
    ``weight`` (``p_raw^alpha`` renormalized), ``effective_epochs``
    (``weight / p_raw`` — how often the domain repeats if the mixed
    corpus is sized at the raw token total).

    Scale shape: ONE corpus pass (a map-side-combined groupBy on the
    domain); everything after operates on the #domains-row aggregate,
    where the renormalization windows are plan-sized frames (the 5-row
    stats-table precedent), never corpus-sized.
    """
    from pyspark.sql import Window

    from plumberapp_spark.functions.text import tokenize

    per = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.size(tokenize(F.coalesce(F.col(text_col), F.lit("")))))
        .cast("bigint")
        .alias("n_tokens"),
    )
    everything = Window.partitionBy()  # domain-count frame: single-partition window is fine
    return (
        per.withColumn("_tot", F.sum("n_tokens").over(everything))
        .withColumn("_wu", F.pow(F.col("n_tokens") / F.col("_tot"), alpha))
        .withColumn("_z", F.sum("_wu").over(everything))
        .select(
            "domain",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("_tot"), 6).alias("p_raw"),
            F.round(F.col("_wu") / F.col("_z"), 6).alias("weight"),
            F.round(
                (F.col("_wu") / F.col("_z")) / (F.col("n_tokens") / F.col("_tot")), 6
            ).alias("effective_epochs"),
        )
    )


# Persisted feature frame from the most recent dsir_importance call —
# the ann_recall_report cache-lifetime contract (similarity.py): the
# report is lazy, so the frame is released by the NEXT call (or
# release_dsir_caches()), keeping at most one call's cache live.
_DSIR_CACHES: list = []


def release_dsir_caches() -> None:
    """Unpersist the feature frame cached by the last dsir_importance
    call. Safe any time after the result has been materialized (or
    abandoned); a no-op when nothing is cached."""
    while _DSIR_CACHES:
        try:
            _DSIR_CACHES.pop().unpersist(blocking=False)
        except Exception:
            pass  # session already stopped — nothing to free


def dsir_importance(
    corpus: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 8192,
    seed: int = 7,
) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every corpus doc
    by the log importance ratio of a TARGET distribution to the RAW
    corpus distribution over hashed n-gram features — unigrams and
    bigrams bucketed into ``n_buckets`` by a salted md5, with the two
    bucket distributions Laplace-smoothed. Docs resembling the target
    (``target`` is a small high-quality frame, e.g. a wiki slice) score
    positive; ``selected`` flags them.

    Per doc: ``n_features`` (unigram+bigram occurrences),
    ``mean_log_ratio`` (average per-feature ``ln p_target - ln p_raw``),
    ``selected`` (``mean_log_ratio > 0``).

    Scale shape: the two feature distributions are ``n_buckets``-row
    aggregates (corpus passes with map-side combine on a ≤n_buckets-wide
    key) that BROADCAST back into the per-doc scoring join, so the only
    corpus-sized exchange is the per-doc partial-sum aggregate — one row
    per doc after map-side combine, never the feature stream. Hashing is
    md5-keyed, so the DuckDB oracle reproduces buckets bit-for-bit.

    Each side's (id, bucket, count) rows come out of one Arrow pass —
    tokenize + bigram + hash + per-doc Counter in Python — instead of an
    interpreted transform-lambda + explode + per-feature md5 expression
    chain (the decontaminate measurement class: ~4x at sf0.1, growing
    with scale). A feature's bucket is ``stable_bucket(f, n_buckets,
    seed)``: the first 56 bits of ``md5('s<seed>:' || f)`` mod
    ``n_buckets``.
    """

    def _features(frame: DataFrame, with_id: bool) -> DataFrame:
        import hashlib
        from collections import Counter

        import pandas as pd

        from plumberapp_spark.functions.text import split_tokens

        pre = f"s{seed}:"
        id_ddl = frame.schema[id_col].dataType.simpleString()

        def gen(batches):
            for pdf in batches:
                ids, bs, cs = [], [], []
                rows = (
                    zip(pdf[id_col], pdf[text_col])
                    if with_id
                    else ((None, t) for t in pdf[text_col])
                )
                for row_id, text in rows:
                    toks = split_tokens(text)
                    feats = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
                    counts = Counter(
                        int(hashlib.md5((pre + f).encode()).hexdigest()[:14], 16)
                        % n_buckets
                        for f in feats
                    )
                    for b, n in counts.items():
                        ids.append(row_id)
                        bs.append(b)
                        cs.append(n)
                out = {"_b": bs, "_c": cs}
                if with_id:
                    out = {id_col: ids, **out}
                yield pd.DataFrame(out)

        schema = (f"{id_col} {id_ddl}, " if with_id else "") + "_b bigint, _c bigint"
        cols = [id_col, text_col] if with_id else [text_col]
        return frame.select(*cols).mapInPandas(gen, schema)

    def _dist(feats: DataFrame, name: str, tot_name: str):
        cnt = feats.groupBy("_b").agg(F.sum("_c").alias("_c"))
        # the total is the n_buckets-row aggregate re-aggregated — its
        # subplan is identical to cnt's, so Catalyst reuses the exchange
        # instead of re-scanning the corpus
        tot = cnt.groupBy().agg(F.sum("_c").alias(tot_name))
        dist = cnt.crossJoin(F.broadcast(tot)).select(
            "_b",
            F.log((F.col("_c") + 1) / (F.col(tot_name) + n_buckets)).alias(name),
        )
        return dist, tot

    # One Arrow feature pass over the corpus, not two (round 11, guide
    # §5 / §1.2 step 1): the with-id feature frame is computed once,
    # persisted (narrow (id, _b, _c) rows — the md5-per-feature Python
    # pass is the expensive part, the cache is skinny), and BOTH the raw
    # distribution (its id-dropped rollup — identical totals by
    # construction: the generator emits the same per-doc (bucket, count)
    # rows either way) and the scoring join read it. The target keeps
    # its own pass (an arbitrary caller frame, usually a small slice).
    # Cache lifetime mirrors ann_recall_report's contract: lazy report,
    # so each NEW call releases the previous call's frame.
    from pyspark import StorageLevel

    release_dsir_caches()
    feats = _features(corpus, with_id=True).persist(StorageLevel.MEMORY_AND_DISK)
    _DSIR_CACHES.append(feats)

    # unseen buckets fall back to the smoothed floor ln(1 / (T + m)), so
    # the scoring join carries the totals alongside the distributions
    raw, raw_tot = _dist(feats.select("_b", "_c"), "_lr", "_rt")
    tgt, tgt_tot = _dist(_features(target, with_id=False), "_lt", "_tt")
    scored = (
        feats
        .join(F.broadcast(raw), "_b", "left")
        .join(F.broadcast(tgt), "_b", "left")
        .crossJoin(F.broadcast(raw_tot))
        .crossJoin(F.broadcast(tgt_tot))
        .select(
            F.col(id_col),
            F.col("_c"),
            (
                F.coalesce(F.col("_lt"), F.log(1.0 / (F.col("_tt") + n_buckets)))
                - F.coalesce(F.col("_lr"), F.log(1.0 / (F.col("_rt") + n_buckets)))
            ).alias("_ratio"),
        )
        .groupBy(id_col)
        .agg(
            F.sum("_c").cast("bigint").alias("n_features"),
            F.round(F.sum(F.col("_c") * F.col("_ratio")) / F.sum("_c"), 6).alias(
                "mean_log_ratio"
            ),
        )
    )
    return (
        corpus.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_features"), F.lit(0)).cast("bigint").alias("n_features"),
            F.col("mean_log_ratio"),
            F.coalesce(F.col("mean_log_ratio") > 0, F.lit(False)).alias("selected"),
        )
    )
