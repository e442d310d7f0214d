"""Deduplication operators for web-scale corpora.

Four escalating strategies, all deterministic (md5-keyed) so each has an
exact DuckDB oracle:

=================  ==========================  ===========================
strategy           shuffle profile             100 TB posture
=================  ==========================  ===========================
exact              1 hash-exchange on digest   map-side combine; digest is
                                               32 bytes/row regardless of
                                               doc size
simhash            none (pure projection)      near-dup key computed
                                               row-local; bucket join later
minhash + LSH      1 exchange on band key      signature = k column exprs
                                               in ONE pass; candidate set
                                               bounded by band collisions
n-gram Jaccard     1 exchange on shingle       hot-shingle cap bounds the
                                               inverted-index blowup
=================  ==========================  ===========================
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from plumberapp_spark.functions.hashing import MERSENNE61, md5_long, minhash_perm_params
from plumberapp_spark.functions.text import tokenize, word_ngrams
from plumberapp_spark.llm.scoring import _two_stage_topk, bm25_weight, tfidf_weight


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup by content digest: one row per distinct text, keeping the
    smallest id (deterministic survivor), with the duplicate count.

    Plan: project(md5) -> hash-aggregate. Partial (map-side) aggregation
    means the exchange carries one digest row per distinct value per
    partition — the 100 TB-safe shape.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dupes"))
    )


def simhash_table(df: DataFrame, text_col: str, id_col: str, bits: int = 16) -> DataFrame:
    """(id, simhash) for every row: SimHash over whitespace tokens, the
    per-bit majority vote of 56-bit token hashes (first 56 bits of md5)
    packed little-endian into a BIGINT. Row-local — zero shuffle;
    near-dup candidates then group on the key (or on rotated bit-bands
    for Hamming-distance search, :func:`simhash_hamming_pairs`).

    Each token is hashed ONCE in an Arrow ``mapInPandas`` pass and the
    majority vote is taken in numpy. An expression form (one interpreted
    ``filter`` lambda per bit, 16x the md5 work, no codegen) measured
    5.7s vs ~0.5s warm at sf0.1. The DuckDB oracle (q18) is the same
    construction with ``list_filter`` and bit ops on
    ``('0x'||substr(md5(t),1,14))::BIGINT``.
    """
    import numpy as np
    import pandas as pd

    id_ddl = df.schema[id_col].dataType.simpleString()
    from plumberapp_spark.functions.text import split_tokens
    js = np.arange(bits, dtype=np.uint64)
    weights = (np.uint64(1) << js).astype(np.int64)

    def sim_batches(batches):
        for pdf in batches:
            ids, out = [], []
            for row_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = split_tokens(text)
                n = len(toks)
                if n == 0:
                    ids.append(row_id)
                    out.append(0)
                    continue
                hs = np.fromiter(
                    (int(hashlib.md5(t.encode()).hexdigest()[:14], 16) for t in toks),
                    dtype=np.uint64,
                    count=n,
                )
                ones = ((hs[:, None] >> js[None, :]) & np.uint64(1)).sum(axis=0)
                ids.append(row_id)
                out.append(int(((2 * ones > n) * weights).sum()))
            yield pd.DataFrame({id_col: ids, "simhash": pd.array(out, dtype="int64")})

    par = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.select(F.col(id_col), F.col(text_col))
        .repartition(par)
        .mapInPandas(sim_batches, f"{id_col} {id_ddl}, simhash bigint")
    )


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    max_hamming: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """EXACT Hamming-distance near-dup pairs over the SimHash key, without
    a quadratic self-join: pigeonhole banding. Split the ``bits``-bit key
    into ``max_hamming + 1`` contiguous bit-bands — any pair within
    Hamming distance d differs in at most d bands, so it matches EXACTLY
    on at least one band. Grouping on (band_idx, band_bits) therefore
    yields a complete candidate set (no recall loss, unlike MinHash LSH);
    the final ``bit_count(a XOR b) <= d`` filter removes false positives.

    Returns ``(id_a, id_b, hamming)`` with ``id_a < id_b``, one row per
    qualifying pair.

    Scale posture (100 TB): the only exchange is the band-key groupBy —
    candidate pairs are generated row-locally inside each bucket
    (bucket-then-pair, same shape as :func:`minhash_lsh_candidates`, and
    the signature lineage runs once, not twice as a self-join would).
    Exact duplicates share a SimHash and therefore a bucket, so compose
    behind :func:`exact_text_survivors` on duplicate-heavy corpora (the
    same composition law SCALE.md §9 measures for LSH); ``max_bucket_size``
    is the explicit recall-for-boundedness cap for boilerplate buckets.
    """
    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming}")
    n_bands = max_hamming + 1
    if n_bands > bits:
        raise ValueError(f"max_hamming + 1 ({n_bands}) exceeds bits ({bits})")
    sig = simhash_table(df, text_col, id_col, bits=bits)

    # contiguous band widths, near-equal (e.g. 16 bits / 3 bands -> 6,5,5)
    base, extra = divmod(bits, n_bands)
    widths = [base + (1 if b < extra else 0) for b in range(n_bands)]
    offsets, off = [], 0
    for w in widths:
        offsets.append(off)
        off += w

    # band key packed as one bigint: (band_bits * n_bands + band_idx) is
    # unique per (band, value) and keeps the exchange key fixed-width
    band_keys = [
        (
            F.shiftright(F.col("simhash"), offsets[b]).bitwiseAND(F.lit((1 << widths[b]) - 1))
            * F.lit(n_bands)
            + F.lit(b)
        ).cast("bigint")
        for b in range(n_bands)
    ]
    stacked = sig.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*band_keys)).alias("_band_key")
    )
    buckets = (
        stacked.groupBy("_band_key")
        .agg(
            F.sort_array(
                F.collect_set(F.struct(F.col(id_col).alias("i"), F.col("simhash").alias("s")))
            ).alias("members")
        )
        .filter(F.size("members") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.withColumn("members", F.slice("members", 1, max_bucket_size))
    # row-local pair generation inside each bucket; exact Hamming filter
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("members"),
                lambda x, i: F.filter(
                    F.transform(
                        F.slice(F.col("members"), i + F.lit(2), F.size(F.col("members"))),
                        lambda y: F.struct(
                            x["i"].alias("id_a"),
                            y["i"].alias("id_b"),
                            F.bit_count(x["s"].bitwiseXOR(y["s"])).alias("hamming"),
                        ),
                    ),
                    lambda p: p["hamming"] <= F.lit(max_hamming),
                ),
            )
        )
    )
    return (
        buckets.select(pair.alias("p"))
        .select("p.id_a", "p.id_b", F.col("p.hamming").cast("int").alias("hamming"))
        .distinct()
    )


def minhash_signature(df: DataFrame, text_col: str, id_col: str, num_perm: int, ngram: int = 3) -> DataFrame:
    """MinHash signature: ``num_perm`` seeded min-hashes over word
    ``ngram``-shingles, as ``mh_0..mh_{k-1}`` columns.

    One narrow pass: the shingle set and all k minima are computed
    row-local (no explode, no shuffle until the small signature exchange).
    Each shingle is md5-hashed ONCE and all k permutation minima fold out
    of one vectorized matmul-style pass, so hashing cost is independent
    of k. The exchanged rows are (id, k longs) — a few hundred
    bytes/row at any corpus size.
    """
    sig = _signature_arrays(df, text_col, id_col, num_perm, ngram)
    return sig.select(
        F.col(id_col), *[F.col("_sig")[p].alias(f"mh_{p}") for p in range(num_perm)]
    )


def _signature_arrays(
    df: DataFrame, text_col: str, id_col: str, num_perm: int, ngram: int
) -> DataFrame:
    """(id, _sig array<bigint>) with the signature computed exactly once
    per row, in parallel, via an Arrow-batched ``mapInPandas``.

    Why a Python UDF on the hot path: a pure-expression form (per-shingle
    md5 + affine folds through INTERPRETED higher-order functions — no
    whole-stage codegen) measured 2-50x slower with erratic GC-bound
    variance at sf0.1 (0.9s/54s/12.8s across identical runs vs a stable
    0.5s here). This path hashes each distinct shingle once (hashlib) and
    folds all k permutations in one numpy broadcast
    ``(h[:,None]*A + B) % M61``, where h = first 56 bits of md5 and the
    affine params come from ``minhash_perm_params`` — the same
    definition as the DuckDB oracle's ``list_min(list_transform(...))``
    (bit-exactness pinned against a pure-Python reference in tests).

    The one exchange (round-robin to defaultParallelism) happens BEFORE
    the UDF: shingling+hashing is the CPU-heavy stage and a compact input
    (one parquet row group) would otherwise pin it to one task; at 100 TB
    the reader already yields thousands of splits and the exchange
    coalesces either way. Output rows are (id, k longs).
    """
    import numpy as np
    import pandas as pd

    id_ddl = df.schema[id_col].dataType.simpleString()
    a_params = np.array(
        [minhash_perm_params(p)[0] for p in range(num_perm)], dtype=np.uint64
    )
    b_params = np.array(
        [minhash_perm_params(p)[1] for p in range(num_perm)], dtype=np.uint64
    )
    m61 = np.uint64(MERSENNE61)
    from plumberapp_spark.functions.text import split_tokens

    def sig_batches(batches):
        # md5 is the dominant per-shingle cost; real corpora repeat
        # shingles heavily across documents (boilerplate, and duplicate
        # docs trivially so), so each Arrow batch keeps a shingle→hash
        # cache — every distinct shingle in the batch is hashed ONCE, not
        # once per containing doc (on the 100× duplicate-heavy corpus
        # this is a ~99% hit rate)
        for pdf in batches:
            cache: dict[str, int] = {}
            md5 = hashlib.md5
            ids, sigs = [], []
            for row_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = split_tokens(text)
                n = len(toks) - (ngram - 1)
                if n < 1:
                    ids.append(row_id)
                    sigs.append(None)  # matches list_min([]) = NULL
                    continue
                shingles = {" ".join(toks[i : i + ngram]) for i in range(n)}
                vals = []
                for s in shingles:
                    h = cache.get(s)
                    if h is None:
                        h = int(md5(s.encode()).hexdigest()[:14], 16)
                        cache[s] = h
                    vals.append(h)
                hashes = np.array(vals, dtype=np.uint64)
                # a*h fits uint64: h < 2^56, a < 64 (minhash_perm_params)
                mins = (
                    (hashes[:, None] * a_params[None, :] + b_params[None, :]) % m61
                ).min(axis=0)
                ids.append(row_id)
                sigs.append([int(x) for x in mins])
            yield pd.DataFrame({id_col: ids, "_sig": sigs})

    par = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.select(F.col(id_col), F.col(text_col))
        .repartition(par)
        .mapInPandas(sig_batches, f"{id_col} {id_ddl}, _sig array<bigint>")
    )


def _band_stack(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int,
    bands: int,
    ngram: int,
) -> DataFrame:
    """(id, band_key) rows: one md5 band digest per band per doc, NULL
    signatures (fewer than ``ngram`` tokens) dropped before banding —
    the shared front half of every LSH variant."""
    if num_perm % bands != 0:
        raise ValueError(
            f"num_perm ({num_perm}) must be divisible by bands ({bands}): "
            "trailing permutations would be paid for but never banded"
        )
    rows_per_band = num_perm // bands
    sig = _signature_arrays(df, text_col, id_col, num_perm, ngram).filter(
        F.col("_sig").isNotNull()
    )
    band_cols = []
    for b in range(bands):
        parts = [
            F.col("_sig")[b * rows_per_band + r].cast("string") for r in range(rows_per_band)
        ]
        band_cols.append(F.md5(F.concat_ws("_", F.lit(str(b)), *parts)).alias(f"band_{b}"))
    banded = sig.select(F.col(id_col), *band_cols)
    return banded.select(
        F.col(id_col),
        F.explode(F.array(*[F.col(f"band_{b}") for b in range(bands)])).alias("band_key"),
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 8,
    bands: int = 4,
    ngram: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH banding over the MinHash signature: docs sharing any band key are
    candidate near-duplicates. Returns distinct candidate pairs (a < b).

    The only exchange is the band-key groupBy; band keys are md5 digests of
    ``rows_per_band`` signature values, so the shuffle payload is fixed
    width. Skew guards, in order of importance: (1) docs with NULL
    signatures (fewer than ``ngram`` tokens) are dropped BEFORE banding —
    ``concat_ws`` skips NULLs, so they would otherwise all share one band
    key per band and a single task would materialize that bucket's id set
    (AQE skew handling splits join partitions, NOT groupBy aggregates, so
    nothing else bounds it); (2) run exact dedup first
    (:func:`dedup_then_lsh`) so duplicate-heavy corpora don't put C(dups,2)
    pairs in one bucket; (3) ``max_bucket_size`` optionally truncates each
    sorted bucket id set — an explicit recall-for-boundedness trade for
    boilerplate-text corpora, off by default so results stay oracle-exact.
    """
    stacked = _band_stack(df, text_col, id_col, num_perm, bands, ngram)
    # Bucket-then-pair instead of a band-key self-join: a self-join would
    # execute the (expensive) signature lineage twice and shuffle both
    # sides; grouping runs it once, and pairs are generated row-locally
    # inside each (small, by LSH construction) bucket.
    buckets = (
        stacked.groupBy("band_key")
        .agg(F.sort_array(F.collect_set(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.withColumn("ids", F.slice("ids", 1, max_bucket_size))
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("ids"),
                lambda x, i: F.transform(
                    F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                    lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                ),
            )
        )
    )
    return buckets.select(pair.alias("p")).select("p.id_a", "p.id_b").distinct()


def dedup_then_lsh(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 8,
    bands: int = 4,
    ngram: int = 3,
) -> DataFrame:
    """The scale-correct near-dup pipeline: EXACT dedup first (constant
    width digest groupBy, keeps the min-id survivor per distinct text),
    then MinHash+LSH candidates over survivors only.

    Composition law (measured, SCALE.md §9): on a corpus with heavy
    exact duplication, LSH alone must emit C(dup_count, 2) pairs per
    bucket — inherently quadratic in duplicate multiplicity (362s at the
    100x corpus); deduping first removes that blowup at the cost of one
    cheap digest exchange (5.8s, 63x faster, same near-dup information).
    Any candidate-generating operator (LSH, inverted-index Jaccard,
    embedding buckets) should sit downstream of exact dedup.
    """
    survivors = exact_text_survivors(df, text_col, id_col)
    return minhash_lsh_candidates(survivors, text_col, id_col, num_perm, bands, ngram)


def exact_text_survivors(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup keeping the min-id survivor per distinct text — the
    shared head of every dedup-first composition. Constant-width
    exchange: groups by the 32-byte md5 digest, never the text."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("_digest"))
        .agg(F.min(id_col).alias(id_col), F.first(text_col).alias(text_col))
        .drop("_digest")
    )


def dedup_then_jaccard(
    df: DataFrame,
    text_col: str,
    id_col: str,
    ngram: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """The dedup-first composition for the inverted-index Jaccard path:
    exact dedup, then :func:`ngram_jaccard_pairs` over survivors only.

    The two guards divide the labor (measured at the 100x duplicate
    corpus, SCALE.md §9): exact dedup removes DUPLICATION blowup (the
    uncapped q19 fills the disk there; over survivors the same search
    completes in seconds and returns the real near-dup pairs), while
    ``max_shingle_freq`` caps BOILERPLATE shingles that are hot even
    among distinct texts. A production pipeline wants both, in that
    order.
    """
    survivors = exact_text_survivors(df, text_col, id_col)
    return ngram_jaccard_pairs(
        survivors,
        text_col,
        id_col,
        ngram=ngram,
        threshold=threshold,
        max_shingle_freq=max_shingle_freq,
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    ngram: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
    max_candidate_pairs: int | None = 100_000_000,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via an inverted-index self-join:
    explode distinct shingles -> join on shingle -> |A∩B| / (|A|+|B|-|A∩B|).

    ``max_shingle_freq`` drops shingles appearing in more than that many
    docs (boilerplate) — the standard trick that keeps the inverted index
    from exploding quadratically on hot shingles at corpus scale.

    ``max_candidate_pairs`` is the UNCAPPED path's fail-fast guard
    (VERDICT r8 #3): before the self-join, one narrow count-per-shingle
    aggregate projects the candidate-pair volume ``Σ c·(c−1)/2``; if it
    exceeds the bound the operator raises with guidance instead of
    grinding the exchange to disk exhaustion (the 100× copy-degenerate
    corpus projects 1.8e9 candidates and died at 75 GB of spill; the
    same corpus exact-deduped first projects thousands). The probe costs
    one extra pass over the inverted-index lineage — only paid when no
    ``max_shingle_freq`` cap already bounds the join. ``None`` disables.

    The exploded inverted index is built in one Arrow ``mapInPandas``
    pass (plain Python string slicing): the interpreted
    ``transform(sequence, concat_ws(slice))`` chain measured 3.6s per
    pass at sf0.1 — and the self-join re-executes its input lineage on
    BOTH sides, doubling that.
    """
    import pandas as pd

    from plumberapp_spark.functions.text import split_tokens

    id_ddl = df.schema[id_col].dataType.simpleString()

    def shingle_rows(batches):
        for pdf in batches:
            ids, ns, shs = [], [], []
            for row_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = split_tokens(text)
                cnt = len(toks) - (ngram - 1)
                if cnt < 1:
                    continue  # no shingles: the doc has no index rows
                uniq = {" ".join(toks[i : i + ngram]) for i in range(cnt)}
                n = len(uniq)
                for s in uniq:
                    ids.append(row_id)
                    ns.append(n)
                    shs.append(s)
            yield pd.DataFrame({id_col: ids, "_n": pd.array(ns, dtype="int32"), "shingle": shs})

    par = df.sparkSession.sparkContext.defaultParallelism
    inv = (
        df.select(F.col(id_col), F.col(text_col))
        .repartition(par)
        .mapInPandas(shingle_rows, f"{id_col} {id_ddl}, _n int, shingle string")
    )
    if max_shingle_freq is not None:
        # Capped fast path (r4, VERDICT item 4). Two stages, both
        # hot-shingle-safe:
        # 1. a COUNT aggregate per shingle (map-side partial combine, the
        #    exchange carries narrow (shingle, long) rows) filtered to
        #    2..cap BEFORE anything materializes a doc list — a
        #    boilerplate shingle in 50k docs is dropped as one counter,
        #    never as a 50k-element list (the naive
        #    groupBy+collect_list-then-size() form builds the full list
        #    first: measured at the 100× duplicate-heavy corpus, and an
        #    OOM hazard at real scale);
        # 2. survivors join back (AQE broadcasts the surviving-shingle
        #    set when the cap makes it small) and only then collect the
        #    per-shingle doc lists — each now bounded by the cap — from
        #    which pairs explode (≤ cap²/2 per shingle).
        # The count rides the SAME exchange the grouping needs: a
        # count-over-window on the shingle partition filters hot/singleton
        # shingles row-wise, and the groupBy that follows reuses the
        # window's hash partitioning (no second exchange) — so the
        # inverted-index lineage executes exactly once, every collected
        # list is bounded by the cap, and there is no self-join (the r3
        # window+join form re-executed the lineage on the join's second
        # side; a counts-aggregate+join-back variant re-executed it too
        # and measured 3-4× slower at sf0.1).
        hot = Window.partitionBy("shingle")
        capped = inv.withColumn("_df", F.count("*").over(hot)).filter(
            F.col("_df").between(2, max_shingle_freq)
        )
        grouped = capped.groupBy("shingle").agg(
            F.collect_list(F.struct(F.col(id_col).alias("_id"), F.col("_n"))).alias("_docs")
        )
        pair_expr = F.expr(
            """flatten(transform(_docs, (x, i) ->
                 transform(slice(_docs, i + 2, size(_docs) - i - 1), y ->
                   CASE WHEN x._id < y._id
                        THEN struct(x._id AS id_a, x._n AS n_a, y._id AS id_b, y._n AS n_b)
                        ELSE struct(y._id AS id_a, y._n AS n_a, x._id AS id_b, x._n AS n_b)
                   END)))"""
        )
        inter = (
            grouped.select(F.explode(pair_expr).alias("_p"))
            .select("_p.*")
            .groupBy("id_a", "id_b", "n_a", "n_b")
            .agg(F.count("*").alias("inter"))
        )
        jac = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
        return (
            inter.withColumn("jaccard", F.round(jac, 6))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
    # Uncapped branch: the shingle pass is consumed up to three times —
    # the candidate-volume probe plus BOTH sides of the self-join (the
    # plan shows two MapInPandas nodes, no ReusedExchange — the
    # broadcast side canonicalizes differently). Persist once per call
    # (guide §5), released by the next retrieval call.
    from pyspark import StorageLevel

    release_retrieval_caches()
    inv = inv.persist(StorageLevel.MEMORY_AND_DISK)
    _RETRIEVAL_CACHES.append(inv)
    if max_candidate_pairs is not None:
        projected = (
            inv.groupBy("shingle")
            .agg(F.count("*").alias("_c"))
            .agg(F.sum(F.col("_c") * (F.col("_c") - 1) / 2).alias("_pairs"))
            .first()["_pairs"]
        )
        if projected is not None and projected > max_candidate_pairs:
            raise ValueError(
                f"ngram_jaccard_pairs: projected candidate-pair volume "
                f"{int(projected):,} exceeds max_candidate_pairs="
                f"{max_candidate_pairs:,} — the uncapped inverted-index "
                f"self-join would explode (duplicate-heavy corpus). Use "
                f"dedup_then_jaccard (exact-dedup first), set "
                f"max_shingle_freq to cap hot shingles, or raise "
                f"max_candidate_pairs if the volume is intended."
            )
    a = inv.select(F.col(id_col).alias("id_a"), F.col("_n").alias("n_a"), "shingle")
    b = inv.select(F.col(id_col).alias("id_b"), F.col("_n").alias("n_b"), "shingle")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count("*").alias("inter"))
    )
    jac = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        inter.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def term_frequencies(
    df: DataFrame,
    text_col: str,
    id_col: str,
    with_doc_len: bool = False,
) -> DataFrame:
    """``(id, tk, _tf)`` — one row per (doc, distinct token) with its
    in-doc count (plus the doc's token count ``_dl`` when
    ``with_doc_len``). COMPLETE per-doc counts come out of one Arrow pass
    (tokenize + Counter), which both skips the interpreted tokenize HOF
    and ELIMINATES the (id, tk) groupBy exchange an explode form needs —
    the extraction is exchange-free, and downstream consumers (df(t)
    rollup, doc-length rollup) pay only their own exchanges."""
    from collections import Counter

    import pandas as pd

    from plumberapp_spark.functions.text import split_tokens

    id_ddl = df.schema[id_col].dataType.simpleString()

    def gen(batches):
        for pdf in batches:
            ids, tks, cs, dls = [], [], [], []
            for row_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = split_tokens(text)
                for tk, n in Counter(toks).items():
                    ids.append(row_id)
                    tks.append(tk)
                    cs.append(n)
                    dls.append(len(toks))
            out = {id_col: ids, "tk": tks, "_tf": cs}
            if with_doc_len:
                out["_dl"] = dls
            yield pd.DataFrame(out)

    schema = f"{id_col} {id_ddl}, tk string, _tf bigint"
    if with_doc_len:
        schema += ", _dl bigint"
    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(gen, schema)


def _doc_frequencies(tf: DataFrame) -> DataFrame:
    """``(tk, _df)`` — document frequency per token from a
    :func:`term_frequencies` relation (one row per (doc, distinct
    token), so a plain count per token IS df(t)).

    This is the skew-safe form of ``count(*) over (partition by tk)``:
    a window forces EVERY (doc, token) row of a hot token into one task
    with no remedy, while groupBy is map-side partial (each input
    partition emits at most one row per distinct token it saw) and the
    join back rides AQE — broadcast when the vocab relation is small
    (always at test scale; the df side is vocab-sized, not
    corpus-sized), skew-split when a stopword token is hot at 100 TB.
    No explicit broadcast hint: a web-scale vocab (typos, unicode junk)
    can outgrow the driver, and the hint would OOM where AQE degrades
    gracefully to a vocab-keyed exchange."""
    return tf.groupBy("tk").agg(F.count("*").alias("_df"))


# Persisted frames from the most recent direct-form retrieval call
# (tfidf_topk / bm25_topk) — the ann_recall_report cache-lifetime
# contract (similarity.py): results are lazy, so each NEW call releases
# the previous call's frames and release_retrieval_caches() frees the
# last ones. At most one call's caches are ever live.
_RETRIEVAL_CACHES: list = []


def release_retrieval_caches() -> None:
    """Unpersist the shared frames cached by the last tfidf_topk /
    bm25_topk call. Safe any time after the result has been
    materialized (or abandoned); a no-op when nothing is cached."""
    while _RETRIEVAL_CACHES:
        try:
            _RETRIEVAL_CACHES.pop().unpersist(blocking=False)
        except Exception:
            pass  # session already stopped — nothing to free


def _tfidf_weights(
    df: DataFrame, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """Shared tf-idf lineage: ``(weights, norms)`` where weights =
    ``(id, tk, _tf, _df, _w)`` with ``_w = tf · ln(N / df)`` (natural
    log, N = total corpus docs) and norms = ``(id, _nrm)`` over ALL of a
    doc's tokens. df(t) is a vocab-sized groupBy-count joined back on
    the token (:func:`_doc_frequencies` — the hot-token-skew-safe form)
    over the exchange-free Arrow tf extraction
    (:func:`term_frequencies`). EAGER at call time: the persisted tf
    pass is materialized and the corpus size N counted on the driver
    (two jobs), and N enters the weight expression as a literal."""
    # The Arrow tokenize pass is opaque to Catalyst (guide §4.1), so its
    # four consumers (df rollup, weights join, query projections, norms)
    # would each re-run it — no exchange sits between the pass and most
    # consumers for ReuseExchange to rescue. Persist the skinny
    # (id, tk, _tf) relation once per call (guide §5: reused AND
    # expensive to recompute); released by the next call.
    from pyspark import StorageLevel

    release_retrieval_caches()
    tf = term_frequencies(df, text_col, id_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    _RETRIEVAL_CACHES.append(tf)
    # Round 12 (guide §5/§2.6): materialize the persist EAGERLY — the
    # consumer plan's concurrent broadcast builds (df(t) rollup, query
    # weights/norms) otherwise race the lazy cache and each re-run the
    # Arrow pass from parquet (the bm25_topk finding measured below).
    # One count() action pins exactly one materialization. N enters the
    # idf as a literal: bigint/bigint in Spark is the same double
    # division either way, so _w is unchanged.
    n_docs = df.count()
    tf.count()
    wts = (
        tf.join(_doc_frequencies(tf), "tk")
        .withColumn("_w", tfidf_weight(F.col("_tf"), F.col("_df"), F.lit(n_docs)))
    )
    norms = wts.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("_w") * F.col("_w"))).alias("_nrm")
    )
    return wts, norms


def tfidf_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact tf-idf cosine top-k document search: for each query doc,
    the ``k`` most similar corpus docs (self excluded) under the
    corpus-trained tf-idf model — sparse-vector retrieval, the lexical
    complement of :func:`~plumberapp_spark.llm.similarity.brute_force_topk`'s
    dense-embedding search. ``queries`` is a one-column (or wider) frame
    of query ids drawn from the corpus.

    Scale shape: weights/norms are the shared linear lineage
    (:func:`_tfidf_weights`); the query side reduces to (query, token,
    weight) — queries × vocabulary, broadcast by the same small-side
    contract as ANN query matrices — so each corpus token row meets its
    matching query terms map-side, and the only corpus-sized exchange is
    the (query_id, doc) partial-sum aggregate. The ranking is the
    engine's one top-k tail, :func:`~plumberapp_spark.llm.scoring._two_stage_topk`:
    a Partial ``WindowGroupLimit`` caps each partition at k rows per
    query before its single exchange on ``query_id``, so no task ever
    ranks the whole corpus.

    Cosine is rounded to 6 decimals BEFORE ranking with ties broken by
    neighbor id — deterministic across engines and summation orders
    (the brute_force_topk contract). Returns ``(query_id, neighbor_id,
    cos_sim, rank)``. Not lazy: the call runs :func:`_tfidf_weights`'
    materializing jobs even if the result is never consumed.
    """
    from pyspark import StorageLevel

    wts, norms = _tfidf_weights(df, text_col, id_col)
    # norms is doc-sized and consumed twice (query norms + the scored
    # join); its lineage re-runs the weights join otherwise
    norms = norms.persist(StorageLevel.MEMORY_AND_DISK)
    _RETRIEVAL_CACHES.append(norms)
    qids = queries.select(F.col(id_col).alias("_qid")).distinct()
    qw = (
        wts.join(F.broadcast(qids), wts[id_col] == F.col("_qid"))
        .select(F.col("_qid").alias("query_id"), "tk", F.col("_w").alias("_qw"))
    )
    qn = norms.join(
        F.broadcast(qids), norms[id_col] == F.col("_qid")
    ).select(F.col("_qid").alias("query_id"), F.col("_nrm").alias("_qn"))
    dots = (
        wts.join(F.broadcast(qw), "tk")
        .filter(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", id_col)
        .agg(F.sum(F.col("_w") * F.col("_qw")).alias("_dot"))
    )
    scored = (
        dots.join(norms, id_col)
        .join(F.broadcast(qn), "query_id")
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(F.col("_dot") / (F.col("_nrm") * F.col("_qn")), 6).alias("cos_sim"),
        )
    )
    return _two_stage_topk(scored, k, "cos_sim")


def tfidf_cosine_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int = 20,
    threshold: float = 0.0,
) -> DataFrame:
    """tf-idf–weighted cosine document pairs — the WEIGHTED complement
    of :func:`ngram_jaccard_pairs` (set overlap treats 'the' and a rare
    term alike; tf-idf is what near-dup mining uses when boilerplate
    should not vote). ``w(d,t) = tf(d,t) · ln(N / df(t))`` with natural
    log and N = total corpus docs; ``cos(a,b) = Σ_t w_a w_b / (‖a‖‖b‖)``.

    ``max_df`` is the q58-style boilerplate cap: only tokens appearing
    in 2..max_df docs feed the pair intersection (each token's fanout is
    then ≤ C(max_df, 2) regardless of corpus duplication), while the
    NORMS keep every token's weight — the standard guard that caps
    intersection evidence without rescaling the vectors. The pair stage
    reuses the capped inverted-index shape: the per-token document list
    is collected only AFTER the df-window filter (bounded by the cap),
    pairs explode JVM-side from the sorted list, and the lineage
    executes once — no self-join. Norms meet the pair table in two
    id-keyed joins (post-aggregation: one row per surviving pair, not
    per token match; AQE broadcasts the norm side at small scale).

    Returns ``(id_a, id_b, cos_sim)``, ``cos_sim`` rounded to 6.
    """
    wts, norms = _tfidf_weights(df, text_col, id_col)
    grouped = (
        wts.filter(F.col("_df").between(2, max_df))
        .groupBy("tk")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col(id_col).alias("_id"), F.col("_w").alias("_wv")))
            ).alias("_ds")
        )
    )
    pair_expr = F.expr(
        """flatten(transform(_ds, (x, i) ->
             transform(slice(_ds, i + 2, size(_ds) - i - 1), y ->
               struct(x._id AS id_a, y._id AS id_b, x._wv * y._wv AS prod))))"""
    )
    dots = (
        grouped.select(F.explode(pair_expr).alias("_p"))
        .select("_p.*")
        .groupBy("id_a", "id_b")
        .agg(F.sum("prod").alias("_dot"))
    )
    na = norms.select(F.col(id_col).alias("id_a"), F.col("_nrm").alias("_na"))
    nb = norms.select(F.col(id_col).alias("id_b"), F.col("_nrm").alias("_nb"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("cos_sim", F.round(F.col("_dot") / (F.col("_na") * F.col("_nb")), 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over an undirected pair graph: every node
    gets ``cluster_label`` = the MINIMUM node id reachable through the
    edges (the unique fixpoint — deterministic, engine-independent), plus
    ``cluster_size``. Nodes with no edges are singleton clusters.

    Min-label propagation WITH pointer jumping (path halving, the
    Shiloach–Vishkin shortcut): each round every node takes
    ``min(own label, min of neighbors' labels)`` and then jumps to that
    label's OWN label — reach more than doubles per round, so
    convergence is O(log diameter) rounds instead of diameter (the
    round-7 fix for the per-round fixed cost dominating long chains;
    measured on a planted diameter-8 chain: 9 rounds → 4). The jump
    preserves the fixpoint exactly: a node's label is always a reachable
    node id, and that node's label is a smaller reachable id, so every
    intermediate state remains "min of some reachable subset" and the
    fixpoint (min over the whole component) is unchanged — hashes are
    bit-identical to the plain propagation. Converged when no label
    changed. Edges and labels are persisted and label lineage is
    truncated per round (``localCheckpoint``) so the plan does not grow
    with iterations; the convergence probe is one tiny count per round.

    Scale posture: each round one edge join + one groupBy on the edge
    key plus one labels-sized self-join (the jump — strictly smaller
    than the edge join). The near-dup graphs this serves (LSH candidate
    pairs over exact-dedup survivors) have small, dense components
    (log-rounds ≈ 2–3); adversarial long chains are the case the jump
    exists for.

    ``edges`` must have columns ``id_a``/``id_b``; ``nodes`` one row per
    node carrying ``id_col``. Contract (ADVICE r11): edges must only
    reference ids present in ``nodes`` — the round-11 endpoint-only
    iteration derives its working set from edge endpoints, so an
    out-of-frame endpoint would JOIN the output (and could lower an
    in-frame node's label) instead of being silently ignored as the
    pre-r11 code did. Every caller in this package builds edges from
    nodes; external callers with dirty edge sets must semi-join them
    against ``nodes`` first. ``stats``, when given, receives
    ``{"rounds": N}`` for round-count instrumentation.
    """
    spark = nodes.sparkSession
    sym = (
        edges.select(F.col("id_a").alias("_src"), F.col("id_b").alias("_dst"))
        .unionAll(edges.select(F.col("id_b").alias("_src"), F.col("id_a").alias("_dst")))
        .persist()
    )
    # Round-11 loop restructure (guide §1.2 step 1, §2.1), three
    # fixpoint-preserving changes measured at 24 -> ~8 jobs per call:
    #
    # * iterate ONLY over edge-endpoint nodes — an edgeless node can
    #   never change label, so it skips the loop entirely and rejoins
    #   as a singleton at the end. At 100 TB this turns every round's
    #   corpus-sized label joins into edge-endpoint-sized ones (near-dup
    #   graphs are sparse: most docs are singletons).
    # * round 1 is algebraically specialized: labels start as identity,
    #   so min-of-neighbor-labels IS min-of-neighbor-ids and the jump
    #   through identity labels is the identity — one aggregation + one
    #   join instead of three joins.
    # * localCheckpoint is LAZY: the convergence-probe count is the
    #   action that materializes each round (one job per round, not an
    #   eager-checkpoint job plus a count job).
    active = sym.select(F.col("_src").alias("_node")).distinct()
    r1_nbr = sym.groupBy("_dst").agg(F.min("_src").alias("_nbr"))
    labels = (
        active.join(r1_nbr, active["_node"] == r1_nbr["_dst"], "left")
        .select(
            "_node",
            F.least(
                F.col("_node"), F.coalesce(F.col("_nbr"), F.col("_node"))
            ).alias("_label"),
        )
        .localCheckpoint(eager=False)
    )
    rounds = 1
    # an edge always lowers its larger endpoint below its own id, so
    # round 1 leaves every label at identity iff there are no edges
    converged = labels.filter(F.col("_label") < F.col("_node")).count() == 0
    while not converged and rounds < max_iters:
        rounds += 1
        nbr_min = (
            sym.join(labels, sym["_src"] == labels["_node"])
            .groupBy("_dst")
            .agg(F.min("_label").alias("_nbr_label"))
        )
        cand = (
            labels.join(nbr_min, labels["_node"] == nbr_min["_dst"], "left")
            .select(
                "_node",
                "_label",
                F.least(
                    F.col("_label"), F.coalesce(F.col("_nbr_label"), F.col("_label"))
                ).alias("_cand"),
            )
        )
        # pointer jump: follow the candidate label to ITS label (always
        # <= and in the same component), collapsing two propagation hops
        # into one round
        jump = labels.select(
            F.col("_node").alias("_jn"), F.col("_label").alias("_jl")
        )
        new_labels = (
            cand.join(jump, cand["_cand"] == jump["_jn"], "left")
            .select(
                "_node",
                F.least(
                    F.col("_cand"), F.coalesce(F.col("_jl"), F.col("_cand"))
                ).alias("_new"),
                (F.least(
                    F.col("_cand"), F.coalesce(F.col("_jl"), F.col("_cand"))
                ) < F.col("_label")).alias("_changed"),
            )
            .withColumnRenamed("_new", "_label")
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter(F.col("_changed")).count()
        labels = new_labels.drop("_changed")
        converged = changed == 0
    if not converged:
        sym.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            "(component diameter exceeds the cap — raise max_iters or use "
            "star-contraction for this graph)"
        )
    sym.unpersist()
    if stats is not None:
        stats["rounds"] = rounds
    # active nodes: label + component size from the converged labels.
    # singletons (never entered the loop): label = own id, size 1 — an
    # active component's label is an ACTIVE node's id, so the two label
    # spaces cannot collide and sizes need no cross-term.
    sizes = labels.groupBy("_label").agg(F.count("*").alias("cluster_size"))
    clustered = labels.join(sizes, on="_label").select(
        F.col("_node").alias(id_col),
        F.col("_label").alias("cluster_label"),
        "cluster_size",
    )
    singles = (
        nodes.select(F.col(id_col).alias("_node"))
        .join(labels.select("_node"), "_node", "left_anti")
        .select(
            F.col("_node").alias(id_col),
            F.col("_node").alias("cluster_label"),
            F.lit(1).cast("long").alias("cluster_size"),
        )
    )
    return clustered.unionByName(singles)


def near_dup_clusters(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 8,
    bands: int = 4,
    ngram: int = 3,
    max_iters: int = 50,
) -> DataFrame:
    """The full near-dup GROUPING pipeline: exact dedup -> MinHash+LSH
    candidate pairs (dedup-first composition law, SCALE.md §9) ->
    connected components. One row per SURVIVOR doc: (id, cluster_label,
    cluster_size); picking ``min(id) per cluster_label`` afterwards is
    the standard "keep one per near-dup group" reduction.

    Docs too short to carry a MinHash signature (< ngram tokens) have no
    candidate edges by construction and come out as singletons — same
    contract as :func:`minhash_lsh_candidates`'s NULL-signature guard.
    """
    # Survivors are read twice (label seed + pair lineage). Measured A/B
    # at sf0.1: persisting them is ~1.5 s SLOWER than recomputing — the
    # digest groupBy is cheaper than a block-manager round trip at this
    # width. On a corpus where the dedup head is expensive, persist here.
    survivors = exact_text_survivors(df, text_col, id_col)
    pairs = minhash_lsh_candidates(survivors, text_col, id_col, num_perm, bands, ngram)
    return connected_components(pairs, survivors, id_col=id_col, max_iters=max_iters)


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 5,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination: for every corpus doc, count the
    distinct word ``ngram``-shingles it shares with ANY benchmark/eval
    doc, and flag ``contaminated`` when the count reaches
    ``min_overlap`` — the standard eval-overlap filter run before
    training (GPT-3 App. C / PaLM-style n-gram collision check).

    Scale posture: the benchmark side is eval-set sized (MBs at any
    corpus scale), so its distinct-shingle set broadcasts; the corpus's
    exploded shingles meet it in a BROADCAST semi join — the corpus is
    never shuffled, and the only exchange carries the MATCHED
    (id, shingle) pairs (bounded by corpus×benchmark overlap, tiny for
    a clean corpus). Zero-overlap docs are restored by a left join
    against the corpus id column.

    Output: ``(id, n_overlapping_ngrams, contaminated)``.

    Each side's distinct (id, shingle) rows come out of one Arrow pass
    (tokenize + n-gram + set per doc in Python): the interpreted
    transform-lambda + explode chain measured 3.6 s vs ~1 s at sf0.1,
    ~4x at 100×.
    """

    def _shingles(df: DataFrame, with_id: bool) -> DataFrame:
        import pandas as pd

        from plumberapp_spark.functions.text import split_tokens
        id_ddl = df.schema[id_col].dataType.simpleString()

        def gen(batches):
            for pdf in batches:
                ids, shs = [], []
                for row_id, text in zip(pdf[id_col], pdf[text_col]):
                    toks = split_tokens(text)
                    seen = {
                        " ".join(toks[i : i + ngram]) for i in range(len(toks) - ngram + 1)
                    }
                    ids.extend([row_id] * len(seen))
                    shs.extend(seen)
                yield pd.DataFrame({id_col: ids, "_sh": shs})

        out = df.select(F.col(id_col), F.col(text_col)).mapInPandas(
            gen, f"{id_col} {id_ddl}, _sh string"
        )
        return out if with_id else out.select("_sh")

    bench_shingles = _shingles(benchmark, with_id=False).distinct()
    corpus_shingles = _shingles(corpus, with_id=True)
    overlaps = (
        corpus_shingles.join(F.broadcast(bench_shingles), on="_sh", how="left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_overlapping_ngrams"))
    )
    return (
        corpus.select(id_col)
        .join(overlaps, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_overlapping_ngrams"), F.lit(0)).cast("bigint").alias(
                "n_overlapping_ngrams"
            ),
            (F.coalesce(F.col("n_overlapping_ngrams"), F.lit(0)) >= min_overlap).alias(
                "contaminated"
            ),
        )
    )


def dedup_against(
    df: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental (cross-corpus) exact dedup: keep only the rows of
    ``df`` whose text does NOT already appear in ``reference`` — the
    ingest-time filter a growing corpus runs against everything already
    ingested, completing the dedup family (batch q14, streaming q57,
    cross-corpus here).

    Scale posture: an ANTI join on the 32-byte md5 digest — both sides
    exchange constant-width keys regardless of document size, and AQE
    broadcasts the reference side when it is small (a daily increment
    against a fixed eval/blocklist) while a corpus-sized reference stays
    a shuffled hash join. No full-text ever crosses the wire.

    NULL text hashes as the EMPTY document (repo-wide convention, same as
    exact_dedup/token_stats): md5(NULL) is NULL, which never equi-joins,
    so without the coalesce a NULL-text row would always survive — and a
    NULL in ``reference`` would match nothing instead of matching empty
    docs (ADVICE r4). Oracle q68 uses the same coalesce.
    """
    digest = F.md5(F.coalesce(F.col(text_col), F.lit("")))
    ref_digests = reference.select(digest.alias("_digest")).distinct()
    keyed = df.withColumn("_digest", digest)
    return keyed.join(ref_digests, on="_digest", how="left_anti").drop("_digest")


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_occurrences: int = 1,
) -> DataFrame:
    """C4-style line-level dedup (Raffel et al. 2020 §2.2: "we discarded
    all but one of any three-sentence span occurring more than once";
    the common production variant operates on LINES): keep a line only
    in the document where it FIRST occurs (smallest (doc_id, line_pos)),
    once its corpus-wide occurrence count exceeds ``max_occurrences``;
    documents are reassembled from their surviving lines in original
    order. Returns (id, clean_text, n_lines, n_removed).

    Scale shape: explode to (line_digest, doc, pos) — constant-width
    md5 keys, never the line text, cross the exchange; one groupBy
    computes per-line counts and the global first-occurrence via
    min_by(struct(doc,pos)); a digest equi-join marks survivors; the
    reassembly groupBy carries only surviving lines. Three exchanges
    total, all on constant-width keys, independent of line length.
    NULL text = empty doc (repo convention); empty docs survive with
    clean_text = ''.
    """
    spark_lines = (
        df.select(
            F.col(id_col),
            F.posexplode_outer(
                F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
            ).alias("_pos", "_line"),
        )
    )
    keyed = spark_lines.withColumn("_digest", F.md5(F.col("_line")))
    stats = keyed.groupBy("_digest").agg(
        F.count("*").alias("_n"),
        F.min(F.struct(F.col(id_col).alias("_d"), F.col("_pos").alias("_p"))).alias("_first"),
    )
    marked = keyed.join(stats, on="_digest").withColumn(
        "_keep",
        (F.col("_n") <= max_occurrences)
        | ((F.col("_first._d") == F.col(id_col)) & (F.col("_first._p") == F.col("_pos"))),
    )
    return (
        marked.groupBy(id_col)
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("_keep"), F.struct("_pos", "_line"))
                        )
                    ),
                    lambda s: s["_line"],
                ),
            ).alias("clean_text"),
            F.count("*").cast("bigint").alias("n_lines"),
            F.sum(F.when(~F.col("_keep"), 1).otherwise(0)).cast("bigint").alias("n_removed"),
        )
    )


def bloom_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 5,
    n_bits: int = 1 << 20,
    n_hashes: int = 4,
    min_overlap: int = 1,
) -> DataFrame:
    """Bloom-filter benchmark decontamination: :func:`decontaminate`'s
    eval-overlap flag computed against a CONSTANT-memory sketch of the
    benchmark's shingle set instead of the set itself. Every benchmark
    ``ngram``-shingle sets ``n_hashes`` bits (md5-derived positions in
    ``[0, n_bits)``); a corpus shingle counts as contaminated when ALL
    its positions are set — the standard Bloom membership test, so false
    NEGATIVES are impossible (everything :func:`decontaminate` flags is
    flagged here) and false positives are bounded by the usual
    ``(1 - e^{-kn/m})^k``. The whole construction is md5-keyed, so the
    sketch — false positives included — is bit-identical in the DuckDB
    oracle.

    Scale posture (the reason this exists next to :func:`decontaminate`):
    the sketch is ``n_bits`` bits no matter how large the eval suite
    grows, and the membership test runs INSIDE the corpus row's pass —
    the corpus is never exploded, never shuffled, and contributes
    NOTHING to any exchange. The only exchange in the whole plan is the
    benchmark-side position distinct (eval-sized). decontaminate's
    matched-pair aggregation disappears entirely.

    The bounded position set (≤ min(n_bits, n_hashes x |bench shingles|)
    ints — the q77 vocab-closure contract) is collected, packed into a
    real bitset, and probed in one Arrow pass over the corpus. A lazy
    expression form (the sketch as a broadcast Spark map) measured ~20x
    slower at sf0.1: its per-probe ``element_at`` is a LINEAR scan inside
    an interpreted lambda — O(|corpus shingles| x n_hashes x set bits).

    Output: ``(id, n_flagged_ngrams, flagged)`` — n_flagged_ngrams
    counts the doc's DISTINCT shingles that pass the membership test.
    """

    def _pos(sh: Column, j: int) -> Column:
        # position j: independent hash via a salted md5 (oracle:
        # ('0x' || substr(md5('b' || j || ':' || sh), 1, 14))::BIGINT % n_bits)
        return md5_long(F.concat(F.lit(f"b{j}:"), sh)) % n_bits

    def _shingles(col: Column) -> Column:
        return F.array_distinct(word_ngrams(tokenize(F.coalesce(col, F.lit(""))), ngram))

    positions = (
        benchmark.select(F.explode(_shingles(F.col(text_col))).alias("_sh"))
        .distinct()
        .select(
            F.explode(F.array(*[_pos(F.col("_sh"), j) for j in range(n_hashes)])).alias("_p")
        )
        .distinct()
    )
    import pandas as pd

    from plumberapp_spark.functions.text import split_tokens

    bits = bytearray(n_bits // 8 + 1)
    for row in positions.collect():  # bounded: eval-set sized
        p = row["_p"]
        bits[p >> 3] |= 1 << (p & 7)
    bits = bytes(bits)
    id_ddl = corpus.schema[id_col].dataType.simpleString()

    def probe(batches):
        for pdf in batches:
            ids, counts = [], []
            for row_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = split_tokens(text)
                seen = {
                    " ".join(toks[i : i + ngram])
                    for i in range(len(toks) - ngram + 1)
                }
                n = 0
                for sh in seen:
                    hit = True
                    for j in range(n_hashes):
                        p = (
                            int(
                                hashlib.md5(f"b{j}:{sh}".encode()).hexdigest()[:14],
                                16,
                            )
                            % n_bits
                        )
                        if not bits[p >> 3] & (1 << (p & 7)):
                            hit = False
                            break
                    n += hit
                ids.append(row_id)
                counts.append(n)
            yield pd.DataFrame({id_col: ids, "n_flagged_ngrams": counts})

    return (
        corpus.select(F.col(id_col), F.col(text_col))
        .mapInPandas(probe, f"{id_col} {id_ddl}, n_flagged_ngrams bigint")
        .withColumn("flagged", F.col("n_flagged_ngrams") >= min_overlap)
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 8,
) -> DataFrame:
    """Exact duplicated-substring statistics — the span-granular dedup
    signal of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"), whose suffix-array ExactSubstr pass this
    re-expresses at ``ngram``-token resolution with rolling word-gram
    digests: a position is duplicated when its ``ngram``-gram occurs at
    least twice ANYWHERE in the corpus (other docs or the same doc), and
    overlapping duplicated positions merge into maximal spans.

    Per doc: ``n_tokens``, ``n_dup_ngrams`` (duplicated gram positions),
    ``n_dup_spans`` (maximal merged spans), ``dup_token_frac`` (fraction
    of the doc's tokens covered by some duplicated span, the Lee et al.
    headline number).

    Scale shape: gram occurrences cross ONE exchange as (id, pos,
    56-bit digest) — constant width regardless of document size — where
    a window on the digest counts occurrences in place (the
    ``_tfidf_weights`` df(t) trick: no second exchange for the count
    join). Only DUPLICATED positions continue to the per-doc island
    windows, which are partitioned by doc — parallelism is the number of
    documents, never one task per corpus.
    """
    toks = tokenize(F.coalesce(F.col(text_col), F.lit("")))
    # one Arrow pass to (id, pos, digest) — the interpreted
    # transform-lambda + posexplode + per-gram md5 expression chain is
    # the decontaminate-measured ~4x tax
    import pandas as pd

    from plumberapp_spark.functions.text import split_tokens

    id_ddl = df.schema[id_col].dataType.simpleString()

    def gen(batches):
        for pdf in batches:
            ids, ps, hs = [], [], []
            for row_id, text in zip(pdf[id_col], pdf[text_col]):
                tk = split_tokens(text)
                for i in range(len(tk) - ngram + 1):
                    g = " ".join(tk[i : i + ngram])
                    ids.append(row_id)
                    ps.append(i + 1)  # 1-based, matches generate_series
                    hs.append(int(hashlib.md5(g.encode()).hexdigest()[:14], 16))
            yield pd.DataFrame({id_col: ids, "_pos": ps, "_h": hs})

    grams = df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        gen, f"{id_col} {id_ddl}, _pos bigint, _h bigint"
    )
    dup = (
        grams.withColumn("_c", F.count("*").over(Window.partitionBy("_h")))
        .filter(F.col("_c") >= 2)
        .select(id_col, "_pos")
    )
    w = Window.partitionBy(id_col).orderBy("_pos")
    islands = (
        dup.withColumn("_prev", F.lag("_pos").over(w))
        .withColumn(
            "_brk",
            F.when(
                F.col("_prev").isNull() | (F.col("_pos") > F.col("_prev") + (ngram - 1)),
                1,
            ).otherwise(0),
        )
        .withColumn("_island", F.sum("_brk").over(w))
    )
    spans = islands.groupBy(id_col, "_island").agg(
        F.min("_pos").alias("_s"), F.max("_pos").alias("_e")
    )
    per_doc = spans.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_dup_spans"),
        F.sum(F.col("_e") + (ngram - 1) - F.col("_s") + 1).alias("_covered"),
    )
    counts = dup.groupBy(id_col).agg(F.count("*").cast("bigint").alias("n_dup_ngrams"))
    base = df.select(F.col(id_col), F.size(toks).cast("bigint").alias("n_tokens"))
    return (
        base.join(counts, id_col, "left")
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce(F.col("n_dup_ngrams"), F.lit(0)).cast("bigint").alias("n_dup_ngrams"),
            F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("bigint").alias("n_dup_spans"),
            F.when(
                F.col("n_tokens") > 0,
                F.round(F.coalesce(F.col("_covered"), F.lit(0)) / F.col("n_tokens"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_token_frac"),
        )
    )


def bm25_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Exact BM25 top-k document retrieval (Robertson/Lucene variant:
    ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))``, tf saturation ``k1``,
    length normalization ``b`` against the corpus mean doc length) —
    :func:`tfidf_topk`'s ranking-function sibling, sharing its whole
    scale shape: weights are one linear lineage with df(t) a vocab-sized
    groupBy-count joined back on the token (skew-safe vs the window
    form; :func:`_doc_frequencies`); the query side reduces to
    (query, DISTINCT term) and broadcasts under the ANN small-side
    contract; the ranking is the same one-exchange top-k tail
    (``scoring._two_stage_topk``). Scores are rounded to 6 decimals
    BEFORE ranking, ties broken by neighbor id — deterministic across
    engines and summation orders. Not lazy: the call materializes the
    persisted tf pass and collects N and Σtf (the corpus scalars) on
    the driver before the scored plan is built.

    Returns ``(query_id, neighbor_id, bm25, rank)``.
    """
    # _dl rides along in the Arrow pass — no doc-length groupBy+join; the
    # corpus-mean doc length derives from the tf lineage (exact integer
    # sum / doc count, bit-equal to avg(len(toks)) over all docs since
    # empty docs contribute 0 tokens to both forms)
    from pyspark import StorageLevel

    # same §4.1/§5 rationale as _tfidf_weights: the opaque Arrow pass
    # has FOUR consumers here (corpus scalars, df rollup, weights join,
    # query term projection) — persist once per call, release on next
    release_retrieval_caches()
    tf = term_frequencies(df, text_col, id_col, with_doc_len=True).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    _RETRIEVAL_CACHES.append(tf)
    # Round 12 (guide §5/§2.6): materialize the persisted pass EAGERLY,
    # before any consumer plan is built. The scored plan's broadcast
    # builds (query terms, the AQE-broadcast df(t) rollup, the scalars)
    # run as CONCURRENT jobs, and a lazily-persisted relation is raced:
    # each build that starts before the first materialization finishes
    # recomputes the whole Arrow pass from parquet (the lazy form ran 3
    # more jobs and over twice the executor time per q83 call on the
    # corpus_batch benchmark bed, wall not faster; at zipf100 each extra
    # pass costs ~600 core-s). The materializing action doubles as the
    # scalar computation: Σtf and N collect driver-side and enter the
    # weight expression as LITERALS — the long→double conversions and
    # the division are the same IEEE-754 operations Spark's
    # crossJoin(scalars) form performed, so _w is bit-identical.
    n_docs = df.count()
    tt = tf.groupBy().agg(F.sum("_tf").alias("_tt")).first()["_tt"]
    # tt is NULL on a tokenless corpus — tf has no rows then, so wts is
    # empty regardless of the literal's value; 0.0 keeps the type double
    avgdl = (float(tt) / float(n_docs)) if (tt is not None and n_docs) else 0.0
    wts = (
        tf.join(_doc_frequencies(tf), "tk")
        .withColumn(
            "_w",
            bm25_weight(
                F.col("_tf"), F.col("_df"), F.col("_dl"), F.lit(n_docs), F.lit(avgdl), k1, b
            ),
        )
    )
    qids = queries.select(F.col(id_col).alias("_qid")).distinct()
    # BM25 treats the query as a term SET: distinct terms, qtf ignored
    qterms = (
        tf.join(F.broadcast(qids), tf[id_col] == F.col("_qid"))
        .select(F.col("_qid").alias("query_id"), "tk")
        .distinct()
    )
    scored = (
        wts.join(F.broadcast(qterms), "tk")
        .filter(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", id_col)
        .agg(F.round(F.sum("_w"), 6).alias("bm25"))
        .select("query_id", F.col(id_col).alias("neighbor_id"), "bm25")
    )
    return _two_stage_topk(scored, k, "bm25")


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 8,
) -> DataFrame:
    """The removal transform behind :func:`duplicate_spans`'s statistics
    — Lee et al. 2022's ExactSubstr DEDUPLICATION at ``ngram``-token
    resolution: every duplicated gram occurrence except its global first
    (min doc id, then min position within that doc) is removed, i.e. the
    tokens its positions cover are cut from the text. Overlap caveat
    (same as the paper's span cuts): a token covered by both a kept
    first occurrence and a removable occurrence is still cut.

    Output: ``(id, clean_text, n_tokens, n_removed)`` for EVERY corpus
    doc (clean docs pass through, empty docs yield '').

    Scale shape: gram occurrences cross one constant-width digest
    exchange where windowed count/min aggregates mark removable
    positions in place (no count join); removable positions explode into
    a (doc, token-index) removal set whose size is bounded by
    ngram x duplicated positions; the rebuild joins that skinny set back
    to the corpus text (one text exchange — proportionate, since this
    operator REWRITES the corpus) and cuts tokens in one Arrow pass.
    """
    import hashlib

    import pandas as pd

    from plumberapp_spark.functions.text import split_tokens

    id_ddl = df.schema[id_col].dataType.simpleString()

    def gen(batches):
        for pdf in batches:
            ids, ps, hs = [], [], []
            for row_id, text in zip(pdf[id_col], pdf[text_col]):
                tk = split_tokens(text)
                for i in range(len(tk) - ngram + 1):
                    g = " ".join(tk[i : i + ngram])
                    ids.append(row_id)
                    ps.append(i + 1)  # 1-based
                    hs.append(int(hashlib.md5(g.encode()).hexdigest()[:14], 16))
            yield pd.DataFrame({id_col: ids, "_pos": ps, "_h": hs})

    grams = df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        gen, f"{id_col} {id_ddl}, _pos bigint, _h bigint"
    )
    w_h = Window.partitionBy("_h")
    marked = (
        grams.withColumn("_occ", F.count("*").over(w_h))
        .withColumn("_fd", F.min(id_col).over(w_h))
        .withColumn(
            "_fp",
            F.min(F.when(F.col(id_col) == F.col("_fd"), F.col("_pos"))).over(w_h),
        )
    )
    removable = marked.filter(
        (F.col("_occ") >= 2)
        & ~((F.col(id_col) == F.col("_fd")) & (F.col("_pos") == F.col("_fp")))
    )
    rem_sets = (
        removable.select(
            F.col(id_col),
            F.explode(F.sequence(F.col("_pos"), F.col("_pos") + (ngram - 1))).alias(
                "_ridx"
            ),
        )
        .groupBy(id_col)
        .agg(F.collect_set("_ridx").alias("_rem"))
    )

    def rebuild(batches):
        for pdf in batches:
            ids, cleans, n_toks, n_rems = [], [], [], []
            for row_id, text, rem in zip(pdf[id_col], pdf[text_col], pdf["_rem"]):
                tk = split_tokens(text)
                cut = set(int(i) for i in rem) if rem is not None else set()
                kept = [t for i, t in enumerate(tk, 1) if i not in cut]
                ids.append(row_id)
                cleans.append(" ".join(kept))
                n_toks.append(len(tk))
                n_rems.append(len(tk) - len(kept))
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "clean_text": cleans,
                    "n_tokens": n_toks,
                    "n_removed": n_rems,
                }
            )

    return (
        df.select(F.col(id_col), F.col(text_col))
        .join(rem_sets, id_col, "left")
        .mapInPandas(
            rebuild,
            f"{id_col} {id_ddl}, clean_text string, n_tokens bigint, n_removed bigint",
        )
    )


def minhash_lsh_against(
    new: DataFrame,
    ingested: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 8,
    bands: int = 4,
    ngram: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Cross-corpus LSH: near-dup candidate pairs between a NEW batch and
    an already-ingested corpus — the fuzzy sibling of :func:`dedup_against`
    (which catches only exact digests) and the incremental-ingestion
    counterpart of :func:`minhash_lsh_candidates`. Only cross-side pairs
    are emitted: new-vs-new and ingested-vs-ingested collisions are not
    this operator's business.

    Returns distinct ``(new_id, ingested_id)`` rows.

    Scale shape: both sides reduce to (id, band-digest) rows that meet in
    ONE band-key groupBy (the signature lineages run once per side, the
    exchange payload is fixed-width digests), and pairs are generated
    row-locally inside each bucket as the bounded cross product of the
    bucket's per-side id sets — no self-join, nothing quadratic outside a
    bucket. Run exact :func:`dedup_against` first on duplicate-heavy
    batches (the dedup_then_lsh composition law); ``max_bucket_size``
    truncates both per-side sets for boilerplate buckets.
    """
    stacked = _band_stack(new, text_col, id_col, num_perm, bands, ngram).select(
        F.col(id_col), "band_key", F.lit(True).alias("_is_new")
    ).unionByName(
        _band_stack(ingested, text_col, id_col, num_perm, bands, ngram).select(
            F.col(id_col), "band_key", F.lit(False).alias("_is_new")
        )
    )
    buckets = (
        stacked.groupBy("band_key")
        .agg(
            F.sort_array(
                F.collect_set(F.when(F.col("_is_new"), F.col(id_col)))
            ).alias("_new_ids"),
            F.sort_array(
                F.collect_set(F.when(~F.col("_is_new"), F.col(id_col)))
            ).alias("_ing_ids"),
        )
        .filter((F.size("_new_ids") > 0) & (F.size("_ing_ids") > 0))
    )
    if max_bucket_size is not None:
        buckets = buckets.withColumn(
            "_new_ids", F.slice("_new_ids", 1, max_bucket_size)
        ).withColumn("_ing_ids", F.slice("_ing_ids", 1, max_bucket_size))
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("_new_ids"),
                lambda n: F.transform(
                    F.col("_ing_ids"),
                    lambda i: F.struct(n.alias("new_id"), i.alias("ingested_id")),
                ),
            )
        )
    )
    return buckets.select(pair.alias("p")).select("p.new_id", "p.ingested_id").distinct()


def dedup_against_fuzzy(
    new: DataFrame,
    ingested: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 8,
    bands: int = 4,
    ngram: int = 3,
) -> DataFrame:
    """NEW docs surviving fuzzy incremental dedup: anti-join against the
    :func:`minhash_lsh_against` candidate set (compose after the exact
    :func:`dedup_against` pass for the full ingestion gate)."""
    hits = minhash_lsh_against(
        new, ingested, text_col, id_col, num_perm, bands, ngram
    ).select(F.col("new_id").alias(id_col))
    return new.join(hits, id_col, "left_anti")


def select_cluster_representatives(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 8,
    bands: int = 4,
    ngram: int = 3,
) -> DataFrame:
    """Keep-best near-dup resolution: :func:`near_dup_clusters`'s
    components with the RETENTION decision a curation pipeline actually
    needs — per cluster, the longest document wins (token count, ties to
    the smaller id), everything else is marked for drop. "Longest"
    stands in for any deterministic row-local quality key; swap the
    order column to change the policy without touching the machinery.

    Output: ``(id, cluster_label, cluster_size, n_tokens,
    is_representative)`` — one row per exact-dedup survivor.

    Scale shape: inherits near_dup_clusters' profile (digest exchange,
    banded LSH bucket groupBy, iterative min-label rounds bounded by the
    component diameter); the added selection is one window PARTITIONED
    BY cluster — parallelism is the number of clusters, and cluster
    sizes are near-dup-small by construction.
    """
    from plumberapp_spark.functions.text import tokenize

    clusters = near_dup_clusters(df, text_col, id_col, num_perm, bands, ngram)
    toks = df.select(
        F.col(id_col),
        F.size(tokenize(F.coalesce(F.col(text_col), F.lit("")))).cast("bigint").alias(
            "n_tokens"
        ),
    )
    w = Window.partitionBy("cluster_label").orderBy(
        F.col("n_tokens").desc(), F.col(id_col)
    )
    return (
        clusters.join(toks, id_col)
        .withColumn("is_representative", F.row_number().over(w) == 1)
        .select(id_col, "cluster_label", "cluster_size", "n_tokens", "is_representative")
    )


def crossmodal_candidates(
    docs: DataFrame,
    embeddings: DataFrame,
    text_id: str = "doc_id",
    vec_id: str = "vec_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    num_perm: int = 8,
    bands: int = 4,
    ngram: int = 3,
    k_pairs: int = 50,
) -> DataFrame:
    """Cross-modal near-dup candidate union: a pair of ids is a
    candidate if the LEXICAL route (MinHash LSH over the text) or the
    SEMANTIC route (top ``k_pairs`` closest embedding pairs — a budgeted
    review queue, q21's form) proposes it; flags record which evidence
    fired. Documents and embeddings share the id space (the repo's
    multimodal-column convention: one id, many modalities).

    Output: ``(id_a, id_b, text_dup, embedding_dup, cos_sim)`` with
    ``id_a < id_b``; cos_sim is NULL on text-only rows.

    Scale shape: each route keeps its own documented profile (band-key
    groupBy / grid-cell matmuls); the union is a full outer join on the
    pair key, whose size is bounded by the two candidate sets — both
    tiny relative to the corpus by construction.
    """
    from plumberapp_spark.llm.similarity import near_dup_pairs_cosine

    text_pairs = minhash_lsh_candidates(
        docs, text_col, text_id, num_perm, bands, ngram
    ).select(F.col("id_a"), F.col("id_b"), F.lit(True).alias("text_dup"))
    emb_pairs = near_dup_pairs_cosine(
        embeddings, threshold=-1.0, id_col=vec_id, vec_col=vec_col, k=k_pairs
    ).select(
        F.col("id_a"),
        F.col("id_b"),
        F.lit(True).alias("embedding_dup"),
        F.col("cos_sim"),
    )
    return (
        text_pairs.join(emb_pairs, ["id_a", "id_b"], "full_outer")
        .select(
            "id_a",
            "id_b",
            F.coalesce(F.col("text_dup"), F.lit(False)).alias("text_dup"),
            F.coalesce(F.col("embedding_dup"), F.lit(False)).alias("embedding_dup"),
            "cos_sim",
        )
    )
