"""The five MLPerf pipeline analogs (SURVEY §5 strategy (c)) — each
reference benchmark pipeline re-expressed on the Pipeline IR so the
profiler/optimizer/rewrite loop can run against realistic shapes.

=========  ==============================================  ==========
analog     reference pipeline                              fixture
=========  ==============================================  ==========
resnet     mb/simple_resnet/MLPerf/imagenet_input.py       F1
ssd        mb/simple_ssd/dataloader.py                     F2
rcnn       mb/simple_rcnn/dataloader.py (h/v interleave)   F2
gnmt       mb/simple_gnmt/utils/iterator_utils.py          F3
transformer mb/simple_transformer/transformer.py           F4
=========  ==============================================  ==========
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from plumberapp_spark.functions.text import tokenize
from plumberapp_spark.plans.nodes import Pipeline
from plumberapp_spark.operators.batching import bucket_by_sequence_length
from plumberapp_spark.operators.transforms import (
    add_sos_eos,
    class_remap,
    count_matched,
    pad_to_length,
    truncate_seq,
)
from plumberapp_spark import fixtures

# 80-of-90 COCO-style remap (dataloader.py:403-406): drop every 9th class.
COCO_CLASS_MAP = {c: i + 1 for i, c in enumerate(x for x in range(1, 91) if x % 9 != 0)}


def resnet_pipeline(spark: SparkSession, n: int = 2_000, batch: int = 128, take_n: int | None = None) -> Pipeline:
    """imagenet_input.py:165-240: parse → conditional on the -1 sentinel →
    shuffle → decode (byte-feature stand-in, P5 stub) → batch(drop) →
    cache/take sandwich when benchmarking."""
    src = fixtures.imagenet_examples(spark, n)
    p = (
        Pipeline.from_dataframe(src, desc="imagenet_examples")
        .filter(F.col("label") >= 0, desc="drop padding sentinel")
        .with_columns(
            {
                "n_bytes": F.octet_length("image").cast("bigint"),
                "digest": F.md5(F.col("image")),
            }
        )
        .select("_row_idx", "n_bytes", "digest", "label", "height", "width")
        # O1 shuffle as a keyed permutation: new stream order = md5-ish hash
        # of (row, seed); marked non-deterministic for taint (seeded random,
        # pa/graphdef_util.py:251-266)
        .with_columns(
            {"_shuf_key": F.abs(F.hash(F.col("_row_idx").cast("string"), F.lit(42)))},
            deterministic=False,
        )
        .with_row_idx(["_shuf_key", "_row_idx"])
        .select("_row_idx", "n_bytes", "digest", "label", "height", "width")
        .batch(batch, drop_remainder=True)
    )
    if take_n is not None:
        p = p.take(take_n).cache().repeat(2)
    return p


def ssd_pipeline(spark: SparkSession, n: int = 2_000, max_boxes: int = 25) -> Pipeline:
    """dataloader.py:394-469: decode boxes → class remap → trim_and_pad →
    matched-count → filter empty."""
    src = fixtures.coco_examples(spark, n)
    return (
        Pipeline.from_dataframe(src, desc="coco_examples")
        .with_columns(
            {
                "classes_remapped": class_remap(F.col("classes"), COCO_CLASS_MAP, default=0),
                "num_boxes": count_matched(F.col("classes"), sentinel=-1),
            }
        )
        .filter(F.size("classes") > 0, desc="drop boxless images")
        .with_columns(
            {
                "classes_padded": pad_to_length(F.col("classes_remapped"), max_boxes, -1),
                "xmin_padded": pad_to_length(F.col("xmin"), max_boxes, 0.0),
            }
        )
        .select("_row_idx", "source_id", "num_boxes", "classes_padded", "xmin_padded", "height", "width")
    )


def rcnn_pipeline(spark: SparkSession, n: int = 2_000) -> Pipeline:
    """simple_rcnn/dataloader.py:514-541: split horizontal/vertical,
    re-interleave round-robin (J3), bucket by aspect (A4-style group)."""
    src = fixtures.coco_examples(spark, n)
    base = Pipeline.from_dataframe(src, desc="coco_examples")
    horiz = base.filter(F.col("width") >= F.col("height"), desc="horizontal").with_row_idx(["_row_idx"])
    vert = base.filter(F.col("width") < F.col("height"), desc="vertical").with_row_idx(["_row_idx"])
    from plumberapp_spark.operators.stream import choose_from

    return horiz._chain(
        "choose_from",
        {"k": 2},
        lambda spark_, ins: choose_from(ins),
        extra_inputs=[vert.root],
    ).select("_row_idx", "source_id", "height", "width")


def gnmt_pipeline(
    spark: SparkSession,
    n: int = 5_000,
    max_len: int = 48,
    bucket_width: int = 10,
    num_buckets: int = 5,
    window_size: int = 16,
) -> Pipeline:
    """iterator_utils.py:55-255 end-to-end: zip src/tgt → drop empties →
    length filter → split/truncate → sos/eos → lengths → bucket →
    group_by_window."""
    src_df, tgt_df, vocab = fixtures.wmt_text_pairs(spark, n)
    src = Pipeline.from_dataframe(src_df, desc="wmt_src")
    tgt = Pipeline.from_dataframe(tgt_df.withColumnRenamed("line", "line_tgt"), desc="wmt_tgt")
    vocab_b = F.broadcast(vocab)

    def lookup_ids(df: DataFrame) -> DataFrame:
        # P11/J4: token→id with <unk>=2 default via broadcast map literal
        # (map-side lookup; the join form is vocab_lookup())
        return df.withColumn("src_tok", tokenize(F.col("line"))).withColumn(
            "tgt_tok", tokenize(F.col("line_tgt"))
        )

    p = (
        src.zip_with(tgt)
        .map(lookup_ids, desc="tokenize")
        .filter((F.size("src_tok") > 0) & (F.size("tgt_tok") > 0), desc="drop empty")
        .filter((F.size("src_tok") <= max_len) & (F.size("tgt_tok") <= max_len), desc="max len")
        .with_columns(
            {
                "src_tok": truncate_seq(F.col("src_tok"), max_len),
                "tgt_in": add_sos_eos(truncate_seq(F.col("tgt_tok"), max_len), "<s>", "</s>"),
                "src_len": F.size(F.col("src_tok")).cast("bigint"),
                "tgt_len": F.size(F.col("tgt_tok")).cast("bigint"),
            }
        )
        .select("_row_idx", "src_tok", "tgt_in", "src_len", "tgt_len")
        .group_by_window(
            bucket_by_sequence_length(F.col("src_len"), F.col("tgt_len"), bucket_width, num_buckets),
            window_size,
            key_desc=f"len_bucket(w={bucket_width},n={num_buckets})",
        )
    )
    return p


def transformer_pipeline(spark: SparkSession, n: int = 5_000, max_train_len: int = 256, batch: int = 64) -> Pipeline:
    """transformer.py:100-148: length filter → pad_up_to → batch."""
    src = fixtures.wmt_tokenized(spark, n)
    return (
        Pipeline.from_dataframe(src, desc="wmt_tokenized")
        .filter(
            (F.size("inputs") <= max_train_len) & (F.size("targets") <= max_train_len),
            desc="max_train_len",
        )
        .with_columns(
            {
                "inputs": pad_to_length(F.col("inputs"), max_train_len, 0),
                "targets": pad_to_length(F.col("targets"), max_train_len, 0),
            }
        )
        .with_row_idx(["_row_idx"])
        .batch(batch, drop_remainder=True)
    )


def curation_pipeline(
    spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001", budget: int = 256
) -> Pipeline:
    """The pretraining-corpus curation composition on the Pipeline IR —
    the north-star workload (quality gate → exact dedup → near-dup drop
    → token-budget packing) expressed as plan stages so the SAME
    profiler/advisor/rewrite machinery that serves the MLPerf analogs
    can rank its bottlenecks and place caches.

    Every stage is one of the library's scale-audited operators
    (SCALE.md §5): the gate and the token counter are zero-shuffle
    projections, dedup is the digest groupBy, the near-dup drop keeps
    the min-id side of each LSH candidate pair (anti join), and packing
    rides the distributed prefix sum.
    """
    from plumberapp_spark.functions.text import token_count
    from plumberapp_spark.llm.dedup import exact_text_survivors, minhash_lsh_candidates
    from plumberapp_spark.llm.sampling import pack_by_token_budget
    from plumberapp_spark.llm.textqa import quality_filter
    from plumberapp_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def gate(df: DataFrame) -> DataFrame:
        kept = quality_filter(df).filter(F.col("keep")).select("doc_id")
        return df.join(kept, "doc_id", "left_semi")

    def near_dup_drop(df: DataFrame) -> DataFrame:
        pairs = minhash_lsh_candidates(df, "text", "doc_id", num_perm=8, bands=4, ngram=3)
        losers = pairs.select(F.col("id_b").alias("doc_id")).distinct()
        return df.join(losers, "doc_id", "left_anti")

    def pack(df: DataFrame) -> DataFrame:
        toks = df.select("doc_id", token_count(F.col("text")).alias("n_toks"))
        return pack_by_token_budget(toks, "doc_id", "n_toks", budget, n_buckets=1)

    return (
        Pipeline.from_dataframe(docs, desc="documents")
        .map(gate, desc="quality_gate")
        .map(lambda df: exact_text_survivors(df, "text", "doc_id"), desc="exact_dedup")
        .map(near_dup_drop, desc="near_dup_drop")
        .map(pack, desc=f"pack_{budget}")
    )


def curation_pipeline_v2(
    spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001", budget: int = 256
) -> Pipeline:
    """The round-6 full curation composition: everything
    :func:`curation_pipeline` does PLUS the ingestion-gate stages a
    production corpus build runs — Bloom-sketch eval decontamination
    (drop), ExactSubstr span removal (rewrite), and DSIR target-likeness
    selection (drop) — all on the Pipeline IR so the profiler/advisor
    ranks the new stages alongside the old ones.

    Stage semantics (all library operators, each with its own oracle
    query): decontaminate_drop removes q81-flagged docs (eval slice =
    doc_id % 100 == 0); despan rewrites text through
    remove_duplicate_spans (q87); the gate/dedup/near-dup/pack stages
    are v1's; dsir_select keeps docs whose q85 target-likeness score
    (vs the English slice) is at or above the corpus mean — the
    corpus-adaptive form of q85's rule (the absolute ``> 0`` flag
    saturates to empty on small fixtures where Laplace smoothing mass
    dominates the target counts; the mean threshold keeps the
    better-than-average half at any scale, as one broadcast scalar).
    """
    from plumberapp_spark.functions.text import token_count
    from plumberapp_spark.llm.dedup import (
        bloom_decontaminate,
        exact_text_survivors,
        minhash_lsh_candidates,
        remove_duplicate_spans,
    )
    from plumberapp_spark.llm.sampling import dsir_importance, pack_by_token_budget
    from plumberapp_spark.llm.textqa import quality_filter
    from plumberapp_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")

    def decontaminate_drop(df: DataFrame) -> DataFrame:
        bench = df.filter(F.col("doc_id") % 100 == 0)
        flags = bloom_decontaminate(df, bench, ngram=5, n_bits=1 << 18, n_hashes=3)
        clean = flags.filter(~F.col("flagged")).select("doc_id")
        return df.join(clean, "doc_id", "left_semi")

    def despan(df: DataFrame) -> DataFrame:
        cleaned = remove_duplicate_spans(df, ngram=8).select(
            "doc_id", F.col("clean_text").alias("text")
        )
        return cleaned.join(df.select("doc_id", "lang"), "doc_id")

    def gate(df: DataFrame) -> DataFrame:
        kept = quality_filter(df).filter(F.col("keep")).select("doc_id")
        return df.join(kept, "doc_id", "left_semi")

    def dsir_select(df: DataFrame) -> DataFrame:
        scores = dsir_importance(df, df.filter(F.col("lang") == "en"))
        thresh = scores.groupBy().agg(F.avg("mean_log_ratio").alias("_t"))
        keep = (
            scores.crossJoin(F.broadcast(thresh))
            .filter(F.col("mean_log_ratio") >= F.col("_t"))
            .select("doc_id")
        )
        return df.join(keep, "doc_id", "left_semi")

    def near_dup_drop(df: DataFrame) -> DataFrame:
        pairs = minhash_lsh_candidates(df, "text", "doc_id", num_perm=8, bands=4, ngram=3)
        losers = pairs.select(F.col("id_b").alias("doc_id")).distinct()
        return df.join(losers, "doc_id", "left_anti")

    def pack(df: DataFrame) -> DataFrame:
        toks = df.select("doc_id", token_count(F.col("text")).alias("n_toks"))
        return pack_by_token_budget(toks, "doc_id", "n_toks", budget, n_buckets=1)

    return (
        Pipeline.from_dataframe(docs, desc="documents")
        .map(decontaminate_drop, desc="decontaminate_drop")
        .map(despan, desc="despan_rewrite")
        .map(gate, desc="quality_gate")
        # dsir_select sits before exact_dedup: the survivors projection
        # drops the lang column the target slice is defined on
        .map(dsir_select, desc="dsir_select")
        .map(lambda df: exact_text_survivors(df, "text", "doc_id"), desc="exact_dedup")
        .map(near_dup_drop, desc="near_dup_drop")
        .map(pack, desc=f"pack_{budget}")
    )


ALL_PIPELINES = {
    "resnet": resnet_pipeline,
    "ssd": ssd_pipeline,
    "rcnn": rcnn_pipeline,
    "gnmt": gnmt_pipeline,
    "transformer": transformer_pipeline,
    "curation": curation_pipeline,
    "curation_v2": curation_pipeline_v2,
}
