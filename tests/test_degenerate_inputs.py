"""Degenerate-input sweep: every curation operator must survive the
corpus edge cases a 100 TB crawl actually contains — NULL texts, empty
strings, whitespace-only docs, single tokens, zero embedding vectors —
without exceptions, and with the documented zero/empty semantics
(NULL text == empty doc everywhere)."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402


def _degenerate_docs(spark):
    rows = [
        (0, None, "en", "s0"),
        (1, "", "en", "s0"),
        (2, "   ", "fr", "s1"),
        (3, "one", "fr", "s1"),
        (4, "two tokens", "de", "s2"),
        (5, "a normal looking document with enough tokens to shingle", "en", "s2"),
        (6, "a normal looking document with enough tokens to shingle", "en", "s0"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")


def test_dedup_family_survives_degenerates(spark):
    from plumberapp_spark.llm.dedup import (
        bloom_decontaminate,
        bm25_topk,
        crossmodal_candidates,
        dedup_against_fuzzy,
        duplicate_spans,
        minhash_lsh_against,
        remove_duplicate_spans,
        select_cluster_representatives,
    )

    docs = _degenerate_docs(spark)
    bench = docs.filter("doc_id = 5")

    out = bloom_decontaminate(docs, bench, ngram=5, n_bits=1 << 12, n_hashes=2).collect()
    assert len(out) == 7
    flagged = {r["doc_id"] for r in out if r["flagged"]}
    assert {5, 6} <= flagged  # the shingled dup pair overlaps the bench doc
    assert not ({0, 1, 2, 3} & flagged)  # shingle-less docs can never flag

    spans = {r["doc_id"]: r for r in duplicate_spans(docs, ngram=4).collect()}
    assert len(spans) == 7
    assert spans[0]["n_tokens"] == 0 and spans[0]["dup_token_frac"] == 0.0
    assert spans[5]["dup_token_frac"] == 1.0 and spans[6]["dup_token_frac"] == 1.0

    removed = {r["doc_id"]: r for r in remove_duplicate_spans(docs, ngram=4).collect()}
    assert len(removed) == 7
    assert removed[0]["clean_text"] == "" and removed[0]["n_removed"] == 0
    assert removed[5]["n_removed"] == 0 and removed[6]["clean_text"] == ""

    hits = bm25_topk(docs, docs.filter("doc_id = 5"), k=3).collect()
    # doc 6 is the dup; doc 4 shares the literal term "tokens"
    assert {r["neighbor_id"] for r in hits} == {4, 6}

    pairs = minhash_lsh_against(
        docs.filter("doc_id >= 4"), docs.filter("doc_id < 4")
    ).collect()
    assert pairs == []  # nothing shingleable on the ingested side matches
    survivors = dedup_against_fuzzy(
        docs.filter("doc_id >= 4"), docs.filter("doc_id < 4")
    ).collect()
    assert {r["doc_id"] for r in survivors} == {4, 5, 6}

    reps = select_cluster_representatives(docs).collect()
    # exact-dedup survivors only: 0/1 collapse (both tokenless digests
    # differ — null vs '' — so both survive), every cluster has one rep
    by_label: dict = {}
    for r in reps:
        by_label.setdefault(r["cluster_label"], []).append(r["is_representative"])
    assert all(sum(v) == 1 for v in by_label.values())

    emb = spark.createDataFrame(
        [(i, [0.0, 0.0, 0.0]) for i in range(3)]
        + [(3, [1.0, 0.0, 0.0]), (4, [1.0, 0.0, 0.0])],
        "doc_id long, embedding array<float>",
    ).withColumnRenamed("doc_id", "vec_id")
    cm = crossmodal_candidates(
        docs, emb, k_pairs=2
    ).collect()  # zero vectors: cosine()=0 by contract, no NaN
    assert all(r["cos_sim"] is None or r["cos_sim"] == r["cos_sim"] for r in cm)


def test_sampling_and_report_survive_degenerates(spark):
    from plumberapp_spark.llm.report import corpus_report
    from plumberapp_spark.llm.sampling import domain_mixture, dsir_importance

    docs = _degenerate_docs(spark)

    mix = domain_mixture(docs, "source", "text", alpha=0.3).collect()
    assert len(mix) == 3
    assert abs(sum(r["weight"] for r in mix) - 1.0) < 1e-4

    scores = {r["doc_id"]: r for r in dsir_importance(docs, docs.filter("lang = 'en'")).collect()}
    assert len(scores) == 7
    assert scores[0]["n_features"] == 0 and scores[0]["mean_log_ratio"] is None
    assert not scores[0]["selected"]

    report = {r["domain"]: r for r in corpus_report(docs, docs.filter("doc_id = 5"), ngram=5).collect()}
    assert len(report) == 3
    assert report["s0"]["n_docs"] == 3
    # two non-first global duplicates in s0: doc 6 (copy of 5) AND doc 1
    # ('' shares the coalesced digest with doc 0's NULL — the report's
    # documented NULL==empty convention)
    assert report["s0"]["dup_rate"] == round(2 / 3, 6)


def test_persisted_index_family_survives_degenerates(spark, tmp_path):
    """Round-8 serving paths on NULL/empty/whitespace/one-token docs:
    index build must not raise, indexed results must equal the direct
    operators' exactly (including empty-query and no-match cases)."""
    from plumberapp_spark.llm.dedup import bm25_topk, tfidf_topk
    from plumberapp_spark.llm.segments import (
        bm25_topk_segmented,
        build_segmented_index,
        refresh_tfidf_norms,
        tfidf_topk_segmented,
    )
    from plumberapp_spark.llm.textqa import (
        build_unigram_lm,
        perplexity_buckets,
        perplexity_buckets_indexed,
        unigram_logprob_score,
        unigram_logprob_score_indexed,
    )

    docs = _degenerate_docs(spark)
    lex = str(tmp_path / "lex")
    build_segmented_index(docs, lex)
    refresh_tfidf_norms(spark, lex)
    lm = str(tmp_path / "lm")
    build_unigram_lm(docs, lm)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    queries = docs.filter(F.col("doc_id").isin(0, 1, 5))  # NULL, empty, normal
    kw = {"k": 3, "text_col": "text", "id_col": "doc_id"}
    assert rows(tfidf_topk_segmented(spark, lex, queries, **kw)) == rows(
        tfidf_topk(docs, queries, k=3)
    )
    assert rows(bm25_topk_segmented(spark, lex, queries, **kw)) == rows(
        bm25_topk(docs, queries, k=3)
    )
    # queries with no corpus overlap at all -> empty, no raise
    ghost = spark.createDataFrame(
        [(99, "zzz qqq")], "doc_id long, text string"
    )
    assert tfidf_topk_segmented(spark, lex, ghost, **kw).count() == 0
    assert bm25_topk_segmented(spark, lex, ghost, **kw).count() == 0
    # LM scoring: NULL/empty docs score NULL, identical to direct
    assert rows(unigram_logprob_score_indexed(spark, lm, docs)) == rows(
        unigram_logprob_score(docs)
    )
    assert rows(perplexity_buckets_indexed(spark, lm, docs)) == rows(
        perplexity_buckets(docs)
    )
