"""Round-6 operator additions: Bloom-sketch decontamination (no false
negatives, forced false positives, empty benchmark), duplicated-substring
spans (hand-built span geometry + full-dup invariant), BM25 retrieval
(python reference), domain mixture (normalization + alpha identities),
DSIR selection (target == corpus null invariant, separation on a planted
target)."""

from __future__ import annotations

import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from plumberapp_spark.llm.dedup import (  # noqa: E402
    bloom_decontaminate,
    bm25_topk,
    decontaminate,
    duplicate_spans,
)
from plumberapp_spark.llm.sampling import domain_mixture, dsir_importance  # noqa: E402
from plumberapp_spark.queries_llm import (  # noqa: E402
    bloom_decontamination_sql,
    dsir_sql,
    duplicate_spans_sql,
)
from tests.conftest import assert_matches_duckdb  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def _first_docs(spark, n):
    """The first ``n`` fixture docs as a local frame, so the operator and
    its DuckDB definition see the same rows."""
    docs = _docs(spark)
    return spark.createDataFrame(docs.limit(n).collect(), docs.schema)


# ------------------------------------------------------------------
# Bloom decontamination
# ------------------------------------------------------------------


def test_bloom_no_false_negatives(spark):
    docs = _docs(spark)
    bench = docs.filter(F.col("doc_id") % 100 == 0)
    exact = {
        r["doc_id"]
        for r in decontaminate(docs, bench, ngram=5).filter("contaminated").collect()
    }
    bloom = {
        r["doc_id"]
        for r in bloom_decontaminate(docs, bench, ngram=5, n_bits=1 << 18, n_hashes=3)
        .filter("flagged")
        .collect()
    }
    assert exact <= bloom, "Bloom membership must never miss a true overlap"


def test_bloom_tiny_filter_forces_false_positives(spark):
    docs = _docs(spark).limit(200)
    bench = docs.filter(F.col("doc_id") % 100 == 0)
    exact = {
        r["doc_id"]
        for r in decontaminate(docs, bench, ngram=5).filter("contaminated").collect()
    }
    # 64 bits for thousands of set positions: filter saturates, everything
    # with >= 1 shingle collides -> strictly more flags than the exact set
    bloom = {
        r["doc_id"]
        for r in bloom_decontaminate(docs, bench, ngram=5, n_bits=64, n_hashes=2)
        .filter("flagged")
        .collect()
    }
    assert exact < bloom


def test_bloom_vectorized_matches_expression_route(spark):
    """The Arrow bitset probe is the Bloom definition: the same md5 bit
    positions, false positives included, as the DuckDB SQL — identical
    (id, count, flag) rows."""
    docs = _first_docs(spark, 150)
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    assert_matches_duckdb(
        bloom_decontaminate(docs, bench, ngram=5, n_bits=1 << 16, n_hashes=3),
        bloom_decontamination_sql(bench_mod=50, n_bits=1 << 16),
        documents=docs,
    )


def test_bloom_empty_benchmark_flags_nothing(spark):
    docs = _docs(spark).limit(50)
    bench = docs.filter(F.lit(False))
    out = bloom_decontaminate(docs, bench).collect()
    assert len(out) == 50
    assert all(r["n_flagged_ngrams"] == 0 and not r["flagged"] for r in out)


# ------------------------------------------------------------------
# Duplicated-substring spans
# ------------------------------------------------------------------


def _span_docs(spark):
    shared = " ".join(f"s{i}" for i in range(10))  # 10-token shared run
    rows = [
        (0, f"{shared} u0a u0b u0c u0d u0e u0f u0g u0h u0i u0j"),
        (1, f"v0a v0b v0c v0d v0e v0f v0g v0h v0i v0j {shared}"),
        (2, "w0a w0b w0c w0d w0e w0f w0g w0h w0i w0j w0k w0l"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_duplicate_spans_geometry(spark):
    # n=4: the shared 10-token run yields positions 1..7 duplicated in doc 0
    # (11..17 in doc 1) -> one island covering exactly the 10 shared tokens
    out = {r["doc_id"]: r for r in duplicate_spans(_span_docs(spark), ngram=4).collect()}
    for d, first_pos in ((0, 1), (1, 11)):
        r = out[d]
        assert r["n_tokens"] == 20
        assert r["n_dup_ngrams"] == 7
        assert r["n_dup_spans"] == 1
        assert r["dup_token_frac"] == 0.5  # 10 of 20 tokens covered
    clean = out[2]
    assert clean["n_dup_ngrams"] == 0
    assert clean["n_dup_spans"] == 0
    assert clean["dup_token_frac"] == 0.0


def test_duplicate_spans_exact_dup_is_fully_covered(spark):
    rows = [(0, "a b c d e f g h i j"), (1, "a b c d e f g h i j")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = duplicate_spans(df, ngram=4).collect()
    assert all(r["dup_token_frac"] == 1.0 and r["n_dup_spans"] == 1 for r in out)


def test_duplicate_spans_within_doc_repeat_counts(spark):
    # the same 4-gram twice in ONE doc is a duplicate (Lee et al. semantics)
    df = spark.createDataFrame(
        [(0, "a b c d x y z q a b c d")], ["doc_id", "text"]
    )
    r = duplicate_spans(df, ngram=4).collect()[0]
    assert r["n_dup_ngrams"] == 2  # positions 1 and 9
    assert r["n_dup_spans"] == 2
    assert r["dup_token_frac"] == round(8 / 12, 6)


# ------------------------------------------------------------------
# BM25
# ------------------------------------------------------------------


def _py_bm25(rows, query_terms, k1=1.2, b=0.75):
    toks = {i: t.split() for i, t in rows}
    n = len(rows)
    avgdl = sum(len(t) for t in toks.values()) / n
    dfreq: dict[str, int] = {}
    for t in toks.values():
        for tk in set(t):
            dfreq[tk] = dfreq.get(tk, 0) + 1
    scores = {}
    for i, t in toks.items():
        s, hit = 0.0, False
        for tk in query_terms:
            tf = t.count(tk)
            if tf == 0:
                continue
            hit = True
            idf = math.log(1 + (n - dfreq[tk] + 0.5) / (dfreq[tk] + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(t) / avgdl))
        if hit:  # inverted-index semantics: zero-overlap docs are absent
            scores[i] = round(s, 6)
    return scores


def test_bm25_matches_python_reference(spark):
    rows = [
        (0, "spark shuffle join hash join"),
        (1, "spark broadcast join small table"),
        (2, "duck db vectorized scan filter"),
        (3, "shuffle exchange partition skew salt"),
        (4, "join join join everywhere join"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = bm25_topk(df, df.filter("doc_id = 0"), k=4).collect()
    ref = _py_bm25(rows, set(rows[0][1].split()))
    ref.pop(0)
    want = sorted(ref.items(), key=lambda kv: (-kv[1], kv[0]))[:4]
    got = [(r["neighbor_id"], r["bm25"]) for r in sorted(out, key=lambda r: r["rank"])]
    assert got == [(i, s) for i, s in want]


# ------------------------------------------------------------------
# Domain mixture
# ------------------------------------------------------------------


def test_domain_mixture_normalization_and_alpha_one(spark):
    docs = _docs(spark)
    mix = domain_mixture(docs, "source", "text", alpha=0.3).collect()
    assert abs(sum(r["weight"] for r in mix) - 1.0) < 1e-4
    assert abs(sum(r["p_raw"] for r in mix) - 1.0) < 1e-4
    # alpha < 1 compresses: smallest domain gains, largest loses
    smallest = min(mix, key=lambda r: r["n_tokens"])
    largest = max(mix, key=lambda r: r["n_tokens"])
    assert smallest["effective_epochs"] > 1.0 > largest["effective_epochs"]
    # alpha = 1 is the identity mix
    ident = domain_mixture(docs, "source", "text", alpha=1.0).collect()
    for r in ident:
        assert abs(r["weight"] - r["p_raw"]) <= 1e-6
        assert abs(r["effective_epochs"] - 1.0) <= 1e-4


# ------------------------------------------------------------------
# DSIR
# ------------------------------------------------------------------


def test_dsir_target_equals_corpus_is_null_signal(spark):
    docs = _docs(spark).limit(100)
    out = dsir_importance(docs, docs, n_buckets=1024).collect()
    assert len(out) == 100
    for r in out:
        if r["n_features"]:
            assert r["mean_log_ratio"] == 0.0
            assert not r["selected"]


def test_dsir_separates_planted_target(spark):
    rows = [(i, "alpha beta gamma delta epsilon zeta " * 3) for i in range(10)]
    rows += [(i, "one two three four five six seven " * 3) for i in range(10, 20)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    target = df.filter("doc_id < 10")
    out = {r["doc_id"]: r for r in dsir_importance(df, target, n_buckets=512).collect()}
    assert all(out[i]["selected"] for i in range(10))
    assert not any(out[i]["selected"] for i in range(10, 20))
    assert min(out[i]["mean_log_ratio"] for i in range(10)) > max(
        out[i]["mean_log_ratio"] for i in range(10, 20)
    )


# ------------------------------------------------------------------
# Streaming Bloom dedup
# ------------------------------------------------------------------


def test_streaming_bloom_dedup_no_false_negatives(spark):
    """True duplicates are NEVER kept; with false positives possible,
    the kept set can only shrink below the first-occurrence set."""
    import plumberapp_spark.all_queries  # noqa: F401 — populates REGISTRY
    from plumberapp_spark.registry import REGISTRY

    out = {r["doc_id"]: r["kept"] for r in REGISTRY[
        "q86_streaming_bloom_dedup"
    ].fn(spark, SF_DIR).collect()}
    docs = _docs(spark).select("doc_id", F.coalesce("text", F.lit("")).alias("t")).collect()
    firsts: dict[str, int] = {}
    for r in sorted(docs, key=lambda r: r["doc_id"]):
        firsts.setdefault(r["t"], r["doc_id"])
    first_ids = set(firsts.values())
    assert len(out) == len(docs)
    kept_ids = {i for i, k in out.items() if k}
    assert kept_ids <= first_ids, "a non-first duplicate was kept"


def test_streaming_bloom_dedup_drops_planted_duplicates(spark, tmp_path):
    from plumberapp_spark.streaming.stream_ops import streaming_bloom_dedup

    rows = [(i, f"unique text number {i} with filler words") for i in range(20)]
    rows += [(100 + i, rows[i][1]) for i in range(10)]  # re-deliveries
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string").format("parquet").load(src)
    )
    out_df = streaming_bloom_dedup(stream, n_shards=4, n_bits=1 << 14, n_hashes=3)
    q = (
        out_df.writeStream.format("memory")
        .queryName("bloom_dedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = {r["doc_id"]: r["kept"] for r in spark.table("bloom_dedup_test").collect()}
    assert len(out) == 30
    assert not any(out[100 + i] for i in range(10)), "a re-delivery survived"
    # 30 docs x 3 bits in 4x16384 cells: false positives ~impossible here
    assert all(out[i] for i in range(20))


def test_duplicate_spans_vectorized_matches_expression_route(spark):
    docs = _first_docs(spark, 200)
    assert_matches_duckdb(
        duplicate_spans(docs, ngram=6), duplicate_spans_sql(ngram=6), documents=docs
    )


def test_dsir_vectorized_matches_expression_route(spark):
    # bit-exact md5 buckets: 's7:'-salted feature hashes mod n_buckets
    docs = _first_docs(spark, 200)
    target = docs.filter(F.col("lang") == "en")
    assert_matches_duckdb(
        dsir_importance(docs, target, n_buckets=2048),
        dsir_sql(n_buckets=2048),
        documents=docs,
    )


# ------------------------------------------------------------------
# Duplicate-span removal
# ------------------------------------------------------------------


def test_remove_duplicate_spans_keeps_first_occurrence(spark):
    from plumberapp_spark.llm.dedup import remove_duplicate_spans

    text = "a b c d e f g h i j"
    rows = [(0, text), (1, text), (2, "p q r s t u v w x y")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in remove_duplicate_spans(df, ngram=4).collect()}
    assert out[0]["clean_text"] == text and out[0]["n_removed"] == 0
    assert out[1]["clean_text"] == "" and out[1]["n_removed"] == 10
    assert out[2]["clean_text"] == rows[2][1] and out[2]["n_removed"] == 0


def test_remove_duplicate_spans_partial_overlap(spark):
    from plumberapp_spark.llm.dedup import remove_duplicate_spans

    # doc1 repeats only doc0's middle run; the unique flanks survive
    shared = "s1 s2 s3 s4 s5 s6"
    rows = [(0, f"a1 a2 {shared} a3 a4"), (1, f"b1 b2 {shared} b3 b4")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in remove_duplicate_spans(df, ngram=4).collect()}
    assert out[0]["n_removed"] == 0  # first occurrence kept whole
    assert out[1]["clean_text"] == "b1 b2 b3 b4"
    assert out[1]["n_removed"] == 6


# ------------------------------------------------------------------
# Incremental fuzzy dedup
# ------------------------------------------------------------------


def test_fuzzy_dedup_against_consistency(spark):
    """Cross-side pairs = whole-corpus LSH pairs restricted to the split;
    survivors = new minus flagged new ids."""
    from plumberapp_spark.llm.dedup import (
        dedup_against_fuzzy,
        minhash_lsh_against,
        minhash_lsh_candidates,
    )

    docs = _docs(spark)
    new = docs.filter(F.col("doc_id") % 3 != 0)
    ingested = docs.filter(F.col("doc_id") % 3 == 0)
    cross = {
        (r["new_id"], r["ingested_id"])
        for r in minhash_lsh_against(new, ingested).collect()
    }
    whole = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(docs, "text", "doc_id").collect()
    }
    expected = {
        (a, b) for a, b in ((a, b) if a % 3 != 0 else (b, a) for a, b in whole)
        if a % 3 != 0 and b % 3 == 0
    }
    assert cross == expected
    survivors = {r["doc_id"] for r in dedup_against_fuzzy(new, ingested).collect()}
    flagged = {a for a, _ in cross}
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    assert survivors == new_ids - flagged


# ------------------------------------------------------------------
# Persisted IVF index
# ------------------------------------------------------------------


def test_ivf_indexed_matches_direct(spark, tmp_path):
    from plumberapp_spark.llm.similarity import (
        build_ivf_index,
        ivf_topk,
        ivf_topk_indexed,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 40 == 0)
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=8)
    direct = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cos_sim"])
        for r in ivf_topk(emb, queries, k=5, n_centroids=8, nprobe=2).collect()
    }
    indexed = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cos_sim"])
        for r in ivf_topk_indexed(spark, path, queries, k=5, nprobe=2).collect()
    }
    assert indexed == direct


def test_ivf_indexed_scan_is_partition_pruned(spark, tmp_path):
    """The probe must read only the probed cells' partitions: the cells
    scan carries a PartitionFilters entry on _cell and the number of
    files read is below the total partition count."""
    from plumberapp_spark.llm.similarity import build_ivf_index, ivf_topk_indexed

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=8)
    out = ivf_topk_indexed(spark, path, emb.filter("vec_id = 0"), k=5, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_cell" in plan


# ------------------------------------------------------------------
# Corpus report
# ------------------------------------------------------------------


def test_corpus_report_on_planted_fixture(spark):
    from plumberapp_spark.llm.report import corpus_report

    rows = [
        (0, "a b c d e f", "en", "s1"),
        (1, "a b c d e f", "en", "s1"),   # exact dup of 0
        (2, "g h i j k l", "fr", "s1"),
        (3, "m n o p q r", "en", "s2"),
        (4, "s t u v w x", "de", "s2"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])
    bench = df.filter("doc_id = 3")  # contaminates s2 only
    out = {r["domain"]: r for r in corpus_report(df, bench, ngram=3).collect()}
    s1, s2 = out["s1"], out["s2"]
    assert s1["n_docs"] == 3 and s1["n_tokens"] == 18
    assert s1["dup_rate"] == round(1 / 3, 6) and s1["contamination_rate"] == 0.0
    assert s1["n_langs"] == 2 and s1["top_lang"] == "en"
    assert s2["dup_rate"] == 0.0 and s2["contamination_rate"] == 0.5
    assert s2["top_lang"] == "de"  # 1-1 tie -> lexicographically smallest


# ------------------------------------------------------------------
# Training-shard sink
# ------------------------------------------------------------------


def test_write_training_shards_roundtrip_and_balance(spark, tmp_path):
    from plumberapp_spark.sources.sinks import write_training_shards

    docs = _docs(spark)
    path = str(tmp_path / "shards")
    manifest = write_training_shards(docs, path, n_shards=4).collect()
    assert sorted(r["shard"] for r in manifest) == [0, 1, 2, 3]
    assert sum(r["n_docs"] for r in manifest) == docs.count()
    # roundtrip: nothing lost, shard column present and matching manifest
    back = spark.read.parquet(f"{path}/data")
    assert back.count() == docs.count()
    per = {r["shard"]: r["cnt"] for r in back.groupBy("shard").count().withColumnRenamed("count", "cnt").collect()}
    assert per == {r["shard"]: r["n_docs"] for r in manifest}
    # md5 bucketing: no shard is pathologically empty or dominant
    counts = [r["n_docs"] for r in manifest]
    assert min(counts) > 0 and max(counts) < 2.5 * min(counts)
    # determinism: same input -> same assignment
    m2 = write_training_shards(docs, str(tmp_path / "s2"), n_shards=4).collect()
    assert {(r["shard"], r["n_docs"], r["n_tokens"]) for r in m2} == {
        (r["shard"], r["n_docs"], r["n_tokens"]) for r in manifest
    }


# ------------------------------------------------------------------
# Cluster representatives
# ------------------------------------------------------------------


def test_cluster_representatives_one_per_cluster_longest_wins(spark):
    from plumberapp_spark.llm.dedup import select_cluster_representatives

    out = select_cluster_representatives(_docs(spark)).collect()
    by_cluster: dict = {}
    for r in out:
        by_cluster.setdefault(r["cluster_label"], []).append(r)
    for label, rows in by_cluster.items():
        reps = [r for r in rows if r["is_representative"]]
        assert len(reps) == 1, f"cluster {label} has {len(reps)} representatives"
        best = max(rows, key=lambda r: (r["n_tokens"], -r["doc_id"]))
        assert reps[0]["doc_id"] == best["doc_id"]
        assert all(r["cluster_size"] == len(rows) for r in rows)


# ------------------------------------------------------------------
# Cross-modal candidates
# ------------------------------------------------------------------


def test_crossmodal_candidates_union_semantics(spark):
    from plumberapp_spark.llm.dedup import (
        crossmodal_candidates,
        minhash_lsh_candidates,
    )
    from plumberapp_spark.llm.similarity import near_dup_pairs_cosine

    docs = _docs(spark)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = crossmodal_candidates(docs, emb, k_pairs=20).collect()
    text = {(r["id_a"], r["id_b"]) for r in minhash_lsh_candidates(docs, "text", "doc_id").collect()}
    sem = {(r["id_a"], r["id_b"]) for r in near_dup_pairs_cosine(emb, threshold=-1.0, k=20).collect()}
    got = {(r["id_a"], r["id_b"]): (r["text_dup"], r["embedding_dup"]) for r in out}
    assert set(got) == text | sem
    for pair, (td, ed) in got.items():
        assert td == (pair in text) and ed == (pair in sem)
