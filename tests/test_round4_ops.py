"""Round-4 operator additions: SimHash Hamming pair search (banding
completeness), repetition stats (DuckDB parity), rank-only
distributed window, stratified sampling (determinism + bounds), quality
filter (rule order)."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from plumberapp_spark.llm.dedup import simhash_hamming_pairs, simhash_table  # noqa: E402
from plumberapp_spark.llm.sampling import stratified_sample  # noqa: E402
from plumberapp_spark.llm.textqa import quality_filter, repetition_stats  # noqa: E402
from plumberapp_spark.operators.windows import ranked_running_total  # noqa: E402
from plumberapp_spark.queries_llm import (  # noqa: E402
    chunking_sql,
    decontamination_sql,
    top_ngrams_sql,
)
from plumberapp_spark.registry import REGISTRY  # noqa: E402
from tests.conftest import assert_matches_duckdb  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


# ------------------------------------------------------------------
# SimHash Hamming pairs
# ------------------------------------------------------------------


def _brute_force_pairs(spark, df, max_hamming):
    sigs = simhash_table(df, "text", "doc_id", bits=16).collect()
    out = set()
    for i, a in enumerate(sigs):
        for b in sigs[i + 1 :]:
            ham = bin(a["simhash"] ^ b["simhash"]).count("1")
            if ham <= max_hamming:
                pair = (min(a["doc_id"], b["doc_id"]), max(a["doc_id"], b["doc_id"]), ham)
                out.add(pair)
    return out


def test_hamming_banding_is_complete(spark):
    # pigeonhole banding must reproduce the brute-force pair set exactly
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(120)
    for d in (0, 1, 2):
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_hamming_pairs(docs, max_hamming=d).collect()
        }
        want = _brute_force_pairs(spark, docs, d)
        assert got == want, f"max_hamming={d}: banding missed or invented pairs"


def test_hamming_pairs_ordered_and_bounded(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(200)
    rows = simhash_hamming_pairs(docs, max_hamming=2).collect()
    assert all(r["id_a"] < r["id_b"] for r in rows)
    assert all(0 <= r["hamming"] <= 2 for r in rows)


def test_hamming_rejects_bad_params(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    import pytest

    with pytest.raises(ValueError):
        simhash_hamming_pairs(docs, max_hamming=-1)
    with pytest.raises(ValueError):
        simhash_hamming_pairs(docs, bits=4, max_hamming=4)


# ------------------------------------------------------------------
# Repetition stats
# ------------------------------------------------------------------


def test_repetition_vectorized_matches_expression(spark, duck):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert_matches_duckdb(repetition_stats(docs), REGISTRY["q60_repetition_stats"].oracle, duck)


def test_repetition_edge_rows(spark):
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "x"), (4, "a a a a"), (5, "a b c d e")],
        "doc_id bigint, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert rows[1]["n_tokens"] == 0 and rows[1]["dup_word_frac"] == 0.0
    assert rows[3]["dup_ngram_frac"] == 0.0  # shorter than the n-gram width
    assert rows[4]["dup_word_frac"] == 0.75 and rows[4]["top_word_frac"] == 1.0
    assert rows[5]["dup_word_frac"] == 0.0 and rows[5]["top_word_frac"] == 0.2
    assert_matches_duckdb(
        repetition_stats(df), REGISTRY["q60_repetition_stats"].oracle, documents=df
    )


# ------------------------------------------------------------------
# Rank-only distributed window
# ------------------------------------------------------------------


def test_rank_only_matches_full_mode(spark):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    kw = dict(
        part_col="o_orderpriority",
        order_col="o_totalprice",
        id_col="o_orderkey",
        rank_name="rk",
        n_buckets=8,
    )
    rank_only = {
        r["o_orderkey"]: r["rk"]
        for r in ranked_running_total(orders, total_name=None, **kw).collect()
    }
    full = {
        r["o_orderkey"]: r["rk"]
        for r in ranked_running_total(orders, total_name="_rt", **kw).collect()
    }
    assert rank_only == full


# ------------------------------------------------------------------
# Stratified sampling
# ------------------------------------------------------------------


def test_stratified_sample_bounds_and_determinism(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("lang", "doc_id")
    a = stratified_sample(docs, "lang", "doc_id", k=10, n_buckets=1).collect()
    by_lang = {}
    for r in a:
        by_lang.setdefault(r["lang"], []).append(r["doc_id"])
    for lang, ids in by_lang.items():
        assert len(ids) == 10, f"{lang}: expected exactly 10 (stratum is larger than k)"
    # layout-independent: a different partitioning and the bucketed rank
    # path must pick the identical sample
    b = stratified_sample(docs.repartition(7), "lang", "doc_id", k=10, n_buckets=8).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# ------------------------------------------------------------------
# Quality filter
# ------------------------------------------------------------------


def test_quality_filter_first_failing_rule_wins(spark):
    # one doc per failure mode, plus a multi-fail doc that must report the
    # FIRST rule in order (too_short before repetition)
    many = " ".join(["the data over with from that this have"] * 5)  # stopword-heavy
    good = "the quick brown fox jumps over the lazy dog " + " ".join(
        f"word{i}" for i in range(15)
    )
    df = spark.createDataFrame(
        [
            (1, "tiny doc"),  # too_short (and no stopwords) -> too_short first
            (2, " ".join(f"w{i}!!!" for i in range(30))),  # punctuation
            (3, " ".join(f"uniq{i}" for i in range(30))),  # no stopwords
            (4, "the " + " ".join(["dup"] * 30)),  # repetition (has stopword 'the')
            (5, good),  # keep
        ],
        "doc_id bigint, text string",
    )
    rows = {r["doc_id"]: r for r in quality_filter(df).collect()}
    assert rows[1]["reason"] == "too_short" and not rows[1]["keep"]
    assert rows[2]["reason"] == "punctuation"
    assert rows[3]["reason"] == "stopwords"
    assert rows[4]["reason"] == "repetition"
    assert rows[5]["reason"] == "keep" and rows[5]["keep"]
    assert many  # silence lint for the helper string if unused


def test_quality_filter_real_corpus_is_mixed(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    counts = {
        r["reason"]: r["n"]
        for r in quality_filter(docs).groupBy("reason").agg(F.count("*").alias("n")).collect()
    }
    assert counts.get("keep", 0) > 0, "filter keeps nothing - thresholds wrong"
    assert sum(v for k, v in counts.items() if k != "keep") > 0, "filter drops nothing"


def test_quality_filter_vectorized_matches_expression(spark, duck):
    oracle = REGISTRY["q62_quality_filter"].oracle
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert_matches_duckdb(quality_filter(docs), oracle, duck)
    # Row 5: 21 tokens, every other rule passes, and the punctuation
    # ratio is 0.155 in characters but 0.256 in UTF-8 bytes (each 'ñ' is
    # one non-word character of two bytes) — it keeps only where the
    # ratio counts characters, as the Arrow gate and the oracle's
    # length() both do (DuckDB's strlen() counts bytes).
    edge = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "the " * 30),
            (4, "x! " * 40),
            (5, "añ señor, the and of! piña caña baño daño leña moño niño paño"
                " sueño viña otoño mañana the river in town"),
        ],
        "doc_id bigint, text string",
    )
    got = {r[0]: r[1] for r in assert_matches_duckdb(quality_filter(edge), oracle, documents=edge)}
    assert got[5] == "keep"


# ------------------------------------------------------------------
# Connected components
# ------------------------------------------------------------------


def test_connected_components_chain_and_singleton(spark):
    from plumberapp_spark.llm.dedup import connected_components

    # chain 1-2-3-4, pair 10-11, singleton 20
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a bigint, id_b bigint"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 10, 11, 20)], "doc_id bigint"
    )
    rows = {r["doc_id"]: (r["cluster_label"], r["cluster_size"]) for r in
            connected_components(edges, nodes).collect()}
    assert rows == {
        1: (1, 4), 2: (1, 4), 3: (1, 4), 4: (1, 4),
        10: (10, 2), 11: (10, 2), 20: (20, 1),
    }


def test_connected_components_nonconvergence_raises(spark):
    import pytest

    from plumberapp_spark.llm.dedup import connected_components

    # a 6-chain cannot converge in 1 round of min-label propagation
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "id_a bigint, id_b bigint"
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id bigint")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, nodes, max_iters=1)


# ------------------------------------------------------------------
# Sequence packing + top n-grams
# ------------------------------------------------------------------


def test_pack_by_token_budget_bucketed_matches_plain(spark):
    from plumberapp_spark.llm.sampling import pack_by_token_budget

    df = spark.createDataFrame(
        [(i, 10 + (i * 7) % 30) for i in range(200)], "doc_id bigint, n_toks bigint"
    )
    plain = {r["doc_id"]: tuple(r)[1:] for r in
             pack_by_token_budget(df, "doc_id", "n_toks", 64, n_buckets=1).collect()}
    dist = {r["doc_id"]: tuple(r)[1:] for r in
            pack_by_token_budget(df.repartition(5), "doc_id", "n_toks", 64, n_buckets=8).collect()}
    assert plain == dist
    # bin assignment: doc starts in bin floor(exclusive_offset / budget)
    offs = 0
    for i in range(200):
        toks = 10 + (i * 7) % 30
        assert plain[i] == (toks, offs, offs // 64)
        offs += toks


def test_pack_by_token_budget_rejects_bad_budget(spark):
    import pytest

    from plumberapp_spark.llm.sampling import pack_by_token_budget

    df = spark.createDataFrame([(1, 5)], "doc_id bigint, n_toks bigint")
    with pytest.raises(ValueError):
        pack_by_token_budget(df, "doc_id", "n_toks", 0)


def test_top_ngrams_counts_and_ties(spark):
    from plumberapp_spark.llm.textqa import top_ngrams

    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b x"), (3, "zz")],
        "doc_id bigint, text string",
    )
    rows = [(r["ngram"], r["n_occurrences"]) for r in top_ngrams(df, n=2, k=3).collect()]
    # "a b" appears 3x (twice in doc1: positions 1 and 3? no — 'a b','b a','a b','b c' -> 2x + doc2 1x = 3)
    assert rows[0] == ("a b", 3)
    assert rows[1][1] <= 3 and len(rows) == 3


def test_top_ngrams_vectorized_matches_expression(spark, duck):
    from plumberapp_spark.llm.textqa import top_ngrams

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    fast = [(r["ngram"], r["n_occurrences"]) for r in top_ngrams(docs, n=3, k=30).collect()]
    want = [tuple(r) for r in duck.execute(top_ngrams_sql(3, 30)).fetchall()]
    assert fast == want  # in order: count desc, then gram asc


# ------------------------------------------------------------------
# Property tests (hypothesis): components fixpoint, packing prefix sum
# ------------------------------------------------------------------


def test_connected_components_random_graphs_match_union_find(spark):
    import random

    from plumberapp_spark.llm.dedup import connected_components

    rng = random.Random(7)
    for trial in range(4):
        n = rng.randint(2, 30)
        nodes = list(range(n))
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(rng.randint(0, 2 * n))
        ]
        edges = [(a, b) for a, b in edges if a != b]
        # reference: plain union-find
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {x: min(y for y in nodes if find(y) == find(x)) for x in nodes}
        edf = spark.createDataFrame(edges or [(0, 0)], "id_a bigint, id_b bigint")
        if not edges:
            edf = edf.filter("id_a != id_b")
        ndf = spark.createDataFrame([(x,) for x in nodes], "doc_id bigint")
        got = {
            r["doc_id"]: r["cluster_label"]
            for r in connected_components(edf, ndf).collect()
        }
        assert got == want, f"trial {trial}: n={n} edges={edges}"


def test_packing_random_sizes_match_reference(spark):
    import random

    from plumberapp_spark.llm.sampling import pack_by_token_budget

    rng = random.Random(11)
    sizes = [(i, rng.randint(0, 50)) for i in range(150)]
    budget = 37
    df = spark.createDataFrame(sizes, "doc_id bigint, n_toks bigint")
    got = {r["doc_id"]: (r["token_offset"], r["bin_id"]) for r in
           pack_by_token_budget(df, "doc_id", "n_toks", budget, n_buckets=6).collect()}
    off = 0
    for i, toks in sizes:
        assert got[i] == (off, off // budget)
        off += toks


def test_decontaminate_vectorized_matches_expression(spark, duck):
    from plumberapp_spark.llm.dedup import decontaminate

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    fast = {
        r[0]: r[1:]
        for r in assert_matches_duckdb(
            decontaminate(docs, bench), decontamination_sql(bench_mod=50), duck
        )
    }
    # the benchmark slice itself is contaminated by construction
    assert all(fast[r["doc_id"]][1] for r in bench.select("doc_id").collect())


# ------------------------------------------------------------------
# Chunking, quota sampling, hash split
# ------------------------------------------------------------------


def test_chunk_documents_edges(spark):
    from plumberapp_spark.llm.textqa import chunk_documents

    df = spark.createDataFrame(
        [(1, ""), (2, "a b c"), (3, " ".join(f"t{i}" for i in range(10)))],
        "doc_id bigint, text string",
    )
    rows = chunk_documents(df, max_tokens=4, overlap=1).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 1 not in by_doc  # empty doc -> no chunks
    assert [r["chunk_text"] for r in sorted(by_doc[2], key=lambda r: r["chunk_id"])] == ["a b c"]
    c3 = sorted(by_doc[3], key=lambda r: r["chunk_id"])
    assert [r["chunk_text"] for r in c3] == [
        "t0 t1 t2 t3", "t3 t4 t5 t6", "t6 t7 t8 t9", "t9"
    ]
    assert [r["n_chunk_tokens"] for r in c3] == [4, 4, 4, 1]
    import pytest

    with pytest.raises(ValueError):
        chunk_documents(df, max_tokens=4, overlap=4)


def test_hash_split_weights_and_determinism(spark):
    from plumberapp_spark.llm.sampling import hash_split

    df = spark.range(0, 10_000).withColumnRenamed("id", "doc_id")
    counts = {
        r["split"]: r["n"]
        for r in hash_split(df, "doc_id").groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] - 8000) < 400 and abs(counts["val"] - 1000) < 200
    # repartitioning must not move anyone across splits
    a = {r["doc_id"]: r["split"] for r in hash_split(df, "doc_id").collect()}
    b = {r["doc_id"]: r["split"] for r in hash_split(df.repartition(7), "doc_id").collect()}
    assert a == b
    import pytest

    with pytest.raises(ValueError):
        hash_split(df, "doc_id", weights={"train": 50, "val": 10})


def test_quota_sample_respects_each_quota(spark):
    from plumberapp_spark.llm.sampling import quota_sample

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("lang", "doc_id")
    out = quota_sample(docs, "lang", "doc_id", quotas={"en": 7, "zh": 3}, n_buckets=4)
    counts = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {"en": 7, "zh": 3}  # whitelist semantics: others dropped


def test_chunk_documents_vectorized_matches_expression(spark, duck):
    from plumberapp_spark.llm.textqa import chunk_documents

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert_matches_duckdb(
        chunk_documents(docs, max_tokens=24, overlap=8), chunking_sql(24, 8), duck
    )


def test_dedup_against_null_text_matches_empty(spark):
    # ADVICE r4: md5(NULL) is NULL and never equi-joins, so NULL-text rows
    # used to always survive the anti join while the oracle's NOT IN
    # dropped them (and a NULL in the reference made NOT IN drop every
    # row). Contract now pinned: NULL text == empty document, both sides.
    from plumberapp_spark.llm.dedup import dedup_against

    new = spark.createDataFrame(
        [(1, None), (2, ""), (3, "fresh"), (4, "seen")], "doc_id long, text string"
    )
    # reference contains an empty doc -> NULL and "" in `new` must both drop
    ref = spark.createDataFrame([(10, ""), (11, "seen")], "doc_id long, text string")
    kept = sorted(r.doc_id for r in dedup_against(new, ref).collect())
    assert kept == [3]
    # NULL in the REFERENCE must behave as empty too, not poison the join
    ref2 = spark.createDataFrame([(10, None), (11, "seen")], "doc_id long, text string")
    kept2 = sorted(r.doc_id for r in dedup_against(new, ref2).collect())
    assert kept2 == [3]


def test_line_dedup_behavior(spark):
    # C4-style line dedup (round 5): a repeated line survives only at its
    # globally-first (doc_id, pos); docs reassemble in original order;
    # NULL text = empty doc.
    from plumberapp_spark.llm.dedup import line_dedup

    df = spark.createDataFrame(
        [
            (1, "unique one\ncommon line\nunique two"),
            (2, "common line\nother text"),
            (3, "common line"),
            (4, "a\na\nb"),  # intra-doc repeat: first 'a' survives
            (5, None),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in line_dedup(df).collect()}
    assert rows[1].clean_text == "unique one\ncommon line\nunique two"
    assert rows[1].n_removed == 0
    assert rows[2].clean_text == "other text" and rows[2].n_removed == 1
    assert rows[3].clean_text == "" and rows[3].n_removed == 1
    assert rows[4].clean_text == "a\nb" and rows[4].n_removed == 1
    assert rows[5].n_lines == 1  # NULL -> one empty line
    # max_occurrences=2: a line in two places survives everywhere
    relaxed = {r.doc_id: r for r in line_dedup(df, max_occurrences=3).collect()}
    assert relaxed[2].clean_text == "common line\nother text"
    assert relaxed[3].clean_text == "common line"
