"""The Arrow (mapInPandas) text operators against their definitions:
DuckDB SQL — the registered oracles, or the same SQL at the test's
parameters — run on the very rows each operator saw. Pins the md5 prefix
hashing and majority vote of SimHash, the language argmax tie-break,
NULL / empty / short docs, and the one whitespace class (NBSP, U+2028,
ideographic space and U+000B) shared by every tokenizer."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from plumberapp_spark.llm.dedup import simhash_table  # noqa: E402
from plumberapp_spark.llm.textqa import language_id  # noqa: E402
from plumberapp_spark.queries_llm import (  # noqa: E402
    JACCARD_PAIRS_SQL,
    chunking_sql,
    top_ngrams_sql,
)
from plumberapp_spark.registry import REGISTRY  # noqa: E402
from tests.conftest import assert_matches_duckdb  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def _oracle(name: str) -> str:
    return REGISTRY[name].oracle


def test_simhash_vectorized_matches_expression(spark, duck):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert_matches_duckdb(simhash_table(docs, "text", "doc_id"), _oracle("q18_simhash"), duck)


def test_simhash_edge_rows(spark):
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "one"), (5, "a b a b a")],
        "doc_id bigint, text string",
    )
    got = dict(
        assert_matches_duckdb(
            simhash_table(df, "text", "doc_id"), _oracle("q18_simhash"), documents=df
        )
    )
    assert got[1] == got[2] == got[3] == 0  # no tokens: no bit wins a majority


def test_language_id_vectorized_matches_expression(spark, duck):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert_matches_duckdb(language_id(docs), _oracle("q23_language_id"), duck)


def test_language_id_tie_break(spark):
    # 'la' is a marker for both es and fr; one hit each -> strictly-greater
    # argmax over name-sorted languages keeps the earliest (es). 'der die
    # und' -> de. no markers -> und.
    df = spark.createDataFrame(
        [(1, "la"), (2, "der die und"), (3, "zzz qqq"), (4, None)],
        "doc_id bigint, text string",
    )
    fast = dict(assert_matches_duckdb(language_id(df), _oracle("q23_language_id"), documents=df))
    assert fast[1] == "es" and fast[2] == "de" and fast[3] == "und" and fast[4] == "und"


def test_ngram_jaccard_vectorized_matches_expression(spark, duck):
    from plumberapp_spark.llm.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.0)
    assert_matches_duckdb(pairs, JACCARD_PAIRS_SQL, duck)


def test_token_stats_vectorized_matches_expression_form(spark, duck):
    from plumberapp_spark.llm.textqa import token_stats

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    rows = assert_matches_duckdb(token_stats(docs), _oracle("q24_token_stats"), duck)
    assert len(rows) > 0


def test_unicode_whitespace_parity(spark):
    # ADVICE r4: the Arrow paths once tokenized with Python's
    # Unicode-aware \s+ while Spark's expressions used Java's \s — on
    # NBSP / U+2028 / ideographic-space text (common in web corpora) the
    # engines silently diverged and the ASCII-only test corpus hid it.
    # All splitters now share functions.text's one whitespace class
    # (split_tokens on the Arrow side). Pin every Arrow text operator
    # against DuckDB on exactly the texts that used to diverge, U+000B
    # and non-ASCII letters included.
    from plumberapp_spark.llm.dedup import ngram_jaccard_pairs
    from plumberapp_spark.llm.textqa import (
        chunk_documents,
        quality_filter,
        repetition_stats,
        token_stats,
        top_ngrams,
    )

    rows = [
        (1, "the cat and the dog"),          # NBSP joins, ASCII splits
        (2, "one two three and the of to"),  # line separator
        (3, "ideographic　space　tokens in the"),
        (4, "plain ascii text the and of"),
        (5, "mixed   joined and split the"),
        (6, ""),
        (7, None),
        (8, "vertical\x0btab joins, the; and of!"),  # U+000B: one token
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    for out, sql in [
        (token_stats(docs), _oracle("q24_token_stats")),
        (language_id(docs), _oracle("q23_language_id")),
        (repetition_stats(docs), _oracle("q60_repetition_stats")),
        (quality_filter(docs), _oracle("q62_quality_filter")),
        (top_ngrams(docs, n=2, k=50), top_ngrams_sql(2, 50)),
        (chunk_documents(docs, max_tokens=3), chunking_sql(3, 0)),
        (ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.0), JACCARD_PAIRS_SQL),
    ]:
        assert_matches_duckdb(out, sql, documents=docs)

    _assert_whitespace_matches_duckdb(spark, docs, rows)


def _assert_whitespace_matches_duckdb(spark, docs, rows):
    """The DuckDB oracles split on RE2's \\s = [ \\t\\n\\f\\r], which
    leaves U+000B inside a token and counts it as punctuation. Token
    counts (the Catalyst tokenizer and the Arrow token_stats), the
    quality punctuation ratio and segmented BM25 must agree with DuckDB
    SQL on the same rows."""
    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    from plumberapp_spark.functions.text import quality_features, token_count
    from plumberapp_spark.llm.segments import bm25_topk_segmented, build_segmented_index
    from plumberapp_spark.llm.textqa import token_stats
    from plumberapp_spark.queries_llm import QTOKS, TOKS

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = {
        r[0]: (r[1], round(r[2], 6))
        for r in con.execute(
            f"""SELECT doc_id, len({TOKS}),
                       CASE WHEN length(text) > 0
                            THEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                                 / length(text)
                            ELSE 0.0 END
                FROM documents WHERE text IS NOT NULL"""
        ).fetchall()
    }
    assert want[8][0] == 5, "DuckDB keeps vertical<VT>tab as one token"
    feats = quality_features(F.col("text"))
    got = {
        r[0]: (r[1], round(r[2], 6))
        for r in docs.filter("text IS NOT NULL")
        .select("doc_id", token_count(F.col("text")), feats["punct_ratio"])
        .collect()
    }
    assert got == want
    arrow = {r["doc_id"]: r["n_tokens"] for r in token_stats(docs).collect()}
    assert {d: arrow[d] for d in want} == {d: n for d, (n, _) in want.items()}

    qrows = [(9000001, "vertical\x0btab joins,"), (9000002, "vertical tab the of")]
    con.register("queries", pd.DataFrame(qrows, columns=["query_id", "q_text"]))
    bm25 = con.execute(
        f"""
        WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
             tok AS (SELECT doc_id, unnest(toks) AS tk FROM t),
             tf AS (SELECT doc_id, tk, count(*) AS tf FROM tok GROUP BY 1, 2),
             dfreq AS (SELECT tk, count(*) AS df FROM tf GROUP BY 1),
             dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
             sc AS (SELECT count(*) AS nd, avg(len(toks)) AS avgdl FROM t),
             w AS (SELECT tf.doc_id, tf.tk,
                          ln(1.0 + (sc.nd - d.df + 0.5) / (d.df + 0.5))
                            * (tf.tf * 2.2)
                            / (tf.tf + 1.2 * (0.25 + (0.75 * dl.dl) / sc.avgdl)) AS w
                   FROM tf JOIN dfreq d USING (tk) JOIN dl USING (doc_id), sc),
             qt AS (SELECT DISTINCT query_id, tk
                    FROM (SELECT query_id, unnest({QTOKS}) AS tk FROM queries))
        SELECT qt.query_id, w.doc_id, round(sum(w.w), 6)
        FROM w JOIN qt USING (tk) GROUP BY 1, 2"""
    ).fetchall()
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        build_segmented_index(docs, f"{tmp}/lex")
        served = bm25_topk_segmented(
            spark, f"{tmp}/lex", spark.createDataFrame(qrows, "query_id long, q_text string"), k=100
        ).collect()
    assert {(r[0], r[1], r[2]) for r in served} == set(bm25)
    assert any(r[0] == 9000001 and r[1] == 8 for r in bm25)


def test_redact_pii_behavior(spark):
    # Real-redaction contract on injected PII (the synthetic corpus is
    # clean, so q75's oracle alone would never exercise a replacement).
    from plumberapp_spark.llm.textqa import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail john.doe+x@example.com or a.b@c.io now"),
            (2, "host 192.168.0.1 plus 10.0.0.255"),
            (3, "call +1 555 123 4567 or 089-1234-5678"),
            (4, "clean text, no identifiers at all"),
            (5, ""),
            (6, None),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in redact_pii(df).collect()}
    assert rows[1].clean_text == "mail <EMAIL> or <EMAIL> now" and rows[1].n_emails == 2
    assert rows[2].clean_text == "host <IP> plus <IP>" and rows[2].n_ips == 2
    assert rows[3].n_phones == 2 and "<PHONE>" in rows[3].clean_text
    assert rows[4].clean_text == "clean text, no identifiers at all"
    assert (rows[4].n_emails, rows[4].n_ips, rows[4].n_phones) == (0, 0, 0)
    assert rows[6].clean_text == ""  # NULL = empty doc convention


def test_unigram_logprob_contract(spark):
    # q77: frequent-token docs score higher than OOV-dense docs; empty
    # and NULL docs yield NULL scores with n_tokens=0; scores bounded by
    # the smoothed model's own range.
    import math

    from plumberapp_spark.llm.textqa import unigram_logprob_score

    df = spark.createDataFrame(
        [
            (1, "the the the the"),
            (2, "zzzqx wvvkj pqrst"),  # all OOV-ish singletons
            (3, ""),
            (4, None),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in unigram_logprob_score(df, vocab_size=2).collect()}
    assert rows[1].mean_logprob > rows[2].mean_logprob
    assert rows[3].n_tokens == 0 and rows[3].mean_logprob is None
    assert rows[4].n_tokens == 0 and rows[4].mean_logprob is None
    total, v = 7, 2  # 7 tokens corpus-wide, vocab_size=2
    assert rows[1].mean_logprob == round(math.log((4 + 1) / (total + v)), 4)


def test_perplexity_buckets_terciles(spark):
    # q79: ranks 1..6 split head/middle/tail 2-2-2; tokenless docs get
    # NULL rank and land in 'tail'; rank is best-first (highest
    # mean_logprob = rank 1) with doc_id tie-break.
    from plumberapp_spark.llm.textqa import perplexity_buckets

    df = spark.createDataFrame(
        [
            (1, "the the the the the the"),  # most in-vocab -> best score
            (2, "the the the cat"),
            (3, "the cat sat mat"),
            (4, "cat sat mat hat"),
            (5, "zzxq wvkj pqst brrw"),
            (6, "qqa qqb qqc qqd"),  # all singletons, same shape as 5
            (7, ""),
            (8, None),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in perplexity_buckets(df, vocab_size=3).collect()}
    assert rows[1].ppl_rank == 1 and rows[1].bucket == "head"
    assert {rows[d].bucket for d in (1, 2)} == {"head"}
    assert {rows[d].bucket for d in (3, 4)} == {"middle"}
    assert {rows[d].bucket for d in (5, 6)} == {"tail"}
    assert rows[7].ppl_rank is None and rows[7].bucket == "tail"
    assert rows[8].ppl_rank is None and rows[8].bucket == "tail"
    assert sorted(rows[d].ppl_rank for d in (1, 2, 3, 4, 5, 6)) == [1, 2, 3, 4, 5, 6]


def _py_tfidf(texts: dict[int, str]):
    # independent pure-Python tf-idf: whitespace tokens, ln(N/df)
    # weights, norms over ALL tokens
    import math
    import re
    from collections import Counter

    ws = re.compile(r"\s+", re.ASCII)  # Java \s is ASCII — match the engine
    tf = {
        d: Counter(t for t in ws.split(txt) if t) if txt else Counter()
        for d, txt in texts.items()
    }
    n = len(texts)
    dfreq = Counter(t for c in tf.values() for t in c)
    w = {
        d: {t: c * math.log(n / dfreq[t]) for t, c in cnt.items()}
        for d, cnt in tf.items()
    }
    nrm = {d: math.sqrt(sum(v * v for v in wv.values())) for d, wv in w.items()}
    return w, nrm, dfreq


def _synth_corpus():
    # 30 docs over a realistic (spread-out) vocabulary: a-tokens df=3,
    # b-tokens df=6, c-tokens df=10, 'common' df=30 — so a df-cap of 6
    # genuinely BINDS (unlike the driver testdata's 31-token vocabulary
    # where every df ≥ 25 and a fixed cap excludes everything)
    return {
        i: f"a{i % 10} b{i % 5} c{i // 10} common a{i % 10}" for i in range(30)
    }


def test_tfidf_cosine_pairs_matches_python_reference(spark):
    # q80 family: pair mining must agree with the independent reference
    # pair-for-pair after the 6-dp round, with the cap excluding hot
    # tokens from intersections but not norms.
    from plumberapp_spark.llm.dedup import tfidf_cosine_pairs

    texts = _synth_corpus()
    w, nrm, dfreq = _py_tfidf(texts)
    max_df = 6
    expected = {}
    ids = sorted(texts)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            dot = sum(
                w[a][t] * w[b][t]
                for t in w[a].keys() & w[b].keys()
                if 2 <= dfreq[t] <= max_df
            )
            if dot:
                expected[(a, b)] = round(dot / (nrm[a] * nrm[b]), 6)
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.cos_sim
        for r in tfidf_cosine_pairs(df, max_df=max_df).collect()
    }
    assert set(got) == set(expected) and len(expected) > 10
    for k in expected:
        assert abs(got[k] - expected[k]) <= 1e-6, (k, got[k], expected[k])


def test_tfidf_topk_matches_python_reference(spark):
    # q80: top-10 search for 3 query docs vs the uncapped reference
    # ranking (round-6-then-rank, neighbor-id tie-break).
    from plumberapp_spark.llm.dedup import tfidf_topk

    texts = _synth_corpus()
    w, nrm, _ = _py_tfidf(texts)
    expected = {}
    for q in (0, 1, 2):
        scored = []
        for d in texts:
            if d == q:
                continue
            shared = w[q].keys() & w[d].keys()
            if not shared:
                continue
            dot = sum(w[q][t] * w[d][t] for t in shared)
            scored.append((round(dot / (nrm[q] * nrm[d]), 6), d))
        scored.sort(key=lambda s: (-s[0], s[1]))
        for rank, (sim, d) in enumerate(scored[:10], start=1):
            expected[(q, d)] = (sim, rank)
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        (r.query_id, r.neighbor_id): (r.cos_sim, r.rank)
        for r in tfidf_topk(df, df.filter("doc_id < 3"), k=10).collect()
    }
    assert set(got) == set(expected)
    for k, (sim, rank) in expected.items():
        assert got[k][1] == rank and abs(got[k][0] - sim) <= 1e-6, (k, got[k], (sim, rank))


def test_tfidf_cap_excludes_hot_tokens_from_pairs_not_norms(spark):
    # A token in every doc (df > max_df) must not create pairs on its
    # own, but still weighs into norms (idf may be 0 only when df == N).
    from plumberapp_spark.llm.dedup import tfidf_cosine_pairs

    df = spark.createDataFrame(
        [
            (1, "common alpha beta"),
            (2, "common alpha beta"),
            (3, "common gamma delta"),
            (4, "common epsilon zeta"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.id_a, r.id_b): r.cos_sim
        for r in tfidf_cosine_pairs(df, max_df=3).collect()
    }
    # 'common' has df=4 > 3: docs 3 and 4 share ONLY it -> no pair rows
    assert (3, 4) not in pairs and (1, 3) not in pairs
    # docs 1-2 share alpha+beta (df=2 each); 'common' idf = ln(4/4) = 0,
    # so their capped cosine is exactly 1 (identical surviving vectors)
    assert pairs[(1, 2)] == 1.0


def test_perplexity_buckets_distributed_rank_parity(spark):
    # The forced multi-bucket prefix-rank route must emit exactly the
    # plain-window route's rows (the scale path is a pure substitution).
    from plumberapp_spark.llm.textqa import perplexity_buckets

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plain = {tuple(r) for r in perplexity_buckets(docs, n_buckets=1).collect()}
    dist = {tuple(r) for r in perplexity_buckets(docs, n_buckets=4).collect()}
    assert plain == dist


def test_bigram_logprob_fluency_ordering_and_edges(spark):
    """The bigram score must separate what unigrams cannot: a doc in
    the corpus's dominant token ORDER outscores the same bag reversed;
    sub-2-token docs get n_bigrams=0 and a NULL score."""
    from plumberapp_spark.llm.textqa import bigram_logprob_score

    rows = [(i, "the quick fox jumps") for i in range(20)]
    rows += [(100, "jumps fox quick the"), (101, "solo"), (102, None)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in bigram_logprob_score(docs).collect()}
    assert got[0]["mean_logprob"] > got[100]["mean_logprob"]
    assert got[101]["n_bigrams"] == 0 and got[101]["mean_logprob"] is None
    assert got[102]["n_bigrams"] == 0 and got[102]["mean_logprob"] is None
    # unigram counts are identical for the two orderings — only the
    # bigram term separates them
    assert got[0]["n_bigrams"] == got[100]["n_bigrams"] == 3
