"""The Arrow (mapInPandas) MinHash signature path must be bit-identical
to the MinHash definition: per doc, the distinct word n-gram shingles'
56-bit md5 prefixes folded through each affine permutation
``(a*h + b) mod M61`` and minimized — here a pure-Python reference
(dedup.py:_signature_arrays has the measurements behind the Arrow
form)."""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from plumberapp_spark.functions.hashing import MERSENNE61, minhash_perm_params  # noqa: E402
from plumberapp_spark.llm.dedup import _signature_arrays  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def _reference_signature(text, num_perm, ngram):
    """Python ints throughout (no uint64 wrap to hide), the DuckDB
    oracle's whitespace class, NULL when the doc has no shingle."""
    import re

    toks = [t for t in re.split(r"[ \t\n\f\r]+", text or "") if t]
    shingles = {" ".join(toks[i : i + ngram]) for i in range(len(toks) - ngram + 1)}
    if not shingles:
        return None
    hashes = [int(hashlib.md5(s.encode()).hexdigest()[:14], 16) for s in shingles]
    return [
        min((a * h + b) % MERSENNE61 for h in hashes)
        for a, b in map(minhash_perm_params, range(num_perm))
    ]


def test_vectorized_signature_matches_expression_form(spark):
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    num_perm, ngram = 8, 3

    fast = {
        r[0]: r[1]
        for r in _signature_arrays(df, "text", "doc_id", num_perm, ngram).collect()
    }
    ref = {
        r["doc_id"]: _reference_signature(r["text"], num_perm, ngram)
        for r in df.select("doc_id", "text").collect()
    }
    assert fast == ref
    assert any(sig is not None for sig in ref.values())


def test_vectorized_signature_handles_short_and_null_docs(spark):
    df = spark.createDataFrame(
        [(1, "one two"), (2, None), (3, "a b c d"), (4, "   ")],
        "doc_id bigint, text string",
    )
    sigs = {r[0]: r[1] for r in _signature_arrays(df, "text", "doc_id", 4, 3).collect()}
    assert sigs[1] is None and sigs[2] is None and sigs[4] is None
    assert sigs[3] is not None and len(sigs[3]) == 4


def test_null_signature_docs_never_band(spark):
    # Docs with fewer tokens than the shingle width have NULL signatures;
    # they must be dropped before banding (concat_ws skips NULLs, so they
    # would otherwise all collide into one hot band key per band and pair
    # with each other quadratically).
    from plumberapp_spark.llm.dedup import minhash_lsh_candidates

    rows = [(i, "x") for i in range(20)] + [
        (100, "the quick brown fox jumps over the lazy dog"),
        (101, "the quick brown fox jumps over the lazy dog"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = minhash_lsh_candidates(df, "text", "doc_id", num_perm=8, bands=4).collect()
    ids = {r for p in pairs for r in (p["id_a"], p["id_b"])}
    assert ids == {100, 101}


def test_bands_must_divide_num_perm(spark):
    import pytest

    from plumberapp_spark.llm.dedup import minhash_lsh_candidates

    df = spark.createDataFrame([(1, "a b c d")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="divisible"):
        minhash_lsh_candidates(df, "text", "doc_id", num_perm=7, bands=4)


def test_max_bucket_size_caps_pairs(spark):
    from plumberapp_spark.llm.dedup import minhash_lsh_candidates

    text = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [(i, text) for i in range(10)], "doc_id bigint, text string"
    )
    capped = minhash_lsh_candidates(
        df, "text", "doc_id", num_perm=8, bands=4, max_bucket_size=3
    ).collect()
    # 3-id buckets -> C(3,2)=3 pairs, vs C(10,2)=45 uncapped
    assert len(capped) == 3


def test_dedup_then_jaccard_matches_jaccard_over_distinct_texts(spark):
    """Composition law: dedup_then_jaccard == ngram_jaccard_pairs over
    the min-id survivor of each distinct text — and on an input WITH
    duplicates it emits no pair of two copies of the same text."""
    from pyspark.sql import functions as F

    from plumberapp_spark.llm.dedup import (
        dedup_then_jaccard,
        exact_text_survivors,
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    # plant exact duplicates with new ids
    dup = docs.limit(20).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    with_dups = docs.unionByName(dup)

    composed = sorted(
        map(tuple, dedup_then_jaccard(with_dups, "text", "doc_id", threshold=0.2).collect())
    )
    survivors = exact_text_survivors(with_dups, "text", "doc_id")
    direct = sorted(
        map(tuple, ngram_jaccard_pairs(survivors, "text", "doc_id", threshold=0.2).collect())
    )
    assert composed == direct
    # survivors keep the ORIGINAL min ids, so no planted-dup id appears
    assert all(a < 1_000_000 and b < 1_000_000 for a, b, _ in composed)
