"""Large-scale training-data operators (the north-star extension surface).

Everything here is built from the same column-function layer as the rest of
the engine (md5-derived hashing so every operator has an exact DuckDB
oracle) and designed shuffle-first for 100 TB:

* exact dedup        — one hash-groupBy, map-side partial aggregation
* MinHash + LSH      — signature computed in ONE narrow pass (no shuffle),
                       the only exchange is the band-bucket groupBy
* SimHash            — one row-local Arrow pass, zero shuffle
* n-gram Jaccard     — inverted-index self-join with hot-shingle pruning
* embedding ANN      — brute-force top-k (oracle path) + LSH-bucketed
                       variant (scale path)
* text analysis      — langid / quality / tokens / fingerprint projections
* multimodal         — binary columns + Arrow-batched decode plumbing
"""

from plumberapp_spark.llm.dedup import (
    exact_dedup,
    ngram_jaccard_pairs,
    minhash_signature,
    minhash_lsh_candidates,
    simhash_table,
)
from plumberapp_spark.llm.similarity import brute_force_topk, lsh_bucketed_topk
from plumberapp_spark.llm.textqa import text_quality, language_id, document_fingerprints

__all__ = [
    "exact_dedup",
    "ngram_jaccard_pairs",
    "minhash_signature",
    "minhash_lsh_candidates",
    "simhash_table",
    "brute_force_topk",
    "lsh_bucketed_topk",
    "text_quality",
    "language_id",
    "document_fingerprints",
]
