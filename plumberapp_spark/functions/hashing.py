"""Portable deterministic hashing.

All hashes are md5-derived so the DuckDB oracle computes bit-identical
values (Spark's ``hash``/``xxhash64`` are Spark-specific; md5 is the one
cross-engine hash both engines expose). md5 is plenty at 100 TB — it's
computed JVM-side per row, no shuffle, and collision probability at 56 bits
over 1e12 rows is handled by bucketing semantics (buckets, not identity).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 14 hex chars = 56 bits — fits signed int64 with headroom (conv() returns a
# decimal string; 16 chars could exceed Long.MAX and overflow to null).
_HEX_CHARS = 14


def md5_long(col: Column, seed: int | None = None) -> Column:
    """First 56 bits of md5 as a non-negative bigint.

    DuckDB oracle: ``('0x' || substr(md5(x), 1, 14))::BIGINT``
    (seeded: ``md5(concat('s<seed>:', x))``).
    """
    keyed = F.concat(F.lit(f"s{seed}:"), col) if seed is not None else col
    return F.conv(F.substring(F.md5(keyed), 1, _HEX_CHARS), 16, 10).cast("bigint")


def stable_bucket(col: Column, num_buckets: int, seed: int | None = None) -> Column:
    """Deterministic bucket id in ``[0, num_buckets)`` — used for LSH
    banding, shard assignment and salting.
    """
    return (md5_long(col, seed) % num_buckets).cast("bigint")


MERSENNE61 = (1 << 61) - 1
_GOLDEN32 = 0x9E3779B9


def minhash_perm_params(perm: int) -> tuple[int, int]:
    """(a, b) for the affine permutation ``(a*h + b) mod M61``. a = 2p+1
    stays odd (a bijection mod 2^k inputs) and small enough that a*h for a
    56-bit h cannot overflow int64 (requires perm < 32).

    MinHash value p of a shingle set is the minimum of this map over the
    shingles' md5 prefixes (``dedup._signature_arrays``). DuckDB oracle:
    ``list_min(list_transform(hs, h -> (h*<a> + <b>) % 2305843009213693951))``
    with ``hs = list_transform(sh, s -> ('0x' || substr(md5(s), 1, 14))::BIGINT)``.
    """
    if not 0 <= perm < 32:
        raise ValueError("perm must be in [0, 32): a*h must fit in int64")
    return 2 * perm + 1, perm * _GOLDEN32
