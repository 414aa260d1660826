"""Distributed Bloom-filter membership for cross-generation dedup.

The recurring crawl question — "has ANY prior generation seen this
url / content hash?" — does not need the prior key set, only a
membership sketch of it.  A Bloom filter stores ~10 bits per key
(vs ≥ 8 bytes for the key itself) at ~1% false positives, never
false negatives: a "definitely new" verdict is exact, a "maybe seen"
verdict is wrong with probability ``(1 - e^(-k·n/m))^k``.  That is
the right asymmetry for dedup: false positives drop a few novel
pages (or trigger an exact re-check of just those), false negatives
would re-ingest duplicates.

Representation: the filter is a DataFrame of ``(word, bits)`` rows —
64 filter bits per BIGINT word, at most ``m_bits / 64`` rows, built
with a single ``bit_or`` aggregation (map-side combined; bit
positions are uniform so there is no skew).  Probing explodes each
key into its ``k_hashes`` positions and equi-joins the filter on the
word index — broadcast when the filter fits (AQE's call), shuffle
join otherwise; either way it is never a cross product and the key
table is touched in one narrow pass.

Hashing is the repo's engine-agnostic polynomial pair (31-fold and
131-fold over ascii codes mod 2^31-1, exactly
``stats.significance.token_hash``'s construction), combined by enhanced double
hashing ``pos_i = (h1 + i·h2 + i²) mod m_bits`` (Kirsch &
Mitzenmacher 2006: two hashes simulate k with no independence loss;
the ``+ i²`` term avoids the degenerate ``h2 = 0`` orbit).  Every
step is integer column arithmetic, so the ``bloom_dedup`` DuckDB
oracle in ``__spark_entry__`` replays build AND probe bit-exactly.

Sizing at scale: ``m_bits ≈ 10 × n_keys`` gives ~0.8% FP with
``k_hashes = 7`` (optimum k = (m/n)·ln2).  At 10^10 prior keys the
filter is ~12 GB — above broadcast range but only ~1.5 × 10^8
``(word, bits)`` rows, a small equi-join side; at 10^8 keys it is
~120 MB and AQE will broadcast it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# shared Mersenne modulus — stats.significance.token_hash / MIX_PRIME
BLOOM_PRIME = 2147483647


def _poly(col: Column, mult: int) -> Column:
    """Polynomial ``mult``-fold over ascii codes mod 2^31-1 (the
    engine-agnostic hash family: 31 = token_hash, 131 = shingle
    chain)."""
    chars = F.split(col, "")
    return F.aggregate(
        chars, F.lit(0).cast("long"),
        lambda acc, c: (acc * mult + F.ascii(c)) % F.lit(BLOOM_PRIME))


def _positions(df: DataFrame, key_col: str, m_bits: int,
               k_hashes: int) -> DataFrame:
    """One row per (input row, hash i) with the filter word index and
    bit mask.  h1/h2 are staged as columns BEFORE the explode — the
    polynomial folds are interpreted higher-order functions and must
    evaluate once per key, not once per (key, i)."""
    # Knuth multiplicative finalizer: raw polynomial folds of short
    # sequential keys ("u1", "u2", …) are affinely correlated (same-
    # length neighbours differ by exactly 1), which clusters the k
    # positions and measurably inflates the FP rate; one modular
    # multiply decorrelates them.  poly < 2^31 and 2654435761 < 2^32,
    # so the product fits a long with no ANSI overflow.
    fin = 2654435761
    staged = df.select(
        F.col(key_col),
        ((_poly(F.col(key_col), 31) * fin) % F.lit(BLOOM_PRIME))
        .alias("_h1"),
        ((_poly(F.col(key_col), 131) * fin) % F.lit(BLOOM_PRIME))
        .alias("_h2"),
    )
    i = F.col("_i")
    pos = (F.col("_h1") + i * F.col("_h2") + i * i) % F.lit(m_bits)
    return staged.select(
        key_col,
        F.explode(F.sequence(F.lit(0), F.lit(k_hashes - 1))).alias("_i"),
        "_h1", "_h2",
    ).select(
        key_col, F.col("_i"), pos.alias("_pos"),
    ).select(
        key_col, F.col("_i"),
        F.shiftright(F.col("_pos"), 6).alias("word"),
        # pyspark's shiftleft() only takes a literal shift; the SQL
        # form accepts a column
        F.expr("shiftleft(1L, cast(_pos % 64 as int))").alias("mask"),
    )


def bloom_build(df: DataFrame, key_col: str = "key",
                m_bits: int = 1 << 20, k_hashes: int = 7) -> DataFrame:
    """Build the filter: ``(word, bits)`` rows, one ``bit_or``
    aggregation over the exploded positions.  ``m_bits`` must be the
    same at probe time (it is the modulus, not metadata)."""
    return (
        _positions(df, key_col, m_bits, k_hashes)
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_probe(df: DataFrame, bloom: DataFrame, key_col: str = "key",
                m_bits: int = 1 << 20, k_hashes: int = 7,
                out_col: str = "maybe_seen") -> DataFrame:
    """Annotate ``df`` with ``out_col`` ∈ {0, 1}: 1 iff all
    ``k_hashes`` filter bits for the key are set (maybe seen — exact
    for negatives, FP-prone for positives).  Probing runs per
    DISTINCT key and joins the verdict back, so repeated keys hash
    once."""
    verdicts = (
        _positions(df.select(key_col).distinct(), key_col,
                   m_bits, k_hashes)
        .join(bloom, "word", "left")
        .select(
            key_col,
            F.when(F.col("bits").isNotNull()
                   & (F.col("bits").bitwiseAND(F.col("mask")) != 0),
                   F.lit(1)).otherwise(F.lit(0)).alias("_hit"))
        .groupBy(key_col)
        .agg(F.min("_hit").alias(out_col))
    )
    return df.join(verdicts, key_col, "left")
