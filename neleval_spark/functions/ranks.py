"""Two-phase dense ranking — the repo's standard answer to "assign
0..n-1 within a group without sorting the whole group in one task".

``dense_index`` hash-splits each group into ``n_sub`` sub-buckets,
ranks within (group, sub) — a window partition bounded by
group_size/n_sub — then adds per-(group, sub) cumulative offsets
(a window over <= n_sub rows per group).  The resulting permutation
is (sub, hash, tiebreak)-ordered: pseudo-random, deterministic
across partitionings and engines (the hash is the shared
polynomial), and equal to DuckDB's
``row_number() OVER (PARTITION BY group ORDER BY h % n_sub, h, tb)``.

Consumers: corpusops.contrastive_pairs (grouped by cluster) and
corpusops.shuffle_shards.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..stats.significance import token_hash


def dense_index(df: DataFrame, group_cols: list[str],
                hash_input: str | Column, n_sub: int = 64,
                idx_col: str = "idx",
                size_col: str = "group_size",
                tiebreak: str | None = None) -> DataFrame:
    """Add ``idx_col`` (0..group_size-1, hash-permuted order) and
    ``size_col`` to every row.

    ``hash_input`` orders rows within the group: a column NAME (its
    polynomial hash is taken) or a ready Column expression (already
    a hash).  ``tiebreak`` is the column name breaking hash ties —
    defaults to ``hash_input`` when that is a name (a Column
    hash_input must pass one explicitly).  With empty ``group_cols``
    the whole frame is one group and the (<= n_sub)-row offsets
    table is broadcast."""
    if isinstance(hash_input, str):
        h = token_hash(F.col(hash_input))
        tiebreak = tiebreak or hash_input
    else:
        h = hash_input
        if tiebreak is None:
            raise ValueError(
                "tiebreak is required with a Column hash_input")
    e = df.withColumn("_dr_h", h) \
          .withColumn("_dr_sub", F.col("_dr_h") % n_sub)
    within = F.row_number().over(
        Window.partitionBy(*group_cols, "_dr_sub")
        .orderBy("_dr_h", tiebreak))
    ranked = e.withColumn("_dr_rank", within)

    counts = ranked.groupBy(*group_cols, "_dr_sub") \
                   .agg(F.count("*").alias("_dr_n"))
    off = counts.select(
        *group_cols, "_dr_sub",
        F.coalesce(
            F.sum("_dr_n").over(
                Window.partitionBy(*group_cols).orderBy("_dr_sub")
                .rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0)).alias("_dr_off"),
        F.sum("_dr_n").over(Window.partitionBy(*group_cols))
        .alias(size_col))
    if not group_cols:
        off = F.broadcast(off)
    return (ranked.join(off, [*group_cols, "_dr_sub"])
            .withColumn(idx_col,
                        (F.col("_dr_off") + F.col("_dr_rank") - 1)
                        .cast("long"))
            .withColumn(size_col, F.col(size_col).cast("long"))
            .drop("_dr_h", "_dr_sub", "_dr_rank", "_dr_off"))
