"""Multi-hop redirect-chain resolution by pointer doubling.

Generalizes the reference's single-application redirect mapping
(reference neleval/tac.py:83-103 applies a mapping dict ONCE; real
crawl redirect tables are transitive: A→B→C→D) to full chain
resolution with cycle detection, in O(log chain-length) rounds.

Pointer doubling (path halving — the classic PRAM technique, public
knowledge): maintain one row per source with its current known
successor and the number of original hops that successor is away;
each round self-joins the table with itself (``cur.target =
next.src``), composing two known paths into one twice as long.
Rows whose target is not itself a redirect source are FINAL and pass
through the left join unchanged; hop counts stay exact because they
add under composition.  After ceil(log2(max_hops)) rounds every
acyclic chain of length ≤ max_hops is fully resolved; rows still
pointing at a redirect source are cycle members (or over-long
chains) and are flagged unresolved.

Scale shape: per round ONE self-equi-join of the vertex-sized
mapping table (hash-partitioned on the join key, AQE skew splitting
for hub targets) + one 1-row early-stop aggregate; lineage truncated
with ``localCheckpoint`` per round, same discipline as
``connected_components``.  The mapping table is one
row per redirect source — never edge×iteration blowup, no driver
collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def resolve_redirect_chains(
    redirects: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 32,
    stats: dict | None = None,
) -> DataFrame:
    """Resolve every redirect source to its final target.

    ``redirects``: (src, dst) rows.  The mapping is made functional
    by keeping the MINIMUM dst per src (deterministic; real crawl
    tables are near-functional and the tie-break is documented).

    ``max_hops``: must be a power of two; chains longer than this
    (and cycles, including self-loops) come back unresolved.

    Returns one row per distinct src:
      (src, target, hops, resolved) — resolved=true: ``target`` is
      the chain's end (a node with no outgoing redirect) and
      ``hops`` the exact original chain length; resolved=false:
      target/hops are NULL.
    """
    if max_hops < 1 or (max_hops & (max_hops - 1)) != 0:
        raise ValueError("max_hops must be a power of two")
    rounds = max_hops.bit_length() - 1  # log2

    m = (
        redirects.select(F.col(src).alias("src"),
                         F.col(dst).alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .groupBy("src")
        .agg(F.min("dst").alias("target"))
        .withColumn("hops", F.lit(1).cast("long"))
        .localCheckpoint(eager=False)
    )
    # lazy checkpoints: each round's moved-count collect is the
    # materializing action — one job per doubling round instead of
    # two

    done = 0
    for i in range(rounds):
        nxt = m.select(F.col("src").alias("_s"),
                       F.col("target").alias("_t"),
                       F.col("hops").alias("_h"))
        m2 = (
            m.join(nxt, m["target"] == nxt["_s"], "left")
            .select(
                "src",
                F.coalesce("_t", "target").alias("target"),
                (F.col("hops") + F.coalesce("_h", F.lit(0)))
                .alias("hops"),
                F.col("_s").isNotNull().alias("_moved"),
            )
            .localCheckpoint(eager=False)
        )
        moved = m2.agg(
            F.sum(F.col("_moved").cast("long"))).first()[0] or 0
        m = m2.drop("_moved")
        done = i + 1
        if moved == 0:
            break
    if stats is not None:
        stats["rounds"] = done

    # a row is resolved iff its target is NOT itself a redirect src
    keys = m.select(F.col("src").alias("_k")).localCheckpoint(
        eager=False)
    out = (
        m.join(keys, m["target"] == keys["_k"], "left")
        .select(
            "src",
            F.when(F.col("_k").isNull(), F.col("target"))
             .alias("target"),
            F.when(F.col("_k").isNull(), F.col("hops"))
             .alias("hops"),
            F.col("_k").isNull().alias("resolved"),
        )
    )
    return out
