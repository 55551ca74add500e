"""Distributed connected components over an edge DataFrame.

``connected_components`` runs the large-star / small-star alternation of
Kiveris et al., "Connected Components in MapReduce and Beyond" (SoCC'14):
it converges in O(log^2 n) rounds regardless of diameter, so long chains
(path graphs, linked near-dup shingles) finish in a handful of rounds.
Each round is two groupBy-min + join phases over the edge set only —
vertex labels are derived once at the end.

It returns a ``(doc_id, label)`` DataFrame where ``label`` is the minimum
vertex id reachable from ``doc_id`` (isolated vertices label themselves).
Only O(1) scalars cross to the driver per round (edge-set checksums);
each round's edge set is localCheckpointed to truncate lineage.

Scale notes (100 TB): each round shuffles |E| twice; nothing data-sized
is collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class ComponentsNotConverged(RuntimeError):
    """Raised when the iteration cap is hit before the fixpoint."""


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) + {u})."""
    sym = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select("src", F.least(F.col("mn"), F.col("src")).alias("m"))
    )
    return (
        sym.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges big->small; connect small neighbors AND u to min(N-(u))."""
    o = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    mins = o.groupBy("src").agg(F.min("dst").alias("m"))
    joined = o.join(mins, "src")
    out = joined.select(F.col("dst").alias("src"), F.col("m").alias("dst")).unionByName(
        joined.select("src", F.col("m").alias("dst"))
    )
    return out.where(F.col("src") != F.col("dst")).distinct()


def connected_components(
    edges: DataFrame, vertices: DataFrame, max_iters: int = 20
) -> tuple[DataFrame, int]:
    """Label every vertex with the min vertex id of its component; returns
    (labels, n_rounds).

    edges: (src, dst) undirected (each pair once, either direction).
    vertices: one column ``doc_id`` covering every vertex (isolated ok).
    Convergence is detected by an order-independent edge-set checksum
    (count + bit_xor of xxhash64 over canonicalized pairs) staying
    unchanged across a round — two scalars to the driver per round.
    Raises ComponentsNotConverged if that takes more than max_iters
    rounds — partial labels are wrong answers, never returned.
    """
    cur = (
        edges.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        # lazy: the first checksum action materializes it (one job)
        .localCheckpoint(eager=False)
    )

    def checksum(e: DataFrame) -> tuple[int, int]:
        # bit_xor over distinct-pair hashes: order-independent and
        # overflow-free (the edge set is distinct, so no pair cancellation)
        row = e.select(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.expr("bit_xor(xxhash64(greatest(src, dst), least(src, dst)))"),
                F.lit(0),
            ).alias("h"),
        ).first()
        return int(row["n"]), int(row["h"])

    prev = checksum(cur)
    rounds_used = None
    for rounds in range(1, max_iters + 1):
        cur = _small_star(_large_star(cur)).localCheckpoint(eager=False)
        sig = checksum(cur)  # materializes the round's edge set
        if sig == prev:
            rounds_used = rounds
            break
        prev = sig
    if rounds_used is None:
        raise ComponentsNotConverged(
            f"large/small-star did not stabilize in {max_iters} rounds"
        )
    # at the fixpoint edges form stars (v -> component min); min() guards
    # the transient case of a vertex keeping two star edges
    star = cur.groupBy(F.col("src").alias("doc_id")).agg(F.min("dst").alias("label"))
    labels = vertices.join(star, "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("label"), F.col("doc_id")).alias("label")
    )
    return labels, rounds_used

