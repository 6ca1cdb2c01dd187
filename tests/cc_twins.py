"""Independent CC formulations used as differential oracles.

The product kernel (connected_component_spark/graph/cc.py) runs one
loop: windowed Large-Star/Small-Star rounds until the pair set is
stable.  The two twins below re-derive the same result along other
paths, so a test that matches their assignment tables against the
kernel's is evidence neither shares a bug with it.

* **Reference-counts twin** — the literal reference change metric
  (ConnectedComponent.scala:91,160) over groupBy + join stars, with
  the reference's plateau stop rule (ConnectedComponent.scala:247-249,
  272).  Its counted stars also give the round-by-round pair set of
  the groupBy + join formulation the windowed stars must reproduce.
* **Adjacency twin** — stars over per-node adjacency arrays
  (``collect_set``), the DataFrame form of the reference's
  ``aggregateByKey(HashSet)`` grouping; it stands in for the GraphX
  differential the reference runs (CCGraphXDriver.scala:31-33,84-86),
  which PySpark cannot call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from connected_component_spark.graph.cc import (
    CCResult,
    _canonical_edges,
    _set_fingerprint,
)
from connected_component_spark.plans.tuning import shrunk_shuffle


def _directed(edges: DataFrame) -> DataFrame:
    """The pair set viewed in both directions, self-loops once."""
    und = edges.where(F.col("src") != F.col("dst"))
    return und.union(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).union(edges.where(F.col("src") == F.col("dst")))


def _oriented(edges: DataFrame) -> DataFrame:
    """Each pair as (larger, smaller) — small-star's grouping view."""
    return edges.select(
        F.greatest("src", "dst").alias("src"),
        F.least("src", "dst").alias("dst"),
    )


def _assignments(pairs: DataFrame) -> DataFrame:
    return pairs.groupBy(F.col("src").alias("node")).agg(
        F.min("dst").alias("component")
    )


# --- reference-counts twin -------------------------------------------


def _mins(grouped_view: DataFrame) -> DataFrame:
    """(src, m = min(src ∪ neighbors)) per group."""
    return (
        grouped_view.groupBy("src")
        .agg(F.min("dst").alias("_mn"))
        .select("src", F.least("src", "_mn").alias("m"))
    )


def reference_change_count(
    new_pairs_grouped: DataFrame, directed_old: DataFrame
) -> int:
    """Literal port of the reference change metric for one star step.

    Reference (ConnectedComponent.scala:91,160): per group ``self``,
    ``|uniqueNewPairs diff oldNeighbors.map((self, _))|`` — i.e. new
    ``(n, m)`` tuples not literally equal to some ``(self, neighbor)``
    tuple of the same group.  ``new_pairs_grouped`` must carry the
    originating group key as column ``grp``.
    """
    return (
        new_pairs_grouped.alias("n")
        .join(
            directed_old.alias("o"),
            (F.col("n.grp") == F.col("o.src"))
            & (F.col("n.src") == F.col("o.src"))
            & (F.col("n.dst") == F.col("o.dst")),
            "left_anti",
        )
        .count()
    )


def large_star_counted(edges: DataFrame) -> tuple[DataFrame, int]:
    """Large-star as groupBy + join, plus the reference change count."""
    directed = _directed(edges)
    mins = _mins(directed)
    grouped = (
        directed.where(F.col("dst") >= F.col("src"))
        .join(mins, "src")
        .select(
            F.col("src").alias("grp"),
            F.col("dst").alias("src"),
            F.col("m").alias("dst"),
        )
        .union(
            mins.select(
                F.col("src").alias("grp"), F.col("src"), F.col("m").alias("dst")
            )
        )
        .distinct()
    )
    change = reference_change_count(grouped, directed)
    return grouped.select("src", "dst").distinct(), change


def small_star_counted(edges: DataFrame) -> tuple[DataFrame, int]:
    """Small-star as groupBy + join, plus the reference change count."""
    oriented = _oriented(edges)
    mins = _mins(oriented)
    grouped = (
        oriented.join(mins, "src")
        .where(F.col("dst") != F.col("m"))
        .select(
            F.col("src").alias("grp"),
            F.col("dst").alias("src"),
            F.col("m").alias("dst"),
        )
        .union(
            mins.select(
                F.col("src").alias("grp"), F.col("src"), F.col("m").alias("dst")
            )
        )
        .distinct()
    )
    change = reference_change_count(grouped, oriented)
    return grouped.select("src", "dst").distinct(), change


def connected_components_reference_counts(
    edges: DataFrame, max_iterations: int = 20
) -> CCResult:
    """Alternating counted stars until the reference's stop rule fires:
    the (large, small) change counts repeat or are both zero."""
    spark = edges.sparkSession
    pairs = _canonical_edges(edges).distinct().localCheckpoint()
    converged = False
    iterations = 0
    prev_counts: tuple[int, int] | None = None
    with shrunk_shuffle(spark, pairs.count()):
        for iterations in range(1, max_iterations + 1):
            after_large, large_count = large_star_counted(pairs)
            after_small, small_count = small_star_counted(
                after_large.localCheckpoint()
            )
            pairs = after_small.localCheckpoint()
            counts = (large_count, small_count)
            if counts == prev_counts or counts == (0, 0):
                converged = True
                break
            prev_counts = counts
    return CCResult(
        assignments=_assignments(pairs),
        converged=converged,
        iterations=iterations,
    )


# --- adjacency twin ----------------------------------------------------


def _adjacency_star(grouped_view: DataFrame, keep) -> DataFrame:
    """Collect each group's neighbors into one array, ``m = min(v ∪ N)``,
    emit ``(n, m)`` for every neighbor ``n`` where ``keep(n, src, m)``
    holds, plus the ``(v, m)`` row."""
    with_min = (
        grouped_view.groupBy("src")
        .agg(F.collect_set("dst").alias("nbrs"))
        .select(
            "src",
            "nbrs",
            F.least(F.col("src"), F.array_min("nbrs")).alias("m"),
        )
    )
    from_neighbors = with_min.select(
        F.explode(
            F.filter(F.col("nbrs"), lambda n: keep(n, F.col("src"), F.col("m")))
        ).alias("src"),
        F.col("m").alias("dst"),
    )
    return from_neighbors.union(with_min.select("src", F.col("m").alias("dst")))


def large_star_adjacency(edges: DataFrame) -> DataFrame:
    """Large-Star via per-node adjacency arrays
    (reference ConnectedComponent.scala:114-176, grouping at :139-141):
    emit ``(n, m)`` for every ``n ∈ v ∪ N`` with ``n >= v`` (:147-159)."""
    return _adjacency_star(_directed(edges), lambda n, v, m: n >= v)


def small_star_adjacency(edges: DataFrame) -> DataFrame:
    """Small-Star via per-node adjacency arrays
    (reference ConnectedComponent.scala:42-107, grouping at :65-69):
    after orientation every neighbor is ``<= v``; emit ``(n, m)`` for
    ``n != m`` plus the ``(v, m)`` row (:75-86), deduplicated."""
    return _adjacency_star(_oriented(edges), lambda n, v, m: n != m).distinct()


def connected_components_adjacency(
    edges: DataFrame, max_iterations: int = 20
) -> CCResult:
    """Alternating adjacency-array stars to the stable-set fixpoint.

    It shares no physical strategy with the product kernel, whose
    stars read the group minimum off a sorted window (or, salted, a
    scalar min aggregation joined back): here the shuffle carries
    whole neighbor arrays, grouped by hash aggregation with
    ``collect_set``, and a hub's neighborhood sits in one array — the
    degree-skew hazard the reference warns about
    (ConnectedComponent.scala:62-63,135-136).  The convergence test is
    the kernel's own :func:`_set_fingerprint`, so the stop rule cannot
    drift between the two.
    """
    pairs = _canonical_edges(edges).distinct().localCheckpoint()
    converged = False
    iterations = 0
    prev_fp: tuple[int, int] | None = None
    for iterations in range(1, max_iterations + 1):
        pairs = small_star_adjacency(large_star_adjacency(pairs)).localCheckpoint(
            eager=False
        )
        fp = _set_fingerprint(pairs)
        if fp == prev_fp:
            converged = True
            break
        prev_fp = fp
    return CCResult(
        assignments=_assignments(pairs),
        converged=converged,
        iterations=iterations,
    )
