"""Fixed-iteration PageRank as an iterative DataFrame dataflow.

Same execution shape as the CC kernel (`graph/cc.py`): the loop
lives driver-side, each iteration is one join + one hash aggregate,
and the rank DataFrame is `localCheckpoint`-ed every round so plan/
lineage depth stays constant no matter the iteration count — the
reference's own iterate-until-done discipline
(`/root/reference/src/main/scala/com/kwartile/lib/cc/
ConnectedComponent.scala:230-258`) applied to a different vertex
program.

Cross-engine determinism: a parallel double sum is order-dependent
in the last ulp, so per-destination contribution sums are done in
DECIMAL(38,18) (exact, associative) and cast back to double — the
same parity rule as queries/parity.py:dsum.  Every other operation
(division by out-degree, damping arithmetic) is a scalar double op
with a bit-identical result in any engine.

Dangling nodes: the symmetric-edge contract (callers pass an
undirected graph, both directions present) means every node has
out-degree ≥ 1, so no dangling-mass redistribution term is needed;
`pagerank` asserts the contract by construction (it symmetrizes).

Static-side co-partitioning — the cluster-scale cost model (r14/r15,
closing the question the co-partitioning probe settled mechanically;
its results are written up in OPTIMIZATION_r14.md and OPTIMIZATION_r15.md):
the per-round join of the static `linked` frame against the evolving
rank can avoid re-shuffling `linked` every round by staging it as
``repartition(P, "src").persist()`` — InMemoryRelation preserves the
hash partitioning, and the probe showed the round plan then reads
``InMemoryTableScan`` with NO Exchange above it, while the
``localCheckpoint`` leaf reports unknown partitioning and re-pays
``Exchange hashpartitioning(src)`` each round.  The persist recipe
still LOSES at fixture scale (probe: 3.9–3.0 s vs 2.9–1.8 s per
6-round loop) because a columnar-cache scan + decode of the whole
edge list per round costs more than the tens-of-MB exchange it
elides.  Crossover condition — switch to the persist recipe when ALL
of: (1) rank outgrows `autoBroadcastJoinThreshold` (below that the
rank side broadcasts and the static side is never shuffled anyway —
the shape these queries run at fixture scale); (2) per-round
exchange cost exceeds the cache-scan cost, i.e. roughly
``edge_bytes / network_BW_per_node > edge_bytes / mem_scan_BW`` plus
shuffle-block overhead — true on real clusters (network ≪ memory
bandwidth), false on one host where "shuffle" is a memcpy; and
(3) the edge list fits the cluster's storage memory at
MEMORY_AND_DISK without evicting hotter state (else the per-round
disk re-read erases the win).  On any multi-node run satisfying (1)
this is the first lever to pull; single-host benches keep the
localCheckpoint shape.  Decision: mechanism proven, cost model
recorded, NOT landed — condition (2) is structurally false in the
bench environment, so a landing would be unverifiable here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["pagerank", "personalized_pagerank"]

#: every this-many rounds the rank checkpoint is EAGER: the kernel
#: has no per-round action (unlike CC's fingerprint), so lazy
#: checkpoints chain un-truncated until the caller's first action —
#: a deep run (tens of rounds, e.g. run-to-convergence differentials)
#: overflows the JVM stack at plan analysis without a periodic
#: materialization (r14; found by the 80-round networkx differential)
_EAGER_EVERY = 8


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    checkpoint: bool = True,
) -> DataFrame:
    """Rank the nodes of an undirected graph: (node, rank) after
    `iterations` synchronous PageRank rounds at the given damping.

    `edges` (src, dst) is symmetrized and de-duplicated internally;
    self-loops are dropped.  Isolated nodes (no surviving edge) do
    not participate.  Ranks are unnormalized PageRank probabilities
    (they sum to 1 across participating nodes).
    """
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0, got {iterations}")
    und = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .unionAll(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            ).where(F.col("src") != F.col("dst"))
        )
        .distinct()
    )
    out = und.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # (src, dst, outdeg) is reused by every iteration — checkpoint it
    # once so the scan/dedup work isn't re-run per round
    linked = und.join(out, "src")
    if checkpoint:
        linked = linked.localCheckpoint(eager=True)
    n = linked.select("src").distinct().count()
    if n == 0:
        return und.select(
            F.col("src").alias("node"), F.lit(0.0).alias("rank")
        )

    base = (1.0 - damping) / n
    rank = linked.select("src").distinct().select(
        F.col("src").alias("node"), F.lit(1.0 / n).alias("rank")
    )
    for i in range(1, iterations + 1):
        contrib = (
            linked.join(rank, linked.src == rank.node)
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("outdeg"))
                .cast("decimal(38,18)")
                .alias("contrib"),
            )
            .groupBy("node")
            .agg(F.sum("contrib").cast("double").alias("in_sum"))
        )
        rank = contrib.select(
            "node", (F.lit(base) + F.lit(damping) * F.col("in_sum")).alias("rank")
        )
        if checkpoint:
            rank = rank.localCheckpoint(eager=i % _EAGER_EVERY == 0)
    return rank


def personalized_pagerank(
    edges: DataFrame,
    sources: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    checkpoint: bool = True,
) -> DataFrame:
    """Personalized PageRank (random walk with restart) from each
    node of ``sources``: (source, node, rank) after ``iterations``
    synchronous rounds — the last GraphX-library PageRank variant in
    the reference's chosen stack (``CCGraphXDriver.scala:84-85`` binds
    GraphX, whose ``PageRank`` object ships the personalized runs
    alongside the global one).

    Semantics (per source ``s``, the standard restart formulation):
    ``r_0(v) = [v = s]`` and
    ``r_{k+1}(v) = (1-damping)·[v = s] + damping·Σ_{u→v} r_k(u)/outdeg(u)``
    over the symmetrized, de-duplicated, self-loop-free edge view —
    the same graph contract as :func:`pagerank`.  Ranks per source
    converge to a distribution summing to 1 over reached nodes.

    Scale shape: the rank frame is SPARSE — one row per (source,
    reached node), never node-count × source-count: after ``k``
    rounds only the ≤k-hop neighborhood of each source carries rank,
    and the per-round work is one equi-join of the (checkpointed
    once) degree-annotated edge list against that sparse frame plus
    one (source, node) hash aggregate.  Per-destination contribution
    sums run in DECIMAL(38,18) (exact, associative) and the reset
    term is a full-outer join against the bounded source list, so a
    DuckDB oracle unrolling the same rounds matches bit-for-bit —
    the :func:`pagerank` parity discipline.

    ``sources`` is any 1-column DataFrame of node ids (castable to
    long); ids absent from the graph still emit their reset-mass row
    (rank (1-damping) at themselves from round 1 on, 1.0 at round 0).
    """
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0, got {iterations}")
    und = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .unionAll(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            ).where(F.col("src") != F.col("dst"))
        )
        .distinct()
    )
    out = und.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    linked = und.join(out, "src")
    if checkpoint:
        linked = linked.localCheckpoint(eager=True)
    src_rows = (
        sources.select(
            F.col(sources.columns[0]).cast("long").alias("source")
        )
        .where(F.col("source").isNotNull())
        .distinct()
    )
    if checkpoint:
        # bounded (the serving contract: a source batch, not a table);
        # consumed by every round's reset join — evaluate once
        src_rows = src_rows.localCheckpoint(eager=True)
    base = 1.0 - damping
    rank = src_rows.select(
        "source", F.col("source").alias("node"), F.lit(1.0).alias("rank")
    )
    reset = src_rows.select(
        "source", F.col("source").alias("node"), F.lit(1).alias("_r")
    )
    for i in range(1, iterations + 1):
        contrib = (
            linked.join(rank, linked.src == rank.node)
            .select(
                "source",
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("outdeg"))
                .cast("decimal(38,18)")
                .alias("contrib"),
            )
            .groupBy("source", "node")
            .agg(F.sum("contrib").cast("double").alias("in_sum"))
        )
        # full outer: a source with no in-flow this round still takes
        # its reset mass; non-source nodes take reset 0 (the float op
        # order — CASE + damping * COALESCE — mirrors the oracle SQL)
        rank = contrib.join(reset, ["source", "node"], "full_outer").select(
            "source",
            "node",
            (
                F.when(F.col("_r").isNotNull(), F.lit(base)).otherwise(
                    F.lit(0.0)
                )
                + F.lit(damping)
                * F.coalesce(F.col("in_sum"), F.lit(0.0))
            ).alias("rank"),
        )
        if checkpoint:
            rank = rank.localCheckpoint(eager=i % _EAGER_EVERY == 0)
    return rank
