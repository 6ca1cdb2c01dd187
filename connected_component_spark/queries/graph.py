"""Graph query surface: connected components over relationally
derived edge sets, verified against recursive-CTE oracles.

The edge derivation deliberately builds *chains* (window lag over
sorted members of a group) rather than all-pairs cliques: a chain
has identical connected components to the clique at O(k) instead of
O(k²) edges — the same scale decision as the clique star expansion
(SURVEY.md §7.3).  The DuckDB oracle computes components by
transitive closure + min; our engine runs the alternating-star
kernel — two independent algorithms agreeing is the differential
test the reference ran against GraphX (CCGraphXDriver.scala:31-33).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from connected_component_spark.graph.cc import (
    component_rosters,
    connected_components,
    large_star,
    small_star,
)
from connected_component_spark.sources.tables import load_table

__all__ = ["QUERIES", "ORACLES", "copresence_edges", "copresence_edges_from_events"]


def copresence_edges_from_events(ev: DataFrame) -> DataFrame:
    """Chain edges over users co-present in the same
    (event_type, hour) bucket of the given events DataFrame."""
    grouped = ev.select(
        "user_id",
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("hr"),
    ).distinct()
    w = Window.partitionBy("event_type", "hr").orderBy("user_id")
    return (
        grouped.select(
            F.col("user_id").alias("src"),
            F.lag("user_id").over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
    )


def copresence_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users co-present in the same (event_type, hour) bucket,
    linked as a sorted chain per bucket."""
    return copresence_edges_from_events(load_table(spark, sf_dir, "events"))


def cc_user_copresence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, component) for the behavioral copresence graph;
    isolated users form singletons via self-loops."""
    ev = load_table(spark, sf_dir, "events")
    edges = copresence_edges(spark, sf_dir).union(
        ev.select(F.col("user_id").alias("src"), F.col("user_id").alias("dst")).distinct()
    )
    result = connected_components(edges)
    return result.assignments.select(
        F.col("node").alias("user_id"), F.col("component")
    )


_COPRESENCE_EDGES_SQL = """
ev AS (
  SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hr FROM events
),
lagged AS (
  SELECT user_id AS src,
         lag(user_id) OVER (PARTITION BY event_type, hr ORDER BY user_id) AS dst
  FROM ev
),
edges AS (SELECT src, dst FROM lagged WHERE dst IS NOT NULL),
sym AS (
  SELECT src, dst FROM edges
  UNION
  SELECT dst, src FROM edges
)
"""

CC_USER_COPRESENCE_SQL = f"""
WITH RECURSIVE {_COPRESENCE_EDGES_SQL},
walk(node, comp) AS (
  SELECT DISTINCT user_id, user_id FROM events
  UNION
  SELECT s.dst, w.comp FROM walk w JOIN sym s ON s.src = w.node
)
SELECT node AS user_id, min(comp) AS component
FROM walk GROUP BY node
"""


def cc_copresence_rosters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-style component rosters (CCDriver.scala:58-74) over
    the copresence graph, with members as a portable sorted string."""
    assignments = cc_user_copresence(spark, sf_dir).select(
        F.col("user_id").alias("node"), "component"
    )
    rosters = component_rosters(assignments)
    return rosters.select(
        "component",
        "size",
        F.concat_ws(
            " ", F.transform("members", lambda x: x.cast("string"))
        ).alias("members_str"),
    )


CC_COPRESENCE_ROSTERS_SQL = f"""
WITH RECURSIVE {_COPRESENCE_EDGES_SQL},
walk(node, comp) AS (
  SELECT DISTINCT user_id, user_id FROM events
  UNION
  SELECT s.dst, w.comp FROM walk w JOIN sym s ON s.src = w.node
),
assign AS (
  SELECT node, min(comp) AS component FROM walk GROUP BY node
)
SELECT component,
       count(*) AS size,
       array_to_string(list_sort(list(node)), ' ') AS members_str
FROM assign GROUP BY component
"""


def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle census of the copresence graph via degree-
    ordered orientation (graph/triangles.py) — each triangle is
    produced by exactly one wedge join, so hub skew can't blow up
    the candidate set."""
    from connected_component_spark.graph.triangles import triangle_stats

    return triangle_stats(copresence_edges(spark, sf_dir))


GRAPH_TRIANGLES_SQL = f"""
WITH {_COPRESENCE_EDGES_SQL.strip()},
und AS (SELECT src AS u, dst AS v FROM sym WHERE src < dst),
deg AS (
  SELECT node, count(*) AS deg FROM (
    SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
  ) GROUP BY node
),
ori AS (
  SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v)
              THEN u ELSE v END AS lo,
         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v)
              THEN v ELSE u END AS hi
  FROM und
  JOIN deg du ON du.node = u
  JOIN deg dv ON dv.node = v
),
tri AS (
  SELECT count(*) AS n_triangles
  FROM ori e1 JOIN ori e2 ON e2.lo = e1.hi
  WHERE EXISTS (
    SELECT 1 FROM ori e3 WHERE e3.lo = e1.lo AND e3.hi = e2.hi
  )
),
summary AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(CAST(deg * (deg - 1) / 2 AS BIGINT)) AS BIGINT) AS n_wedges
  FROM deg
),
ecount AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM und)
SELECT n_nodes, n_edges, n_wedges, CAST(n_triangles AS BIGINT) AS n_triangles,
       CASE WHEN n_wedges > 0
            THEN CAST(round(CAST(CAST(3 * n_triangles AS DOUBLE)
                                 / CAST(n_wedges AS DOUBLE)
                                 AS DECIMAL(38,9)), 6) AS DOUBLE)
            ELSE 0.0 END AS clustering
FROM summary, ecount, tri
"""


_PR_ITERATIONS = 5
_PR_DAMPING = 0.85


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the copresence graph
    (graph/pagerank.py): the CC kernel's driver-loop +
    checkpoint-per-round discipline applied to a second vertex
    program.  Ranks are decimal-exact in aggregation, so the oracle
    (the same 5 rounds unrolled as plain CTE levels — DuckDB forbids
    aggregates in a recursive CTE) matches bit-for-bit before the
    final snap-round."""
    from connected_component_spark.graph.pagerank import pagerank
    from connected_component_spark.queries.parity import roundd

    pr = pagerank(
        copresence_edges(spark, sf_dir),
        iterations=_PR_ITERATIONS,
        damping=_PR_DAMPING,
    )
    return pr.select(
        F.col("node").alias("user_id"), roundd(F.col("rank"), 6).alias("rank")
    ).orderBy("user_id")


def _pagerank_oracle_sql(iterations: int = _PR_ITERATIONS) -> str:
    """Unroll the synchronous PageRank rounds as CTE levels r0..rK.

    Float-parity notes mirrored from graph/pagerank.py: the damping
    base is written as (1.0 − 0.85)/n — the same two double ops
    Python uses to precompute the Spark literal — never as a 0.15
    literal (a different double); per-destination contribution sums
    go through DECIMAL(38,18) so aggregation order can't move the
    last ulp."""
    d = "CAST(0.85 AS DOUBLE)"
    base = f"(CAST(1.0 AS DOUBLE) - {d}) / (SELECT n FROM nn)"
    levels = []
    for i in range(1, iterations + 1):
        levels.append(
            f"""r{i} AS (
  SELECT s.dst AS node,
         {base} + {d} * CAST(sum(CAST(r.rank / o.outdeg AS DECIMAL(38,18))) AS DOUBLE) AS rank
  FROM sym s
  JOIN outd o ON o.src = s.src
  JOIN r{i - 1} r ON r.node = s.src
  GROUP BY s.dst
)"""
        )
    chain = ",\n".join(levels)
    from connected_component_spark.queries.parity import roundd_sql

    return f"""
WITH {_COPRESENCE_EDGES_SQL.strip()},
outd AS (SELECT src, count(*) AS outdeg FROM sym GROUP BY src),
nn AS (SELECT count(*) AS n FROM outd),
r0 AS (
  SELECT src AS node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank
  FROM outd
),
{chain}
SELECT node AS user_id, {roundd_sql("rank", 6)} AS rank
FROM r{iterations}
ORDER BY user_id
"""


GRAPH_PAGERANK_SQL = _pagerank_oracle_sql()


_PPR_N_SOURCES = 3


def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (graph/pagerank.py:personalized_pagerank)
    from the 3 smallest user ids of the copresence graph — the last
    GraphX-library PageRank variant (the reference's stack,
    CCGraphXDriver.scala:84-85) in the parity set: (source, user_id,
    rank) per reached node after the same fixed 5 rounds as
    graph_pagerank, restart mass at the source.  Decimal-exact
    contribution sums; the oracle unrolls the rounds as CTE levels
    with a full-outer reset join per level, matching bit-for-bit
    before the final snap-round."""
    from connected_component_spark.graph.pagerank import personalized_pagerank
    from connected_component_spark.queries.parity import roundd

    ev = load_table(spark, sf_dir, "events")
    sources = (
        ev.select("user_id").distinct().orderBy("user_id").limit(_PPR_N_SOURCES)
    )
    pr = personalized_pagerank(
        copresence_edges(spark, sf_dir),
        sources,
        iterations=_PR_ITERATIONS,
        damping=_PR_DAMPING,
    )
    return pr.select(
        "source",
        F.col("node").alias("user_id"),
        roundd(F.col("rank"), 6).alias("rank"),
    ).orderBy("source", "user_id")


def _personalized_pagerank_oracle_sql(iterations: int = _PR_ITERATIONS) -> str:
    """Unroll the restart-formulation rounds as CTE levels: each level
    is the decimal-exact contribution aggregate full-outer-joined with
    the per-source reset row — the same float-op order (CASE + d *
    COALESCE) the Spark expression uses, so the doubles agree to the
    last ulp before the snap-round."""
    d = "CAST(0.85 AS DOUBLE)"
    base = f"(CAST(1.0 AS DOUBLE) - {d})"
    levels = []
    for i in range(1, iterations + 1):
        levels.append(
            f"""c{i} AS MATERIALIZED (
  SELECT r.source, s.dst AS node,
         CAST(sum(CAST(r.rank / o.outdeg AS DECIMAL(38,18))) AS DOUBLE) AS in_sum
  FROM sym s
  JOIN outd o ON o.src = s.src
  JOIN r{i - 1} r ON r.node = s.src
  GROUP BY r.source, s.dst
),
r{i} AS MATERIALIZED (
  SELECT COALESCE(c.source, l.s) AS source,
         COALESCE(c.node, l.s) AS node,
         CASE WHEN l.s IS NOT NULL THEN {base} ELSE CAST(0.0 AS DOUBLE) END
         + {d} * COALESCE(c.in_sum, CAST(0.0 AS DOUBLE)) AS rank
  FROM c{i} c
  FULL OUTER JOIN lm l ON c.source = l.s AND c.node = l.s
)"""
        )
    chain = ",\n".join(levels)
    from connected_component_spark.queries.parity import roundd_sql

    return f"""
WITH {_COPRESENCE_EDGES_SQL.strip()},
outd AS (SELECT src, count(*) AS outdeg FROM sym GROUP BY src),
lm AS (
  SELECT DISTINCT user_id AS s FROM events ORDER BY user_id LIMIT {_PPR_N_SOURCES}
),
r0 AS (SELECT s AS source, s AS node, CAST(1.0 AS DOUBLE) AS rank FROM lm),
{chain}
SELECT source, node AS user_id, {roundd_sql("rank", 6)} AS rank
FROM r{iterations}
ORDER BY source, user_id
"""


GRAPH_PERSONALIZED_PAGERANK_SQL = _personalized_pagerank_oracle_sql()


_BFS_MAX_DEPTH = 20
_BFS_N_LANDMARKS = 3


def graph_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark shortest paths (graph/bfs.py): exact unweighted BFS
    distance from the 3 smallest user ids to every reachable user of
    the copresence graph — the multi-source Pregel BFS shape, checked
    against a recursive-CTE walk with min-distance fold."""
    from connected_component_spark.graph.bfs import shortest_paths

    ev = load_table(spark, sf_dir, "events")
    landmarks = (
        ev.select("user_id").distinct().orderBy("user_id").limit(_BFS_N_LANDMARKS)
    )
    d = shortest_paths(
        copresence_edges(spark, sf_dir), landmarks, max_depth=_BFS_MAX_DEPTH
    )
    return d.select(
        F.col("node").alias("user_id"), "landmark", "distance"
    )


GRAPH_SHORTEST_PATHS_SQL = f"""
WITH RECURSIVE {_COPRESENCE_EDGES_SQL.strip()},
lm AS (
  SELECT DISTINCT user_id AS l FROM events ORDER BY user_id LIMIT {_BFS_N_LANDMARKS}
),
walk(node, landmark, dist) AS (
  SELECT l, l, 0 FROM lm
  UNION
  SELECT s.dst, w.landmark, w.dist + 1
  FROM walk w JOIN sym s ON s.src = w.node
  WHERE w.dist < {_BFS_MAX_DEPTH}
)
SELECT node AS user_id, landmark, CAST(min(dist) AS BIGINT) AS distance
FROM walk GROUP BY 1, 2
"""


_KCORE_K = 45
_KCORE_ROUNDS = 20


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the copresence graph (graph/kcore.py, k=45): iterative
    peeling to the maximal subgraph of min-degree ≥ 45, with in-core
    degrees — checked against a fixed-unroll peeling oracle (peeling
    is monotone, so early exit at the fixpoint matches exactly)."""
    from connected_component_spark.graph.kcore import k_core

    core = k_core(
        copresence_edges(spark, sf_dir), k=_KCORE_K, max_rounds=_KCORE_ROUNDS
    )
    return core.select(F.col("node").alias("user_id"), "degree")


def _kcore_oracle_sql(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    # every e{i} is referenced twice by level i+1 (degree agg + join),
    # so the CTEs MUST be materialized — inlining would expand the
    # 20-level chain exponentially (DuckDB ran out of file handles
    # re-opening the parquet scan 2^20 times)
    levels = ["e0 AS MATERIALIZED (SELECT src, dst FROM sym)"]
    for i in range(1, rounds + 1):
        levels.append(
            f"k{i} AS MATERIALIZED (SELECT src FROM e{i - 1} GROUP BY src"
            f" HAVING count(*) >= {k}),\n"
            f"e{i} AS MATERIALIZED (SELECT e.src, e.dst FROM e{i - 1} e"
            f" JOIN k{i} a ON a.src = e.src"
            f" JOIN k{i} b ON b.src = e.dst)"
        )
    chain = ",\n".join(levels)
    return f"""
WITH {_COPRESENCE_EDGES_SQL.strip()},
{chain}
SELECT src AS user_id, CAST(count(*) AS BIGINT) AS degree
FROM e{rounds} GROUP BY src
"""


GRAPH_KCORE_SQL = _kcore_oracle_sql()


_LPA_ROUNDS = 3


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label propagation (graph/lpa.py,
    3 rounds, smallest-label tie-break) over the copresence graph —
    the community-detection counterpart of the CC kernel, checked
    against a fixed-unroll majority-vote oracle."""
    from connected_component_spark.graph.lpa import label_propagation

    labels = label_propagation(
        copresence_edges(spark, sf_dir), iterations=_LPA_ROUNDS
    )
    return labels.select(F.col("node").alias("user_id"), "label")


def _lpa_oracle_sql(rounds: int = _LPA_ROUNDS) -> str:
    levels = ["r0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM sym)"]
    for i in range(1, rounds + 1):
        levels.append(
            f"r{i} AS MATERIALIZED (SELECT node, label FROM ("
            f"SELECT s.src AS node, p.label AS label, "
            f"row_number() OVER (PARTITION BY s.src "
            f"ORDER BY count(*) DESC, p.label ASC) AS rn "
            f"FROM sym s JOIN r{i - 1} p ON p.node = s.dst "
            f"GROUP BY s.src, p.label) WHERE rn = 1)"
        )
    chain = ",\n".join(levels)
    return f"""
WITH {_COPRESENCE_EDGES_SQL.strip()},
{chain}
SELECT node AS user_id, CAST(label AS BIGINT) AS label FROM r{rounds}
"""


GRAPH_LABEL_PROP_SQL = _lpa_oracle_sql()


_KHOP_K = 2


_KHOP_SQL_BODY = """
WITH RECURSIVE {copresence},
seeds AS (SELECT DISTINCT user_id FROM events WHERE user_id % 100 = 0),
walk(node, dist) AS (
  SELECT user_id, 0 FROM seeds
  UNION ALL
  SELECT s.dst, w.dist + 1
  FROM walk w JOIN sym s ON s.src = w.node
  WHERE w.dist < {k}
)
SELECT node AS user_id, CAST(min(dist) AS BIGINT) AS hops
FROM walk GROUP BY node
"""


def graph_khop_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-hop reachability via Spark 4's native ``WITH RECURSIVE`` —
    executed as ONE pure-SQL statement over registered views (the SQL
    front door of the engine; every other query demonstrates the
    DataFrame API).  Every user within ``_KHOP_K`` copresence hops of
    a seed user, with the minimum hop count.

    Recursive CTEs in Spark support UNION ALL only, so the recursion
    is LEVEL-BOUNDED (dist < K) — exact, deterministic K-hop
    semantics on both engines, but path-enumeration work: rows grow
    with the PATH count, so K is held at 2 (the friends-of-friends
    neighborhood) — K=4 over the copresence graph already trips
    Spark's 1M-row recursion guard at sf0.01.  The
    scale path for unbounded distances is the iterative frontier BFS
    (graph/bfs.py) with per-round dedup + visited anti join; a
    differential test pins the two to agree where their contracts
    overlap.  DuckDB runs the identical statement as the oracle.
    """
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(GRAPH_KHOP_SQL)


GRAPH_KHOP_SQL = _KHOP_SQL_BODY.format(
    copresence=_COPRESENCE_EDGES_SQL.strip(), k=_KHOP_K
)


_LP_TOPK = 20
_LP_MAX_DEG = 50


def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction over the copresence graph
    (graph/linkpred.py): top non-adjacent user pairs by shared
    neighbors, ultra-hub wedge centers excluded by the degree cap
    that is part of the declared (and oracle-mirrored) semantics."""
    from connected_component_spark.graph.linkpred import (
        common_neighbor_candidates,
    )

    return common_neighbor_candidates(
        copresence_edges(spark, sf_dir),
        top_k=_LP_TOPK,
        max_center_degree=_LP_MAX_DEG,
    )


GRAPH_LINK_PREDICTION_SQL = f"""
WITH {_COPRESENCE_EDGES_SQL.strip()},
und AS (SELECT src AS u, dst AS v FROM sym WHERE src < dst),
adj AS (
  SELECT u AS b, v AS n FROM und
  UNION ALL
  SELECT v AS b, u AS n FROM und
),
deg AS (SELECT b, count(*) AS deg FROM adj GROUP BY b),
capped AS (
  SELECT adj.b, adj.n FROM adj JOIN deg USING (b)
  WHERE deg.deg <= {_LP_MAX_DEG}
),
wedges AS (
  SELECT l.n AS node_a, r.n AS node_b
  FROM capped l JOIN capped r ON l.b = r.b AND l.n < r.n
),
scored AS (
  SELECT node_a, node_b, CAST(count(*) AS BIGINT) AS common_neighbors
  FROM wedges GROUP BY 1, 2
)
SELECT node_a, node_b, common_neighbors
FROM scored s
WHERE NOT EXISTS (
  SELECT 1 FROM und WHERE und.u = s.node_a AND und.v = s.node_b
)
ORDER BY common_neighbors DESC, node_a, node_b
LIMIT {_LP_TOPK}
"""


# --------------------------------------------------------------------------
# generated clique-chain graph: the kernel vs construction truth
# --------------------------------------------------------------------------

_GEN_CLIQUES_PER_CHAIN = 10   # reference CliquesGenerator.scala:58 (cliques per chain)
_GEN_RANGE = 1000             # disjoint id range per chain (CliquesGenerator.scala:61)
_GEN_MAX_FRESH = 8            # fresh clique size = 2 + h%8 ∈ [2, 9]


def _generated_chain_cliques(spark: SparkSession, n_chains: int) -> DataFrame:
    """Hash-derived clique chains (reference CliquesGenerator.scala:
    47-113 re-expressed as pure Catalyst arithmetic): chain ``c`` owns
    id range ``[c*1000, c*1000+999)``; clique ``j`` of the chain holds
    ``2 + h%8`` hash-placed fresh members plus, for ``j>0``, fresh
    member 0 of clique ``j-1`` (the connecting element,
    CliquesGenerator.scala:64-70) — so each chain is one known
    component by construction.  Unlike graph/generator.py (seeded
    Python RNG inside mapInPandas), every member is a portable-md5
    expression BOTH engines can evaluate, which is what lets the CC
    kernel itself earn a driver CORRECTNESS row against a
    construction-truth oracle that never runs CC (r5 verdict #8)."""
    from connected_component_spark.functions.hashing import hash64

    ids = spark.range(n_chains * _GEN_CLIQUES_PER_CHAIN)
    c = F.expr(f"id div {_GEN_CLIQUES_PER_CHAIN}")
    j = F.col("id") % _GEN_CLIQUES_PER_CHAIN
    base = c * _GEN_RANGE

    def member(jj, i):
        return base + hash64(
            F.concat(
                F.lit("m|"), c.cast("string"),
                F.lit("|"), jj.cast("string"),
                F.lit("|"), i.cast("string"),
            )
        ) % _GEN_RANGE

    k = F.lit(2) + hash64(
        F.concat(F.lit("k|"), c.cast("string"), F.lit("|"), j.cast("string"))
    ) % _GEN_MAX_FRESH
    fresh = F.transform(F.sequence(F.lit(0).cast("long"), k - 1), lambda i: member(j, i))
    conn = member(j - 1, F.lit(0))
    nodes = F.array_distinct(
        F.when(j > 0, F.concat(fresh, F.array(conn))).otherwise(fresh)
    )
    return ids.select(F.col("id").alias("clique_id"), nodes.alias("nodes"))


def cc_generated_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the REAL alternating-star kernel over the generated chain
    graph and summarize each found component as (component=min node,
    size, member_sum).  The oracle aggregates the same membership
    straight from the construction (one chain = one component — the
    generator-as-oracle pattern, CliquesGenerator.scala:71-72,135-138)
    without running any CC, so agreement is a direct end-to-end check
    of the kernel: any mis-merge or split changes component ids,
    sizes, or sums.  Scale couples to sf via the documents row count
    (500 chains → 5k cliques at sf0.01; 5000 → 50k at sf0.1)."""
    from connected_component_spark.graph.cliques import cliques_to_edges
    from connected_component_spark.sources.tables import table_row_count

    n_chains = table_row_count(spark, sf_dir, "documents")
    cliques = _generated_chain_cliques(spark, n_chains)
    res = connected_components(cliques_to_edges(cliques))
    return res.assignments.groupBy("component").agg(
        F.count(F.lit(1)).alias("size"),
        F.sum("node").alias("member_sum"),
    )


def _cc_generated_chains_sql() -> str:
    from connected_component_spark.functions.hashing import hash64_sql

    k_h = hash64_sql("'k|' || c || '|' || j")
    m_h = hash64_sql("'m|' || c || '|' || j || '|' || i")
    return f"""
WITH seq AS (
  SELECT unnest(generate_series(
    0, (SELECT count(*) FROM documents) * {_GEN_CLIQUES_PER_CHAIN} - 1
  )) AS id
),
cl AS (
  SELECT id // {_GEN_CLIQUES_PER_CHAIN} AS c,
         id % {_GEN_CLIQUES_PER_CHAIN} AS j
  FROM seq
),
kk AS (
  SELECT c, j, 2 + ({k_h} % {_GEN_MAX_FRESH}) AS k FROM cl
),
ii AS (
  SELECT c, j, unnest(generate_series(0, k - 1)) AS i FROM kk
),
members AS (
  SELECT DISTINCT c, c * {_GEN_RANGE} + ({m_h} % {_GEN_RANGE}) AS node
  FROM ii
)
SELECT min(node) AS component,
       count(*) AS size,
       CAST(sum(node) AS BIGINT) AS member_sum
FROM members GROUP BY c
"""


CC_GENERATED_CHAINS_SQL = _cc_generated_chains_sql()


#: fixed unroll depth for the hash-checked reducer-skew report — deep
#: enough to show the converging-star profile (the copresence graph
#: reaches its fixpoint in ~3 rounds at fixture scale), shallow enough
#: for a 3-round CTE unroll in the oracle.
_SKEW_ROUNDS = 3


def cc_round_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reducer-skew as a first-class, hash-checked observable
    (reference README.md:72's tuning concern): per alternating-star
    round, the bidirectional rows-per-key distribution of the pair
    set — (round, n_pairs, n_keys, max_deg, p50_deg, p99_deg).

    Unlike the kernel's auto-salt probe (a sampled, dst-side profile
    with approximate percentiles, engine-internal), this report runs
    the SAME round operators the kernel loop calls
    (graph/cc.py:large_star/small_star, the windowed stars; the
    oracle replays them as groupBy + join, see
    :func:`_skew_round_sql`) for a FIXED ``_SKEW_ROUNDS`` unroll and
    picks EXACT discrete percentiles by
    integer rank (rank ceil(q·n) over the degree histogram — integer
    arithmetic only, no float thresholds), so a DuckDB oracle can
    replay every round and every statistic value-for-value.  One
    partitioned window over the per-round degree HISTOGRAM (≤ a few
    hundred distinct degree values), never over the key set."""
    ev = load_table(spark, sf_dir, "events")
    edges = copresence_edges(spark, sf_dir).union(
        ev.select(
            F.col("user_id").alias("src"), F.col("user_id").alias("dst")
        ).distinct()
    )
    # the kernel's prologue: canonical long-typed distinct pair set
    pairs = (
        edges.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
        )
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg_parts = []
    pair_counts = []

    def _tap(p: DataFrame, r: int) -> None:
        both = p.select("src").unionAll(p.select(F.col("dst").alias("src")))
        deg_parts.append(
            both.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .select(F.lit(r).cast("long").alias("round"), "src", "deg")
        )
        pair_counts.append(
            p.agg(F.count(F.lit(1)).alias("n_pairs")).select(
                F.lit(r).cast("long").alias("round"), "n_pairs"
            )
        )

    # round 0 = the canonical input pair set: the pre-kernel profile,
    # so the report shows the raw-adjacency → converged-hub transition
    _tap(pairs, 0)
    for r in range(1, _SKEW_ROUNDS + 1):
        # lazy checkpoint per round: each round table feeds the next
        # round, its degree branch and its pair count — three plan
        # references, one evaluation (the kernel loop's discipline)
        pairs = small_star(large_star(pairs)).localCheckpoint(eager=False)
        _tap(pairs, r)
    deg = deg_parts[0]
    for d in deg_parts[1:]:
        deg = deg.unionByName(d)
    deg = deg.localCheckpoint(eager=False)  # feeds base stats + histogram
    n_pairs = pair_counts[0]
    for q in pair_counts[1:]:
        n_pairs = n_pairs.unionByName(q)
    base = deg.groupBy("round").agg(
        F.count(F.lit(1)).alias("n_keys"), F.max("deg").alias("max_deg")
    )
    hist = deg.groupBy("round", "deg").agg(F.count(F.lit(1)).alias("cnt"))
    w = (
        Window.partitionBy("round")
        .orderBy("deg")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(w)).join(
        F.broadcast(base.select("round", "n_keys")), "round"
    )
    p50 = (
        cum.where(F.col("cum") >= F.expr("(n_keys + 1) div 2"))
        .groupBy("round")
        .agg(F.min("deg").alias("p50_deg"))
    )
    p99 = (
        cum.where(F.col("cum") >= F.expr("(99 * n_keys + 99) div 100"))
        .groupBy("round")
        .agg(F.min("deg").alias("p99_deg"))
    )
    return (
        n_pairs.join(base, "round")
        .join(p50, "round")
        .join(p99, "round")
        .select("round", "n_pairs", "n_keys", "max_deg", "p50_deg", "p99_deg")
    )


def _skew_round_sql(r: int) -> str:
    """One alternating-star round as CTEs: graph/cc.py:large_star
    (both directions, self-loops once, n >= v emit) then small_star
    ((larger, smaller) orientation, n != m emit, closing distinct),
    written as min-aggregation + join rather than the kernel's window
    — an independent formulation of the same pair set."""
    p = f"c{r - 1}"
    # every chain CTE is MATERIALIZED: DuckDB inlines plain CTEs per
    # reference, and the multi-reference unroll (c{r-1} appears 3× per
    # round) would otherwise expand the upstream chain exponentially —
    # ~5^rounds copies of the events scan ("Too many open files")
    return f"""
l{r}d AS MATERIALIZED (
  SELECT src, dst FROM {p} WHERE src <> dst
  UNION ALL SELECT dst, src FROM {p} WHERE src <> dst
  UNION ALL SELECT src, dst FROM {p} WHERE src = dst
),
l{r}m AS MATERIALIZED (
  SELECT src, least(src, min(dst)) AS m FROM l{r}d GROUP BY src
),
l{r}o AS MATERIALIZED (
  SELECT d.dst AS src, m.m AS dst
  FROM l{r}d d JOIN l{r}m m ON d.src = m.src WHERE d.dst >= d.src
  UNION ALL SELECT src, m FROM l{r}m
),
s{r}o AS MATERIALIZED (
  SELECT greatest(src, dst) AS src, least(src, dst) AS dst FROM l{r}o
),
s{r}m AS MATERIALIZED (
  SELECT src, least(src, min(dst)) AS m FROM s{r}o GROUP BY src
),
c{r} AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT o.dst AS src, m.m AS dst
    FROM s{r}o o JOIN s{r}m m ON o.src = m.src WHERE o.dst <> m.m
    UNION ALL SELECT src, m FROM s{r}m
  )
),
deg{r} AS MATERIALIZED (
  SELECT src, count(*) AS deg FROM (
    SELECT src FROM c{r} UNION ALL SELECT dst FROM c{r}
  ) GROUP BY src
)"""


def _cc_round_skew_sql() -> str:
    rounds = ",".join(_skew_round_sql(r) for r in range(1, _SKEW_ROUNDS + 1))
    deg_all = " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS round, src, deg FROM deg{r}"
        for r in range(0, _SKEW_ROUNDS + 1)
    )
    pairs_all = " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS round,"
        f" CAST(count(*) AS BIGINT) AS n_pairs FROM c{r}"
        for r in range(0, _SKEW_ROUNDS + 1)
    )
    return f"""
WITH {_COPRESENCE_EDGES_SQL.strip().rstrip()},
base AS (
  SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst FROM edges
  UNION ALL
  SELECT DISTINCT CAST(user_id AS BIGINT), CAST(user_id AS BIGINT) FROM events
),
c0 AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM base
  WHERE src IS NOT NULL AND dst IS NOT NULL
),
deg0 AS MATERIALIZED (
  SELECT src, count(*) AS deg FROM (
    SELECT src FROM c0 UNION ALL SELECT dst FROM c0
  ) GROUP BY src
),
{rounds},
deg_all AS ({deg_all}),
pairs_all AS ({pairs_all}),
base_stats AS (
  SELECT round, CAST(count(*) AS BIGINT) AS n_keys, max(deg) AS max_deg
  FROM deg_all GROUP BY round
),
hist AS (SELECT round, deg, count(*) AS cnt FROM deg_all GROUP BY round, deg),
cum AS (
  SELECT round, deg,
         sum(cnt) OVER (PARTITION BY round ORDER BY deg
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM hist
),
j AS (
  SELECT c.round, c.deg, c.cum, b.n_keys
  FROM cum c JOIN base_stats b ON b.round = c.round
),
p50 AS (
  SELECT round, min(deg) AS p50_deg FROM j
  WHERE cum >= (n_keys + 1) // 2 GROUP BY round
),
p99 AS (
  SELECT round, min(deg) AS p99_deg FROM j
  WHERE cum >= (99 * n_keys + 99) // 100 GROUP BY round
)
SELECT pa.round, pa.n_pairs, b.n_keys, b.max_deg, f.p50_deg, n.p99_deg
FROM pairs_all pa
JOIN base_stats b ON b.round = pa.round
JOIN p50 f ON f.round = pa.round
JOIN p99 n ON n.round = pa.round
"""


CC_ROUND_SKEW_SQL = _cc_round_skew_sql()


def temporal_transition_edges(ev: DataFrame) -> DataFrame:
    """DIRECTED user-transition edges: within each (event_type, hour)
    bucket, order users by their FIRST event timestamp (user_id
    tie-break) and chain consecutively, earlier → later.  Per bucket
    this is a DAG chain; conflicting orderings across buckets create
    the cycles — exactly the structure strongly-connected-component
    analysis exists to find (who is mutually reachable through
    behavioral sequences)."""
    first = (
        ev.groupBy(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("hr"),
            "user_id",
        )
        .agg(F.min("ts").alias("t0"))
    )
    w = Window.partitionBy("event_type", "hr").orderBy("t0", "user_id")
    return (
        first.select(
            F.col("user_id").alias("src"),
            F.lead("user_id").over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
        .distinct()
    )


def graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the directed temporal-
    transition graph (graph/scc.py — trim + forward-color + backward-
    walk phases, the distributed FW-BW/coloring scheme; GraphX-library
    parity for StronglyConnectedComponents next to the CC kernel).
    Isolated users register as singleton SCCs via self-loop input
    rows, the CC kernel's registration convention.  Oracle: recursive-
    CTE transitive closure with the mutual-reachability definition —
    scc(n) = min({n} ∪ {m : n→*m ∧ m→*n})."""
    from connected_component_spark.graph.scc import (
        strongly_connected_components,
    )

    ev = load_table(spark, sf_dir, "events")
    edges = temporal_transition_edges(ev).union(
        ev.select(
            F.col("user_id").alias("src"), F.col("user_id").alias("dst")
        ).distinct()
    )
    res = strongly_connected_components(edges)
    # explicit raise: a phase/round cap hit means an incomplete
    # assignment, never silently-wrong output
    if not res.converged:
        raise RuntimeError(
            f"graph_scc: SCC kernel hit its cap after {res.phases} phases"
        )
    return res.assignments.select(
        F.col("node").alias("user_id"), F.col("scc")
    )


GRAPH_SCC_SQL = """
WITH RECURSIVE
fv AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, user_id, min(ts) AS t0
  FROM events GROUP BY 1, 2, 3
),
lagged AS (
  SELECT user_id AS src,
         lead(user_id) OVER (PARTITION BY event_type, hr
                             ORDER BY t0, user_id) AS dst
  FROM fv
),
dedges AS (
  SELECT DISTINCT src, dst FROM lagged
  WHERE dst IS NOT NULL AND src <> dst
),
reach(a, b) AS (
  SELECT src, dst FROM dedges
  UNION
  SELECT r.a, e.dst FROM reach r JOIN dedges e ON e.src = r.b
),
mutual AS (
  SELECT r1.a AS n, r1.b AS m
  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
),
allnodes AS (SELECT DISTINCT user_id AS node FROM events),
scc AS (
  SELECT n.node, least(n.node, coalesce(min(m.m), n.node)) AS scc
  FROM allnodes n LEFT JOIN mutual m ON m.n = n.node
  GROUP BY n.node
)
SELECT CAST(node AS BIGINT) AS user_id, CAST(scc AS BIGINT) AS scc FROM scc
"""


QUERIES = {
    "cc_user_copresence": cc_user_copresence,
    "cc_round_skew_report": cc_round_skew_report,
    "cc_generated_chains": cc_generated_chains,
    "cc_copresence_rosters": cc_copresence_rosters,
    "graph_triangles": graph_triangles,
    "graph_pagerank": graph_pagerank,
    "graph_personalized_pagerank": graph_personalized_pagerank,
    "graph_shortest_paths": graph_shortest_paths,
    "graph_kcore": graph_kcore,
    "graph_label_propagation": graph_label_propagation,
    "graph_link_prediction": graph_link_prediction,
    "graph_khop_sql": graph_khop_sql,
    "graph_scc": graph_scc,
}

ORACLES = {
    "cc_user_copresence": CC_USER_COPRESENCE_SQL,
    "cc_round_skew_report": CC_ROUND_SKEW_SQL,
    "cc_generated_chains": CC_GENERATED_CHAINS_SQL,
    "cc_copresence_rosters": CC_COPRESENCE_ROSTERS_SQL,
    "graph_triangles": GRAPH_TRIANGLES_SQL,
    "graph_pagerank": GRAPH_PAGERANK_SQL,
    "graph_personalized_pagerank": GRAPH_PERSONALIZED_PAGERANK_SQL,
    "graph_shortest_paths": GRAPH_SHORTEST_PATHS_SQL,
    "graph_kcore": GRAPH_KCORE_SQL,
    "graph_label_propagation": GRAPH_LABEL_PROP_SQL,
    "graph_link_prediction": GRAPH_LINK_PREDICTION_SQL,
    "graph_khop_sql": GRAPH_KHOP_SQL,
    "graph_scc": GRAPH_SCC_SQL,
}
