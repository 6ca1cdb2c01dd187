"""Connected components via alternating Large-Star / Small-Star.

DataFrame-native re-expression of the reference RDD implementation
(reference: ConnectedComponent.scala:42-279; algorithm: Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC 2014).

Key deviations from the reference — all CC-result-preserving, chosen
for 100 TB scale (SURVEY.md §4.3, §7.3):

* **Windowed stars.** The reference groups neighbors into a
  ``mutable.HashSet`` per node (ConnectedComponent.scala:65-69,
  139-141), which puts per-node adjacency arrays on the shuffle and
  inherits the degree-skew memory hazard its own comments warn about
  (ConnectedComponent.scala:62-63,135-136).  We instead shuffle plain
  rows by node once per star and read the neighborhood minimum off a
  sorted window — no adjacency array, no join, and a hub's group
  spills to disk instead of living in one set.
* **Per-round checkpointing.** The reference never checkpoints and
  its lineage grows ~6 stages per round (SURVEY.md §4.4).  We
  ``localCheckpoint`` (or reliable ``checkpoint``) each round.
* **No null results.** The reference returns a null RDD when it hits
  the iteration cap (ConnectedComponent.scala:277); we return an
  explicit :class:`CCResult` with ``converged=False``.
* **Set-stability convergence.** The reference counts per-group
  "changed pairs" (ConnectedComponent.scala:91,160) and stops on a
  count plateau or double-zero (ConnectedComponent.scala:247-249).
  The plateau exists because that metric compares ``(neighbor, min)``
  tuples against reversed ``(self, neighbor)`` tuples and therefore
  never reaches zero on some stable graphs.  We detect the true
  fixpoint — the edge *set* is unchanged after a full round — with an
  O(1)-driver-side (count, checksum) comparison: no join, no
  set-equality shuffle.  The literal reference metric + plateau rule
  lives on as a parity oracle in tests/cc_twins.py.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Literal

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "CCResult",
    "connected_components",
    "large_star",
    "small_star",
    "component_rosters",
    "components_with_isolates",
]


@dataclass
class CCResult:
    """Result of a connected-components run.

    ``assignments`` is a deduplicated ``(node: long, component: long)``
    DataFrame where ``component`` is the minimum node id of the
    component (reference output invariant, README.md:28-30).

    ``round_pair_counts`` is the distinct pair-set size after each
    full round — the quantity the reference optimizes for at scale
    (README.md:72 reports iteration counts; shrinking pair counts are
    the per-round progress signal).  Free: the convergence scalar
    already computes it.
    """

    assignments: DataFrame
    converged: bool
    iterations: int
    round_pair_counts: list[int] | None = None
    #: the 1-based round from which large-star ran the SALTED layout
    #: (``star_salts="auto"`` flipped mid-run, or the static opt-in's
    #: round 1); None = the whole run stayed fused
    salted_from_round: int | None = None


def _canonical_edges(edges: DataFrame) -> DataFrame:
    """Normalize an arbitrary 2-column edge list to long (src, dst).

    Self-loops are preserved — they are how singleton nodes ride
    through the algorithm (reference ConnectedComponent.scala:193-197).
    """
    src, dst = edges.columns[0], edges.columns[1]
    return edges.select(
        F.col(src).cast("long").alias("src"),
        F.col(dst).cast("long").alias("dst"),
    ).where(F.col("src").isNotNull() & F.col("dst").isNotNull())


def _star(directed: DataFrame, keep: Column) -> DataFrame:
    """Shared body of both stars: one exchange, one sort, one window.

    Sorted by ``dst`` within a ``src`` group, the running ``min(dst)``
    on every row is the group min, so ``m = least(src, min)`` needs no
    aggregation joined back; the ``row_number() = 1`` row emits the
    ``(src, m)`` self pair.  One ``inline`` emits both candidate rows,
    ``(dst, m)`` where ``keep`` (over src/dst/m) holds and the self
    pair, so the window has one consumer and its shuffle cannot split.
    """
    w = Window.partitionBy("src").orderBy("dst")
    ranked = directed.select(
        "src",
        "dst",
        F.least("src", F.min("dst").over(w)).alias("m"),
        (F.row_number().over(w) == 1).alias("first"),
    )

    def pair(cond: Column, node: str) -> Column:
        src = F.when(cond, F.col(node)).alias("src")
        return F.struct(src, F.col("m").alias("dst"))

    emit = F.inline(F.array(pair(keep, "dst"), pair(F.col("first"), "src")))
    return ranked.select(emit).where(F.col("src").isNotNull())


def large_star(edges: DataFrame, salts: int | None = None) -> DataFrame:
    """One Large-Star round (reference ConnectedComponent.scala:114-176).

    For each node ``v`` with neighborhood ``N`` (edges viewed in both
    directions, self-loops emitted once, :122-128): let
    ``m = min(v ∪ N)``; emit ``(n, m)`` for every ``n ∈ v ∪ N`` with
    ``n >= v`` (:147-159).  No global distinct here: the reference
    also dedups only within a group (:159 ``toSet`` is per-node), and
    small_star closes the round with one global distinct.

    ``salts=None`` (default) is the windowed layout of :func:`_star`,
    one shuffle on src — but it ships every raw row of a key to one
    reducer (the window buffers the group, spilling past its row
    thresholds), so on a CONVERGED-HUB graph the giant component's
    whole degree lands on the hub's task, and AQE cannot split it.

    ``salts=N`` is the SKEW-SAFE layout for such graphs: ``m`` is a
    scalar ``min`` aggregation (partial_min map-side combine bounds
    the hub key's reducer input at #map-partitions) joined back via
    operators/skew.py:salted_join — the hub's rows spread over N
    reducers keyed (src, salt), the mins side replicated N×.  Same
    pair set, at the cost of extra shuffles and the replication.
    """
    und = edges.where(F.col("src") != F.col("dst"))
    directed = (
        und.union(und.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .union(edges.where(F.col("src") == F.col("dst")))
    )
    if salts is None:
        return _star(directed, F.col("dst") >= F.col("src"))
    from connected_component_spark.operators.skew import salted_join

    mins = (
        directed.groupBy("src")
        .agg(F.min("dst").alias("_mn"))
        .select("src", F.least("src", "_mn").alias("m"))
    )
    emit = directed.where(F.col("dst") >= F.col("src"))
    from_neighbors = salted_join(emit, mins, "src", salts=salts).select(
        F.col("dst").alias("src"), F.col("m").alias("dst")
    )
    return from_neighbors.union(mins.select("src", F.col("m").alias("dst")))


def small_star(edges: DataFrame) -> DataFrame:
    """One Small-Star round (reference ConnectedComponent.scala:42-107).

    Orient each pair (larger, smaller) (:49-55); group by the larger
    end; ``m = min(v ∪ N)``; emit ``(n, m)`` for
    ``(n <= v ∧ n != m) ∨ n = v`` (:75-86), deduplicated.  After
    orientation every grouped neighbor satisfies ``n <= v``, so the
    predicate reduces to ``n != m`` on neighbors plus the ``(v, m)``
    self pair — the windowed layout of :func:`_star`, then the
    round's one global distinct.
    """
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"),
        F.least("src", "dst").alias("dst"),
    )
    return _star(oriented, F.col("dst") != F.col("m")).distinct()


def _set_fingerprint(pairs: DataFrame) -> tuple[int, int]:
    """(row count, order-insensitive checksum) of a distinct pair set.

    Replaces the reference's per-group change counting
    (ConnectedComponent.scala:91-106,160-168) with a single partial+
    final aggregation; decimal sum leaves ~10^18× headroom before any
    overflow at 100 B-edge scale.
    """
    row = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("src", "dst").cast("decimal(20,0)")), F.lit(0)
        ).cast("decimal(38,0)").alias("h"),
    ).first()
    return int(row["n"]), int(row["h"])


def _set_fingerprint_with_skew(
    pairs: DataFrame,
) -> tuple[tuple[int, int], dict]:
    """:func:`_set_fingerprint` plus a DST-side degree profile, fused
    into ONE action (r13 verdict #6 — auto-salt mode used to pay the
    skew profile as a separate per-round job, which kept it off the
    serving default): one groupBy(dst) aggregation re-aggregated to 4
    scalars yields the exact fingerprint (each pair counted once, no
    halving) AND the profile of the column where round-output skew
    structurally lives.

    Why dst-only suffices for the FLIP decision, although the next
    large-star's reducers group the pair set viewed in BOTH
    directions: the probe always runs on a ROUND OUTPUT
    — a small-star-shaped (node, component-min) pair set in which
    each node appears as src a bounded number of times (its current
    star targets, ~1), while a converging hub accumulates its whole
    component's rows on the DST column.  The bidirectional reducer
    degree of the hot key is therefore dst_deg + O(1), so
    thresholding dst_deg against the same constants preserves the
    calibrated margins (hub 45,979 vs clique-bench ≤91 — 3 orders of
    magnitude).

    The profile is SAMPLED (the fingerprint is not): only pairs in a
    deterministic 1/``_PROBE_SAMPLE_MOD`` hash slice keep their real
    dst as the grouping key; the rest fold into ``_PROBE_SPREAD``
    fixed hash buckets that carry their count/hash mass for the
    fingerprint but are excluded from the degree scalars.  Map-side
    combine then shuffles ~1/MOD of the distinct keys plus SPREAD
    rows per partition instead of every key — measured as the
    difference between a ~9% and a ~3% auto-mode tax on the
    non-skewed kernel bench.  Degree scalars are rescaled by MOD, so
    callers threshold on the same (approximate) true-scale numbers;
    Binomial noise at the ``_AUTO_SALT_MIN_HOT`` boundary is ~3%
    relative, far inside the threshold's order-of-magnitude margins.
    """
    h = F.xxhash64("src", "dst")
    is_probe = F.pmod(h, F.lit(_PROBE_SAMPLE_MOD)) == 0
    row = (
        pairs.select(
            is_probe.alias("p"),
            F.when(is_probe, F.col("dst"))
            .otherwise(F.pmod(h, F.lit(_PROBE_SPREAD)))
            .alias("k"),
            h.cast("decimal(20,0)").alias("h"),
        )
        .groupBy("p", "k")
        .agg(
            F.count(F.lit(1)).alias("deg"),
            F.sum("h").cast("decimal(38,0)").alias("hsum"),
        )
        .agg(
            F.sum("deg").alias("n"),
            F.coalesce(F.sum("hsum"), F.lit(0))
            .cast("decimal(38,0)")
            .alias("h"),
            F.max(F.when(F.col("p"), F.col("deg"))).alias("mx"),
            F.percentile_approx(
                F.when(F.col("p"), F.col("deg")), [0.5, 0.99], 10_000
            ).alias("pct"),
        )
        .first()
    )
    if row["n"] is None or int(row["n"]) == 0:  # empty pair set
        return (0, 0), {"max": 0, "p50": 0, "p99": 0}
    fp = (int(row["n"]), int(row["h"]))
    if row["mx"] is None:  # tiny set, no pair in the probe slice
        return fp, {"max": 0, "p50": 0, "p99": 0}
    profile = {
        "max": int(row["mx"]) * _PROBE_SAMPLE_MOD,
        "p50": int(row["pct"][0]) * _PROBE_SAMPLE_MOD,
        "p99": int(row["pct"][1]) * _PROBE_SAMPLE_MOD,
    }
    return fp, profile


#: round from which the kernel's stats barrier (persist of the round
#: leaf) engages — see the note at prev_cached in connected_components
_STATS_BARRIER_FROM = 8

#: adaptive salting (star_salts="auto"): _AUTO_SALTS is the salt count
#: applied on a flip; _AUTO_SALT_MIN_HOT/_AUTO_SALT_SHARE are the flip
#: trigger — the round's hot KEY must be both absolutely large (below
#: MIN_HOT, one reducer absorbs it anyway) and hold at least
#: 1/SHARE of the round's TOTAL pairs (r14; a flat-but-heavy profile
#: spreads across reducers — that is capacity, not skew — while a key
#: carrying ≥3% of all rows is a straggler at ANY cluster width).
#: The share rule replaced the r12 max/p99 ratio when the probe moved
#: to the fused dst-side aggregation: dst keys thin out exactly as a
#: hub converges, so a dst-side percentile approaches the max and the
#: ratio goes blind; the total pair count rides the same aggregation
#: for free and normalizes the same profiles (r12 hub: max 45,979 of
#: ~1M pairs ≈ 1/22 crosses; clique benches: max ≤91 of ≥1M pairs
#: never comes close).
_AUTO_SALTS = 8
_AUTO_SALT_MIN_HOT = 10_000
_AUTO_SALT_SHARE = 32

#: fused auto-salt probe (_set_fingerprint_with_skew): fraction of
#: pairs (1/MOD, deterministic by pair hash) whose dst feeds the
#: degree profile, and the fixed bucket count the remaining rows'
#: fingerprint mass folds into
_PROBE_SAMPLE_MOD = 8
_PROBE_SPREAD = 1024

#: probe cadence (r15): when a probed round's hot key reads below
#: MIN_HOT // COOL_DIV (156), the NEXT round's probe is skipped (never
#: two skips in a row).  The reading is the 1/_PROBE_SAMPLE_MOD hash
#: sample rescaled ×8, so near 156 it rests on ~20 sampled rows and
#: carries ~20-25% binomial noise: the threshold is approximate.  The
#: probed fingerprint costs ~3x the plain one
#: (keyed (p, k) hash-agg vs an unkeyed two-scalar aggregation —
#: measured 0.62 s vs 0.21 s per round on a 320k-pair chain graph,
#: ~17% of cc_generated_chains' whole wall), so never-flipping runs
#: (every declared CC row) halve the tax.  Flip-latency cost: at most
#: ONE round — and only for a graph whose hot key jumps from
#: < MIN_HOT/64 past MIN_HOT within a single round.  That round is
#: cheap by construction: at the flip threshold the hot reducer holds
#: only MIN_HOT rows, orders of magnitude below straggler pain, and
#: the measured hub trajectory (126 -> 1,444 -> 45,979 -> 578,208)
#: blows through the threshold region in one round regardless — on
#: the benched hub topology the cadence produces the IDENTICAL flip
#: round (the skipped round's probe read was below threshold anyway).
_PROBE_COOL_DIV = 64


def connected_components(
    edges: DataFrame,
    max_iterations: int = 20,
    checkpoint_dir: str | None = None,
    star_salts: int | None | Literal["auto"] = "auto",
) -> CCResult:
    """Compute connected components of an undirected edge list.

    Engine equivalent of ``ConnectedComponent.run``
    (reference ConnectedComponent.scala:266-279) minus its null-RDD
    quirk.  ``edges`` is any 2-column DataFrame of node ids
    (castable to long); direction and duplication are irrelevant;
    self-loops register singleton nodes.

    The fixpoint loop is driver-side Python (Catalyst has no iterate
    operator); each round runs Large-Star then Small-Star
    (reference alternatingAlgo, ConnectedComponent.scala:230-258),
    checkpoints to truncate lineage, and spends exactly one action on
    the convergence scalar.  ``max_iterations`` caps the rounds
    (``converged=False`` past it); ``checkpoint_dir`` makes the
    per-round checkpoints reliable instead of local.

    ``star_salts`` selects the large-star layout (see
    :func:`large_star`): an int opts into the skew-safe salted layout
    from round 1, for converged-hub topologies where the fused
    single-shuffle layout concentrates a giant component's degree on
    one reducer; ``None`` forces the fused layout for the whole run.
    Results are identical.

    ``star_salts="auto"`` — the DEFAULT since r14 (verdict r13 #6) —
    closes the loop the static
    opt-in left open — at 100 TB the topology is not known a priori:
    the kernel starts fused, reads its own per-round reducer-skew
    profile, and FLIPS to the salted layout for all later rounds when
    the hot key crosses ``_AUTO_SALT_MIN_HOT`` rows AND holds at
    least 1/``_AUTO_SALT_SHARE`` of the round's total pairs
    (thresholds sit between the measured hub-graph and clique-bench
    profiles; AQE measurably
    cannot split this reducer — see :func:`large_star`).  Rosters are
    identical either way (salting is a physical rewrite); the flip
    round is recorded as ``CCResult.salted_from_round``.  The probe
    is free of extra jobs (r14): pre-flip rounds compute the skew
    profile INSIDE the round's single fingerprint action
    (:func:`_set_fingerprint_with_skew`), so auto mode is safe as the
    serving default — the only residual cost is the probe's per-key
    groupBy riding the round's aggregation shuffle.
    """
    spark = edges.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def _checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
        if checkpoint_dir is not None:
            return df.checkpoint(eager=eager)
        return df.localCheckpoint(eager=eager)

    # Stats barrier for the iterated self-join (r13; see
    # graph/scc.py:_stats_safe_leaf for the measured pathology): a
    # checkpoint leaf INHERITS the checkpointed plan's size estimate,
    # and a SALTED round multiplies leaf stats into the next capture
    # (its min-map join references the round's pair set twice; a
    # windowed round only sums its union's reads, ~2-3 bits per
    # round), so the bit-length compounds per round and deep runs
    # (10+ rounds — long-chain graphs) eventually burn planning CPU in
    # BigInteger arithmetic.  Persisting each round's leaf routes
    # downstream stats through InMemoryRelation's REAL byte size; the
    # round's single action fills checkpoint and cache together, and
    # the superseded round's cache entry is dropped (its checkpoint
    # blocks remain valid).
    # The barrier is THRESHOLDED (unlike the SCC kernel's, whose
    # per-round tables are node-sized): caching a multi-million-row
    # pair set costs real wall per round (measured r13: unconditional
    # persist added 25-45% to the 6-round kernel benches), while the
    # stats explosion only bites deep runs — estimates compound ~×4
    # bits per round from 64 bits, so at round 8 they are ~1M bits
    # (ms-scale planning) and the barrier caps them there before the
    # 17+-round blowup territory.  Runs that converge in ≤7 rounds
    # (every fixture and bench graph) pay nothing.
    #
    # ordering contract: the previous round's cache must still be
    # LIVE while the new round's checkpoint captures its stats (the
    # capture reads the inputs' current stats), so the rotation runs
    # only AFTER the round's action has materialized the new leaf
    prev_cached: DataFrame | None = None

    pairs = _checkpoint(_canonical_edges(edges).distinct())
    converged = False
    iterations = 0
    round_counts: list[int] = []

    # Right-size the per-round shuffles to the graph (shared policy:
    # plans/tuning.py:shrunk_shuffle — shrink-only, restored on exit;
    # measured 4.3 s -> 3.3 s on a 2k-node graph at local[32]).
    # Partition count never affects results (min-aggregations and the
    # checksum are partition-order-free), only task granularity.
    from connected_component_spark.plans.tuning import shrunk_shuffle

    n0 = pairs.count()  # cheap: pairs is checkpointed
    with shrunk_shuffle(spark, n0):
        auto_salt = star_salts == "auto"
        active_salts: int | None = None if auto_salt else star_salts
        salted_from = 1 if active_salts is not None else None
        prev_fp: tuple[int, int] | None = None
        prev_count = n0  # the small-set probe bypass's gate
        probe_cool = False  # cadence: skip this round's probe
        for iterations in range(1, max_iterations + 1):
            # lazy checkpoint: the fingerprint aggregation is the
            # one action per round and materializes blocks (and,
            # past the barrier threshold, the stats cache) together
            pairs = _checkpoint(
                small_star(large_star(pairs, salts=active_salts)),
                eager=False,
            )
            barrier = iterations >= _STATS_BARRIER_FROM
            if barrier:
                pairs = pairs.persist()
            # small-set bypass (r14): a flip needs a key with
            # >= MIN_HOT rows, which needs >= MIN_HOT pairs in the
            # round — and one star round grows the pair set at
            # most 3x (output <= input + #nodes <= 3*input), so
            # prev_count < MIN_HOT/3 PROVES no flip is possible
            # this round and the probe's per-key aggregation is
            # skipped outright.  This zeroes the auto-default tax
            # for every fixture-scale CC call; at hot-key scale
            # the gate is always open.
            probe_skew = (
                auto_salt
                and active_salts is None
                and prev_count >= _AUTO_SALT_MIN_HOT // 3
                # cadence (r15): the last probe read a stone-cold
                # max — skip exactly one round (see _PROBE_COOL_DIV)
                and not probe_cool
            )
            profile: dict | None = None
            if probe_skew:
                # the auto-salt probe rides INSIDE the round's one
                # action (r14): the dst-side skew profile shares
                # the fingerprint aggregation, so pre-flip rounds
                # pay no separate job — what kept auto off the
                # serving default
                fp, profile = _set_fingerprint_with_skew(pairs)
                probe_cool = (
                    profile["max"]
                    < _AUTO_SALT_MIN_HOT // _PROBE_COOL_DIV
                )
            else:
                fp = _set_fingerprint(pairs)
                probe_cool = False  # never skip twice in a row
            prev_count = fp[0]
            if barrier:
                if prev_cached is not None:
                    prev_cached.unpersist()
                prev_cached = pairs
            round_counts.append(fp[0])
            if (
                probe_skew
                and profile is not None
                and profile["max"] >= _AUTO_SALT_MIN_HOT
                and profile["max"] * _AUTO_SALT_SHARE >= fp[0]
            ):
                # hot-key skew crossed the threshold: every
                # later large-star round runs the salted layout
                active_salts = _AUTO_SALTS
                salted_from = iterations + 1
            if fp == prev_fp:
                converged = True
                break
            prev_fp = fp

    if prev_cached is not None:
        # drop the final round's cache entry — the checkpoint blocks
        # stay, so the assignments plan below evaluates unaffected
        prev_cached.unpersist()
    assignments = (
        pairs.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("component"))
    )
    if salted_from is not None and salted_from > iterations:
        # auto flip decided on the FINAL round: no salted round ran
        salted_from = None
    return CCResult(
        assignments=assignments,
        converged=converged,
        iterations=iterations,
        round_pair_counts=round_counts,
        salted_from_round=salted_from,
    )


def components_with_isolates(
    pair_edges: DataFrame,
    universe: DataFrame,
    id_col: str,
    max_iterations: int = 20,
) -> DataFrame:
    """Components of ``pair_edges`` extended to a full universe:
    entities touching no edge become singleton components (own id).

    This is the scale-correct composition for near-dup clustering:
    the alternating-star kernel runs ONLY on the paired subgraph
    (typically a small fraction of a deduplicated corpus), and the
    untouched majority is attached with one anti join — instead of
    pushing every entity through every kernel round via self-loop
    edges.  ``universe[id_col]`` must be unique (it is a key);
    duplicate ids would duplicate singleton rows.

    Raises when the kernel hits its iteration cap — callers must not
    ship partially-merged clusters into downstream dedup decisions.
    """
    result = connected_components(pair_edges, max_iterations=max_iterations)
    if not result.converged:
        raise RuntimeError(
            f"connected_components hit the iteration cap ({max_iterations}) "
            "before converging — refusing to emit partially-merged clusters"
        )
    ids = universe.select(F.col(id_col).cast("long").alias("node"))
    singles = ids.join(
        result.assignments.select("node"), "node", "left_anti"
    ).select("node", F.col("node").alias("component"))
    return result.assignments.unionAll(singles)


def component_rosters(assignments: DataFrame) -> DataFrame:
    """(component, size, members[]) per component, members sorted.

    Engine equivalent of the reference driver's post-processing
    (reference CCDriver.scala:56-74: RangePartitioner + reduceByKey
    list-concat + per-group sort).  AQE handles the skew the
    RangePartitioner was inserted for.
    """
    return (
        assignments.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("size"),
            F.sort_array(F.collect_list("node")).alias("members"),
        )
    )
