"""Salted skew rewrites are semantics-preserving (SURVEY §2.3
partitioning row; the explicit fallback behind AQE skew handling),
and AQE itself demonstrably splits a skewed join at runtime."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from connected_component_spark.operators.skew import (
    salted_collect_set,
    salted_join,
)


def _skewed_df(spark):
    # one pathological hot key (90%) + a long tail
    hot = spark.range(900).select(
        F.lit(1).alias("k"), (F.col("id") % 37).alias("v")
    )
    tail = spark.range(100).select(
        (F.col("id") % 17 + 2).alias("k"), F.col("id").alias("v")
    )
    return hot.union(tail)


def _right_df(spark):
    return spark.range(20).select(
        (F.col("id") + 1).alias("k"), (F.col("id") * 10).alias("w")
    )


@pytest.mark.parametrize("how", ["inner", "left", "left_semi", "left_anti"])
def test_salted_join_matches_plain_join(spark, how):
    left = _skewed_df(spark)
    right = _right_df(spark)
    cols = ["k", "v"] if how in ("left_semi", "left_anti") else ["k", "v", "w"]
    plain = left.join(right, "k", how).select(*cols)
    salted = salted_join(left, right, "k", salts=4, how=how).select(*cols)
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_salted_join_has_matches(spark):
    left = _skewed_df(spark)
    right = _right_df(spark)
    assert salted_join(left, right, "k", salts=4).count() > 0


@pytest.mark.parametrize("how", ["right", "full", "full_outer", "right_outer"])
def test_salted_join_rejects_right_preserving_joins(spark, how):
    """VERDICT r2 #8: right/full outer would duplicate right-unmatched
    rows salts× — must raise, not silently corrupt."""
    with pytest.raises(ValueError, match="salted_join"):
        salted_join(_skewed_df(spark), _right_df(spark), "k", how=how)


def test_aqe_splits_skewed_join_at_runtime(spark):
    """The engine's first-line skew answer is AQE, not salting
    (SURVEY §4.5): with a pathological hot key, the executed adaptive
    plan must carry SortMergeJoin(skew=true) — the runtime split of
    the oversized partition — and still produce exact results.
    Thresholds are lowered so a local-size fixture crosses them; at
    production defaults the same mechanism fires at 256 MB."""
    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "20KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "10KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        hot = spark.range(200_000).select(
            F.lit(1).alias("k"), F.col("id").alias("v")
        )
        tail = spark.range(1_000).select(
            (F.col("id") % 50 + 2).alias("k"), F.col("id").alias("v")
        )
        right = spark.range(60).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("w")
        )
        j = hot.union(tail).join(right, "k")
        rows = j.collect()  # executes THIS dataset's query execution
        assert len(rows) == 201_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)


def test_salted_collect_set_matches_plain(spark):
    df = _skewed_df(spark)
    plain = (
        df.groupBy("k")
        .agg(F.array_sort(F.collect_set("v")).alias("values"))
    )
    salted = salted_collect_set(df, "k", "v", salts=4)
    assert {
        (r.k, tuple(r["values"])) for r in plain.collect()
    } == {(r.k, tuple(r["values"])) for r in salted.collect()}


def test_salted_large_star_matches_fused_and_spreads_hub(spark):
    """verdict r11 #6: AQE cannot split the fused star layout's hot
    reducer (a window partition is never split), so the kernel offers
    a salted large-star (star_salts=N).  It must (a) produce identical components on the
    converged-hub topology and (b) measurably spread the hub key's
    reducer input: max rows per (key, salt) join-key group a factor
    ~salts below the unsalted max rows per key."""
    from connected_component_spark.graph.cc import (
        connected_components,
        large_star,
    )
    from connected_component_spark.graph.generator import skewed_hub_graph
    from connected_component_spark.operators.skew import with_salt

    edges, truth = skewed_hub_graph(spark, 4000)
    edges = edges.localCheckpoint(eager=True)

    plain = connected_components(edges)
    salted = connected_components(edges, star_salts=8)
    assert salted.converged and salted.iterations == plain.iterations
    a = {(r.node, r.component) for r in plain.assignments.collect()}
    b = {(r.node, r.component) for r in salted.assignments.collect()}
    t = {(r.node, r.component) for r in truth.collect()}
    assert a == b == t

    # spread evidence on a CONVERGED star (the worst round): the fused
    # layout's window groups 3200 hub rows under one key; the salted
    # join's (key, salt) groups cap at ~1/salts of that
    conv = truth.where(F.col("component") == 0).select(
        F.col("node").alias("src"), F.col("component").alias("dst")
    )
    hub_degree = conv.count()
    und = conv.where(F.col("src") != F.col("dst"))
    directed = und.union(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    emit = directed.where(F.col("dst") >= F.col("src"))
    unsalted_max = (
        emit.groupBy("src").count().agg(F.max("count")).first()[0]
    )
    salted_max = (
        with_salt(emit, None, 8)
        .groupBy("src", "_salt")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert unsalted_max == hub_degree - 1
    assert salted_max <= unsalted_max / 4  # ~1/8 expected, 2x headroom
    # and the salted round itself emits the same pair set
    got = set(map(tuple, large_star(conv, salts=8).distinct().collect()))
    want = set(map(tuple, large_star(conv).distinct().collect()))
    assert got == want


def test_auto_star_salts_flips_on_hub_and_not_on_flat(spark, monkeypatch):
    """verdict r12 #3: star_salts="auto" must flip to the salted
    large-star layout mid-run from the kernel's OWN round skew profile
    on a converged-hub topology — with rosters identical to the fused
    run — and must never flip on a flat-degree graph (the fused layout
    stays, no regression on the clique benches).  Thresholds are
    module globals tuned to the measured profiles (hot key 10k+
    holding >= 1/_AUTO_SALT_SHARE of the round's pairs, r14); the
    fixture hub is smaller, so the absolute floor is lowered to the
    fixture's scale — the SHARE trigger is the one under test."""
    import connected_component_spark.graph.cc as cc

    from connected_component_spark.graph.generator import skewed_hub_graph

    monkeypatch.setattr(cc, "_AUTO_SALT_MIN_HOT", 500)

    edges, truth = skewed_hub_graph(spark, 4000)
    edges = edges.localCheckpoint(eager=True)

    auto = cc.connected_components(edges, star_salts="auto")
    assert auto.converged
    # the hub's degree concentrates as rounds converge: the flip must
    # happen after round 1 (adaptive, not static) and before the end
    assert auto.salted_from_round is not None
    assert 1 < auto.salted_from_round <= auto.iterations
    fused = cc.connected_components(edges, star_salts=None)
    assert fused.salted_from_round is None
    a = {(r.node, r.component) for r in auto.assignments.collect()}
    b = {(r.node, r.component) for r in fused.assignments.collect()}
    t = {(r.node, r.component) for r in truth.collect()}
    assert a == b == t

    # flat-degree graph (disjoint 5-node paths): profile never crosses
    # the ratio trigger -> whole run stays fused
    flat = spark.range(1000).where(F.col("id") % 5 != 4).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    res = cc.connected_components(flat, star_salts="auto")
    assert res.converged and res.salted_from_round is None


def test_auto_probe_cadence_skips_alternate_cold_rounds(spark, monkeypatch):
    """r15 probe cadence: on a flat graph whose probed max reads far
    below the flip point, the fused skew probe runs at most every
    OTHER round (never twice skipped in a row), the plain fingerprint
    covers the skipped rounds, and the result is unchanged."""
    import connected_component_spark.graph.cc as cc

    calls = {"probe": 0, "plain": 0}
    real_probe = cc._set_fingerprint_with_skew
    real_plain = cc._set_fingerprint

    def probe(pairs):
        calls["probe"] += 1
        return real_probe(pairs)

    def plain(pairs):
        calls["plain"] += 1
        return real_plain(pairs)

    monkeypatch.setattr(cc, "_set_fingerprint_with_skew", probe)
    monkeypatch.setattr(cc, "_set_fingerprint", plain)
    # open the small-set bypass gate (pair count >= MIN_HOT // 3 =
    # 2,133 <= ~16k flat edges) while keeping the COOL threshold
    # (MIN_HOT // _PROBE_COOL_DIV = 100) far above the flat graph's
    # probed max (path-graph degrees <= 4, sampled-rescaled <= ~32),
    # so every probed round reads cold
    monkeypatch.setattr(cc, "_AUTO_SALT_MIN_HOT", 6400)

    flat = spark.range(20000).where(F.col("id") % 5 != 4).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    res = cc.connected_components(flat, star_salts="auto")
    assert res.converged and res.salted_from_round is None
    # alternating cadence: probes cover ceil(n/2) rounds, plain the rest
    assert calls["probe"] == (res.iterations + 1) // 2
    assert calls["plain"] == res.iterations - calls["probe"]
    # rosters identical to the fused run
    fused = cc.connected_components(flat, star_salts=None)
    a = {(r.node, r.component) for r in res.assignments.collect()}
    b = {(r.node, r.component) for r in fused.assignments.collect()}
    assert a == b
