"""Core CC kernel tests.

Canonical smoke case is the reference README's worked example
(reference README.md:13-24): cliques
``[1,2,3] [3,4] [1,5] [2] [6] [7,8] [6,8] [9]`` →
components ``{1..5} (min 1)``, ``{6,7,8} (min 6)``, ``{9} (min 9)``.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from connected_component_spark.graph.cc import (
    component_rosters,
    connected_components,
)
from connected_component_spark.graph.cliques import (
    cliques_to_edges,
    cliques_to_edges_pairwise,
    format_rosters_text,
)
from tests.cc_twins import connected_components_reference_counts

README_CLIQUES = [[1, 2, 3], [3, 4], [1, 5], [2], [6], [7, 8], [6, 8], [9]]
README_EXPECTED = {1: [1, 2, 3, 4, 5], 6: [6, 7, 8], 9: [9]}


def _cliques_df(spark, cliques):
    return spark.createDataFrame(
        [(i, [int(n) for n in c]) for i, c in enumerate(cliques)],
        "clique_id long, nodes array<long>",
    )


def _rosters(result):
    rows = component_rosters(result.assignments).collect()
    return {r["component"]: list(r["members"]) for r in rows}


@pytest.mark.parametrize("expand", [cliques_to_edges, cliques_to_edges_pairwise])
@pytest.mark.parametrize(
    "convergence",
    [
        pytest.param(connected_components, id="stable-set"),
        pytest.param(connected_components_reference_counts, id="reference-counts"),
    ],
)
def test_readme_example(spark, expand, convergence):
    """The kernel and the reference-counts twin (tests/cc_twins.py)."""
    edges = expand(_cliques_df(spark, README_CLIQUES))
    result = convergence(edges)
    assert result.converged
    assert _rosters(result) == README_EXPECTED
    # reference observed <= 5-6 iterations at 100B nodes (README.md:56,72)
    assert result.iterations <= 6


def test_two_node_edge(spark):
    edges = spark.createDataFrame([(2, 1)], "src long, dst long")
    result = connected_components(edges)
    assert result.converged
    assert _rosters(result) == {1: [1, 2]}


def test_chain_graph(spark):
    n = 50
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long"
    )
    result = connected_components(edges)
    assert result.converged
    assert _rosters(result) == {0: list(range(n + 1))}


def test_star_graph_reversed_ids(spark):
    # hub has the LARGEST id: exercises min propagation against degree skew
    edges = spark.createDataFrame(
        [(100, i) for i in range(10)], "src long, dst long"
    )
    result = connected_components(edges)
    assert result.converged
    assert _rosters(result) == {0: list(range(10)) + [100]}


def test_singleton_self_loop(spark):
    edges = spark.createDataFrame([(7, 7)], "src long, dst long")
    result = connected_components(edges)
    assert result.converged
    assert _rosters(result) == {7: [7]}


def test_already_converged_input(spark):
    edges = spark.createDataFrame(
        [(2, 1), (3, 1), (1, 1)], "src long, dst long"
    )
    result = connected_components(edges)
    assert result.converged
    assert _rosters(result) == {1: [1, 2, 3]}


def test_max_iteration_cap(spark):
    edges = spark.createDataFrame([(i, i + 1) for i in range(30)], "src long, dst long")
    result = connected_components(edges, max_iterations=1)
    # no null results (reference quirk ConnectedComponent.scala:277 removed)
    assert result.converged is False
    assert result.iterations == 1
    assert result.assignments.count() > 0


def test_assignment_is_function(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (5, 5)], "src long, dst long"
    )
    result = connected_components(edges)
    counts = result.assignments.groupBy("node").count().where("count > 1").count()
    assert counts == 0


def test_roster_text_format(spark):
    edges = spark.createDataFrame([(2, 1), (9, 9)], "src long, dst long")
    result = connected_components(edges)
    lines = {
        r["value"]
        for r in format_rosters_text(component_rosters(result.assignments)).collect()
    }
    # reference output line format "<size> <min> <members...>" (CCDriver.scala:74)
    assert lines == {"2 1 1 2", "1 9 9"}


def test_duplicate_and_reversed_edges(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 2), (2, 3)], "src long, dst long"
    )
    result = connected_components(edges)
    assert _rosters(result) == {1: [1, 2, 3]}


def test_cliques_text_roundtrip(spark, tmp_path):
    from connected_component_spark.graph.cliques import read_cliques_text

    p = tmp_path / "cliques.txt"
    p.write_text("1 2 3\n3 4\n1 5\n2\n6\n7 8\n6 8\n9\n")
    cliques = read_cliques_text(spark, str(p))
    result = connected_components(cliques_to_edges(cliques))
    assert _rosters(result) == README_EXPECTED


def test_components_with_isolates(spark):
    from connected_component_spark.graph.cc import components_with_isolates

    pairs = spark.createDataFrame([(10, 20), (20, 30)], "src long, dst long")
    universe = spark.createDataFrame(
        [(10,), (20,), (30,), (40,), (50,)], "doc_id long"
    )
    got = {
        (r.node, r.component)
        for r in components_with_isolates(pairs, universe, "doc_id").collect()
    }
    assert got == {(10, 10), (20, 10), (30, 10), (40, 40), (50, 50)}


def test_components_with_isolates_no_pairs(spark):
    from connected_component_spark.graph.cc import components_with_isolates

    pairs = spark.createDataFrame([], "src long, dst long")
    universe = spark.createDataFrame([(1,), (2,)], "vec_id long")
    got = {
        (r.node, r.component)
        for r in components_with_isolates(pairs, universe, "vec_id").collect()
    }
    assert got == {(1, 1), (2, 2)}


def test_reliable_checkpoint_mode_matches_local(spark, tmp_path):
    """checkpoint_dir mode (reliable HDFS-style checkpoints — the
    fault-tolerance configuration for multi-hour cluster runs) must
    produce identical assignments to localCheckpoint mode, actually
    write checkpoint files, and converge in the same round count."""
    import os

    from connected_component_spark.graph.generator import (
        generate_clique_chains,
    )

    cliques, _truth = generate_clique_chains(
        cliques_count=200, max_nodes_per_component=30
    )
    edges = cliques_to_edges(_cliques_df(spark, cliques))

    ckdir = str(tmp_path / "ck")
    reliable = connected_components(edges, checkpoint_dir=ckdir)
    local = connected_components(edges)

    assert reliable.converged and local.converged
    assert reliable.iterations == local.iterations
    a = {(r["node"], r["component"]) for r in reliable.assignments.collect()}
    b = {(r["node"], r["component"]) for r in local.assignments.collect()}
    assert a == b
    # reliable mode really checkpointed (files under the dir)
    found = [
        os.path.join(root, f)
        for root, _dirs, files in os.walk(ckdir)
        for f in files
    ]
    assert found, "no checkpoint files written in checkpoint_dir mode"


def test_reliable_checkpoint_survives_source_deletion(spark, tmp_path):
    """Fault-tolerance property of checkpoint_dir mode: the converged
    pair set must be recomputable from the CHECKPOINT FILES alone —
    after the fixpoint, the source parquet is deleted and the
    assignments still collect (a plan still referencing the scan
    would fail with a missing-file error).  This is the lineage
    truncation that lets a multi-hour cluster run survive executor
    loss without replaying the whole iteration history."""
    import shutil

    src = str(tmp_path / "edges_src")
    spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], "src long, dst long"
    ).write.parquet(src)
    edges = spark.read.parquet(src)

    ckdir = str(tmp_path / "ck2")
    res = connected_components(edges, checkpoint_dir=ckdir)
    assert res.converged

    spark.catalog.clearCache()
    shutil.rmtree(src)

    got = {(r["node"], r["component"]) for r in res.assignments.collect()}
    assert got == {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (20, 20),
    }
