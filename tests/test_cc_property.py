"""Property-based + differential tests for the CC kernel (SURVEY §5.2
items 3-4): random edge lists vs an independent union-find oracle
(replacing the reference's GraphX differential,
CCGraphXDriver.scala:31-33), plus agreement with the reference-counts
and adjacency twins of tests/cc_twins.py."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from connected_component_spark.graph.cc import connected_components
from tests.cc_twins import (
    connected_components_adjacency,
    connected_components_reference_counts,
    large_star_counted,
    small_star_counted,
)


def union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Independent oracle: (node -> min node of its component)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    roots: dict[int, list[int]] = {}
    for n in parent:
        roots.setdefault(find(n), []).append(n)
    return {n: min(members) for members in roots.values() for n in members}


edge_lists = st.lists(
    st.tuples(st.integers(0, 60), st.integers(0, 60)),
    min_size=1,
    max_size=40,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=edge_lists)
def test_cc_matches_union_find(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    result = connected_components(df)
    assert result.converged
    got = {(r.node, r.component) for r in result.assignments.collect()}
    expected = set(union_find(edges).items())
    assert got == expected


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=edge_lists)
def test_convergence_modes_agree(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    a = connected_components(df)
    b = connected_components_reference_counts(df)
    assert a.converged and b.converged
    assert {(r.node, r.component) for r in a.assignments.collect()} == {
        (r.node, r.component) for r in b.assignments.collect()
    }


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=edge_lists, loops=st.lists(st.integers(0, 60), max_size=5))
def test_windowed_rounds_match_join_formulation(spark, edges, loops):
    """Round by round, the windowed stars (fused and salted large-star,
    then small-star) emit exactly the distinct pair set of the
    groupBy + join formulation the reference-counts twin carries — on
    inputs with repeated and reversed edges and self-loops.  Equal
    final rosters alone would hide a change in the round count."""
    from connected_component_spark.graph.cc import (
        _canonical_edges,
        large_star,
        small_star,
    )

    rows = edges + edges[:3] + [(b, a) for a, b in edges[:3]]
    rows += [(v, v) for v in loops]
    pairs = _canonical_edges(spark.createDataFrame(rows, "src long, dst long"))
    for _ in range(3):
        want = small_star_counted(large_star_counted(pairs)[0])[0]
        want = want.localCheckpoint()
        expected = set(map(tuple, want.collect()))
        for salts in (None, 3):
            got = [tuple(r) for r in small_star(large_star(pairs, salts)).collect()]
            assert len(got) == len(set(got))  # the round closes distinct
            assert set(got) == expected
        pairs = want


def test_generator_chains_vs_union_find(spark):
    from connected_component_spark.graph.cliques import cliques_to_edges
    from connected_component_spark.graph.generator import (
        generate_clique_chains,
        generated_cliques_df,
    )

    cliques, truth = generate_clique_chains(60, max_nodes_per_component=60)
    edges_df = cliques_to_edges(generated_cliques_df(spark, cliques))
    result = connected_components(edges_df)
    got = {(r.node, r.component) for r in result.assignments.collect()}

    flat_edges = []
    for c in cliques:
        flat_edges += [(c[0], x) for x in c]
    expected = set(union_find(flat_edges).items())
    assert got == expected
    # and the generator's built-in truth agrees too
    truth_pairs = {(n, comp) for comp, members in truth for n in members}
    assert got == truth_pairs


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=edge_lists)
def test_adjacency_implementation_matches_union_find(spark, edges):
    """The second distributed CC implementation (collect_set stars,
    tests/cc_twins.py) against the union-find oracle on random edge
    lists — the same property the windowed kernel satisfies in
    test_cc_matches_union_find, so the two implementations are pinned
    to each other through an independent third."""
    df = spark.createDataFrame(edges, "src long, dst long")
    result = connected_components_adjacency(df)
    assert result.converged
    got = {(r.node, r.component) for r in result.assignments.collect()}
    assert got == set(union_find(edges).items())
