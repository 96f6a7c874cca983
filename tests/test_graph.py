"""Connected-components equivalence: both distributed algorithms must
match a union-find reference for arbitrary random graphs, including the
long-chain adversary that separates their round complexities."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from olr_cdc_oracle_no_dbz_spark.graph import connected_components


def _union_find(n_vertices: set[int], edges: list[tuple[int, int]]):
    parent = {v: v for v in n_vertices}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical: every vertex -> component minimum
    comp = {}
    for v in n_vertices:
        comp.setdefault(find(v), []).append(v)
    return {v: min(members) for members in comp.values() for v in members}


def _run(spark, edges, algorithm, driver_cutover=None):
    df = spark.createDataFrame(edges, "s long, d long")
    kw = {} if driver_cutover is None else {"driver_cutover": driver_cutover}
    got = connected_components(df, algorithm=algorithm, **kw)
    return {r["doc_id"]: r["cluster_id"] for r in got.collect()}


_edges = st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 15)),
    min_size=1,
    max_size=24,
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=_edges)
@pytest.mark.parametrize(
    "algorithm,cutover",
    [
        # cutover=0 forces the DISTRIBUTED paths (r12: the default
        # driver union-find would otherwise absorb every small example
        # and silently retire this property for the round algorithms)
        ("labelprop", 0),
        ("starcontraction", 0),
        # default cutover exercises the r12 driver union-find path
        ("labelprop", None),
    ],
)
def test_cc_matches_union_find_on_random_graphs(
    spark, algorithm, cutover, edges
):
    vertices = {v for e in edges for v in e}
    expected = _union_find(vertices, edges)
    assert _run(spark, edges, algorithm, cutover) == expected


@pytest.mark.parametrize("algorithm", ["labelprop", "starcontraction"])
def test_cc_long_chain(spark, algorithm):
    """The adversary that separates the algorithms: a 24-vertex path.
    Label propagation needs ~24 rounds (capped at 30); star contraction
    must finish in O(log 24) ~ 5 alternating rounds."""
    chain = [(i, i + 1) for i in range(23)]
    expected = {v: 0 for v in range(24)}
    assert _run(spark, chain, algorithm, driver_cutover=0) == expected


def test_cc_labelprop_raises_instead_of_splitting_deep_components(spark):
    """r13: a component deeper than max_rounds previously returned a
    silently SPLIT labeling (propagation stops mid-component). Now it
    raises, naming the O(log n) escape hatch. Star contraction
    finishes the same graph within the same budget."""
    chain = [(i, i + 1) for i in range(23)]
    df = spark.createDataFrame(chain, "s long, d long")
    with pytest.raises(RuntimeError, match="starcontraction"):
        connected_components(
            df, algorithm="labelprop", max_rounds=5, driver_cutover=0
        )
    got = {
        r[0]: r[1]
        for r in connected_components(
            df, algorithm="starcontraction", max_rounds=8, driver_cutover=0
        ).collect()
    }
    assert got == {v: 0 for v in range(24)}


def test_cc_rejects_unknown_algorithm(spark):
    df = spark.createDataFrame([(1, 2)], "s long, d long")
    with pytest.raises(ValueError, match="algorithm"):
        connected_components(df, algorithm="bfs")


def test_cc_auto_falls_back_to_star_on_deep_chains(spark):
    """r13 'auto': labelprop within a bounded budget for the shallow
    common case, star-contraction fallback past it — the deep chain
    that makes labelprop raise must come out correctly labeled."""
    chain = [(i, i + 1) for i in range(23)]  # diameter 23 > 12 budget
    df = spark.createDataFrame(chain, "s long, d long")
    got = {
        r[0]: r[1]
        for r in connected_components(
            df, algorithm="auto", driver_cutover=0
        ).collect()
    }
    assert got == {v: 0 for v in range(24)}
    # shallow graph: auto stays on labelprop (same labels either way;
    # this just exercises the no-fallback branch)
    tri = spark.createDataFrame([(1, 2), (2, 3), (9, 9)], "s long, d long")
    got = {
        r[0]: r[1]
        for r in connected_components(
            tri, algorithm="auto", driver_cutover=0
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 9: 9}


def test_cc_labelprop_raises_dedicated_class_with_partial_labels(spark):
    """ADVICE r13: the non-convergence signal is a DEDICATED class (a
    bare RuntimeError in the rounds would be silently absorbed by the
    'auto' fallback and masked). The exception carries the partial
    labels — every vertex mapped to the min of its ≤budget-hop
    neighborhood, the input to the quotient contraction."""
    import olr_cdc_oracle_no_dbz_spark.graph as g

    chain = [(i, i + 1) for i in range(23)]
    df = spark.createDataFrame(chain, "s long, d long")
    with pytest.raises(g.LabelPropDidNotConverge) as exc:
        connected_components(
            df, algorithm="labelprop", max_rounds=3, driver_cutover=0
        )
    lp = exc.value
    assert lp.rounds == 3
    partial = {r[0]: r[1] for r in lp.partial_labels.collect()}
    # after k rounds each vertex holds min over its k-hop neighborhood
    assert partial == {v: max(0, v - 3) for v in range(24)}


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=_edges)
def test_cc_auto_quotient_path_matches_union_find(spark, edges, monkeypatch):
    """r14 (VERDICT r13 item 3): 'auto' now contracts by the partial
    labels instead of restarting star contraction from raw edges. A
    1-round budget forces the quotient path on every example with a
    multi-hop component — the labeling must still equal union-find."""
    import olr_cdc_oracle_no_dbz_spark.graph as g

    monkeypatch.setattr(g, "_AUTO_LP_ROUNDS", 1)
    vertices = {v for e in edges for v in e}
    expected = _union_find(vertices, edges)
    assert _run(spark, edges, "auto", driver_cutover=0) == expected


def test_cc_driver_union_find_arrow_pull_handles_string_ids(spark):
    """r14: the driver path pulls via Arrow (toPandas), not collect()
    — string vertex ids must round-trip (object-dtype columns) and the
    output schema must keep the input id type."""
    edges = spark.createDataFrame(
        [("doc-b", "doc-a"), ("doc-c", "doc-b"), ("doc-x", "doc-x")],
        "s string, d string",
    )
    out = connected_components(edges)
    got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert got == {
        "doc-a": "doc-a",
        "doc-b": "doc-a",
        "doc-c": "doc-a",
        "doc-x": "doc-x",
    }
    assert dict(out.dtypes) == {"doc_id": "string", "cluster_id": "string"}
