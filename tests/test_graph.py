"""Graph operators (operators/graph.py): connected components, mass
propagation, triangles and k-core peeling — known graphs, hand folds,
and each driver fast path against the distributed path it shortcuts."""

from __future__ import annotations

from itertools import combinations
from unittest import mock

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from mapreduce__spark.operators import clustering, graph
from mapreduce__spark.operators.graph import connected_components, count_triangles


def cc_dict(spark, edges):
    df = spark.createDataFrame(edges, "id1 bigint, id2 bigint")
    return {r.node: r.component for r in connected_components(df).collect()}


def test_two_components(spark):
    got = cc_dict(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_chain_needs_multiple_rounds(spark):
    """A long path graph exercises >1 propagation round."""
    chain = [(i, i + 1) for i in range(1, 12)]
    got = cc_dict(spark, chain)
    assert set(got.values()) == {1}
    assert len(got) == 12


def test_cycle_and_orientation_invariance(spark):
    """Cycles converge; flipping edge orientation changes nothing."""
    a = cc_dict(spark, [(5, 6), (6, 7), (7, 5)])
    b = cc_dict(spark, [(6, 5), (7, 6), (5, 7)])
    assert a == b == {5: 5, 6: 5, 7: 5}


def test_empty_edges(spark):
    df = spark.createDataFrame([], "id1 bigint, id2 bigint")
    assert connected_components(df).collect() == []


def test_driver_and_distributed_paths_agree(spark, monkeypatch):
    """The union-find fast path and the label-propagation loop must
    produce identical components (force the loop via a zero bound). A
    NULL id breaks the driver path's contract, so it falls through to the
    loop instead of crashing the union-find."""
    chains = [(i, i + 1) for i in range(1, 9)] + [(20, 21), (21, 22), (30, 31)]
    for edges, n_nodes in ((chains, 14), (chains + [(40, None)], 16)):
        df = spark.createDataFrame(edges, "id1 bigint, id2 bigint")
        fast = {(r.node, r.component) for r in connected_components(df).collect()}
        with monkeypatch.context() as m:
            m.setattr(graph, "CC_DRIVER_MAX_EDGES", 0)
            dist = {
                (r.node, r.component)
                for r in connected_components(df).collect()
            }
        assert fast == dist and len(fast) == n_nodes  # 9 + 3 + 2 (+ 2) nodes


def test_propagate_mass_matches_hand_fold(spark, monkeypatch):
    """k-superstep integer mass propagation on a tiny bipartite graph,
    checked against a single-threaded fold for k=1..4 (odd k ends
    s-keyed, even k c-keyed) on both paths: the NumPy driver path under
    MASS_DRIVER_MAX_EDGES, then the distributed loop forced by a zero
    bound, where checkpoint_every=2 exercises the mid-loop lineage
    truncation at k>=3."""
    from mapreduce__spark.operators.graph import propagate_mass

    edges = [(1, 10), (1, 11), (2, 10), (3, 12)]
    df = spark.createDataFrame(edges, "c bigint, s bigint")

    def fold(k, initial=1_000_000):
        from collections import Counter

        dc = Counter(c for c, _ in edges)
        ds = Counter(s for _, s in edges)
        mass = {c: initial for c in dc}
        for i in range(k):
            nxt: Counter = Counter()
            if i % 2 == 0:
                for c, s in edges:
                    nxt[s] += mass[c] // dc[c]
            else:
                for c, s in edges:
                    if s in mass:
                        nxt[c] += mass[s] // ds[s]
            mass = dict(nxt)
        return mass

    for bound in (graph.MASS_DRIVER_MAX_EDGES, 0):
        monkeypatch.setattr(graph, "MASS_DRIVER_MAX_EDGES", bound)
        for k in range(1, 5):
            got = {tuple(r) for r in propagate_mass(df, k=k).collect()}
            assert got == set(fold(k).items()), f"k={k} bound={bound}"


@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(100, 105)), max_size=20
    ),
    st.integers(1, 4),
    st.sampled_from([1, 2]),
)
@example([], 2, 2)  # empty edge list
@example([(0, 100), (0, 100), (1, 100), (1, 101)], 3, 1)  # repeated pair
@example([(0, 100), (None, 100), (1, 101)], 2, 2)  # NULL endpoint
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_mass_driver_path_matches_distributed(spark, edges, k, every):
    """The MASS_DRIVER_MAX_EDGES fast path is a pure materialization
    choice: on random bipartite edge lists (int c, bigint s) the NumPy
    supersteps and the distributed loop return identical rows AND
    schemas — the key typed like its edge column, mass bigint. A pair
    listed twice counts twice on both paths; a NULL endpoint takes the
    distributed path, so both agree on it too."""
    df = spark.createDataFrame(edges, "c int, s bigint")

    def run(bound):
        with mock.patch.object(graph, "MASS_DRIVER_MAX_EDGES", bound):
            out = graph.propagate_mass(df, k, checkpoint_every=every)
            return out.schema, sorted(out.collect(), key=str)

    fast = run(10**6)
    assert fast == run(0)
    assert fast[0].simpleString() == (
        "struct<c:int,mass:bigint>" if k % 2 == 0 else "struct<s:bigint,mass:bigint>"
    )


def test_propagate_mass_rejects_bad_k(spark):
    import pytest

    from mapreduce__spark.operators.graph import propagate_mass

    df = spark.createDataFrame([(1, 10)], "c bigint, s bigint")
    with pytest.raises(ValueError, match="k must be"):
        propagate_mass(df, k=0)
    # negative mass is where `//` (driver) and SQL `div` (distributed) part
    with pytest.raises(ValueError, match="initial_mass must be"):
        propagate_mass(df, k=1, initial_mass=-1)


def test_distributed_cc_raises_when_unconverged(spark, monkeypatch):
    """A component whose diameter exceeds max_iter must fail loudly —
    returning the still-moving labels would report one real cluster as
    several components (dedup would keep multiple representatives)."""
    import pytest

    chain = [(i, i + 1) for i in range(10)]
    edges = spark.createDataFrame(chain, "id1 bigint, id2 bigint")
    monkeypatch.setattr(graph, "CC_DRIVER_MAX_EDGES", 0)
    with pytest.raises(RuntimeError, match="still changing"):
        connected_components(edges, max_iter=2)
    # the same graph converges with an adequate budget
    ok = connected_components(edges, max_iter=12)
    assert {r.component for r in ok.collect()} == {0}


def test_driver_path_widens_mixed_key_types(spark):
    """src INT / dst BIGINT: the driver path must return the same widened
    schema the distributed unionAll coercion produces, and accept dst
    ids above 2^31."""
    from pyspark.sql import functions as F

    big = 5_000_000_000  # > 2^31
    edges = spark.createDataFrame([(1, big), (2, 3)], "id1 bigint, id2 bigint").select(
        F.col("id1").cast("int").alias("id1"), F.col("id2").alias("id2")
    )
    out = connected_components(edges)
    assert dict(out.dtypes) == {"node": "bigint", "component": "bigint"}
    got = {(r.node, r.component) for r in out.collect()}
    assert got == {(1, 1), (big, 1), (2, 2), (3, 2)}


# ---------------------------------------------------------------- triangles


def tri_dict(spark, edges):
    """Per-node counts, run on both paths — the NumPy driver path under
    TRIANGLES_DRIVER_MAX_EDGES and the distributed one forced by a zero
    bound — which must agree."""
    df = spark.createDataFrame(edges, "u bigint, v bigint")

    def run(bound):
        with mock.patch.object(graph, "TRIANGLES_DRIVER_MAX_EDGES", bound):
            return {r.node: r.n_triangles for r in count_triangles(df).collect()}

    fast = run(10**6)
    assert fast == run(0)
    return fast


def brute_triangles(edges):
    """Per-node triangle counts by enumerating all node triples."""
    adj = {frozenset(e) for e in edges if e[0] != e[1]}
    nodes = sorted({n for e in adj for n in e})
    counts: dict = {}
    for a, b, c in combinations(nodes, 3):
        if (
            frozenset((a, b)) in adj
            and frozenset((a, c)) in adj
            and frozenset((b, c)) in adj
        ):
            for n in (a, b, c):
                counts[n] = counts.get(n, 0) + 1
    return counts


def test_k4_every_node_in_three_triangles(spark):
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    assert tri_dict(spark, edges) == {1: 3, 2: 3, 3: 3, 4: 3}


def test_path_graph_has_no_triangles(spark):
    assert tri_dict(spark, [(1, 2), (2, 3), (3, 4)]) == {}


def test_two_triangles_sharing_an_edge(spark):
    edges = [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)]
    assert tri_dict(spark, edges) == {1: 1, 2: 2, 3: 2, 4: 1}


def test_triangle_orientation_invariance(spark):
    """Undirected semantics: flipping every input pair changes nothing."""
    a = tri_dict(spark, [(1, 2), (2, 3), (3, 1)])
    b = tri_dict(spark, [(2, 1), (3, 2), (1, 3)])
    assert a == b == {1: 1, 2: 1, 3: 1}


def test_hub_with_leaf_fan_has_no_triangles(spark):
    """A star graph is all wedges and no closures — the exact shape the
    degree orientation exists for (the hub never becomes an apex)."""
    assert tri_dict(spark, [(0, i) for i in range(1, 9)]) == {}


@given(
    st.sets(
        st.tuples(st.integers(0, 7), st.integers(0, 7)).filter(
            lambda e: e[0] < e[1]
        ),
        min_size=0,
        max_size=16,
    )
)
@settings(
    max_examples=10, deadline=None, suppress_health_check=list(HealthCheck)
)
def test_triangles_match_bruteforce(spark, edges):
    """Property: on random <=8-node graphs the degree-oriented count
    equals brute-force triple enumeration, per node."""
    assert tri_dict(spark, sorted(edges)) == brute_triangles(edges)


@given(
    st.sets(
        st.tuples(st.integers(0, 11), st.integers(0, 11)).filter(
            lambda e: e[0] != e[1]
        ),
        max_size=30,
    )
)
@example(set())  # empty graph
@example({(0, 1), (1, 2), (2, 0), (2, None)})  # NULL endpoint
@example({(0, 1), (1, 2), (2, 0), (2, 2)})  # self-loop
@example({(0, 1), (1, 2), (2, 0), (1, 0), (2, 3)})  # repeated pair
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_triangles_driver_path_matches_distributed(spark, edges):
    """The TRIANGLES_DRIVER_MAX_EDGES fast path is a pure materialization
    choice: on random graphs (any orientation) the NumPy wedge closure
    and the distributed array intersection return identical rows. Input
    outside the contract — a NULL endpoint, a self-loop, a pair listed
    twice — takes the distributed path, so both agree on it too."""
    df = spark.createDataFrame(sorted(edges, key=str), "u bigint, v bigint")

    def rows(bound, block=graph.TRIANGLES_DRIVER_BLOCK):
        with mock.patch.object(graph, "TRIANGLES_DRIVER_MAX_EDGES", bound), \
                mock.patch.object(graph, "TRIANGLES_DRIVER_BLOCK", block):
            return sorted(tuple(r) for r in count_triangles(df).collect())

    fast = rows(10**6)
    # a 3-wedge block splits the closure into many blocks, some of them
    # a single edge with more wedges than the block holds
    assert fast == rows(10**6, block=3) == rows(0)
    assert all(node is not None and node != -(2**63) for node, _ in fast)


@given(
    st.sets(
        st.tuples(
            st.integers(min_value=0, max_value=11),
            st.integers(min_value=0, max_value=11),
        ).filter(lambda e: e[0] != e[1]),
        max_size=25,
    )
)
@example({(0, 1), (1, 2), (2, 0), (2, None)})
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_kcore_driver_path_matches_distributed(spark, edges):
    """The KCORE_DRIVER_MAX_EDGES fast path is a pure materialization
    choice: on random graphs the NumPy driver peel and the distributed
    loop return identical (node, layer, residual_degree) rows. A NULL
    endpoint falls through to the loop instead of peeling as an
    int64-min node."""
    from unittest import mock

    if not edges:
        return
    df = spark.createDataFrame(sorted(edges, key=str), "u bigint, v bigint")

    def rows(bound):
        with mock.patch.object(graph, "KCORE_DRIVER_MAX_EDGES", bound):
            return {
                (r.node, r.layer, r.residual_degree)
                for r in graph.k_core_layers(df, 2, max_rounds=6).collect()
            }

    fast = rows(10**6)
    assert fast == rows(0)
    assert all(node != -(2**63) for node, _, _ in fast)


def test_k_core_changed_fraction_guard_is_value_neutral(spark, monkeypatch):
    """Round-9 verdict item 7: the adjacency rewrite guard is a pure
    materialization choice. Peeling with always-rewrite (fraction 0),
    the default threshold, and never-rewrite (fraction huge) must
    produce identical (node, layer, residual_degree) rows on a graph
    engineered to peel a large first layer then tiny late layers (the
    case the guard exists for)."""
    # hub clique (0-5 all-pairs: survives k=3), a long chain that peels
    # one-end-at-a-time (tiny late rounds), and pendant leaves (big
    # round 1)
    edges = []
    for i in range(6):
        for j in range(i + 1, 6):
            edges.append((i, j))
    chain = [10, 11, 12, 13, 14, 15]
    edges += list(zip(chain, chain[1:]))
    edges += [(0, 10), (1, 11), (2, 12)]
    edges += [(i, 100 + i) for i in range(6)]  # leaves
    df = spark.createDataFrame(edges, "u bigint, v bigint")
    # a zero bound forces the distributed loop — the rewrite guard under
    # test lives there; the driver fast path has no adjacency rewrite
    # (its equivalence is tested above)
    monkeypatch.setattr(graph, "KCORE_DRIVER_MAX_EDGES", 0)

    def run(frac):
        return {
            (r.node, r.layer, r.residual_degree)
            for r in graph.k_core_layers(
                df, 3, max_rounds=6, rewrite_fraction=frac
            ).collect()
        }

    always = run(0.0)
    default = run(0.05)
    never = run(10.0**9)
    assert always == default == never
    # sanity: the clique survives as the 3-core, leaves fall in layer 1
    assert {(i, 0) for i in range(6)} <= {(n, l) for n, l, _ in always}
    assert all(l == 1 for n, l, _ in always if n >= 100)


def test_kcore_fixtures_converge_inside_the_unroll(spark, sf_small):
    """The declared semantics are an exactly-KCORE_ROUNDS peel; this gate
    asserts the fixtures actually converge well inside it (so the query
    IS the true k-core there), and that the layer structure is sane:
    one row per node, layers within [0, KCORE_ROUNDS], core members'
    residual degrees all >= K and peeled members' all < K."""
    from pyspark.sql import functions as F

    from mapreduce__spark.plans.tier1 import KCORE_K, KCORE_ROUNDS, k_core_peel

    out = k_core_peel(spark, sf_small).localCheckpoint(eager=True)
    n_nodes = out.count()
    assert out.select("node").distinct().count() == n_nodes
    mx = out.agg(F.max("layer")).first()[0]
    assert mx <= KCORE_ROUNDS - 2, (
        f"fixture needed {mx} rounds — too close to the {KCORE_ROUNDS} unroll"
    )
    bad_core = out.where(
        (F.col("layer") == 0) & (F.col("residual_degree") < KCORE_K)
    ).count()
    bad_peel = out.where(
        (F.col("layer") > 0) & (F.col("residual_degree") >= KCORE_K)
    ).count()
    assert bad_core == 0 and bad_peel == 0


def _pq_codes(up):
    from pyspark.sql import functions as F

    emb = up.select(
        (up.u * 1000 + up.v).alias("vec_id"),
        F.array(up.u / 4, up.v / 8, (up.u - up.v) / 16, up.u * up.v / 64).alias(
            "embedding"
        ),
    )
    return clustering.pq_fit(emb, 2, 4, 2)[0]


# operator -> (module, driver bound, call on the tapped edge list up(u, v))
SEAM_OPERATORS = {
    "propagate_mass": (
        graph,
        "MASS_DRIVER_MAX_EDGES",
        lambda up: graph.propagate_mass(
            up.select(up.u.alias("c"), up.v.alias("s")), k=3
        ),
    ),
    "count_triangles": (graph, "TRIANGLES_DRIVER_MAX_EDGES", count_triangles),
    "connected_components": (
        graph,
        "CC_DRIVER_MAX_EDGES",
        lambda up: connected_components(up, "u", "v"),
    ),
    "k_core_layers": (
        graph,
        "KCORE_DRIVER_MAX_EDGES",
        lambda up: graph.k_core_layers(up, 3, 5),
    ),
    "pq_fit": (clustering, "KMEANS_DRIVER_MAX_VECS", _pq_codes),
}


@pytest.mark.parametrize("op", sorted(SEAM_OPERATORS))
def test_seam_evaluates_upstream_once(spark, tmp_path, op):
    """staging.bounded_int64 owns the checkpoint-then-probe policy, so
    each operator evaluates its upstream plan once per call on either
    path: at the default bound (driver path), at 10 (the bounded probe
    reads 11 rows, then the distributed path runs) and at 0. The same
    rows and column types come back at all three bounds.

    The upstream is a tapped 200-edge graph behind a distinct, the shape
    of k_core_peel's edge list. The tap is a Python UDF appending one
    line per evaluated row to a file: an accumulator drops the updates of
    the tasks a limit cancels, so it can read 0 for a probe that ran.
    Bound 0 alone cannot catch a second evaluation, because Spark pushes
    its limit(1) probe through the distinct and reads only a few rows."""
    import random

    from pyspark.sql import functions as F

    # a hub joined to every node keeps the component's diameter at 2, so
    # the distributed connected_components converges in two rounds
    rng = random.Random(7)
    pairs = {(0, n) for n in range(1, 40)}
    while len(pairs) < 200:
        pairs.add(tuple(sorted(rng.sample(range(40), 2))))
    tap_file = str(tmp_path / "tap")

    def tap(x):
        with open(tap_file, "a") as fh:
            fh.write("x\n")
        return x

    tapped = F.udf(tap, "bigint").asNondeterministic()
    base = spark.createDataFrame(sorted(pairs), "u bigint, v bigint")
    module, bound_name, call = SEAM_OPERATORS[op]

    results = {}
    for bound in (getattr(module, bound_name), 10, 0):
        open(tap_file, "w").close()
        up = base.select(tapped("u").alias("u"), "v").distinct()
        with mock.patch.object(module, bound_name, bound):
            out = call(up)
            rows = sorted(out.collect(), key=str)
        with open(tap_file) as fh:
            evaluated = len(fh.readlines())
        assert evaluated == len(pairs), (
            f"{op} at bound {bound}: upstream evaluated {evaluated} rows "
            f"for {len(pairs)} input rows"
        )
        results[bound] = (out.dtypes, rows)
    first, *rest = results.values()
    assert first[1] and all(r == first for r in rest)
