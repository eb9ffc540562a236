"""Graph analytics over edge-list DataFrames: integer mass propagation
(PageRank push steps), triangle counting, connected components and k-core
peeling.

Every operator here has two paths behind one seam,
:func:`staging.bounded_int64`, which checkpoints the edge list and probes
it: at most ``*_DRIVER_MAX_EDGES`` integral, non-NULL rows come back as
int64 arrays and are solved in NumPy (or a union-find) on the driver;
anything larger, or outside that contract, runs the distributed DataFrame
algorithm on the checkpoint the seam returns. Both paths return the same
rows and schema (property-tested against each other); the bounds are
module constants, and tests force the distributed path by setting one to
0. At bench scale the operators are bound by Spark job scheduling, not
compute, which is what the driver paths remove.

Connected components: near-dup detection yields PAIRS; dedup policy
needs CLUSTERS ("keep one representative per group of mutually-similar
docs"), i.e. connected components of the similarity graph. Spark has no
CC primitive; the distributed path is iterative min-label propagation
(the alternating small-star / large-star idea in its simple form):

    label(v) := v
    repeat: label(v) := min(label(v), min over neighbors' labels)
    until no label changes

Each round is one join + one aggregate (all DataFrame ops); the minimum
label advances ONE hop per round (plain neighbor-min propagation, no
small-star/large-star pointer doubling), so rounds needed = component
diameter. Near-dup clusters are tiny (usually 2-5 docs, diameter 1-3),
which is why the simple form wins here; a component whose diameter
exceeds `max_iter` fails LOUDLY rather than returning split labels. The
driver loop only checks a scalar convergence count per round; labels
never collect to the driver.

Scale: the iterative distributed loops shuffle the edge table on node id
each round; for N-node graphs of small components the work per round is
O(E). A 100 TB corpus with billions of edges runs the same loops with
checkpointing every few rounds to cut lineage (documented knob:
`checkpoint_every`).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce__spark.operators.staging import bounded_int64


# Driver-path bound for propagate_mass (staging.bounded_int64 decides):
# at or under this many edge rows the supersteps run as NumPy segment
# sums on the driver instead of one join + groupBy job chain per
# superstep. Driver cost is a few int64 arrays per edge: at the bound,
# k=4 on random ids took ~1 s and ~100 MB of NumPy on a 4-vCPU VM, the
# same order as KCORE_/TRIANGLES_DRIVER_MAX_EDGES.
MASS_DRIVER_MAX_EDGES = 2_000_000


def _propagate_mass_driver(c, s, k: int, initial_mass: int):
    """Driver-side twin of the superstep loop over int64 endpoint arrays:
    returns (node ids, mass) of the side superstep k lands on. Each side
    is relabelled by ``np.unique``; a superstep gives every sender's
    ``mass // degree`` to the receivers of its edges, summed per receiver
    in int64 by ``np.add.reduceat`` over the edges sorted by receiver —
    exact, so any k agrees with the distributed path bit for bit. A
    repeated (c, s) pair counts twice, as it does there."""
    sides = [np.unique(x, return_inverse=True) for x in (c, s)]
    ids = [u for u, _ in sides]
    idx = [inv for _, inv in sides]
    deg = [np.bincount(inv, minlength=len(u)) for u, inv in sides]
    # edges grouped by receiver; every node has an edge, so each segment
    # of the sorted order is non-empty and starts at the degree prefix sum
    order = [np.argsort(inv) for inv in idx]
    starts = [np.cumsum(d) - d for d in deg]
    mass = np.full(len(ids[0]), initial_mass, dtype=np.int64)
    for i in range(k):
        src, dst = i % 2, 1 - i % 2
        share = (mass // deg[src])[idx[src]]
        mass = np.add.reduceat(share[order[dst]], starts[dst])
    return ids[k % 2], mass


def propagate_mass(
    edges: DataFrame,
    k: int,
    initial_mass: int = 1_000_000,
    checkpoint_every: int = 2,
) -> DataFrame:
    """k supersteps of integer mass propagation over a bipartite edge
    list (columns ``c``, ``s``) — the PageRank push step, parameterized.
    Every c-side node starts with ``initial_mass``; each superstep splits
    a node's mass by integer division across its edges and sums at the
    receivers, alternating direction (c→s, s→c, ...). Returns the mass
    table keyed by ``c`` when k is even, ``s`` when odd: the key typed
    like that edge column, ``mass`` bigint, on either path.

    Integer mass ``//`` degree keeps the result order-independent (float
    summation order would make cross-engine bit-equality luck), so any k
    is exactly oracle-checkable by unrolled SQL.

    Driver path (staging.bounded_int64 decides): at most
    :data:`MASS_DRIVER_MAX_EDGES` integral, non-NULL edges run all k
    supersteps in NumPy (:func:`_propagate_mass_driver`) and return
    through ``createDataFrame``: the probe is the query's one Spark
    job instead of a join + groupBy chain per superstep. Identical
    rows and schema (tested against the loop below).

    Distributed path (larger graphs, NULL or non-integral ids): the
    checkpointed edge list gets both degree columns from two
    partitioned window counts, checkpointed lazily so the first
    superstep's job fills it. The first superstep folds the uniform
    ``initial_mass`` as a literal into a groupBy over ``e`` itself —
    every later superstep is one join (static ``e`` ⋈ shrinking mass
    table) plus one partially-aggregated groupBy, the Pregel
    message-passing shape. A window count co-locates each key's edges
    exactly like a sort-merge degree join would, so the skew exposure
    is that of the groupBy. ``checkpoint_every`` truncates mass-table
    lineage the same way :func:`connected_components` does; without it
    superstep i replays supersteps 0..i-1 and the loop goes quadratic in
    k."""
    if k < 1:
        raise ValueError("propagate_mass: k must be >= 1")
    if initial_mass < 0:
        # both paths divide non-negative mass, where // and SQL `div`
        # (truncation toward zero) agree
        raise ValueError("propagate_mass: initial_mass must be >= 0")
    from pyspark.sql import Window
    from pyspark.sql.types import LongType, StructField, StructType

    from mapreduce__spark.operators.windows import idiv

    local, e0 = bounded_int64(edges.select("c", "s"), ["c", "s"], MASS_DRIVER_MAX_EDGES)
    if local is not None:
        key = "c" if k % 2 == 0 else "s"
        node, mass = _propagate_mass_driver(*local, k, initial_mass)
        return e0.sparkSession.createDataFrame(
            pd.DataFrame({key: node, "mass": mass}),
            StructType([e0.schema[key], StructField("mass", LongType())]),
        )

    e = (
        e0.withColumn("dc", F.count(F.lit(1)).over(Window.partitionBy("c")))
        .withColumn("ds", F.count(F.lit(1)).over(Window.partitionBy("s")))
        .localCheckpoint(eager=False)
    )

    mass = e.groupBy("s").agg(
        F.sum(idiv(F.lit(initial_mass).cast("bigint"), F.col("dc"))).alias("mass")
    )
    if checkpoint_every == 1 and k > 1:
        mass = mass.localCheckpoint(eager=True)
    for i in range(1, k):
        if i % 2 == 0:  # c -> s
            mass = (
                e.join(mass, "c")
                .groupBy("s")
                .agg(F.sum(idiv(F.col("mass"), F.col("dc"))).alias("mass"))
            )
        else:  # s -> c
            mass = (
                e.join(mass, "s")
                .groupBy("c")
                .agg(F.sum(idiv(F.col("mass"), F.col("ds"))).alias("mass"))
            )
        if checkpoint_every and (i + 1) % checkpoint_every == 0 and (i + 1) < k:
            mass = mass.localCheckpoint(eager=True)
    return mass


# Broadcast guard for count_triangles: the adjacency-list table carries
# one array entry per oriented edge, so 4M edges x 3 bigints is ~100MB
# serialized — comfortably broadcastable; past this the two adjacency
# joins fall back to sort-merge (see the function docstring).
TRIANGLES_BROADCAST_MAX_EDGES = 4_000_000

# Driver-path bound for count_triangles (staging.bounded_int64 decides):
# at or under this many edge rows the wedges close in NumPy on the
# driver instead of through ~15 Spark jobs of degree joins, adjacency
# packing and array intersection. Driver memory is O(edges + block):
# at the bound, ~300 MB of Python driver RSS and ~7 s of NumPy on a
# 4-vCPU VM; sf0.1's 1.196M edges take ~7 s end to end there, against
# 17-20 s for the distributed path on local[2].
TRIANGLES_DRIVER_MAX_EDGES = 2_000_000
# Wedges closed per NumPy block on the driver path.
TRIANGLES_DRIVER_BLOCK = 1 << 20


def _count_triangles_driver(u, v):
    """Driver-side twin of the distributed count over int64 endpoint
    arrays, or ``None`` when the edge list breaks the contract (a
    self-loop or a repeated pair), so the caller runs the distributed
    path and both paths agree on such input.

    Same orientation, by (degree, id): nodes are relabelled by their
    rank in that order, and each edge points from its lower-ranked
    endpoint s to the higher t. The out-adjacency is one sorted array of
    packed ``s * n + t`` keys, so N+(s) is a contiguous, rank-sorted run.
    A triangle r0 < r1 < r2 is the one wedge (r0 -> r1, r0 -> r2) with
    r1 before r2 in N+(r0) that the key ``r1 * n + r2`` closes; wedges
    are enumerated per edge in blocks of about TRIANGLES_DRIVER_BLOCK
    and closed with one ``searchsorted`` each. Returns (node ids,
    triangle counts) for the nodes in at least one triangle."""
    ids, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    n, m = len(ids), len(u)
    # ids are sorted, so a stable sort by degree orders by (degree, id)
    order = np.argsort(np.bincount(inv, minlength=n), kind="stable")
    rank = np.empty(n, dtype=np.int64)
    rank[order] = np.arange(n)
    ru, rv = rank[inv[:m]], rank[inv[m:]]
    s, t = np.minimum(ru, rv), np.maximum(ru, rv)
    keys = np.sort(s * n + t)
    if (s == t).any() or (keys[1:] == keys[:-1]).any():
        return None
    s, t = keys // n, keys % n
    # wedge partners of edge e are the later edges of the same run
    run_end = np.searchsorted(s, s, side="right")
    n_wedges = run_end - np.arange(m) - 1
    ends = np.cumsum(n_wedges)
    tri = np.zeros(n, dtype=np.int64)
    lo = 0
    while lo < m:
        base = ends[lo - 1] if lo else 0
        hi = max(int(np.searchsorted(ends, base + TRIANGLES_DRIVER_BLOCK, "right")), lo + 1)
        cnt = n_wedges[lo:hi]
        e = np.repeat(np.arange(lo, hi), cnt)
        # partner index: e + 1, e + 2, ... within each edge's wedges
        off = np.arange(len(e)) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        w = t[e + 1 + off]
        q = t[e] * n + w
        pos = np.searchsorted(keys, q)
        hit = keys[np.minimum(pos, m - 1)] == q
        e = e[hit]
        tri += np.bincount(s[e], minlength=n)
        tri += np.bincount(t[e], minlength=n)
        tri += np.bincount(w[hit], minlength=n)
        lo = hi
    nz = np.flatnonzero(tri)
    return ids[order[nz]], tri[nz]


def count_triangles(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Per-node triangle participation counts over an undirected edge
    list (each pair once, any orientation, no self-loops). Returns
    ``(node, n_triangles)`` for every node in at least one triangle;
    each triangle {x,y,z} contributes 1 to all three nodes.

    Algorithm: degree-ordered edge orientation (Suri & Vassilvitskii,
    "Counting Triangles and the Curse of the Last Reducer", WWW'11).
    Every edge is directed from its lower endpoint to its higher under
    the total order (degree, id); a triangle has exactly one vertex with
    out-edges to the other two under a total order, so each is found
    exactly once — no /3 or /6 correction, which keeps the count exactly
    oracle-checkable.

    Execution (round 11): the per-edge INTERSECTION form, not the wedge
    join. Out-neighbor sets are packed into one sorted array per source
    (collect_list over the oriented edges — a single m-row shuffle);
    each oriented edge (s, t) then closes its triangles as
    array_intersect(N+(s), N+(t)) — every common out-neighbor w yields
    the triangle {s, t, w}, found only at its apex edge because s→t,
    s→w, t→w is the unique orientation. Per-node participation falls
    out without materializing the wedge stream: s and t each gain
    |intersection| and each w gains 1 (one explode bounded by the
    TRIANGLE count, not the wedge count).

    Scale. Degree ordering bounds BOTH forms' work at O(m^{3/2}) total
    (Σ per-edge |N+(s)|+|N+(t)| counts each wedge at most twice), and —
    the property the array form leans on — bounds every out-degree by
    O(sqrt(m)) (a node's out-neighbors all out-rank it in degree, and
    more than 2*sqrt(m) nodes of degree >= sqrt(m) would need more than
    m edge endpoints), so no adjacency array can blow a row: ~2e5
    entries per row even at 10^10 edges. The win over the former
    wedge-join body (round-9..10 shape) is constant-factor but large:
    the 41M-wedge stream at sf0.1 (34:1 wedges:edges) was materialized
    through a join and re-probed by the closure join; the array form
    does the same element comparisons INSIDE one codegen stage over the
    1.2M edge rows and allocates rows only for actual triangles.
    A/B'd like the k-core guard, same session, identical results
    (sum 5,653,464 over 20,000 nodes at sf0.1): warm-vs-warm 29.4s ->
    10.4s, cold-vs-cold 42.5s -> 22.3s.

    Size-guarded broadcast: the adjacency table carries one array entry
    per oriented edge, so the round-9 edge-count guard transfers — under
    TRIANGLES_BROADCAST_MAX_EDGES oriented edges both adjacency lookups
    hash against a broadcast and the edge list never shuffles; past it
    the two joins fall back to sort-merge on s / t — broadcasting an
    edge-sized relation at true graph scale is exactly the non-scalable
    shape the guard exists to prevent (the _probe_ids pattern).

    Driver path (staging.bounded_int64 decides): graphs of at most
    TRIANGLES_DRIVER_MAX_EDGES integral, non-NULL edges with no
    self-loop or repeated pair are counted in NumPy by
    :func:`_count_triangles_driver` — the same orientation, wedges closed in fixed-size blocks — and return through
    ``createDataFrame``, like k_core_layers' driver peel: 4 Spark jobs
    instead of ~15 at bench scale, identical rows (tested). Everything
    else runs the distributed form above."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    local, e = bounded_int64(e, ["u", "v"], TRIANGLES_DRIVER_MAX_EDGES)
    found = _count_triangles_driver(*local) if local is not None else None
    if found is not None:
        # node takes the common type of u and v, as on the distributed path
        t = e.select("u").unionAll(e.select("v")).schema[0].dataType
        return e.sparkSession.createDataFrame(
            pd.DataFrame({"node": found[0], "n_triangles": found[1]}),
            f"node {t.simpleString()}, n_triangles bigint",
        )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    j = e.join(du, "u").join(dv, "v")
    u_lower = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = j.select(
        F.when(u_lower, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_lower, F.col("v")).otherwise(F.col("u")).alias("t"),
    ).localCheckpoint(eager=True)
    # guard on oriented-edge count (reads checkpoint stats): the
    # adjacency payload below is exactly one array entry per edge
    small = o.count() <= TRIANGLES_BROADCAST_MAX_EDGES
    adj = o.groupBy("s").agg(F.sort_array(F.collect_list("t")).alias("nbrs"))
    adj = F.broadcast(adj) if small else adj
    adj_s = adj.select(F.col("s").alias("_as"), F.col("nbrs").alias("ns"))
    adj_t = adj.select(F.col("s").alias("_at"), F.col("nbrs").alias("nt"))
    # inner joins are exact: every edge's s has an out-list (at least
    # this edge); an edge whose t has NO out-list closes no triangle
    per_edge = (
        o.join(adj_s, o["s"] == adj_s["_as"])
        .join(adj_t, o["t"] == adj_t["_at"])
        .select("s", "t", F.array_intersect("ns", "nt").alias("ws"))
        .where(F.size("ws") > 0)
        .select("s", "t", F.size("ws").cast("bigint").alias("c"), "ws")
    )
    nodes = (
        per_edge.select(F.col("s").alias("node"), "c")
        .unionAll(per_edge.select(F.col("t").alias("node"), "c"))
        .unionAll(
            per_edge.select(
                F.explode("ws").alias("node"),
                F.lit(1).cast("bigint").alias("c"),
            )
        )
    )
    return nodes.groupBy("node").agg(
        F.sum("c").cast("bigint").alias("n_triangles")
    )


# Driver-path bound for connected_components: at or under this many
# edge rows (staging.bounded_int64 decides) a driver union-find replaces
# 2 Spark jobs per propagation round — near-dup graphs are SPARSE even
# on huge corpora, the pairs already survived an LSH + verify gate.
CC_DRIVER_MAX_EDGES = 100_000


def connected_components(
    edges: DataFrame,
    src: str = "id1",
    dst: str = "id2",
    max_iter: int = 20,
    checkpoint_every: int = 5,
) -> DataFrame:
    """Return (node, component) where component = min node id reachable.

    `edges` is an undirected pair list (each pair once, any orientation).
    Under :data:`CC_DRIVER_MAX_EDGES` integral, non-NULL edges a driver
    union-find finishes the job; otherwise the distributed
    label-propagation loop below runs on the seam's checkpoint, which
    every round re-reads (the edges' upstream is typically the whole
    LSH+verify pipeline). Same result either way (tested).
    """
    edges = edges.select(src, dst)
    local, edges = bounded_int64(edges, [src, dst], CC_DRIVER_MAX_EDGES)
    if local is not None:
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in zip(*(c.tolist() for c in local)):
            ra, rb = find(parent.setdefault(a, a)), find(parent.setdefault(b, b))
            # union by MIN id so the representative is the smallest node
            parent[max(ra, rb)] = min(ra, rb)
        node, comp = np.array([(n, find(n)) for n in parent], np.int64).reshape(-1, 2).T
        # node/component take the COMMON type of src and dst via the same
        # union coercion the distributed path applies, so both paths
        # return one schema (and wider dst ids are not narrowed)
        t = edges.select(src).unionAll(edges.select(dst)).schema[0].dataType
        # through pandas, like the other driver paths: the result is a
        # local relation of known size, so a join against it is planned
        # as a broadcast up front. A Python list would come back as an RDD
        # of unknown size, and AQE's join choice (and the job count) would
        # then turn on which of the join's map stages finished first.
        return edges.sparkSession.createDataFrame(
            pd.DataFrame({"node": node, "component": comp}),
            f"node {t.simpleString()}, component {t.simpleString()}",
        )

    # symmetrize + self-loops so isolated orientation doesn't matter
    fwd = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = fwd.unionAll(fwd.select(F.col("b").alias("a"), F.col("a").alias("b")))
    nodes = sym.select(F.col("a").alias("node")).distinct()
    labels = nodes.withColumn("component", F.col("node"))

    converged = False
    for i in range(max_iter):
        # candidate label for each node: min over its own and neighbors' labels
        nbr = (
            sym.join(labels, sym.b == labels.node)
            .select(F.col("a").alias("node"), F.col("component"))
        )
        new_labels = (
            labels.select("node", "component")
            .unionAll(nbr)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        # The min label advances one hop per round, so a component whose
        # diameter exceeds max_iter still has moving labels here —
        # returning them would report one real cluster as several
        # components (dedup would keep multiple "representatives" of the
        # same group). Fail loudly instead of silently under-merging.
        raise RuntimeError(
            f"connected_components: labels still changing after max_iter="
            f"{max_iter} rounds (component diameter exceeds the round "
            "budget); raise max_iter — propagation needs one round per "
            "hop of the widest component"
        )
    return labels


# Skip the adjacency rewrite+checkpoint while the cumulative removed
# fraction stays under this (round-9 verdict item 7): late peel rounds
# typically drop a handful of nodes, and rewriting + eagerly
# checkpointing the full (billion-edge) adjacency to delete 0.1% of it
# is pure executor-memory churn. Below the threshold the loop instead
# anti-joins the STALE adjacency against the small accumulated
# "pending dead" set on the fly — the same alive-edge relation, so
# per-round degrees (and therefore the output) are value-identical;
# the stale base is compacted only once the pending fraction crosses
# the threshold.
KCORE_REWRITE_FRACTION = 0.05

# Driver-path bound for k_core_layers (staging.bounded_int64 decides): at
# or under this many edge rows (two int64 columns, 32 MB at the bound)
# the peel runs in vectorized NumPy instead of paying 5 rounds x several
# AQE stage-jobs of Spark scheduling for a graph that fits in one task.
KCORE_DRIVER_MAX_EDGES = 2_000_000


def _k_core_layers_driver(spark, u, v, k: int, max_rounds: int) -> DataFrame:
    """Driver-side peel over int64 endpoint arrays — value-identical to
    the distributed loop (tested): per round, remove alive nodes with
    alive-degree < k, recording (layer, degree-at-removal); alive-degrees
    update by subtracting each newly-dead edge's endpoint counts, which
    is exactly the alive-adjacency degree the distributed form
    recomputes. Integer math throughout, so there is no drift channel."""
    ids = np.unique(np.concatenate([u, v])) if len(u) else np.empty(0, np.int64)
    n = len(ids)
    ui = np.searchsorted(ids, u)
    vi = np.searchsorted(ids, v)
    deg = (
        np.bincount(ui, minlength=n) + np.bincount(vi, minlength=n)
    ).astype(np.int64)
    alive = np.ones(n, dtype=bool)
    edge_alive = np.ones(len(ui), dtype=bool)
    layer = np.zeros(n, dtype=np.int64)
    resid = np.zeros(n, dtype=np.int64)
    for r in range(1, max_rounds + 1):
        rem = alive & (deg < k)
        if not rem.any():
            break
        layer[rem] = r
        resid[rem] = deg[rem]
        alive &= ~rem
        dead_e = edge_alive & (rem[ui] | rem[vi])
        if dead_e.any():
            deg -= np.bincount(ui[dead_e], minlength=n).astype(np.int64)
            deg -= np.bincount(vi[dead_e], minlength=n).astype(np.int64)
            edge_alive &= ~dead_e
    resid[alive] = deg[alive]  # survivors: degree within the final core
    pdf = pd.DataFrame(
        {
            "node": ids.astype(np.int64),
            "layer": layer,
            "residual_degree": resid,
        }
    )
    return spark.createDataFrame(
        pdf, schema="node bigint, layer bigint, residual_degree bigint"
    )


def k_core_layers(
    edges: DataFrame,
    k: int,
    max_rounds: int = 5,
    src: str = "u",
    dst: str = "v",
    rewrite_fraction: float = KCORE_REWRITE_FRACTION,
) -> DataFrame:
    """Fixed-k core peeling with LAYER attribution: iteratively remove
    every node whose degree among the still-alive nodes is below ``k``,
    recording the round each node fell (layer 1, 2, ...); survivors form
    the k-core (layer 0). Returns one row per node:
    (node, layer, residual_degree) — residual_degree is the alive-degree
    that decided the node's fate (its degree at removal time; for core
    members, the degree within the final core). The peel-layer structure
    is the onion decomposition used for influence ranking and
    spam/botnet filtering; fixed-k peeling is its one-slice form.

    Exactly ``max_rounds`` rounds of semantics (the SQL oracle unrolls
    the same count; a converged graph makes later rounds identity, so
    early-exit below never changes the result) — a graph still peelable
    after max_rounds yields the declared R-round partial peel on BOTH
    sides, deterministically. Each round is one degree aggregate over
    the alive adjacency plus anti joins against the removed set; the
    adjacency itself is rewritten + checkpointed only when the
    accumulated removed fraction crosses ``rewrite_fraction`` (the
    changed-fraction guard — small late-round removals ride as a
    "pending dead" anti-join over the stale checkpointed base instead
    of rewriting billions of edges to delete a few). Nothing
    node-proportional ever reaches the driver, only the scalar
    removed-count that drives early exit and the compaction decision.

    Job-count discipline (round 15): the round-14 bench showed this
    query runs FASTER at 8 cores than 32 — per-round wall was dominated
    by Spark job scheduling, not compute (3 driver actions per round:
    eager removed-checkpoint, removed.count, eager nodes-checkpoint).
    Every localCheckpoint here is now LAZY (eager=False) so the one
    per-round ``removed.count()`` action both computes the round and
    persists the checkpoint in the same job, and the alive-node set is
    derived as a shallow anti-join chain over the already-materialized
    removed sets instead of being re-checkpointed per round — 1 job per
    round instead of 3 (29 -> ~10 jobs per query at sf0.1), identical
    relations at every step. Graphs under :data:`KCORE_DRIVER_MAX_EDGES`
    integral, non-NULL edges skip the loop and peel on the driver —
    identical rows (tested against the distributed path), node ids
    returned as bigint either way."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    local, e = bounded_int64(e, ["a", "b"], KCORE_DRIVER_MAX_EDGES)
    if local is not None:
        return _k_core_layers_driver(edges.sparkSession, *local, k, max_rounds)
    adj = e.unionAll(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=False)
    nodes = (
        adj.select(F.col("a").alias("node"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # one job: materializes the nodes checkpoint AND, because nodes
    # derives from it, the adjacency checkpoint
    n_alive = nodes.count()

    def _alive_adj(base: DataFrame, dead: DataFrame | None) -> DataFrame:
        if dead is None:
            return base
        return (
            base.join(dead.select(F.col("node").alias("a")), "a", "left_anti")
            .join(dead.select(F.col("node").alias("b")), "b", "left_anti")
            .select("a", "b")
        )

    def _deg(alive_nodes: DataFrame, alive: DataFrame) -> DataFrame:
        # Aggregate-before-join (round-14 optimization pass, guide §2.3):
        # degrees reduce the alive adjacency map-side to a NODE-sized
        # relation before touching `nodes` — the former node ⟕ adjacency
        # join shuffled every edge through the join each round just to
        # count it afterwards. Isolated-but-alive nodes (all neighbors
        # dead) surface with degree 0 via the left join + coalesce,
        # exactly what count(F.col("b")) over the old left join yielded
        # (A/B'd 3.09s -> 2.73s at sf0.1, hash-identical).
        dg = alive.groupBy("a").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        return alive_nodes.join(
            dg.withColumnRenamed("a", "node"), "node", "left"
        ).select(
            "node", F.coalesce(F.col("d"), F.lit(0).cast("bigint")).alias("d")
        )

    pending: DataFrame | None = None  # removed since the last adj rewrite
    n_pending = 0
    out: DataFrame | None = None
    for r in range(1, max_rounds + 1):
        deg = _deg(nodes, _alive_adj(adj, pending))
        removed = deg.where(F.col("d") < k).localCheckpoint(eager=False)
        # the round's ONLY action: computes the degree pass and persists
        # the removed set in the same job
        n_removed = removed.count()
        if n_removed == 0:
            break
        layer_rows = removed.select(
            "node",
            F.lit(r).cast("bigint").alias("layer"),
            F.col("d").alias("residual_degree"),
        )
        out = layer_rows if out is None else out.unionAll(layer_rows)
        # alive nodes chain anti-joins over the materialized removed
        # sets — depth <= rounds-since-compaction, no per-round action
        nodes = nodes.join(removed, "node", "left_anti")
        n_alive -= n_removed
        # pending is a union of <= rounds-since-compaction materialized
        # checkpoints (each tiny), so its lineage stays shallow without
        # its own checkpoint
        pending = (
            removed.select("node")
            if pending is None
            else pending.unionAll(removed.select("node"))
        )
        n_pending += n_removed
        if n_pending > rewrite_fraction * max(n_alive, 1):
            # lazy: materializes inside the NEXT round's count job
            adj = _alive_adj(adj, pending).localCheckpoint(eager=False)
            nodes = nodes.localCheckpoint(eager=False)
            pending, n_pending = None, 0
    core = _deg(nodes, _alive_adj(adj, pending)).select(
        "node",
        F.lit(0).cast("bigint").alias("layer"),
        F.col("d").alias("residual_degree"),
    )
    return core if out is None else out.select(
        "node", "layer", "residual_degree"
    ).unionAll(core)
