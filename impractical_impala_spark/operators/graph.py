"""Graph fixpoints: connected components (the cluster-formation step a
dedup pipeline runs after near-dup PAIR generation) and h-index
coreness (every k-core statistic). Spark has no builtin for either;
both are the custom-operator rule (a) composition: one join + groupBy
per round, hash-partitioned on the node id, no driver-side data, run
to the fixpoint by the shared ``_fixpoint`` loop below.

CC starts from the one-hop labels, so it needs at most component
diameter - 1 label-changing rounds plus one that sees no change, and
near-dup clusters are shallow (every member overlaps the same
content); the
large-star/small-star variants that halve diameter per round only pay
off on deep web-graph-like components.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _drop_checkpoint(df: DataFrame) -> None:
    """Best-effort eager release of a localCheckpoint'd DataFrame's
    blocks. The public API only frees them when the JVM Dataset is
    GC'd (ContextCleaner), so a long session running many component
    jobs would accumulate executor storage; a checkpointed Dataset's
    analyzed plan is a LogicalRDD whose rdd we can unpersist now."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass  # non-LogicalRDD plan or API drift: ContextCleaner handles it


def _fixpoint(init: DataFrame, step: Callable[[DataFrame], DataFrame],
              col: str, max_iter: int, what: str) -> DataFrame:
    """Iterate ``step`` from ``init`` until a round changes nothing and
    return that round's frame (localCheckpointed; the caller owns its
    blocks). Raises after ``max_iter`` rounds rather than returning a
    silently unconverged result.

    ``col`` must be pointwise non-increasing from round to round over a
    fixed key set, so an unchanged sum of it means an unchanged frame.
    Each round is ONE action, the round's localCheckpoint: the sum
    rides on its jobs through ``DataFrame.observe`` instead of a
    second count or aggregate action. It is an exact decimal(38,0)
    sum — an int64 sum wraps silently with ANSI off, and a double one
    cannot see a change of 1 in ids near 2^62.

    localCheckpoint (not cache): each round's plan references the
    previous round's, so without truncating lineage the logical plan
    grows exponentially with rounds and the DRIVER dies on plan
    bookkeeping long before any executor breaks a sweat. On a real
    cluster swap for a reliable checkpoint dir if executor loss
    mid-algorithm must be survivable."""
    def run(df: DataFrame) -> tuple[DataFrame, object]:
        obs = Observation()
        out = (df.observe(obs, F.sum(F.col(col).cast("decimal(38,0)"))
                          .alias("s"))
               .localCheckpoint(eager=True))
        return out, obs.get["s"]

    cur, tot = run(init)
    # try/finally: each superseded round's blocks are dropped eagerly,
    # and the live one on the max_iter raise or an exception too
    try:
        for _ in range(max_iter):
            nxt, ntot = run(step(cur))
            _drop_checkpoint(cur)
            cur = nxt
            if ntot == tot:
                out, cur = cur, None
                return out
            tot = ntot
    finally:
        if cur is not None:
            _drop_checkpoint(cur)
    raise RuntimeError(f"{what} did not converge in {max_iter} rounds")


def connected_components(edges: DataFrame, src: str, dst: str,
                         max_iter: int = 15) -> DataFrame:
    """Label every node of the undirected graph ``edges`` with the
    smallest node id reachable from it (= component id). Returns
    ``(node, component)``, one row per distinct node.

    Pregel-style min-label propagation: a node's label is the min of
    its own and its neighbours', so labels only decrease and the label
    sum is an exact convergence test (``_fixpoint``). Deterministic:
    labels are ids, propagation is min() — no float or ordering
    sensitivity, so the result is hash-stable and oracle-checkable
    against a recursive-CTE transitive closure.

    ``edges`` is read ONCE: the symmetrized list comes from one
    ``inline`` (explode) of both orientations, not a self-union. A union
    references the input twice in one plan, and above a cached
    relation AQE gives each reference its own cache stage and reuses no
    exchange, so the whole upstream (e.g. the LSH pair pipeline) would
    run twice. No distinct: duplicate and reversed edges cannot change
    a min, and each round's map-side partial min collapses them.

    The fixpoint starts from the one-hop labels min(node, neighbours),
    which is what the first round from the identity labeling computes,
    so that round is skipped. Each seed label is an id in the node's
    own component and at most the node's id, so labels still only
    decrease toward the component minimum. ``max_iter`` bounds the
    rounds after the seed, at most the component diameter; raises if
    they don't reach the fixpoint.
    """
    sym = edges.select(F.inline(F.array(
        F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
        F.struct(F.col(dst).alias("a"), F.col(src).alias("b"))))).cache()

    def step(labels: DataFrame) -> DataFrame:
        prop = (sym.join(labels, sym.a == labels.node)
                .select(F.col("b").alias("node"), "lbl"))
        return (prop.unionByName(labels.select("node", "lbl"))
                .groupBy("node").agg(F.min("lbl").alias("lbl")))

    init = sym.groupBy(F.col("a").alias("node")) \
        .agg(F.least(F.col("a"), F.min("b")).alias("lbl"))
    try:
        labels = _fixpoint(init, step, "lbl", max_iter,
                           "connected_components")
    finally:
        sym.unpersist()
    return labels.select("node", F.col("lbl").alias("component"))


def coreness(edges: DataFrame, max_iter: int = 100) -> DataFrame:
    """Core number of EVERY node of the undirected simple graph
    ``edges(a, b)`` (one row per edge, no self-loops — the cohort_edges
    contract) in ONE fixpoint, via the h-index iteration of Lü, Zhou,
    Zhang & Stanley, "The H-index of a network node and its relation
    to degree and coreness" (Nature Communications 7:10168, 2016):

        c_0(v)   = degree(v)
        c_t+1(v) = H({c_t(u) : u ~ v})   (H = largest h with >= h
                                          neighbor values >= h)

    c_t is pointwise non-increasing (H of n values <= n, and H is
    monotone in its inputs, so by induction from c_0 = degree) and
    converges exactly to the coreness — so the core sum is an exact
    convergence test (``_fixpoint``). Every k-core statistic then
    reads off the fixpoint WITHOUT re-peeling: the k-core is the
    subgraph induced by {v : core(v) >= k}, so n_nodes(k) = #{core >=
    k} and n_edges(k) = #{(a,b) : min(core(a), core(b)) >= k}, and the
    degeneracy k* = max coreness.

    Returns (node, core). Scale shape: each round is one join of the
    static symmetrized edge list against the current (node, core)
    frame plus one groupBy whose per-group state is O(max degree).
    Raises after ``max_iter`` rounds rather than returning a silently
    unconverged labeling. The h-index itself is pure codegen: sort the
    collected neighbor values descending, count prefix positions i
    (1-based) with value >= i."""
    e = edges.select("a", "b")
    sym = (e.select(F.col("a").alias("u"), F.col("b").alias("v"))
           .unionByName(e.select(F.col("b").alias("u"),
                                 F.col("a").alias("v")))
           .localCheckpoint(eager=True))
    hidx = ("cast(size(filter(transform(sort_array(cs, false),"
            " (x, i) -> x >= i + 1), p -> p)) as bigint)")

    def step(cores: DataFrame) -> DataFrame:
        return (sym.join(cores, sym.v == cores.node)
                .groupBy(F.col("u").alias("node"))
                .agg(F.collect_list("c").alias("cs"))
                .select("node", F.expr(hidx).alias("c")))

    degree = (sym.groupBy(F.col("u").alias("node"))
              .agg(F.count(F.lit(1)).alias("c")))
    try:
        return _fixpoint(degree, step, "c", max_iter, "coreness")
    finally:
        _drop_checkpoint(sym)


def _edge_min_core(edges: DataFrame, cores: DataFrame) -> DataFrame:
    """One row per distinct edge with m = min(core(a), core(b)) — the
    largest k whose k-core keeps the edge."""
    ca = cores.select(F.col("node").alias("a"), F.col("c").alias("ca"))
    cb = cores.select(F.col("node").alias("b"), F.col("c").alias("cb"))
    return (edges.join(ca, "a").join(cb, "b")
            .select(F.least("ca", "cb").alias("m")))


def k_core_summary(edges: DataFrame, ks: tuple[int, ...],
                   max_iter: int = 100) -> DataFrame:
    """k-core sizes of the undirected graph ``edges(a, b)``: for each
    k, the node and edge counts of the subgraph left after peeling
    nodes of degree < k to the fixpoint. One row per k: (k, n_nodes,
    n_edges).

    ONE h-index coreness fixpoint (see ``coreness``) followed by one
    conditional-count aggregation over the node cores and one over the
    edge min-cores — every k's sizes in two jobs, however many ks are
    asked for, all hash-partitioned on node id with no driver-side
    data. Value-identical to per-k peeling: the k-core is the subgraph
    induced by {core >= k}, and for k >= 1 every member has an
    incident core edge, so the peel's endpoint-distinct node count
    equals #{core >= k}. Pinned vs the Python and Spark reference
    peels in tests/test_r16_opt.py."""
    e0 = edges.select(F.col("a"), F.col("b")).distinct().localCheckpoint(
        eager=True)
    try:
        cores = coreness(e0, max_iter)
        try:
            n_agg = cores.groupBy().agg(*[
                F.coalesce(F.sum(F.expr(f"cast(c >= {k} as long)")),
                           F.lit(0)).cast("long").alias(f"n_{i}")
                for i, k in enumerate(ks)])
            e_agg = _edge_min_core(e0, cores).groupBy().agg(*[
                F.coalesce(F.sum(F.expr(f"cast(m >= {k} as long)")),
                           F.lit(0)).cast("long").alias(f"e_{i}")
                for i, k in enumerate(ks)])
            stack = ", ".join(
                f"cast({k} as bigint), n_{i}, e_{i}"
                for i, k in enumerate(ks))
            out = (n_agg.crossJoin(e_agg)
                   .select(F.expr(f"stack({len(ks)}, {stack})"
                                  " AS (k, n_nodes, n_edges)")))
            # materialize before releasing the inputs' blocks: the
            # result is |ks| rows (model-size by construction)
            return out.localCheckpoint(eager=True)
        finally:
            _drop_checkpoint(cores)
    finally:
        _drop_checkpoint(e0)


def degeneracy_core(edges: DataFrame, max_iter: int = 100) -> DataFrame:
    """The graph's DEGENERACY (the largest k with a non-empty k-core)
    and that innermost core's size. Also reports the 2-core (the
    standard "remove the dangling fringe" level) so the output is
    informative at ANY density: a uniformly dense backbone has an
    empty core at median degree but a deep degeneracy; a sparse graph
    the reverse. Returns two rows: (level='2core', k=2, sizes) and
    (level='degeneracy', k=k*, sizes).

    Optimization r16 (replacing r15's binary search over nested
    peels): ONE h-index coreness fixpoint (see ``coreness``), then
    both rows read off it distributively — k* = max coreness (the
    innermost core is non-empty with min degree k*, so it contains an
    edge whose endpoints both have coreness k*; no edge's min-coreness
    can exceed the max), the k*-core sizes are #{core = k*} nodes /
    #{min-core = k*} edges, and the 2-core sizes are the same
    conditional counts at k = 2. The edgeless graph falls out of the
    coalesces: max over zero rows is NULL -> k = 0, all sizes 0 —
    byte-identical to the old special case. Value-equality to the
    peel-based rows is pinned in tests/test_r16_opt.py and by the
    standing DuckDB oracle. No driver-side materialization remains in
    this operator (the old 1-row max-degree collect is gone)."""
    e0 = edges.select(F.col("a"), F.col("b")).distinct().localCheckpoint(
        eager=True)
    try:
        cores = coreness(e0, max_iter)
        try:
            kf = cores.groupBy().agg(F.max("c").alias("kstar"))
            n_agg = (cores.crossJoin(F.broadcast(kf))
                     .groupBy().agg(
                         F.coalesce(F.sum(F.expr("cast(c >= 2 as long)")),
                                    F.lit(0)).cast("long").alias("n2"),
                         F.coalesce(F.sum(F.expr(
                             "cast(c >= kstar as long)")),
                             F.lit(0)).cast("long").alias("nk")))
            e_agg = (_edge_min_core(e0, cores).crossJoin(F.broadcast(kf))
                     .groupBy().agg(
                         F.coalesce(F.sum(F.expr("cast(m >= 2 as long)")),
                                    F.lit(0)).cast("long").alias("e2"),
                         F.coalesce(F.sum(F.expr(
                             "cast(m >= kstar as long)")),
                             F.lit(0)).cast("long").alias("ek")))
            out = (n_agg.crossJoin(e_agg).crossJoin(
                F.broadcast(kf.select(
                    F.coalesce(F.col("kstar"), F.lit(0)).cast("bigint")
                    .alias("kstar"))))
                .select(F.expr(
                    "stack(2, '2core', cast(2 as bigint), n2, e2,"
                    " 'degeneracy', kstar, nk, ek)"
                    " AS (level, k, n_nodes, n_edges)")))
            # materialize before releasing the inputs' blocks (2 rows)
            return out.localCheckpoint(eager=True)
        finally:
            _drop_checkpoint(cores)
    finally:
        _drop_checkpoint(e0)
