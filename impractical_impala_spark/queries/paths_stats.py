"""Sequence/graph analytics: session path mining, rolling regression
slopes over sliding frames, and triangle counting.

Three more shapes a product-analytics / timeseries engine must run at
corpus scale, each in its decomposed form:

- session paths: sessionize (gap rule), keep each session's first 3
  steps, and aggregate path strings. The path assembly sorts the
  collected (rank, step) structs — collect_list order is execution-
  dependent, so unsorted assembly would be nondeterministic.
- rolling slope: least-squares slope over each trailing-10 frame from
  SLIDING SUFFICIENT SUMS (n, Σx, Σy, Σxy, Σx²). x and y are
  fixed-point integers, so the window sums are exact whatever the
  engine's sliding-window implementation (running recompute vs segment
  tree) — the same determinism trick as emb_covariance — and the only
  floating point is the final slope formula.
- triangles: within-cohort pairs (cohorts are small by construction —
  the same bounded-block discipline as the dedup family) feed the
  classic ordered edge-edge-edge join; a<b<c ordering counts each
  triangle exactly once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources import load_table

SESSION_GAP_US = 30 * 60 * 1_000_000
PATH_STEPS = 3
PATH_TOP = 20


# ----------------------------------------------------- session paths
def session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 20 three-step session-opening paths ('view>click>purchase'
    style): sessionize by 30-minute gaps, keep ranks 1-3, assemble the
    path deterministically (struct-sorted), count."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id",
        F.expr("ts_ns div 1000").alias("ts_us"))
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    sess = (
        ev.withColumn("gap", F.col("ts_us") - F.lag("ts_us").over(w))
        .withColumn("new_s", (F.col("gap").isNull()
                              | (F.col("gap") > SESSION_GAP_US)).cast("int"))
        .withColumn("sess_n", F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("rn", F.row_number().over(
            Window.partitionBy("user_id", "sess_n")
            .orderBy("ts_us", "event_id")))
        .filter(F.col("rn") <= PATH_STEPS)
    )
    paths = (
        sess.groupBy("user_id", "sess_n")
        .agg(F.expr("array_join(transform(array_sort("
                    "collect_list(struct(rn, event_type))),"
                    " s -> s.event_type), '>')").alias("path"),
             F.count(F.lit(1)).alias("n_steps"))
        .filter(F.col("n_steps") == PATH_STEPS)  # full 3-step openings
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(PATH_TOP)
    )


register("session_paths", session_paths, f"""
WITH ev AS (
    SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us FROM events
), flagged AS (
    SELECT *, CASE WHEN gap IS NULL OR gap > {SESSION_GAP_US}
                   THEN 1 ELSE 0 END AS new_s
    FROM (SELECT *, ts_us - LAG(ts_us) OVER
                 (PARTITION BY user_id ORDER BY ts_us, event_id) AS gap
          FROM ev)
), sess AS (
    SELECT *, SUM(new_s) OVER (PARTITION BY user_id
                               ORDER BY ts_us, event_id
                               ROWS UNBOUNDED PRECEDING) AS sess_n
    FROM flagged
), ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, sess_n
                                 ORDER BY ts_us, event_id) AS rn
    FROM sess
), paths AS (
    SELECT user_id, sess_n,
           string_agg(event_type, '>' ORDER BY rn) AS path,
           COUNT(*) AS n_steps
    FROM ranked WHERE rn <= {PATH_STEPS}
    GROUP BY user_id, sess_n
)
SELECT path, COUNT(*) AS n_sessions
FROM paths WHERE n_steps = {PATH_STEPS}
GROUP BY path ORDER BY n_sessions DESC, path LIMIT {PATH_TOP}
""", "top session-opening paths (deterministic struct-sorted assembly)")


# --------------------------------------------------- rolling slope
SLOPE_FRAME = 10
Y_SCALE = 1_000_000  # fixed-point for value


def events_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user mean least-squares slope of value-vs-time over every
    full trailing-10-event frame. The sliding sums run over FIXED-POINT
    integers (x = whole seconds from the user's first event, y =
    µ-scaled value), so n/Σx/Σy/Σxy/Σx² are exact bigints on any
    sliding-window implementation and the slope is an identical double
    expression on both engines."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "value",
        F.expr("ts_ns div 1000").alias("ts_us"))
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    base = (
        ev.withColumn("x", F.expr(
            "(ts_us - min(ts_us) over (partition by user_id)) div 1000000"))
        .withColumn("y", F.expr(f"cast(floor(value * {Y_SCALE}) as bigint)"))
    )
    f = w.rowsBetween(-(SLOPE_FRAME - 1), 0)
    sums = base.select(
        "user_id",
        F.count(F.lit(1)).over(f).alias("n"),
        F.sum("x").over(f).alias("sx"),
        F.sum("y").over(f).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(f).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(f).alias("sxx"),
    ).filter(F.col("n") == SLOPE_FRAME)
    slope = ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
             .cast("double")
             / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
             .cast("double") / F.lit(float(Y_SCALE)))
    return (
        sums.select("user_id", slope.alias("slope"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_frames"),
             F.round(F.avg("slope"), 8).alias("mean_slope"))
        .orderBy("user_id")
    )


register("events_rolling_slope", events_rolling_slope, f"""
WITH base AS (
    SELECT user_id, event_id, epoch_us(ts) AS ts_us,
           (epoch_us(ts) - MIN(epoch_us(ts)) OVER (PARTITION BY user_id))
               // 1000000 AS x,
           CAST(FLOOR(value * {Y_SCALE}) AS BIGINT) AS y
    FROM events
), sums AS (
    SELECT user_id,
           COUNT(*) OVER f AS n,
           SUM(x) OVER f AS sx, SUM(y) OVER f AS sy,
           SUM(x * y) OVER f AS sxy, SUM(x * x) OVER f AS sxx
    FROM base
    WINDOW f AS (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS BETWEEN {SLOPE_FRAME - 1} PRECEDING AND CURRENT ROW)
), slopes AS (
    SELECT user_id,
           CAST(n * sxy - sx * sy AS DOUBLE)
           / CAST(n * sxx - sx * sx AS DOUBLE) / {float(Y_SCALE)} AS slope
    FROM sums WHERE n = {SLOPE_FRAME}
)
SELECT user_id, COUNT(*) AS n_frames,
       ROUND(AVG(slope), 8) AS mean_slope
FROM slopes GROUP BY user_id ORDER BY user_id
""", "trailing-frame OLS slope from integer-exact sliding sufficient sums")


# ------------------------------------------------------- triangles
K_COHORT = 64      # per-(hour, event_type) roster cap before the pair join
EDGE_CAP = 20_000  # co-activity backbone: top-E edges by support


def cohort_edges(ev: DataFrame, cap: int = K_COHORT,
                 edge_cap: int = EDGE_CAP) -> DataFrame:
    """The a<b co-activity BACKBONE from capped cohort rosters. Two
    bounds, both deterministic and oracle-mirrored (truncation is part
    of the operator's documented semantics, not a silent sample):

    1. Roster cap (VERDICT r4 item 3): the (hour, event_type) pair join
       is quadratic in roster size, so each roster keeps its ``cap``
       most-active users (event-count desc, user_id tiebreak) — per-
       cohort pair work <= cap²/2 whatever the data does.
    2. Edge cap: a co-activity graph DENSIFIES as data grows (at sf0.1
       the raw graph is 1500 nodes / 789k edges — 70% of complete; no
       triangle algorithm survives a near-complete graph). The operator
       therefore counts each pair's SUPPORT (number of cohorts it
       co-occurs in) and keeps the ``edge_cap`` strongest edges
       (support desc, then (a, b) — a total order, so the cut is
       deterministic). Top-E is a distributed TakeOrdered; E is
       model-size. Below the cap (sf0.01: 7,788 edges) every edge
       survives and the backbone IS the full graph."""
    act = (ev.select("user_id",
                     F.expr("ts_ns div 3600000000000").alias("hr"),
                     "event_type")
           .groupBy("hr", "event_type", "user_id")
           .agg(F.count(F.lit(1)).alias("n_ev")))
    wk = Window.partitionBy("hr", "event_type").orderBy(
        F.col("n_ev").desc(), "user_id")
    ua = (act.withColumn("rk", F.row_number().over(wk))
          .filter(F.col("rk") <= cap)
          .select("user_id", "hr", "event_type"))
    r1, r2 = ua.alias("r1"), ua.alias("r2")
    support = (
        r1.join(r2, (F.col("r1.hr") == F.col("r2.hr"))
                & (F.col("r1.event_type") == F.col("r2.event_type"))
                & (F.col("r1.user_id") < F.col("r2.user_id")))
        .groupBy(F.col("r1.user_id").alias("a"),
                 F.col("r2.user_id").alias("b"))
        .agg(F.count(F.lit(1)).alias("support"))
    )
    return (support
            .orderBy(F.col("support").desc(), "a", "b").limit(edge_cap)
            .select("a", "b"))


def triangle_count(edges: DataFrame) -> DataFrame:
    """Degree-oriented wedge-join triangle count. Orienting every edge
    from its lower-(degree, id) endpoint to the higher one caps any
    node's out-degree at O(sqrt(m)), so the wedge join's per-key fanout
    is bounded even on heavy hubs — the standard fix for the skew the
    naive edge³ join hits at scale. Each triangle has exactly one pivot
    with out-edges to both other corners, so it is counted once; the
    closing edge is checked against the id-ordered undirected set. Same
    count as the a<b<c edge³ join, different (bounded) physical shape."""
    deg = (edges.select(F.col("a").alias("u"))
           .unionByName(edges.select(F.col("b").alias("u")))
           .groupBy("u").agg(F.count(F.lit(1)).alias("deg")))
    ed = (edges
          .join(deg.select(F.col("u").alias("a"), F.col("deg").alias("da")),
                "a")
          .join(deg.select(F.col("u").alias("b"), F.col("deg").alias("db")),
                "b"))
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    oriented = ed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
    )
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = (o1.join(o2, (F.col("o1.src") == F.col("o2.src"))
                      & (F.col("o1.dst") < F.col("o2.dst")))
              .select(F.col("o1.dst").alias("x"), F.col("o2.dst").alias("y")))
    return (wedges.join(edges, (F.col("x") == F.col("a"))
                        & (F.col("y") == F.col("b")))
            .agg(F.count(F.lit(1)).alias("n_triangles")))


def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the co-activity BACKBONE graph: capped
    (hour, event_type) rosters -> support-ranked top-E edge set ->
    degree-oriented wedge join (see cohort_edges / triangle_count for
    the three scale bounds). Reports nodes, edges and triangles."""
    edges = cohort_edges(load_table(spark, sf_dir, "events")).cache()
    nodes = (edges.select(F.col("a").alias("u"))
             .unionByName(edges.select(F.col("b").alias("u")))
             .distinct().agg(F.count(F.lit(1)).alias("n_nodes")))
    ecnt = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return nodes.crossJoin(ecnt).crossJoin(triangle_count(edges))


register("graph_triangles", graph_triangles, f"""
WITH act AS (
    SELECT epoch_us(ts) // 3600000000 AS hr, event_type, user_id,
           COUNT(*) AS n_ev
    FROM events GROUP BY 1, 2, 3
), ua AS (
    SELECT user_id, hr, event_type
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY hr, event_type
                                       ORDER BY n_ev DESC, user_id) AS rk
          FROM act)
    WHERE rk <= {K_COHORT}
), support AS (
    SELECT r1.user_id AS a, r2.user_id AS b, COUNT(*) AS support
    FROM ua r1 JOIN ua r2
      ON r1.hr = r2.hr AND r1.event_type = r2.event_type
     AND r1.user_id < r2.user_id
    GROUP BY 1, 2
), edges AS (
    SELECT a, b FROM support
    ORDER BY support DESC, a, b LIMIT {EDGE_CAP}
)
SELECT (SELECT COUNT(DISTINCT u) FROM (
            SELECT a AS u FROM edges UNION ALL SELECT b FROM edges))
           AS n_nodes,
       (SELECT COUNT(*) FROM edges) AS n_edges,
       (SELECT COUNT(*) FROM edges e1
        JOIN edges e2 ON e1.b = e2.a
        JOIN edges e3 ON e1.a = e3.a AND e2.b = e3.b) AS n_triangles
""", "capped-roster, degree-oriented wedge-join triangle count")


# ------------------------------------------------------- k-core sizes
def graph_kcore_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Core-structure profile of the co-activity backbone: the 2-core
    (fringe removed) and the DEGENERACY core — the innermost non-empty
    k-core and its depth k*, the maximum core number — the cohesion
    companion to graph_triangles' clustering signal, informative at
    any density where fixed k levels are not. Runs
    operators/graph.py::degeneracy_core, which reads both rows off ONE
    h-index coreness fixpoint, over the SAME support-capped edge set
    as graph_triangles, so every scale bound of cohort_edges applies
    unchanged. Semantics pinned against a Python reference peel in
    tests/test_r7_kernels.py and tests/test_r16_opt.py AND (since r9)
    a full DuckDB oracle: a batch-min-degree recursive-CTE peel, whose
    comment argues its equivalence to per-k peeling."""
    from ..operators.graph import degeneracy_core

    return (degeneracy_core(cohort_edges(load_table(spark, sf_dir,
                                                    "events")))
            .orderBy("level"))


# The same act/ua/support/edges pipeline as graph_triangles' oracle —
# one textual definition keeps the two backbones provably identical.
_COHORT_EDGES_SQL = f"""
act AS (
    SELECT epoch_us(ts) // 3600000000 AS hr, event_type, user_id,
           COUNT(*) AS n_ev
    FROM events GROUP BY 1, 2, 3
), ua AS (
    SELECT user_id, hr, event_type
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY hr, event_type
                                       ORDER BY n_ev DESC, user_id) AS rk
          FROM act)
    WHERE rk <= {K_COHORT}
), support AS (
    SELECT r1.user_id AS a, r2.user_id AS b, COUNT(*) AS support
    FROM ua r1 JOIN ua r2
      ON r1.hr = r2.hr AND r1.event_type = r2.event_type
     AND r1.user_id < r2.user_id
    GROUP BY 1, 2
), edges AS (
    SELECT a, b FROM support
    ORDER BY support DESC, a, b LIMIT {EDGE_CAP}
)"""

# Oracle: batch-min-degree peel as a recursive CTE. Each iteration
# drops EVERY node whose current degree equals the current minimum
# (isolated nodes vanish with their last edge), so the recursion ends
# by itself when the edge set empties — no iteration cap needed
# (>=1 node leaves per round => rounds <= n_nodes; sf0.01: 54 rounds
# over 7,788 edges, ~2 s). Equivalence to the k-cores the Spark plan
# reads off its coreness fixpoint (operators/graph.py::degeneracy_core):
#   * k* = max over rounds of the round-start min degree. (<=) the
#     round achieving the max m starts from a subgraph of min degree m,
#     so the m-core is non-empty; (>=) the innermost core H keeps all
#     its nodes at degree >= k* while intact, so the first round that
#     touches H has min >= k*.
#   * the graph at the FIRST round whose min degree is m IS the m-core:
#     it has min degree >= m (so it is contained in the maximal such
#     subgraph) and contains the m-core (whose nodes never qualify for
#     removal in earlier min<m rounds). Applied at m=k* for the
#     degeneracy row and at the first min>=2 round for the 2-core row.
# Both equivalences are also re-checked numerically by
# tests/test_r7_kernels.py's Python peel.
_KCORE_ORACLE = f"""
WITH RECURSIVE {_COHORT_EDGES_SQL},
peel(it, a, b) AS (
    SELECT 0, a, b FROM edges
    UNION ALL
    SELECT p.it + 1, p.a, p.b
    FROM peel p
    WHERE p.a IN (SELECT u FROM (SELECT u, COUNT(*) AS d
                                 FROM (SELECT a AS u FROM peel
                                       UNION ALL SELECT b FROM peel)
                                 GROUP BY u)
                  WHERE d > (SELECT MIN(d) FROM
                             (SELECT COUNT(*) AS d
                              FROM (SELECT a AS u FROM peel
                                    UNION ALL SELECT b FROM peel)
                              GROUP BY u)))
      AND p.b IN (SELECT u FROM (SELECT u, COUNT(*) AS d
                                 FROM (SELECT a AS u FROM peel
                                       UNION ALL SELECT b FROM peel)
                                 GROUP BY u)
                  WHERE d > (SELECT MIN(d) FROM
                             (SELECT COUNT(*) AS d
                              FROM (SELECT a AS u FROM peel
                                    UNION ALL SELECT b FROM peel)
                              GROUP BY u)))
),
stats AS (
    SELECT it, MIN(d) AS min_d
    FROM (SELECT it, u, COUNT(*) AS d
          FROM (SELECT it, a AS u FROM peel
                UNION ALL SELECT it, b FROM peel)
          GROUP BY it, u)
    GROUP BY it
),
nodesz AS (
    SELECT it, COUNT(DISTINCT u) AS n_nodes
    FROM (SELECT it, a AS u FROM peel UNION ALL SELECT it, b FROM peel)
    GROUP BY it
),
edgesz AS (SELECT it, COUNT(*) AS n_edges FROM peel GROUP BY it),
kstar AS (SELECT MAX(min_d) AS k FROM stats),
it_k AS (SELECT MIN(it) AS it FROM stats
         WHERE min_d = (SELECT k FROM kstar)),
it_2 AS (SELECT MIN(it) AS it FROM stats WHERE min_d >= 2)
SELECT '2core' AS level, CAST(2 AS BIGINT) AS k,
       CAST(COALESCE((SELECT n_nodes FROM nodesz
                      WHERE it = (SELECT it FROM it_2)), 0) AS BIGINT)
           AS n_nodes,
       CAST(COALESCE((SELECT n_edges FROM edgesz
                      WHERE it = (SELECT it FROM it_2)), 0) AS BIGINT)
           AS n_edges
UNION ALL
SELECT 'degeneracy' AS level,
       CAST(COALESCE((SELECT k FROM kstar), 0) AS BIGINT) AS k,
       CAST(COALESCE((SELECT n_nodes FROM nodesz
                      WHERE it = (SELECT it FROM it_k)), 0) AS BIGINT)
           AS n_nodes,
       CAST(COALESCE((SELECT n_edges FROM edgesz
                      WHERE it = (SELECT it FROM it_k)), 0) AS BIGINT)
           AS n_edges
ORDER BY level
"""

register("graph_kcore_summary", graph_kcore_summary, _KCORE_ORACLE,
         "2-core and degeneracy core of the backbone via coreness")


# ------------------------------------------------ BFS hop histogram
BFS_ROUNDS = 4


def _symmetrized(edges: DataFrame) -> DataFrame:
    """Both directions of every backbone edge as ``(u, v)``, cached:
    each caller joins it more than once (every unrolled BFS round), and
    uncached the support-ranked backbone is recomputed per join."""
    return (edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
            .unionByName(edges.select(F.col("b").alias("u"),
                                      F.col("a").alias("v")))).cache()


def _bfs_hop_histogram(sym: DataFrame, dist: DataFrame) -> DataFrame:
    """Unrolled BFS from ``dist`` (``u``, ``d``: 0 at the seeds, NULL
    elsewhere) over ``sym``: BFS_ROUNDS frontier expansions, each one
    join of the current frontier against the symmetrized edge list
    keyed on the node id. Returns nodes per hop 0..BFS_ROUNDS plus the
    still-unreached count (hop = -1). The rounds are a documented cap,
    not a convergence loop; the oracle mirrors them CTE for CTE
    (``_bfs_rounds_sql``)."""
    from ..operators.graph import _drop_checkpoint

    prev = None
    for k in range(1, BFS_ROUNDS + 1):
        # each round reads dist twice (base + frontier) — truncate the
        # lineage per round or the plan re-evaluates the whole prefix
        # 2^k times (the operators/graph.py CC discipline); once this
        # round's checkpoint has materialised nothing reads the previous
        # one, so its blocks go now (the returned histogram reads only
        # the last checkpoint and ``sym``)
        dist = dist.localCheckpoint()
        if prev is not None:
            _drop_checkpoint(prev)
        prev = dist
        frontier = dist.filter(F.col("d") == k - 1).select("u")
        nxt = (sym.join(frontier, "u")
               .select(F.col("v").alias("u")).distinct()
               .withColumn("cand", F.lit(k)))
        dist = (dist.join(nxt, "u", "left")
                .select("u", F.coalesce("d", "cand").alias("d")))
    return (dist.groupBy(F.coalesce("d", F.lit(-1)).alias("hop"))
            .agg(F.count(F.lit(1)).alias("n_users"))
            .orderBy("hop"))


def _bfs_rounds_sql(sources: str) -> str:
    """Oracle twin of ``_bfs_hop_histogram``: the backbone edges, their
    symmetrization ``sym``, then ``sources`` (CTEs ending in ``d0(u,
    d)``), the BFS_ROUNDS frontier CTEs and the hop histogram."""
    prev = "d0"
    rounds = []
    for k in range(1, BFS_ROUNDS + 1):
        rounds.append(f"""f{k} AS (
    SELECT DISTINCT s.v AS u FROM sym s
    JOIN {prev} ON s.u = {prev}.u AND {prev}.d = {k - 1}
), d{k} AS (
    SELECT u, d FROM {prev}
    UNION ALL
    SELECT u, {k} AS d FROM f{k}
    WHERE u NOT IN (SELECT u FROM {prev} WHERE d IS NOT NULL)
)""")
        prev = f"d{k}"
    chain = ",\n".join(rounds)
    return f"""
WITH {_COHORT_EDGES_SQL},
sym AS (
    SELECT a AS u, b AS v FROM edges
    UNION ALL
    SELECT b AS u, a AS v FROM edges
), {sources},
{chain},
final AS (
    SELECT u, MIN(d) AS d FROM {prev} GROUP BY u
)
SELECT CAST(COALESCE(d, -1) AS INT) AS hop,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM final GROUP BY 1 ORDER BY hop
"""


def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded BFS over the co-activity backbone: hop distances from
    the minimum-id seed node, unrolled BFS_ROUNDS frontier expansions
    (the fixed-iteration discipline that gave o22/ann_ivf_trained
    their hash oracles — the unroll IS the operator, mirrored CTE for
    CTE in the oracle). Output: nodes per hop 0..BFS_ROUNDS plus the
    still-unreached count (hop = -1) — the standard distributed BFS
    shape (``_bfs_hop_histogram``)."""
    sym = _symmetrized(cohort_edges(load_table(spark, sf_dir, "events")))
    nodes = sym.select("u").distinct()
    seed = nodes.agg(F.min("u").alias("su"))
    dist = (nodes.crossJoin(F.broadcast(seed))
            .select("u", F.expr("case when u = su then 0 end").alias("d")))
    return _bfs_hop_histogram(sym, dist)


_BFS_ORACLE = _bfs_rounds_sql("""nodes AS (SELECT DISTINCT u FROM sym),
s AS (SELECT MIN(u) AS su FROM nodes),
d0 AS (
    SELECT u, CASE WHEN u = su THEN 0 END AS d
    FROM nodes CROSS JOIN s
)""")


register("graph_bfs_hops", graph_bfs_hops, _BFS_ORACLE,
         "bounded-unroll BFS hop histogram over the co-activity backbone")


# --------------------------------------- multi-source BFS (seed set)
MS_SEEDS = 5


def graph_bfs_multisource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the co-activity backbone: hop distances
    from the MS_SEEDS highest-degree nodes (degree desc, id asc — a
    total order, so the seed set is deterministic), unrolled
    BFS_ROUNDS frontier expansions exactly like graph_bfs_hops. The
    reachability-audit shape a curation pipeline wants ("how much of
    the graph is within h hops of the hubs"), and the multi-source
    generalization the round-9 roadmap queued. Seed selection is a
    distributed top-K (never a global-order window); the rounds are
    ``_bfs_hop_histogram``'s."""
    sym = _symmetrized(cohort_edges(load_table(spark, sf_dir, "events")))
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    seeds = (deg.orderBy(F.col("deg").desc(), "u").limit(MS_SEEDS)
             .select("u", F.lit(0).alias("d0")))
    dist = (deg.select("u").join(F.broadcast(seeds), "u", "left")
            .select("u", F.col("d0").alias("d")))
    return _bfs_hop_histogram(sym, dist)


_BFS_MS_ORACLE = _bfs_rounds_sql(
    "deg AS (SELECT u, COUNT(*) AS deg FROM sym GROUP BY u),\n"
    f"""seeds AS (
    SELECT u FROM deg ORDER BY deg DESC, u LIMIT {MS_SEEDS}
),
d0 AS (
    SELECT deg.u, CASE WHEN deg.u IN (SELECT u FROM seeds)
                  THEN 0 END AS d
    FROM deg
)""")


register("graph_bfs_multisource", graph_bfs_multisource, _BFS_MS_ORACLE,
         f"multi-source BFS hop histogram from the top-{MS_SEEDS} hubs")


# ------------------------------------ Jaccard link prediction (capped)
JC_PIVOT_CAP = 128  # wedge pivots above this degree are dropped entirely
JC_TOPK = 100


def graph_jaccard_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard link prediction over the co-activity backbone:
    score(x, y) = |N(x) ∩ N(y)| / |N(x) ∪ N(y)| for NON-adjacent
    pairs with at least one common neighbor. Candidate pairs come
    from a wedge join whose PIVOTS are capped at JC_PIVOT_CAP degree
    (the AA_PART_CAP frequent-blocker discipline — a super-hub pivot
    contributes O(deg²) near-zero-information pairs, so it is dropped
    entirely, mirrored in the oracle; wedge work is bounded by
    nodes x cap² at any scale). Union sizes use FULL degrees; the
    score is exact integer ppm; existing backbone edges are
    anti-joined away; output caps at JC_TOPK by (ppm desc, x, y)."""
    edges = cohort_edges(load_table(spark, sf_dir, "events"))
    sym = _symmetrized(edges)
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    piv = deg.filter(F.col("deg") <= JC_PIVOT_CAP).select("u")
    adj = sym.join(piv, "u")
    w1, w2 = adj.alias("w1"), adj.alias("w2")
    common = (w1.join(w2, (F.col("w1.u") == F.col("w2.u"))
                      & (F.col("w1.v") < F.col("w2.v")))
              .groupBy(F.col("w1.v").alias("x"), F.col("w2.v").alias("y"))
              .agg(F.count(F.lit(1)).alias("n_common")))
    nonadj = common.join(
        edges, (common.x == edges.a) & (common.y == edges.b), "left_anti")
    scored = (nonadj
              .join(deg.select(F.col("u").alias("x"),
                               F.col("deg").alias("dx")), "x")
              .join(deg.select(F.col("u").alias("y"),
                               F.col("deg").alias("dy")), "y")
              .withColumn("jaccard_ppm", F.expr(
                  "n_common * 1000000 div (dx + dy - n_common)")))
    return (scored.orderBy(F.desc("jaccard_ppm"), "x", "y").limit(JC_TOPK)
            .select("x", "y", "n_common", "dx", "dy", "jaccard_ppm"))


register("graph_jaccard_linkpred", graph_jaccard_linkpred, f"""
WITH {_COHORT_EDGES_SQL},
sym AS (
    SELECT a AS u, b AS v FROM edges
    UNION ALL
    SELECT b AS u, a AS v FROM edges
), deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY u),
adj AS (
    SELECT sym.u, sym.v FROM sym
    JOIN deg ON sym.u = deg.u AND deg.deg <= {JC_PIVOT_CAP}
), common AS (
    SELECT w1.v AS x, w2.v AS y, CAST(COUNT(*) AS BIGINT) AS n_common
    FROM adj w1 JOIN adj w2
      ON w1.u = w2.u AND w1.v < w2.v
    GROUP BY 1, 2
), nonadj AS (
    SELECT c.* FROM common c
    WHERE NOT EXISTS (SELECT 1 FROM edges e
                      WHERE e.a = c.x AND e.b = c.y)
), scored AS (
    SELECT n.x, n.y, n.n_common, dx.deg AS dx, dy.deg AS dy,
           n.n_common * 1000000 // (dx.deg + dy.deg - n.n_common)
               AS jaccard_ppm
    FROM nonadj n
    JOIN deg dx ON n.x = dx.u
    JOIN deg dy ON n.y = dy.u
)
SELECT x, y, n_common, dx, dy, CAST(jaccard_ppm AS BIGINT) AS jaccard_ppm
FROM scored
ORDER BY jaccard_ppm DESC, x, y LIMIT {JC_TOPK}
""", "capped-pivot Jaccard link prediction over non-adjacent pairs")


# ----------------------------------- local clustering coefficient
CC_BUCKETS = 10


def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering-coefficient histogram of the co-activity
    backbone: per node, coeff = 2·t(v) / (deg(v)·(deg(v)-1)) with
    t(v) the node's triangle count from the degree-oriented wedge
    join (each triangle credits all three corners via one explode —
    the orientation bounds per-key fanout exactly as in
    graph_triangles). Coefficients are exact integer ppm; nodes
    bucket into CC_BUCKETS fixed ppm deciles (coeff 1.0 folds into
    the top bucket) plus bucket -1 for degree < 2 where the
    coefficient is undefined (NULL mean). Output is bucket-bounded;
    every reduction is an integer sum."""
    edges = cohort_edges(load_table(spark, sf_dir, "events")).cache()
    deg = (edges.select(F.col("a").alias("u"))
           .unionByName(edges.select(F.col("b").alias("u")))
           .groupBy("u").agg(F.count(F.lit(1)).alias("deg")))
    ed = (edges
          .join(deg.select(F.col("u").alias("a"), F.col("deg").alias("da")),
                "a")
          .join(deg.select(F.col("u").alias("b"), F.col("deg").alias("db")),
                "b"))
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    oriented = ed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"))
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    tri = (o1.join(o2, (F.col("o1.src") == F.col("o2.src"))
                   & (F.col("o1.dst") < F.col("o2.dst")))
           .select(F.col("o1.src").alias("p"),
                   F.col("o1.dst").alias("x"), F.col("o2.dst").alias("y"))
           .join(edges, (F.col("x") == F.col("a"))
                 & (F.col("y") == F.col("b"))))
    corners = (tri.select(F.explode(F.array("p", "x", "y")).alias("u"))
               .groupBy("u").agg(F.count(F.lit(1)).alias("t")))
    per_node = (deg.join(corners, "u", "left")
                .select("u", "deg",
                        F.coalesce("t", F.lit(0)).alias("t"))
                .withColumn("coeff_ppm", F.expr(
                    "case when deg >= 2 then"
                    " 2000000 * t div (deg * (deg - 1)) end"))
                .withColumn("bucket", F.expr(
                    f"case when deg < 2 then -1 else"
                    f" least({CC_BUCKETS - 1},"
                    f" coeff_ppm * {CC_BUCKETS} div 1000000) end")))
    return (per_node.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_nodes"),
                 F.expr("sum(coeff_ppm) div count(1)")
                 .alias("mean_coeff_ppm"))
            .orderBy("bucket"))


register("graph_clustering_coeff", graph_clustering_coeff, f"""
WITH {_COHORT_EDGES_SQL},
deg AS (
    SELECT u, CAST(COUNT(*) AS BIGINT) AS deg
    FROM (SELECT a AS u FROM edges UNION ALL SELECT b FROM edges)
    GROUP BY u
), oriented AS (
    SELECT CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END
               AS src,
           CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END
               AS dst
    FROM (SELECT e.a, e.b, dx.deg AS da, dy.deg AS db
          FROM edges e
          JOIN deg dx ON e.a = dx.u
          JOIN deg dy ON e.b = dy.u)
), tri AS (
    SELECT o1.src AS p, o1.dst AS x, o2.dst AS y
    FROM oriented o1 JOIN oriented o2
      ON o1.src = o2.src AND o1.dst < o2.dst
    JOIN edges e ON o1.dst = e.a AND o2.dst = e.b
), corners AS (
    SELECT u, CAST(COUNT(*) AS BIGINT) AS t
    FROM (SELECT p AS u FROM tri
          UNION ALL SELECT x FROM tri
          UNION ALL SELECT y FROM tri)
    GROUP BY u
), per_node AS (
    SELECT deg.u, deg.deg, COALESCE(corners.t, 0) AS t,
           CASE WHEN deg.deg >= 2 THEN
               2000000 * COALESCE(corners.t, 0)
               // (deg.deg * (deg.deg - 1)) END AS coeff_ppm
    FROM deg LEFT JOIN corners ON deg.u = corners.u
), bucketed AS (
    SELECT CASE WHEN deg < 2 THEN -1 ELSE
               LEAST({CC_BUCKETS - 1},
                     coeff_ppm * {CC_BUCKETS} // 1000000) END AS bucket,
           coeff_ppm
    FROM per_node
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(coeff_ppm) // COUNT(*) AS BIGINT) AS mean_coeff_ppm
FROM bucketed GROUP BY bucket ORDER BY bucket
""", "local clustering-coefficient ppm histogram of the backbone")


# ------------------------------------------------------- rich club
RC_KS = (2, 4, 8, 16, 32)


def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient of the co-activity backbone at fixed
    degree thresholds: phi(k) = 2*E_k / (N_k*(N_k-1)) over the
    subgraph of nodes with degree > k — do the hubs preferentially
    co-occur with each other (phi near 1 = an elite core; the
    backbone-health companion to graph_degree_assortativity's global
    correlation). Exact integer ppm; N_k < 2 yields NULL. The
    k-sweep explodes five literals over the degree-annotated edge
    frame (backbone-bounded); N_k comes from the model-size degree
    table."""
    edges = cohort_edges(load_table(spark, sf_dir, "events")).cache()
    deg = (edges.select(F.col("a").alias("u"))
           .unionByName(edges.select(F.col("b").alias("u")))
           .groupBy("u").agg(F.count(F.lit(1)).alias("deg")))
    ed = (edges
          .join(deg.select(F.col("u").alias("a"), F.col("deg").alias("da")),
                "a")
          .join(deg.select(F.col("u").alias("b"), F.col("deg").alias("db")),
                "b"))
    ks = ", ".join(str(k) for k in RC_KS)
    ek = (ed.withColumn("k", F.explode(F.expr(f"array({ks})")))
          .filter(F.expr("da > k and db > k"))
          .groupBy("k").agg(F.count(F.lit(1)).alias("n_edges")))
    nk = (deg.withColumn("k", F.explode(F.expr(f"array({ks})")))
          .filter(F.expr("deg > k"))
          .groupBy("k").agg(F.count(F.lit(1)).alias("n_nodes")))
    spine = spark.range(1).select(
        F.explode(F.expr(f"array({ks})")).alias("k"))
    return (spine.join(nk, "k", "left").join(ek, "k", "left")
            .select(F.col("k").cast("int").alias("k"),
                    F.coalesce("n_nodes", F.lit(0)).alias("n_nodes"),
                    F.coalesce("n_edges", F.lit(0)).alias("n_edges"),
                    F.expr("case when coalesce(n_nodes, 0) >= 2 then"
                           " coalesce(n_edges, 0) * 2000000"
                           " div (n_nodes * (n_nodes - 1)) end")
                    .alias("phi_ppm"))
            .orderBy("k"))


register("graph_rich_club", graph_rich_club, f"""
WITH {_COHORT_EDGES_SQL},
deg AS (
    SELECT u, CAST(COUNT(*) AS BIGINT) AS deg
    FROM (SELECT a AS u FROM edges UNION ALL SELECT b FROM edges)
    GROUP BY u
), ed AS (
    SELECT e.a, e.b, da.deg AS da, db.deg AS db
    FROM edges e
    JOIN deg da ON e.a = da.u
    JOIN deg db ON e.b = db.u
), ek AS (
    SELECT k.k, CAST(COUNT(*) AS BIGINT) AS n_edges
    FROM ed, (SELECT UNNEST([{", ".join(str(k) for k in RC_KS)}]) AS k) k
    WHERE ed.da > k.k AND ed.db > k.k
    GROUP BY 1
), nk AS (
    SELECT k.k, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg, (SELECT UNNEST([{", ".join(str(k) for k in RC_KS)}]) AS k) k
    WHERE deg.deg > k.k
    GROUP BY 1
)
SELECT CAST(s.k AS INT) AS k,
       COALESCE(nk.n_nodes, 0) AS n_nodes,
       COALESCE(ek.n_edges, 0) AS n_edges,
       CASE WHEN COALESCE(nk.n_nodes, 0) >= 2 THEN
           COALESCE(ek.n_edges, 0) * 2000000
           // (nk.n_nodes * (nk.n_nodes - 1)) END AS phi_ppm
FROM (SELECT UNNEST([{", ".join(str(k) for k in RC_KS)}]) AS k) s
LEFT JOIN nk ON s.k = nk.k
LEFT JOIN ek ON s.k = ek.k
ORDER BY s.k
""", "rich-club coefficient phi(k) of the backbone at fixed thresholds")


# ---------------------------------------------- degree power law
PL_DMIN = 2


def graph_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete power-law exponent of the backbone degree
    distribution by the standard continuous-approximation MLE
    alpha = 1 + n / sum ln(d / (dmin - 0.5)) over degrees >= PL_DMIN
    (Clauset-Shalizi-Newman) — with the rich-club and assortativity
    queries this completes the hub-structure triad: HOW heavy is the
    degree tail. Per-degree ln terms quantize to micro on the degree
    CENSUS (distinct degrees x counts — model-size), so the tail sum
    is order-free integer arithmetic; one division at the end."""
    edges = cohort_edges(load_table(spark, sf_dir, "events"))
    deg = (edges.select(F.col("a").alias("u"))
           .unionByName(edges.select(F.col("b").alias("u")))
           .groupBy("u").agg(F.count(F.lit(1)).alias("deg")))
    census = (deg.filter(F.col("deg") >= PL_DMIN)
              .groupBy("deg").agg(F.count(F.lit(1)).alias("nd")))
    term = _ps_ha(f"1e6 * ln(cast(deg as double) / ({PL_DMIN} - 0.5))")
    agg = (census.select("nd", F.expr(term).alias("t"))
           .agg(F.sum("nd").alias("n_tail"),
                F.sum(F.expr("nd * t")).alias("lnsum_micro")))
    alpha = "(1.0 + cast(n_tail as double) * 1e6 / lnsum_micro)"
    return agg.select(
        F.col("n_tail").cast("long").alias("n_tail_nodes"),
        F.lit(PL_DMIN).cast("int").alias("d_min"),
        F.expr(_ps_ha(f"({alpha}) * 1e3")).alias("alpha_milli"))


from .monitor_eval import _ha_sql as _ps_ha  # noqa: E402

_PL_TERM = _ps_ha(f"1e6 * LN(CAST(deg AS DOUBLE) / ({PL_DMIN} - 0.5))")
_PL_ALPHA = "(1.0 + CAST(n_tail AS DOUBLE) * 1e6 / lnsum_micro)"

register("graph_degree_powerlaw", graph_degree_powerlaw, f"""
WITH {_COHORT_EDGES_SQL},
deg AS (
    SELECT u, CAST(COUNT(*) AS BIGINT) AS deg
    FROM (SELECT a AS u FROM edges UNION ALL SELECT b FROM edges)
    GROUP BY u
), census AS (
    SELECT deg, CAST(COUNT(*) AS BIGINT) AS nd
    FROM deg WHERE deg >= {PL_DMIN} GROUP BY 1
), agg AS (
    SELECT CAST(SUM(nd) AS BIGINT) AS n_tail,
           CAST(SUM(nd * {_PL_TERM}) AS BIGINT) AS lnsum_micro
    FROM census
)
SELECT n_tail AS n_tail_nodes, CAST({PL_DMIN} AS INT) AS d_min,
       {_ps_ha(f"({_PL_ALPHA}) * 1e3")} AS alpha_milli
FROM agg
""", "CSN power-law exponent MLE of the backbone degree tail")
