"""System-dynamics wave (round-9 wave 30): the long-run and
information-flow views on top of the existing transition/causality
stack:

- Stationary distribution of the user-sequence Markov chain by a
  FIXED-ITERATION power method in integer nano fixed point — the
  "where does the session process settle" companion to
  events_markov_transitions (which reports one-step structure). The
  unroll IS the operator (the o22 / ann_ivf_trained discipline):
  every iteration's matrix-vector product quantizes each term
  half-away to integer nano BEFORE the sum, so both engines chain
  identical integers and the oracle is the same unroll, CTE for CTE.
- Transfer entropy between daily count series (mean-binarized) in
  both directions — the information-theoretic sibling of
  events_granger_causality: model-free, detects NONLINEAR lagged
  influence the linear F-test cannot. All eight joint cells are
  exact integers; per-cell terms quantize to nano before the sum.
- Modularity of the co-activity backbone under the dominant-event-
  type partition — "does what users DO explain who they co-occur
  with": per-group contributions (m_gg/m - (d_g/2m)^2) quantize to
  nano before the total, so Q is an order-free integer sum.

Scale shape: the chain runs on the #types^2 transition matrix
(model-size); transfer entropy on the calendar day spine; modularity
on the capped backbone — nothing after the first reduction is
fact-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources import load_table
from .monitor_eval import _ha_sql as _ha
from .paths_stats import _COHORT_EDGES_SQL, cohort_edges

DAY_NS = 86_400_000_000_000

# ------------------------------------------- Markov stationary dist
MS_ITERS = 12
MS_SCALE = 1_000_000_000  # nano mass units


def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the per-user event-type chain via
    MS_ITERS unrolled power iterations in nano fixed point, compared
    against the empirical type share (for an ergodic chain sampled
    from itself the two converge — the gap column is the mixing
    diagnostic). v0 is uniform; each round computes
    v'(j) = sum_i ha(v(i) * c_ij / c_i) with the half-away
    quantization INSIDE the sum, so every iterate is an exact integer
    vector identical across engines (total mass drifts by at most a
    few nano per round — documented, never renormalized). The chain
    state is #types rows; each round is one join against the
    #types^2 count matrix."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id",
        F.expr("ts_ns div 1000").alias("ts_us"))
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    tr = (ev.withColumn("dst", F.lead("event_type").over(w))
          .filter(F.col("dst").isNotNull())
          .groupBy(F.col("event_type").alias("src"), "dst")
          .agg(F.count(F.lit(1)).alias("c")))
    row_tot = tr.groupBy("src").agg(F.sum("c").alias("ci"))
    trans = tr.join(F.broadcast(row_tot), "src").cache()
    types = trans.select(F.col("src").alias("t")).distinct()
    k_tot = types.agg(F.count(F.lit(1)).alias("k"))
    v = (types.crossJoin(F.broadcast(k_tot))
         .select("t", F.expr(f"{MS_SCALE} div k").alias("v")))
    step = _ha("cast(v as double) * c / ci")
    for _ in range(MS_ITERS):
        v = (trans.join(v, trans.src == v.t)
             .select(F.col("dst").alias("t"),
                     F.expr(step).alias("term"))
             .groupBy("t").agg(F.sum("term").alias("v")))
    emp = (ev.groupBy(F.col("event_type").alias("t"))
           .agg(F.count(F.lit(1)).alias("n")))
    emp_tot = emp.agg(F.sum("n").alias("nn"))
    return (v.join(emp, "t").crossJoin(F.broadcast(emp_tot))
            .select(F.col("t").alias("event_type"),
                    F.expr("v div 1000").alias("stationary_ppm"),
                    F.expr("n * 1000000 div nn").alias("empirical_ppm"),
                    F.expr("abs(v div 1000 - n * 1000000 div nn)")
                    .alias("gap_ppm"))
            .orderBy("event_type"))


def _ms_oracle() -> str:
    step = _ha("CAST(v AS DOUBLE) * c / ci")
    rounds = []
    prev = "v0"
    for i in range(1, MS_ITERS + 1):
        rounds.append(f"""v{i} AS (
    SELECT trans.dst AS t, CAST(SUM({step}) AS BIGINT) AS v
    FROM trans JOIN {prev} ON trans.src = {prev}.t
    GROUP BY trans.dst
)""")
        prev = f"v{i}"
    chain = ",\n".join(rounds)
    return f"""
WITH tr AS (
    SELECT event_type AS src, dst FROM (
        SELECT event_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY epoch_us(ts), event_id)
                   AS dst
        FROM events
    ) WHERE dst IS NOT NULL
), cnt AS (
    SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS c FROM tr GROUP BY 1, 2
), row_tot AS (
    SELECT src, CAST(SUM(c) AS BIGINT) AS ci FROM cnt GROUP BY 1
), trans AS (
    SELECT cnt.src, cnt.dst, cnt.c, row_tot.ci
    FROM cnt JOIN row_tot ON cnt.src = row_tot.src
), types AS (SELECT DISTINCT src AS t FROM trans),
v0 AS (
    SELECT t, {MS_SCALE} // (SELECT COUNT(*) FROM types) AS v FROM types
),
{chain},
emp AS (
    SELECT event_type AS t, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1
), emp_tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM emp)
SELECT {prev}.t AS event_type,
       {prev}.v // 1000 AS stationary_ppm,
       emp.n * 1000000 // emp_tot.nn AS empirical_ppm,
       ABS({prev}.v // 1000 - emp.n * 1000000 // emp_tot.nn) AS gap_ppm
FROM {prev} JOIN emp ON {prev}.t = emp.t CROSS JOIN emp_tot
ORDER BY event_type
"""


register("events_markov_stationary", events_markov_stationary,
         _ms_oracle(),
         f"stationary distribution via {MS_ITERS} nano fixed-point"
         " power iterations")


# ------------------------------------------------- transfer entropy
TE_PAIRS = (("click", "purchase"), ("purchase", "click"))


def events_transfer_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transfer entropy TE(X->Y) between mean-binarized daily count
    series, both directions — the model-free causality companion to
    events_granger_causality (linear F). Binarization is the exact
    integer compare x_t * n > S (strictly above the series mean — no
    float mean ever materializes); the eight joint cells
    (y_t, y_lag, x_lag) are exact integers off the zero-filled spine,
    and TE = sum (c/N) * ln(c * c_yp / (c_ypxp * c_ytyp)) quantizes
    each cell's term to nano before the sum. Zero cells contribute
    exactly zero (skipped); all marginals of a non-zero cell are
    non-zero so no smoothing enters. Day-spine cardinality after one
    fact reduction."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.expr(f"ts_ns div {DAY_NS}").alias("d"))
    daily = ev.groupBy("d", "event_type").agg(F.count(F.lit(1)).alias("c"))
    return te_from_daily(daily)


def te_from_daily(daily: DataFrame) -> DataFrame:
    """Core of events_transfer_entropy over any (d, event_type, c)
    daily-count frame covering ALL types (the day range derives from
    the counts — identical to the raw-event range, since every event
    lands in exactly one cell). Shared with the streaming twin's
    finalizer (streaming/transfer_entropy.py): the hourly-count state
    folds hr div 24 with exact integer sums, so the streamed TE is
    bit-equal to the batch one by construction. Fresh-exprId same-name
    aliases guard every re-referenced lineage (the memory-sink
    gotcha; no-op Projects in the batch plan)."""
    # sorted: a bare set comprehension iterates in per-process hash
    # order (PYTHONHASHSEED), which put the IN-list in either order and
    # flipped the analyzed-plan fingerprint between sessions (r14)
    cnt = daily.filter(F.col("event_type").isin(
        *sorted({t for pair in TE_PAIRS for t in pair})))
    rng = daily.agg(F.min("d").alias("dmin"), F.max("d").alias("dmax"))
    spine = rng.select(F.explode(F.expr("sequence(dmin, dmax)")).alias("d"))
    out = None
    for x_t, y_t in TE_PAIRS:
        wide = (spine.select(F.col("d").alias("d"))
                .join(cnt.filter(F.col("event_type") == x_t)
                      .select(F.col("d").alias("d"),
                              F.col("c").alias("xc")), "d", "left")
                .join(cnt.filter(F.col("event_type") == y_t)
                      .select(F.col("d").alias("d"),
                              F.col("c").alias("yc")), "d", "left")
                .select("d", F.coalesce("xc", F.lit(0)).alias("xc"),
                        F.coalesce("yc", F.lit(0)).alias("yc")))
        tots = (wide.agg(F.count(F.lit(1)).alias("n"),
                         F.sum("xc").alias("sx"), F.sum("yc").alias("sy"))
                .select(F.col("n").alias("n"), F.col("sx").alias("sx"),
                        F.col("sy").alias("sy")))
        wd = Window.orderBy("d")
        bits = (wide.crossJoin(F.broadcast(tots))
                .select("d",
                        F.expr("cast(yc * n > sy as int)").alias("by"),
                        F.expr("cast(xc * n > sx as int)").alias("bx"))
                .withColumn("byp", F.lag("by").over(wd))
                .withColumn("bxp", F.lag("bx").over(wd))
                .filter(F.col("byp").isNotNull()))
        cells = bits.groupBy("by", "byp", "bxp").agg(
            F.count(F.lit(1)).alias("c"))
        wy = Window.partitionBy("byp")
        wyx = Window.partitionBy("byp", "bxp")
        wyy = Window.partitionBy("by", "byp")
        wall = Window.partitionBy()
        term = _ha("1e9 * (cast(c as double) / nn)"
                   " * ln(cast(c as double) * c_yp"
                   " / (cast(c_ypxp as double) * c_ytyp))")
        scored = (cells
                  .withColumn("nn", F.sum("c").over(wall))
                  .withColumn("c_yp", F.sum("c").over(wy))
                  .withColumn("c_ypxp", F.sum("c").over(wyx))
                  .withColumn("c_ytyp", F.sum("c").over(wyy))
                  .select(F.expr(term).alias("t_nano"), "nn"))
        part = scored.groupBy().agg(
            F.lit(f"{x_t}->{y_t}").alias("direction"),
            F.max("nn").alias("n_steps"),
            F.expr("sum(t_nano) div 1000").alias("te_micro"))
        out = part if out is None else out.unionByName(part)
    return out.orderBy("direction")


def _te_oracle() -> str:
    term = _ha("1e9 * (CAST(c AS DOUBLE) / nn)"
               " * LN(CAST(c AS DOUBLE) * c_yp"
               " / (CAST(c_ypxp AS DOUBLE) * c_ytyp))")
    parts = []
    for x_t, y_t in TE_PAIRS:
        parts.append(f"""
SELECT '{x_t}->{y_t}' AS direction,
       CAST(MAX(nn) AS BIGINT) AS n_steps,
       CAST(SUM({term}) // 1000 AS BIGINT) AS te_micro
FROM (
    SELECT c, SUM(c) OVER () AS nn,
           SUM(c) OVER (PARTITION BY byp) AS c_yp,
           SUM(c) OVER (PARTITION BY byp, bxp) AS c_ypxp,
           SUM(c) OVER (PARTITION BY by_t, byp) AS c_ytyp
    FROM (
        SELECT by_t, byp, bxp, CAST(COUNT(*) AS BIGINT) AS c
        FROM (
            SELECT by_t, LAG(by_t) OVER (ORDER BY d) AS byp,
                   LAG(bx) OVER (ORDER BY d) AS bxp
            FROM (
                SELECT s.d,
                       CASE WHEN COALESCE(y.c, 0) * t.n > t.sy
                            THEN 1 ELSE 0 END AS by_t,
                       CASE WHEN COALESCE(x.c, 0) * t.n > t.sx
                            THEN 1 ELSE 0 END AS bx
                FROM (SELECT UNNEST(range(dmin, dmax + 1)) AS d
                      FROM (SELECT MIN(CAST(epoch_us(ts) AS BIGINT) * 1000
                                       // {DAY_NS}) AS dmin,
                                   MAX(CAST(epoch_us(ts) AS BIGINT) * 1000
                                       // {DAY_NS}) AS dmax
                            FROM events)) s
                LEFT JOIN (SELECT CAST(epoch_us(ts) AS BIGINT) * 1000
                                  // {DAY_NS} AS d, COUNT(*) AS c
                           FROM events WHERE event_type = '{x_t}'
                           GROUP BY 1) x ON s.d = x.d
                LEFT JOIN (SELECT CAST(epoch_us(ts) AS BIGINT) * 1000
                                  // {DAY_NS} AS d, COUNT(*) AS c
                           FROM events WHERE event_type = '{y_t}'
                           GROUP BY 1) y ON s.d = y.d
                CROSS JOIN (
                    SELECT (SELECT MAX(CAST(epoch_us(ts) AS BIGINT)
                                       * 1000 // {DAY_NS})
                                   - MIN(CAST(epoch_us(ts) AS BIGINT)
                                         * 1000 // {DAY_NS}) + 1
                            FROM events) AS n,
                           (SELECT COUNT(*) FROM events
                            WHERE event_type = '{x_t}') AS sx,
                           (SELECT COUNT(*) FROM events
                            WHERE event_type = '{y_t}') AS sy
                ) t
            )
        ) WHERE byp IS NOT NULL
        GROUP BY 1, 2, 3
    )
)""")
    return "\nUNION ALL\n".join(parts) + "\nORDER BY direction"


register("events_transfer_entropy", events_transfer_entropy,
         _te_oracle(),
         "two-direction transfer entropy on mean-binarized daily counts")


# --------------------------------------------------- graph modularity
def graph_modularity_by_type(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Modularity of the co-activity backbone under the
    dominant-event-type partition: Q = sum_g (m_gg/m - (d_g/2m)^2) —
    does what users DO explain who they co-occur with? Each user's
    group is their most frequent event type (count desc, type asc —
    total order); edges and degrees come off the capped backbone.
    Per-group contributions quantize half-away to nano BEFORE the
    total, so Q is an order-free integer sum identical across
    engines. Group assignment is one user-keyed window over the
    per-(user, type) counts; everything after the backbone is
    group-cardinality."""
    ev = load_table(spark, sf_dir, "events")
    edges = cohort_edges(ev).cache()
    per_ut = (ev.groupBy("user_id", "event_type")
              .agg(F.count(F.lit(1)).alias("n")))
    wu = Window.partitionBy("user_id").orderBy(
        F.col("n").desc(), "event_type")
    grp = (per_ut.withColumn("rk", F.row_number().over(wu))
           .filter(F.col("rk") == 1)
           .select("user_id", F.col("event_type").alias("g")))
    ed = (edges
          .join(grp.select(F.col("user_id").alias("a"),
                           F.col("g").alias("ga")), "a")
          .join(grp.select(F.col("user_id").alias("b"),
                           F.col("g").alias("gb")), "b"))
    m_tot = ed.agg(F.count(F.lit(1)).alias("m"))
    within = (ed.filter(F.col("ga") == F.col("gb"))
              .groupBy(F.col("ga").alias("g"))
              .agg(F.count(F.lit(1)).alias("m_in")))
    deg = (ed.select(F.col("a").alias("u"), F.col("ga").alias("g"))
           .unionByName(ed.select(F.col("b").alias("u"),
                                  F.col("gb").alias("g")))
           .groupBy("g").agg(F.count(F.lit(1)).alias("dg"),
                             F.countDistinct("u").alias("n_nodes")))
    contrib = _ha("1e9 * (cast(m_in as double) / m"
                  " - (cast(dg as double) / (2 * m))"
                  " * (cast(dg as double) / (2 * m)))")
    per_g = (deg.join(within, "g", "left")
             .crossJoin(F.broadcast(m_tot))
             .select("g", "n_nodes", "dg",
                     F.coalesce("m_in", F.lit(0)).alias("m_in"), "m")
             .withColumn("q_nano", F.expr(contrib)))
    wall = Window.partitionBy()
    return (per_g
            .withColumn("q_total_micro",
                        F.expr("sum(q_nano) over () div 1000"))
            .select(F.col("g").alias("dominant_type"), "n_nodes",
                    F.col("m_in").cast("long").alias("internal_edges"),
                    F.col("dg").cast("long").alias("degree_sum"),
                    F.col("q_nano").cast("long").alias("q_contrib_nano"),
                    "q_total_micro")
            .orderBy("dominant_type"))


_GM_CONTRIB = _ha("1e9 * (CAST(m_in AS DOUBLE) / m"
                  " - (CAST(dg AS DOUBLE) / (2 * m))"
                  " * (CAST(dg AS DOUBLE) / (2 * m)))")

register("graph_modularity_by_type", graph_modularity_by_type, f"""
WITH {_COHORT_EDGES_SQL},
per_ut AS (
    SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
), grp AS (
    SELECT user_id, event_type AS g FROM (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY n DESC, event_type) AS rk
        FROM per_ut)
    WHERE rk = 1
), ed AS (
    SELECT e.a, e.b, ga.g AS ga, gb.g AS gb
    FROM edges e
    JOIN grp ga ON e.a = ga.user_id
    JOIN grp gb ON e.b = gb.user_id
), m_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM ed),
within AS (
    SELECT ga AS g, CAST(COUNT(*) AS BIGINT) AS m_in
    FROM ed WHERE ga = gb GROUP BY 1
), deg AS (
    SELECT g, CAST(COUNT(*) AS BIGINT) AS dg,
           CAST(COUNT(DISTINCT u) AS BIGINT) AS n_nodes
    FROM (SELECT a AS u, ga AS g FROM ed
          UNION ALL SELECT b, gb FROM ed)
    GROUP BY 1
), gm AS (
    SELECT deg.g, deg.n_nodes, deg.dg,
           COALESCE(within.m_in, 0) AS m_in, m_tot.m
    FROM deg LEFT JOIN within ON deg.g = within.g
    CROSS JOIN m_tot
), per_g AS (
    -- m_in is coalesced a CTE earlier: a sibling expression in gm's
    -- SELECT would bind within.m_in, NULL for a group with no
    -- internal edges, not the COALESCE alias
    SELECT *, {_GM_CONTRIB} AS q_nano FROM gm
)
SELECT g AS dominant_type, n_nodes, m_in AS internal_edges,
       dg AS degree_sum, q_nano AS q_contrib_nano,
       CAST(SUM(q_nano) OVER () // 1000 AS BIGINT) AS q_total_micro
FROM per_g ORDER BY dominant_type
""", "backbone modularity under the dominant-event-type partition")


# ------------------------------------------- hourly-profile JSD
def profile_jsd_from_hourly(cen: DataFrame) -> DataFrame:
    """Pairwise hourly-rhythm JSD from (event_type, h, c) hour-of-day
    counts (h in 0..23, c > 0 — zero cells are implied and re-filled
    on the fixed 24-bin spine here). Shared by the batch query below
    and the streaming twin's finalizer (streaming/profile_jsd.py) so
    the streamed divergence matrix is bit-equal to the batch one by
    construction — the autocorr24_from_hourly / cusum_frame
    discipline."""
    # fresh-exprId aliases (same-name column-level selects) at every
    # point a lineage is referenced twice — the memory-sink gotcha;
    # no-op Projects in the batch plan, required now that the
    # streaming twin finalizes through this same helper
    types = (cen.select(F.col("event_type").alias("event_type"))
             .distinct())
    spine = (types.crossJoin(F.broadcast(
        cen.sparkSession.range(24).select(F.col("id").alias("h")))))
    filled = (spine.join(cen, ["event_type", "h"], "left")
              .select("event_type", "h",
                      F.coalesce("c", F.lit(0)).alias("c")))
    tot = (filled.groupBy("event_type").agg(F.sum("c").alias("n"))
           .select(F.col("event_type").alias("event_type"),
                   F.col("n").alias("n")))
    full = filled.join(tot, "event_type")
    a = full.select(F.col("event_type").alias("t1"),
                    F.col("h").alias("h"),
                    F.col("c").alias("c1"), F.col("n").alias("n1"))
    b = full.select(F.col("event_type").alias("t2"),
                    F.col("h").alias("h"),
                    F.col("c").alias("c2"), F.col("n").alias("n2"))
    term = _ha(
        "1e9 * (case when c1 > 0 then"
        " 0.5 * (cast(c1 as double) / n1)"
        " * ln(2.0 * (cast(c1 as double) / n1)"
        " / (cast(c1 as double) / n1 + cast(c2 as double) / n2))"
        " else 0.0 end"
        " + case when c2 > 0 then"
        " 0.5 * (cast(c2 as double) / n2)"
        " * ln(2.0 * (cast(c2 as double) / n2)"
        " / (cast(c1 as double) / n1 + cast(c2 as double) / n2))"
        " else 0.0 end)")
    return (a.join(b, ["h"]).filter(F.col("t1") < F.col("t2"))
            .filter(F.expr("c1 > 0 or c2 > 0"))
            .select("t1", "t2", F.expr(term).alias("t_nano"))
            .groupBy("t1", "t2")
            .agg(F.expr("sum(t_nano) div 1000").alias("jsd_micro"))
            .orderBy("jsd_micro", "t1", "t2"))


def events_hourly_profile_jsd(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between event types'
    hour-of-day profiles — which behaviors share a daily rhythm (a
    near-zero pair is a candidate for shared capacity planning and
    shared anomaly baselines; a high pair must not share either).
    The domain is the FIXED 24-hour spine, zero-filled per type, so
    the pair join is (types^2 x 24)-bounded with term-wise zero
    handling (a silent hour on one side contributes only the other
    side's half-ln2 mass, cell by cell — no closed-form split
    needed at 24 cells); each cell term quantizes to nano before the
    per-pair integer sum. Output: all unordered pairs ascending by
    divergence. The arithmetic past the hourly census lives in
    profile_jsd_from_hourly (shared with the streaming twin); the
    type spine now derives from the CENSUS rather than the raw
    column, so the second events pass aggregates before its shuffle
    (types x 24 rows instead of the full type column)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("(ts_ns div 3600000000000) % 24").alias("h"))
    cen = ev.groupBy("event_type", "h").agg(F.count(F.lit(1)).alias("c"))
    return profile_jsd_from_hourly(cen)


_HP_TERM = _ha(
    "1e9 * (CASE WHEN c1 > 0 THEN"
    " 0.5 * (CAST(c1 AS DOUBLE) / n1)"
    " * LN(2.0 * (CAST(c1 AS DOUBLE) / n1)"
    " / (CAST(c1 AS DOUBLE) / n1 + CAST(c2 AS DOUBLE) / n2))"
    " ELSE 0.0 END"
    " + CASE WHEN c2 > 0 THEN"
    " 0.5 * (CAST(c2 AS DOUBLE) / n2)"
    " * LN(2.0 * (CAST(c2 AS DOUBLE) / n2)"
    " / (CAST(c1 AS DOUBLE) / n1 + CAST(c2 AS DOUBLE) / n2))"
    " ELSE 0.0 END)")

register("events_hourly_profile_jsd", events_hourly_profile_jsd, f"""
WITH ev AS (
    SELECT event_type,
           (CAST(epoch_us(ts) AS BIGINT) * 1000 // 3600000000000) % 24
               AS h
    FROM events
), cen AS (
    SELECT event_type, h, CAST(COUNT(*) AS BIGINT) AS c
    FROM ev GROUP BY 1, 2
), filled AS (
    SELECT t.event_type, s.h, COALESCE(cen.c, 0) AS c
    FROM (SELECT DISTINCT event_type FROM ev) t
    CROSS JOIN (SELECT UNNEST(range(0, 24)) AS h) s
    LEFT JOIN cen ON t.event_type = cen.event_type AND s.h = cen.h
), tot AS (
    SELECT event_type, CAST(SUM(c) AS BIGINT) AS n
    FROM filled GROUP BY 1
), full_t AS (
    SELECT filled.event_type, filled.h, filled.c, tot.n
    FROM filled JOIN tot ON filled.event_type = tot.event_type
)
SELECT a.event_type AS t1, b.event_type AS t2,
       CAST(SUM({_HP_TERM}) // 1000 AS BIGINT) AS jsd_micro
FROM (SELECT event_type, h, c AS c1, n AS n1 FROM full_t) a
JOIN (SELECT event_type, h, c AS c2, n AS n2 FROM full_t) b
  ON a.h = b.h AND a.event_type < b.event_type
WHERE a.c1 > 0 OR b.c2 > 0
GROUP BY 1, 2 ORDER BY jsd_micro, t1, t2
""", "pairwise hourly-rhythm JSD between event types (24-bin spine)")


# ------------------------------------------------ peak load ratio
def events_peak_load_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capacity-headroom panel per event type: mean, p95
    (first-crossing on the hourly-load census), and max hourly load,
    with peak-to-average and p95-to-average in exact ppm — the
    numbers a provisioning review reads next to the Hurst/Kingman
    results (PAR near 1 = flat load; high PAR with H > 0.5 = bursts
    that do NOT average out). Hour spine zero-fills through the
    closed-form count (silent hours enter the mean and the census's
    zero row); everything is integer census arithmetic."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.expr("ts_ns div 3600000000000").alias("t"))
    cnt = ev.groupBy("event_type", "t").agg(F.count(F.lit(1)).alias("c"))
    return peak_load_from_hourly(cnt)


def peak_load_from_hourly(cnt: DataFrame) -> DataFrame:
    """Core of events_peak_load_ratio over any (event_type, t, c)
    hourly-count frame (c > 0; silent hours re-enter through the
    closed-form zero row). Shared by the batch query above and the
    streaming twin's finalizer (streaming/peak_load.py) — the
    autocorr/cusum/profile-JSD discipline. The global hour range now
    derives from the COUNTS (min/max over t is identical there, since
    every event lands in exactly one cell), so the helper never needs
    the fact table; fresh-exprId same-name aliases guard every
    re-referenced lineage (the memory-sink gotcha — no-op Projects in
    the batch plan)."""
    rng = cnt.agg(F.expr("max(t) - min(t) + 1").alias("hh"))
    census = (cnt.groupBy("event_type", "c")
              .agg(F.count(F.lit(1)).alias("nd"))
              .select(F.col("event_type").alias("event_type"),
                      F.col("c").alias("c"), F.col("nd").alias("nd")))
    act = (census.groupBy("event_type").agg(
        F.sum("nd").alias("n_active"),
        F.sum(F.expr("c * nd")).alias("s"), F.max("c").alias("mx"))
        .select(F.col("event_type").alias("event_type"),
                F.col("n_active").alias("n_active"),
                F.col("s").alias("s"), F.col("mx").alias("mx")))
    zrow = (act.crossJoin(F.broadcast(rng))
            .filter(F.expr("hh - n_active > 0"))
            .select("event_type", F.lit(0).cast("long").alias("c"),
                    F.expr("hh - n_active").alias("nd")))
    full = census.unionByName(zrow)
    wc = (Window.partitionBy("event_type").orderBy("c")
          .rowsBetween(Window.unboundedPreceding, 0))
    cum = (full.withColumn("cum", F.sum("nd").over(wc))
           .crossJoin(F.broadcast(
               rng.select(F.col("hh").alias("hh")))))
    p95 = (cum.filter(F.expr("cum * 100 >= 95 * hh"))
           .groupBy("event_type").agg(F.min("c").alias("p95")))
    return (act.join(p95, "event_type").crossJoin(F.broadcast(
                rng.select(F.col("hh").alias("hh"))))
            .select("event_type",
                    F.col("hh").cast("long").alias("n_hours"),
                    F.expr("s * 1000 div hh").alias("mean_milli"),
                    F.col("p95").cast("long").alias("p95_load"),
                    F.col("mx").cast("long").alias("max_load"),
                    F.expr("mx * hh * 1000000 div s").alias("par_ppm"),
                    F.expr("p95 * hh * 1000000 div s")
                    .alias("p95_ratio_ppm"))
            .orderBy("event_type"))


register("events_peak_load_ratio", events_peak_load_ratio, """
WITH ev AS (
    SELECT event_type,
           CAST(epoch_us(ts) AS BIGINT) * 1000 // 3600000000000 AS t
    FROM events
), cnt AS (
    SELECT event_type, t, CAST(COUNT(*) AS BIGINT) AS c
    FROM ev GROUP BY 1, 2
), rng AS (SELECT MAX(t) - MIN(t) + 1 AS hh FROM ev),
census AS (
    SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS nd
    FROM cnt GROUP BY 1, 2
), act AS (
    SELECT event_type, CAST(SUM(nd) AS BIGINT) AS n_active,
           CAST(SUM(c * nd) AS BIGINT) AS s, CAST(MAX(c) AS BIGINT) AS mx
    FROM census GROUP BY 1
), full_c AS (
    SELECT event_type, c, nd FROM census
    UNION ALL
    SELECT a.event_type, CAST(0 AS BIGINT), r.hh - a.n_active
    FROM act a CROSS JOIN rng r
    WHERE r.hh - a.n_active > 0
), cum AS (
    SELECT f.event_type, f.c,
           SUM(f.nd) OVER (PARTITION BY f.event_type ORDER BY f.c
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           r.hh
    FROM full_c f CROSS JOIN rng r
), p95 AS (
    SELECT event_type, MIN(c) AS p95 FROM cum
    WHERE cum * 100 >= 95 * hh GROUP BY 1
)
SELECT a.event_type, CAST(r.hh AS BIGINT) AS n_hours,
       a.s * 1000 // r.hh AS mean_milli,
       p95.p95 AS p95_load, a.mx AS max_load,
       a.mx * r.hh * 1000000 // a.s AS par_ppm,
       p95.p95 * r.hh * 1000000 // a.s AS p95_ratio_ppm
FROM act a JOIN p95 ON a.event_type = p95.event_type
CROSS JOIN rng r
ORDER BY a.event_type
""", "peak/p95-to-average hourly load ratios per type (census exact)")
