"""Similarity search over the ``embeddings`` table.

- ``ann_cosine_topk``: exact brute-force top-k for a query subset — the
  correctness baseline. JVM-side higher-order-function dot products; the
  join is (queries x corpus), so at scale you bound the query side and
  broadcast it.
- Random-hyperplane LSH (``ann_lsh_bucketed``, the tables / grid /
  bits sweeps, ``ann_lsh_multiprobe``; also ``dedup.dedup_embedding_lsh``
  and ``pipelines.ann_dedup_pipeline``) share ONE layer per engine:
  every vector gets one 12-bit signature ``hp`` (bit p = projection on
  deterministic +/-1 plane p is positive, so the DuckDB oracle computes
  the identical signature), cached once per session (``_hp_sigs``);
  every bucket layout is a shift and mask of ``hp`` (``_hp_index``) and
  vectors only meet inside equal buckets (``_bucket_pairs``).
- IVF, IVF-PQ and PQ indexes, each with a tuning sweep. Every sweep
  scores its top-1 answers against the exact panel with one scorer
  (``_exact_top1`` + ``_recall_at_1``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..broadcast_gate import maybe_broadcast
from ..functions import vecfold
from ..registry import oracle_sql_of, register
from ..sources import load_table

DIM = 64
N_PLANES = 12
TOP_K = 5
N_QUERIES = 10  # vec_id < 10 are the query vectors


def _plane_sign(p: int, j: int) -> int:
    """Deterministic +/-1 hyperplane component (p-th plane, j-th dim)."""
    return 1 if ((p * 97 + j * 31 + (p * j) % 13) % 2) == 0 else -1


def _planes() -> list[list[int]]:
    return [[_plane_sign(p, j) for j in range(DIM)] for p in range(N_PLANES)]


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    ).withColumn(
        "norm",
        # row-scale: the fold stays (vecfold.fold_dot docstring)
        F.expr(f"sqrt({vecfold.fold_self_dot('v')})"),
    )


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for each query vector (vec_id <
    N_QUERIES): the brute-force baseline every ANN variant is measured
    against."""
    emb = _emb(spark, sf_dir).cache()
    q = emb.filter(F.col("vec_id") < N_QUERIES).alias("q")
    c = emb.alias("c")
    # panel x corpus is only N_QUERIES x n pairs (and this subplan is
    # embedded as the exact baseline inside every LSH/IVF sweep): the
    # fold stays — the unroll's per-instance plan bloat costs more than
    # 20k interpreted evaluations (vecfold.fold_dot docstring)
    dot = F.expr(vecfold.fold_dot("q.v", "c.v"))
    # The predicate-bounded QUERY PANEL must be the broadcast side —
    # explicitly. Without the hint Spark picks by size estimate and at
    # sf0.01 chose the full corpus (caught by the r7 mechanized BNLJ
    # sweep); at scale that is a corpus-sized broadcast. The panel is
    # bounded by the vec_id < N_QUERIES predicate at any corpus size.
    pairs = F.broadcast(q).join(
        c, F.col("q.vec_id") != F.col("c.vec_id")).select(
        F.col("q.vec_id").alias("query_id"),
        F.col("c.vec_id").alias("neighbor_id"),
        (dot / (F.col("q.norm") * F.col("c.norm"))).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos"), "rn")
    )


register("ann_cosine_topk", ann_cosine_topk, f"""
WITH emb AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
), pairs AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           list_dot_product(q.v, c.v)
           / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
               AS cos
    FROM emb q JOIN emb c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < {N_QUERIES}
), ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, neighbor_id) AS rn
    FROM pairs
)
SELECT query_id, neighbor_id, ROUND(cos, 6) AS cos, rn
FROM ranked WHERE rn <= {TOP_K}
""", "exact cosine top-k (brute-force baseline)")


# ------------------------------------------- hyperplane-LSH layer
# One definition per stage, in each engine. Every vector gets ONE
# 12-bit signature ``hp``; every bucket layout in use is a shift and
# mask of it — table t of a B-bit layout is (hp >> t*B) & (2^B - 1).
def _hp_expr(col: str) -> str:
    """Spark SQL for the 12-bit signature of vector ``col``: bit p is
    ``proj_p > 0`` over plane p (row-scale: the fold stays, see the
    vecfold.fold_dot docstring)."""
    bits = " + ".join(
        f"(CASE WHEN {vecfold.fold_dot_const(col, plane)} > 0"
        f" THEN {1 << p} ELSE 0 END)"
        for p, plane in enumerate(_planes()))
    return f"cast({bits} as bigint)"


def _duck_hp(col: str) -> str:
    """DuckDB twin of ``_hp_expr``."""
    bits = []
    for p, plane in enumerate(_planes()):
        arr = "[" + ", ".join(f"CAST({s} AS DOUBLE)" for s in plane) + "]"
        bits.append(f"(CASE WHEN list_dot_product({col}, {arr}) > 0"
                    f" THEN {1 << p} ELSE 0 END)")
    return f"CAST({' + '.join(bits)} AS BIGINT)"


def _hp_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``_emb`` plus ``hp``, cached. Every hyperplane query builds the
    identical plan, so a session holds ONE signature cache entry; bucket
    layouts are derived after the cache (``_hp_index``)."""
    return _emb(spark, sf_dir).withColumn("hp", F.expr(_hp_expr("v"))).cache()


def _duck_hp_sigs() -> str:
    """DuckDB twin of ``_hp_sigs``: the ``embx`` and ``sig`` CTEs."""
    return f"""embx AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
), sig AS (
    SELECT vec_id, v, {_duck_hp('v')} AS hp FROM embx
)"""


N_TABLES, BITS_PER_TABLE = 3, 4  # 12 planes = 3 tables x 4-bit signatures
TABLES = tuple((BITS_PER_TABLE, t) for t in range(N_TABLES))


def _hp_index(sigs: DataFrame, layouts) -> DataFrame:
    """``(vec_id, bits, tbl, bkt)``: one row per vector and (bits, tbl)
    cell of ``layouts``, from ONE explode of the cached signatures (a
    per-table union re-reads the cache once per table)."""
    cells = ", ".join(
        f"named_struct('bits', {b}, 'tbl', {t},"
        f" 'bkt', shiftright(hp, {t * b}) & {(1 << b) - 1})"
        for b, t in layouts)
    return sigs.select("vec_id", F.expr(f"inline(array({cells}))"))


def _duck_hp_index(src: str, layouts) -> str:
    """DuckDB twin of ``_hp_index`` over the relation ``src``."""
    cells = ", ".join(f"({b}, {t})" for b, t in layouts)
    return (f"SELECT s.vec_id, l.bits, l.tbl,"
            f" (s.hp >> (l.tbl * l.bits)) & ((1 << l.bits) - 1) AS bkt"
            f" FROM {src} s, (VALUES {cells}) l(bits, tbl)")


def _bucket_pairs(idx: DataFrame, op: str) -> DataFrame:
    """Distinct ``(bits, vec_id, neighbor_id)`` candidates: vectors
    sharing a bucket in some table of the same layout. ``op`` compares
    the ids: ``!=`` keeps both orientations (top-1 search), ``<`` one
    (pair dedup). Ids only — never shuffle the vectors through the pair
    dedup (arrays are wide; ids are 16 bytes)."""
    a, b = idx.alias("a"), idx.alias("b")
    return (a.join(b, (F.col("a.bits") == F.col("b.bits"))
                   & (F.col("a.tbl") == F.col("b.tbl"))
                   & (F.col("a.bkt") == F.col("b.bkt"))
                   & F.expr(f"a.vec_id {op} b.vec_id"))
            .select(F.col("a.bits").alias("bits"),
                    F.col("a.vec_id").alias("vec_id"),
                    F.col("b.vec_id").alias("neighbor_id"))
            .dropDuplicates(["bits", "vec_id", "neighbor_id"]))


def _duck_bucket_pairs(idx: str, op: str) -> str:
    """DuckDB twin of ``_bucket_pairs`` over the relation ``idx``."""
    return (f"SELECT DISTINCT a.bits, a.vec_id, b.vec_id AS neighbor_id"
            f" FROM {idx} a JOIN {idx} b"
            f" ON a.bits = b.bits AND a.tbl = b.tbl AND a.bkt = b.bkt"
            f" AND a.vec_id {op} b.vec_id")


def _with_cos(pairs: DataFrame, sigs: DataFrame, sf_dir: str) -> DataFrame:
    """``pairs`` (vec_id, neighbor_id, ...) plus the pair's exact
    ``cos``. Vectors are fetched back by id through size-gated
    broadcasts (the full-corpus vector map grows with the data: past
    the gate these joins shuffle on the id instead of pinning a
    lake-scale OOM)."""
    va = sigs.select("vec_id", F.col("v").alias("va"),
                     F.col("norm").alias("na"))
    vb = sigs.select(F.col("vec_id").alias("neighbor_id"),
                     F.col("v").alias("vb"), F.col("norm").alias("nb"))
    dot = F.expr(vecfold.fold_dot("va", "vb"))
    return (pairs.join(maybe_broadcast(va, sf_dir, "embeddings"), "vec_id")
            .join(maybe_broadcast(vb, sf_dir, "embeddings"), "neighbor_id")
            .withColumn("cos", dot / (F.col("na") * F.col("nb")))
            .drop("va", "na", "vb", "nb"))


def _duck_with_cos(pairs: str) -> str:
    """DuckDB twin of ``_with_cos`` over the relation ``pairs`` (reads
    the ``sig`` CTE of ``_duck_hp_sigs``)."""
    return f"""SELECT p.*,
           list_dot_product(q.v, n.v)
           / (sqrt(list_dot_product(q.v, q.v))
              * sqrt(list_dot_product(n.v, n.v))) AS cos
    FROM {pairs} p
    JOIN sig q ON q.vec_id = p.vec_id
    JOIN sig n ON n.vec_id = p.neighbor_id"""


def _top1(scored: DataFrame, keys=()) -> DataFrame:
    """Each vector's best candidate per sweep point: ``(*keys,
    query_id, ann_nn, ann_cos)`` from ``(*keys, vec_id, neighbor_id,
    cos)``; ties break on the lower neighbor id."""
    w = Window.partitionBy(*keys, "vec_id").orderBy(
        F.col("cos").desc(), "neighbor_id")
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(*keys, F.col("vec_id").alias("query_id"),
                    F.col("neighbor_id").alias("ann_nn"),
                    F.round("cos", 6).alias("ann_cos")))


def _duck_top1(scored: str) -> str:
    """DuckDB twin of ``_top1`` for one sweep point."""
    return f"""SELECT vec_id AS query_id, neighbor_id AS ann_nn,
           ROUND(cos, 6) AS ann_cos
    FROM (SELECT vec_id, neighbor_id, cos,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                                    ORDER BY cos DESC, neighbor_id) AS rn
          FROM ({scored}))
    WHERE rn = 1"""


def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table random-hyperplane LSH: 3 independent 4-bit signatures
    per vector; candidates are the UNION of same-bucket pairs across
    tables (single-table LSH has near-zero recall when the corpus has no
    tight clusters — multiple tables is the standard fix). Then exact
    top-1 among candidates. Candidates only meet on signature equality,
    so the join scales."""
    sigs = _hp_sigs(spark, sf_dir)
    cand = _bucket_pairs(_hp_index(sigs, TABLES), "!=")
    # the corpus-wide candidate volume is pair-scale: its dot is the
    # unroll, not _with_cos's panel-scale fold (OPTIMIZATION_r15.md)
    va = sigs.select("vec_id", F.col("v").alias("va"),
                     F.col("norm").alias("na"))
    vb = sigs.select(F.col("vec_id").alias("neighbor_id"),
                     F.col("v").alias("vb"), F.col("norm").alias("nb"))
    cand = cand.join(maybe_broadcast(va, sf_dir, "embeddings"), "vec_id") \
               .join(maybe_broadcast(vb, sf_dir, "embeddings"), "neighbor_id")
    dot = F.expr(vecfold.dot("va", "vb", DIM))
    scored = cand.select(
        "vec_id", "neighbor_id", (dot / (F.col("na") * F.col("nb"))).alias("cos")
    )
    return _top1(scored).toDF("vec_id", "neighbor_id", "cos")


def _lsh_oracle() -> str:
    return f"""
WITH {_duck_hp_sigs()}, idx AS (
    {_duck_hp_index('sig', TABLES)}
), cand AS (
    {_duck_bucket_pairs('idx', '!=')}
)
SELECT query_id AS vec_id, ann_nn AS neighbor_id, ann_cos AS cos
FROM ({_duck_top1(_duck_with_cos('cand'))})
"""


register("ann_lsh_bucketed", ann_lsh_bucketed, _lsh_oracle(),
         "random-hyperplane LSH bucketed nearest neighbor")


# ------------------------------------------------- recall@1 scorer
RECALL_COLS = ("n_queries", "n_answered", "n_hit1", "recall1_ppm",
               "cos_gap_micro")


def _exact_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact top-1 panel every sweep scores against: ``(query_id,
    exact_nn, exact_cos)``."""
    return (ann_cosine_topk(spark, sf_dir)
            .filter(F.col("rn") == 1)
            .select("query_id",
                    F.col("neighbor_id").alias("exact_nn"),
                    F.col("cos").alias("exact_cos")))


def _recall_at_1(exact1: DataFrame, top1: DataFrame,
                 points: DataFrame | None = None) -> DataFrame:
    """Score the ANN answers ``top1`` (``*keys, query_id, ann_nn,
    ann_cos``) against the exact panel: per sweep point ``*keys,
    n_queries, n_answered, n_hit1, recall1_ppm, cos_gap_micro``.
    ``points`` holds the key rows of the sweep points (None: ``top1`` is
    one point with no keys), so a point that answers no query still
    scores every query. recall1_ppm is integer ppm and cos_gap_micro
    the summed micro-quantized cosine regret of the answered queries,
    quantized per query BEFORE summing, so the total is order-free
    exact."""
    keys = [] if points is None else points.columns
    grid = exact1 if points is None else exact1.crossJoin(
        F.broadcast(points))
    answered = F.col("ann_nn").isNotNull()
    return (grid.join(top1, [*keys, "query_id"], "left")
            .groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("n_queries"),
                 F.sum(F.when(answered, 1).otherwise(0)).alias("n_answered"),
                 F.sum(F.when(F.col("ann_nn") == F.col("exact_nn"), 1)
                       .otherwise(0)).alias("n_hit1"),
                 F.sum(F.when(answered,
                              F.round((F.col("exact_cos") - F.col("ann_cos"))
                                      * 1_000_000).cast("long"))
                       .otherwise(0)).alias("cos_gap_micro"))
            .select(*keys, "n_queries", "n_answered", "n_hit1",
                    F.expr("n_hit1 * 1000000 div n_queries")
                    .alias("recall1_ppm"),
                    "cos_gap_micro"))


def _duck_exact_top1() -> str:
    """DuckDB twin of ``_exact_top1``: the ``exact`` CTE."""
    return (f"exact AS (SELECT query_id, neighbor_id AS exact_nn,"
            f" cos AS exact_cos FROM"
            f" ({oracle_sql_of('ann_cosine_topk')}) e WHERE rn = 1)")


def _duck_recall_at_1(top1: str, lead: str) -> str:
    """DuckDB twin of ``_recall_at_1`` for one sweep point: ``top1`` is
    a relation ``(query_id, ann_nn, ann_cos)`` and ``lead`` the point's
    leading SELECT items (``3 AS n_tables,``)."""
    return f"""
SELECT {lead}
       CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(CASE WHEN l.ann_nn IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_answered,
       CAST(SUM(CASE WHEN l.ann_nn = e.exact_nn THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hit1,
       CAST(SUM(CASE WHEN l.ann_nn = e.exact_nn THEN 1 ELSE 0 END)
            AS BIGINT) * 1000000 // COUNT(*) AS recall1_ppm,
       CAST(SUM(CASE WHEN l.ann_nn IS NOT NULL
                THEN CAST(ROUND((e.exact_cos - l.ann_cos) * 1000000)
                          AS BIGINT)
                ELSE 0 END) AS BIGINT) AS cos_gap_micro
FROM exact e LEFT JOIN ({top1}) l USING (query_id)"""


# ------------------------------------------------- LSH tables sweep
TABLE_SWEEP = (1, 2, 3)


def ann_lsh_tables_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-vs-table-count curve for multi-table hyperplane LSH: one
    row per T in {1, 2, 3} tables (each the FIRST T of
    ann_lsh_bucketed's three 4-bit tables, so candidate sets are nested
    unions and every column is monotone in T) with the corpus-wide
    candidate-pair volume, panel recall@1 against the exact baseline,
    and the summed micro-quantized cosine regret. This is the third
    tuning axis of the LSH family — tables (this sweep) x probes
    (ann_lsh_multiprobe) x banding (dedup_banding_sweep) — answering
    "was 3 tables the right call" with a measured curve instead of a
    default. Signatures compute once (cached); per sweep point one
    bucket-key equi join on (id, bucket) rows and panel-sized scoring
    joins — never all-pairs."""
    sigs = _hp_sigs(spark, sf_dir)
    idx = _hp_index(sigs, TABLES)
    exact1 = _exact_top1(spark, sf_dir)
    out = None
    for nt in TABLE_SWEEP:
        cand = _bucket_pairs(idx.filter(F.col("tbl") < nt), "!=")
        vol = cand.agg(
            F.coalesce(F.sum(F.expr(
                "cast(vec_id < neighbor_id as int)")), F.lit(0))
            .cast("long").alias("n_cand_pairs"))
        top1 = _top1(_with_cos(cand.filter(F.col("vec_id") < N_QUERIES),
                               sigs, sf_dir))
        row = (_recall_at_1(exact1, top1).crossJoin(F.broadcast(vol))
               .select(F.lit(nt).alias("n_tables"), "n_cand_pairs",
                       *RECALL_COLS))
        out = row if out is None else out.unionByName(row)
    return out.orderBy("n_tables")


def _tables_sweep_oracle() -> str:
    blocks = [f"""{_duck_exact_top1()}, {_duck_hp_sigs()}, idx AS (
    {_duck_hp_index('sig', TABLES)}
)"""]
    selects = []
    for nt in TABLE_SWEEP:
        blocks.append(f""", cand{nt} AS (
    {_duck_bucket_pairs(f'(SELECT * FROM idx WHERE tbl < {nt})', '!=')}
)""")
        panel = _duck_with_cos(f"(SELECT * FROM cand{nt}"
                               f" WHERE vec_id < {N_QUERIES})")
        selects.append(_duck_recall_at_1(_duck_top1(panel), f"""{nt} AS n_tables,
       (SELECT CAST(COALESCE(SUM(CASE WHEN vec_id < neighbor_id
                             THEN 1 ELSE 0 END), 0) AS BIGINT)
        FROM cand{nt}) AS n_cand_pairs,"""))
    u = "\nUNION ALL\n".join(selects)
    return ("WITH " + "".join(blocks)
            + f"\nSELECT * FROM (\n{u}\n) ORDER BY n_tables")


register("ann_lsh_tables_sweep", ann_lsh_tables_sweep,
         _tables_sweep_oracle(),
         "multi-table LSH recall@1 / candidate-volume curve, T in {1,2,3}")


# ------------------------------------------------- multi-probe LSH
MP_BITS = 12  # one 12-bit table; probes = exact bucket + 12 bit flips


def ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH (Lv et al., VLDB'07): ONE 12-bit hyperplane
    table (4096 buckets — far more selective than ann_lsh_bucketed's
    three 4-bit tables) whose recall is recovered by PROBING the
    neighboring buckets: each vector also looks in the 12 buckets at
    Hamming distance 1 from its own signature. Emits the probe-count /
    recall tradeoff directly — one row per probe level (1 = exact
    bucket only, 13 = exact + single-bit flips) with the candidate-pair
    count, how many vectors found any neighbor, and the exact-integer
    sum of their top-1 cosines (micro fixed-point, so the aggregate
    hashes bit-identically — a float AVG would be summation-order-
    dependent).

    Scale shape: candidates meet ONLY on probe-key equality (a hash
    join on the signature — never all-pairs); the probe fan-out is a
    single executor-side explode (13 structs per vector, ids only —
    vectors are fetched back by id after the bucket join, size-gated
    broadcast). Multi-probe is the lake path when memory bounds the
    table count: 13 probes of one table do the recall work of ~13
    tables at 1/13th the signature storage. More bits per table (not
    more probes) is the knob when the corpus grows 100x.

    VERDICT r12 ask #4 (sanctioned growth: "multi-probe LSH closes the
    probe-count/recall gap of ann_lsh_bucketed").
    """
    sigs = _hp_sigs(spark, sf_dir)
    # 13 probe keys per vector, ids only — one Generate, no 13-way union
    probe_structs = ", ".join(
        ["named_struct('key', hp, 'rad', 0)"]
        + [f"named_struct('key', hp ^ {1 << r}, 'rad', 1)"
           for r in range(MP_BITS)])
    probes = sigs.select("vec_id", F.expr(f"inline(array({probe_structs}))"))
    cand = (
        probes.join(sigs.select(F.col("vec_id").alias("neighbor_id"),
                                F.col("hp").alias("nsig")),
                    (F.col("key") == F.col("nsig"))
                    & (F.col("vec_id") != F.col("neighbor_id")))
        .select("vec_id", "neighbor_id", "rad"))
    scored = _with_cos(cand, sigs, sf_dir)
    # probe levels: 0 = exact bucket (1 probe), 1 = + bit flips (13)
    lv = scored.select(
        "*", F.explode(F.array(F.lit(0), F.lit(1))).alias("lvl")
    ).filter(F.col("rad") <= F.col("lvl"))
    w = Window.partitionBy("lvl", "vec_id").orderBy(
        F.col("cos").desc(), "neighbor_id")
    ranked = lv.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("lvl")
        .agg(F.count(F.lit(1)).alias("n_cand_pairs"),
             F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
             .cast("long").alias("matched_vectors"),
             F.sum(F.when(F.col("rn") == 1,
                          F.floor(F.col("cos") * 1000000.0).cast("long")))
             .cast("long").alias("sum_top1_cos_micro"))
        .select(F.when(F.col("lvl") == 0, 1).otherwise(1 + MP_BITS)
                .cast("int").alias("n_probes"),
                "n_cand_pairs", "matched_vectors", "sum_top1_cos_micro"))


def _multiprobe_oracle() -> str:
    probe_union = "\n    UNION ALL\n".join(
        ["    SELECT vec_id, hp AS key, 0 AS rad FROM sig"]
        + [f"    SELECT vec_id, xor(hp, {1 << r}), 1 FROM sig"
           for r in range(MP_BITS)])
    return f"""
WITH {_duck_hp_sigs()}, probes AS (
{probe_union}
), cand AS (
    SELECT p.vec_id, b.vec_id AS neighbor_id, p.rad
    FROM probes p JOIN sig b ON p.key = b.hp AND p.vec_id <> b.vec_id
), scored AS (
    {_duck_with_cos('cand')}
), lv AS (
    SELECT 0 AS lvl UNION ALL SELECT 1
), pairs_lv AS (
    SELECT s.*, lv.lvl FROM scored s, lv WHERE s.rad <= lv.lvl
), ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY lvl, vec_id
                                 ORDER BY cos DESC, neighbor_id) AS rn
    FROM pairs_lv
)
SELECT CAST(CASE WHEN lvl = 0 THEN 1 ELSE {1 + MP_BITS} END AS INTEGER)
           AS n_probes,
       COUNT(*) AS n_cand_pairs,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS matched_vectors,
       CAST(SUM(CASE WHEN rn = 1
                     THEN CAST(FLOOR(cos * 1000000.0) AS BIGINT) END)
            AS BIGINT) AS sum_top1_cos_micro
FROM ranked GROUP BY lvl
"""


register("ann_lsh_multiprobe", ann_lsh_multiprobe, _multiprobe_oracle(),
         "multi-probe LSH probe-count/recall tradeoff (1 vs 13 probes)")


# ----------------------------------------------------------------- IVF
N_CELLS, N_PROBE = 16, 2


def _ivf_search(emb: DataFrame, cent: DataFrame,
                n_probe: int = N_PROBE) -> DataFrame:
    """Shared IVF search: assign every vector to its max-cosine cell
    (broadcast join against the tiny centroid table), probe the top
    ``n_probe`` cells per query, search exactly within them. Search
    touches only probed cells (~n_probe/n_cells of the corpus).
    ``cent`` columns: cell_id, cv (array<double>), cnorm."""
    # fold, not unroll: this helper accepts ANY-dim frames (the
    # clustered-corpus training tests feed 16-dim vectors) and the
    # unroll hard-codes the dim — its win here was noise-level anyway
    cdot = F.expr(vecfold.fold_dot("v", "cv"))
    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id", "v", "norm", "cell_id",
        (cdot / (F.col("norm") * F.col("cnorm"))).alias("ccos"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("ccos").desc(), "cell_id")
    ranked = scored.withColumn("crn", F.row_number().over(w)).cache()
    assigned = ranked.filter(F.col("crn") == 1).select(
        F.col("vec_id").alias("c_vec_id"), F.col("v").alias("cv_full"),
        F.col("norm").alias("c_norm"), F.col("cell_id").alias("cell"),
    )
    probes = ranked.filter((F.col("vec_id") < N_QUERIES)
                           & (F.col("crn") <= n_probe)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("norm").alias("q_norm"), F.col("cell_id").alias("cell"),
    )
    qdot = F.expr(vecfold.fold_dot("qv", "cv_full"))
    cand = probes.join(assigned, "cell").filter(
        F.col("query_id") != F.col("c_vec_id")
    ).select(
        "query_id", F.col("c_vec_id").alias("neighbor_id"),
        (qdot / (F.col("q_norm") * F.col("c_norm"))).alias("cos"),
    ).dropDuplicates(["query_id", "neighbor_id"])
    wq = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        cand.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") == 1)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos"))
    )


def ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN with a seed coarse quantizer (vectors vec_id <
    N_CELLS stand in for trained centroids — deterministic and
    oracle-reproducible; the trained variant is ann_ivf_trained). On
    this corpus probe-2 captures the true top-1 cell for 10/10 queries
    — better recall than hyperplane LSH here."""
    emb = _emb(spark, sf_dir).cache()
    cent = emb.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("cell_id"), F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
    )
    return _ivf_search(emb, cent)


def _ivf_oracle(n_probe: int, pre: str = "", cent_sql: str = "") -> str:
    """Parameterized DuckDB twin of _ivf_search — shared by
    ann_ivf_probe (N_PROBE), the nprobe sweep, and (via ``pre`` +
    ``cent_sql``) the Lloyd-trained variant: ``pre`` splices extra
    training CTEs after ``emb``; ``cent_sql`` overrides the seed
    centroid SELECT (default: the k lowest vec_ids)."""
    if not cent_sql:
        cent_sql = (f"SELECT vec_id AS cell_id, v AS cv "
                    f"FROM emb WHERE vec_id < {N_CELLS}")
    return f"""
WITH emb AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
){pre}, cent AS (
    {cent_sql}
), scored AS (
    SELECT e.vec_id, e.v, c.cell_id,
           list_dot_product(e.v, c.cv)
           / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)))
               AS ccos
    FROM emb e CROSS JOIN cent c
), ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY ccos DESC, cell_id) AS crn
    FROM scored
), assigned AS (
    SELECT vec_id AS c_vec_id, v AS cv_full, cell_id AS cell
    FROM ranked WHERE crn = 1
), probes AS (
    SELECT vec_id AS query_id, v AS qv, cell_id AS cell
    FROM ranked WHERE vec_id < {N_QUERIES} AND crn <= {n_probe}
), cand AS (
    SELECT DISTINCT p.query_id, a.c_vec_id AS neighbor_id,
           list_dot_product(p.qv, a.cv_full)
           / (sqrt(list_dot_product(p.qv, p.qv))
              * sqrt(list_dot_product(a.cv_full, a.cv_full))) AS cos
    FROM probes p JOIN assigned a USING (cell)
    WHERE p.query_id <> a.c_vec_id
), final AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, neighbor_id) AS rn
    FROM cand
)
SELECT query_id, neighbor_id, ROUND(cos, 6) AS cos
FROM final WHERE rn = 1
"""


register("ann_ivf_probe", ann_ivf_probe, _ivf_oracle(N_PROBE),
         "IVF coarse-quantizer probe-2 nearest neighbor")


# ------------------------------------------------- trained quantizer
N_ITERS = 4
Q_SCALE = 1_000_000  # micro fixed point for the exact-integer Lloyd


def train_ivf_centroids(spark: SparkSession, emb: DataFrame,
                        k: int = N_CELLS, iters: int = N_ITERS) -> DataFrame:
    """Lloyd's k-means over the embedding corpus, expressed as
    DataFrame ops (round-1 verdict: seed centroids give unbalanced
    cells on clustered corpora) — in EXACT integer fixed point, so the
    trained model is bit-stable across runs, partitionings AND engines
    (the r8 verdict ask: make the trained variant oracle-checkable the
    way emb_pca_topk's deflated loops were).

    Vectors quantize to micro units (vq = floor(v * 1e6), int64).
    Per iteration: (1) assignment = broadcast cross join against the k
    integer centroids + argmax of dot(vq, cq)/sqrt(ssq(cq)) — dot and
    ssq are exact int64 sums (|x| < 1 => |vq| <= 1e6; 64 dims keep
    every partial sum < 2^53, so even the double-typed oracle computes
    them exactly), sqrt and divide are single correctly-rounded IEEE
    ops, hence bit-identical cross-engine; ties break on cell_id;
    (2) update = per-position exact integer SUM + floor(sum/n) (the
    double quotient cannot cross an integer boundary: a non-integer
    mean is >= 1/n >= 1/N_TRAIN_MAX away from any integer, ~60x the
    worst double rounding error at these magnitudes).
    The k x dim centroid table (the model parameters, a few KB) is
    collected to the driver each iteration to seed the next broadcast —
    the corpus itself never leaves the executors. On 100 TB you train
    on a bounded sample (``ivf_training_sample``); the result is a
    centroid model, not a data-sized artifact.

    Returns (cell_id, cv array<double> = cq/1e6, cnorm) — the
    _ivf_search contract."""
    embq = emb.select("vec_id", F.expr(
        f"transform(v, x -> cast(floor(x * {Q_SCALE}) as bigint))"
    ).alias("vq")).cache()
    # model-size collect: k seed rows of dim ints
    cent_q = {int(r.vec_id): [int(x) for x in r.vq]
              for r in embq.filter(F.col("vec_id") < k).collect()}
    # fold, not unroll: training accepts ANY-dim frames (see _ivf_search)
    idot = F.expr(vecfold.fold_dot("vq", "cq", zero=vecfold.L_ZERO))
    for _ in range(iters):
        cent = spark.createDataFrame(
            sorted(cent_q.items()), "cell_id long, cq array<bigint>",
        ).withColumn("cssq", F.expr(
            vecfold.fold_self_dot("cq", zero=vecfold.L_ZERO)))
        scored = embq.crossJoin(F.broadcast(cent)).select(
            "vec_id", "vq", "cell_id",
            (idot.cast("double")
             / F.sqrt(F.col("cssq").cast("double"))).alias("s"),
        )
        w = Window.partitionBy("vec_id").orderBy(F.col("s").desc(), "cell_id")
        assigned = (
            scored.withColumn("crn", F.row_number().over(w))
            .filter(F.col("crn") == 1)
            .select("cell_id", "vq")
        )
        means = (
            assigned.select("cell_id", F.posexplode("vq").alias("pos", "x"))
            .groupBy("cell_id", "pos")
            .agg(F.floor(F.sum("x").cast("double")
                         / F.count(F.lit(1))).alias("m"))
            .groupBy("cell_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cell_id", F.expr("transform(pm, s -> s.m)").alias("cq"))
        )
        # model-size collect: k centroid rows of dim ints
        got = {int(r.cell_id): [int(x) for x in r.cq]
               for r in means.collect()}
        # a cell that lost every member keeps its previous centroid
        cent_q = cent_q | got
    final = spark.createDataFrame(
        sorted(cent_q.items()), "cell_id long, cq array<bigint>")
    return final.select(
        "cell_id",
        F.expr(f"transform(cq, c -> cast(c as double) / {Q_SCALE})")
        .alias("cv"),
    ).withColumn("cnorm", F.expr(
        f"sqrt({vecfold.fold_self_dot('cv')})"
    ))


N_TRAIN_MAX = 4096  # absolute cap on k-means training rows


def ivf_training_sample(emb: DataFrame, cap: int = N_TRAIN_MAX) -> DataFrame:
    """Bounded, deterministic k-means training subset. A constant
    *fraction* still scales with the corpus (0.5 of 100 TB is 50 TB), so
    the cap is absolute: count the corpus (column-pruned, cheap), then
    keep ~1/denom of rows by hash membership — xxhash64(vec_id) % denom,
    the same engine-portable deterministic-randomness trick as
    contrastive_negatives, so the subset is reproducible with no RNG
    state. The k init vectors are unioned in so Lloyd initialization
    stays deterministic under sampling; below the cap the subset is the
    full corpus."""
    n = emb.select("vec_id").count()
    denom = max(1, n // cap)
    return (
        emb.filter(F.pmod(F.xxhash64("vec_id"), F.lit(denom)) == 0)
        .unionByName(emb.filter(F.col("vec_id") < N_CELLS))
        .dropDuplicates(["vec_id"])
    )


def ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe-2 search against a Lloyd-trained coarse quantizer —
    the production variant of ann_ivf_probe. Training input is a
    size-BOUNDED deterministic subset of the corpus, per the trainer's
    own contract: the quantizer only needs cluster geometry, so at
    100 TB it fits on <=N_TRAIN_MAX rows while the SEARCH still runs
    over the full corpus. Since r9 the trainer is exact integer fixed
    point (see train_ivf_centroids), so the full train+search pipeline
    carries a DuckDB oracle: N_ITERS unrolled Lloyd CTEs feeding the
    shared _ivf_oracle search. The oracle trains on the whole corpus,
    which equals the Spark side's hash-membership sample whenever the
    corpus fits under N_TRAIN_MAX (true at every driver/test scale —
    pinned by tests/test_similarity_training.py; past the cap the
    subsampling seam would need the hash in SQL)."""
    emb = _emb(spark, sf_dir).cache()
    return _ivf_search(emb, train_ivf_centroids(spark, ivf_training_sample(emb)))


def _trained_ivf_pre() -> str:
    """Unrolled Lloyd training CTEs for the trained-IVF oracle:
    per iteration an assignment (argmax of the exact integer
    dot/sqrt(ssq) score) and a per-position exact mean, mirroring
    train_ivf_centroids step for step. vq values are micro-unit
    integers stored in DOUBLE lists — every product (< 1e12) and
    64-term sum (< 1e14) is below 2^53, so DuckDB's double
    list_dot_product computes the same exact integers as Spark's
    int64 fold."""
    mean_list = "[" + ",\n            ".join(
        f"CAST(FLOOR(SUM(vq[{i}]) / COUNT(*)) AS DOUBLE)"
        for i in range(1, DIM + 1)) + "]"
    parts = [f""", embq AS (
    SELECT vec_id,
           list_transform(v, x -> CAST(FLOOR(x * {Q_SCALE}) AS DOUBLE))
               AS vq
    FROM emb
), tcent0 AS (
    SELECT vec_id AS cell_id, vq AS cq FROM embq WHERE vec_id < {N_CELLS}
)"""]
    for i in range(1, N_ITERS + 1):
        parts.append(f""", tscore{i} AS (
    SELECT e.vec_id, e.vq, c.cell_id,
           list_dot_product(e.vq, c.cq) / sqrt(list_dot_product(c.cq, c.cq))
               AS s
    FROM embq e CROSS JOIN tcent{i - 1} c
), tasg{i} AS (
    SELECT vec_id, vq, cell_id
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY s DESC, cell_id) AS rn
          FROM tscore{i})
    WHERE rn = 1
), tmean{i} AS (
    SELECT cell_id, {mean_list} AS cq
    FROM tasg{i} GROUP BY cell_id
), tcent{i} AS (
    SELECT p.cell_id, COALESCE(n.cq, p.cq) AS cq
    FROM tcent{i - 1} p LEFT JOIN tmean{i} n USING (cell_id)
)""")
    return "".join(parts)


register(
    "ann_ivf_trained", ann_ivf_trained,
    _ivf_oracle(
        N_PROBE, pre=_trained_ivf_pre(),
        cent_sql=(f"SELECT cell_id, "
                  f"list_transform(cq, c -> c / {Q_SCALE}.0) AS cv "
                  f"FROM tcent{N_ITERS}")),
    "IVF probe-2 over a k-means-trained coarse quantizer")


# ------------------------------------------------- ANN recall audit
def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit for the hyperplane-LSH ANN path against the exact
    brute-force panel — the dedup_lsh_audit discipline applied to
    similarity search: ONE integer-exact summary row answering "are 3
    tables x 4 bits enough on this corpus?" before an index
    configuration ships. Composes the two registered pipelines
    unchanged; the join runs on the panel-sized result sets (queries x
    top-5 rows), never the corpus. recall@1 counts LSH's top-1 hitting
    the true nearest neighbor, recall@5 its top-1 landing anywhere in
    the true top-5, and cos_gap_micro is the summed micro-quantized
    cosine regret of the answered queries (0 when LSH finds the true
    neighbor) — quantized per query BEFORE summing, so the total is
    order-free exact."""
    exact = ann_cosine_topk(spark, sf_dir)
    lsh = (ann_lsh_bucketed(spark, sf_dir)
           .filter(F.col("vec_id") < N_QUERIES)
           .select(F.col("vec_id").alias("query_id"),
                   F.col("neighbor_id").alias("lsh_nn"),
                   F.col("cos").alias("lsh_cos")))
    per_q = (exact.join(lsh, "query_id", "left")
             .groupBy("query_id")
             .agg(F.max(F.when(F.col("rn") == 1, F.col("neighbor_id")))
                  .alias("exact_nn"),
                  F.max(F.when(F.col("rn") == 1, F.col("cos")))
                  .alias("exact_cos"),
                  F.first("lsh_nn").alias("lsh_nn"),
                  F.first("lsh_cos").alias("lsh_cos"),
                  F.max(F.when(F.col("neighbor_id") == F.col("lsh_nn"), 1)
                        .otherwise(0)).alias("hit5")))
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum(F.when(F.col("lsh_nn").isNotNull(), 1).otherwise(0))
        .alias("n_answered"),
        F.sum(F.when(F.col("lsh_nn") == F.col("exact_nn"), 1).otherwise(0))
        .alias("n_hit1"),
        F.sum("hit5").alias("n_hit5"),
        F.sum(F.when(F.col("lsh_nn").isNotNull(),
                     F.round((F.col("exact_cos") - F.col("lsh_cos"))
                             * 1_000_000).cast("long")).otherwise(0))
        .alias("cos_gap_micro"),
    ).select(
        "n_queries", "n_answered", "n_hit1", "n_hit5",
        F.expr("n_hit1 * 1000000 div n_queries").alias("recall1_ppm"),
        F.expr("n_hit5 * 1000000 div n_queries").alias("recall5_ppm"),
        "cos_gap_micro",
    )


register("ann_recall_audit", ann_recall_audit, f"""
WITH exact AS (SELECT * FROM ({oracle_sql_of("ann_cosine_topk")}) e0),
lsh AS (SELECT * FROM ({oracle_sql_of("ann_lsh_bucketed")}) l0
        WHERE vec_id < {N_QUERIES}),
per_q AS (
    SELECT e.query_id,
           MAX(CASE WHEN e.rn = 1 THEN e.neighbor_id END) AS exact_nn,
           MAX(CASE WHEN e.rn = 1 THEN e.cos END) AS exact_cos,
           ANY_VALUE(l.neighbor_id) AS lsh_nn,
           ANY_VALUE(l.cos) AS lsh_cos,
           MAX(CASE WHEN l.neighbor_id = e.neighbor_id
               THEN 1 ELSE 0 END) AS hit5
    FROM exact e LEFT JOIN lsh l ON l.vec_id = e.query_id
    GROUP BY e.query_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(CASE WHEN lsh_nn IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_answered,
       CAST(SUM(CASE WHEN lsh_nn = exact_nn THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hit1,
       CAST(SUM(hit5) AS BIGINT) AS n_hit5,
       CAST(SUM(CASE WHEN lsh_nn = exact_nn THEN 1 ELSE 0 END) AS BIGINT)
           * 1000000 // COUNT(*) AS recall1_ppm,
       CAST(SUM(hit5) AS BIGINT) * 1000000 // COUNT(*) AS recall5_ppm,
       CAST(SUM(CASE WHEN lsh_nn IS NOT NULL
                THEN CAST(ROUND((exact_cos - lsh_cos) * 1000000) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS cos_gap_micro
FROM per_q
""", "LSH-vs-exact ANN recall@1/@5 audit with micro-quantized regret")


# --------------------------------------- IVF nprobe recall sweep
PROBE_SWEEP = (1, 2, 4)


def _nprobe_sweep(spark: SparkSession, sf_dir: str,
                  emb: DataFrame, cent: DataFrame) -> DataFrame:
    """Shared recall-vs-nprobe sweep body over any centroid table in
    the _ivf_search contract — one row per nprobe in PROBE_SWEEP with
    recall@1 against the exact panel and the summed micro-quantized
    cosine regret. Each sweep point reuses _ivf_search unchanged
    (assignment computed per point; the cell scoring is
    centroid-bounded so the sweep is ~|PROBE_SWEEP|x one IVF search,
    all panel-sized joins). Used by ann_ivf_nprobe_sweep (seed
    quantizer) and ann_ivf_trained_sweep (Lloyd-trained quantizer)."""
    exact1 = _exact_top1(spark, sf_dir)
    out = None
    for p in PROBE_SWEEP:
        ivf = _ivf_search(emb, cent, n_probe=p).select(
            "query_id", F.col("neighbor_id").alias("ann_nn"),
            F.col("cos").alias("ann_cos"))
        s = (_recall_at_1(exact1, ivf)
             .select(F.lit(p).alias("n_probe"), *RECALL_COLS))
        out = s if out is None else out.unionByName(s)
    return out.orderBy("n_probe")


def ann_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-vs-nprobe curve for the seed-quantizer IVF path: the
    tuning table an index operator reads before picking a probe count.
    Together with ann_recall_audit (LSH) this closes the loop: every
    ANN family ships with its measured accuracy/cost curve, not a
    vibes-based default. (Body shared with the trained-quantizer sweep
    — _nprobe_sweep.)"""
    emb = _emb(spark, sf_dir).cache()
    cent = emb.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("cell_id"), F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"))
    return _nprobe_sweep(spark, sf_dir, emb, cent)


def ann_ivf_trained_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-vs-nprobe curve over the LLOYD-TRAINED coarse quantizer —
    the multiprobe-over-trained-centroids composition (ROADMAP r14
    candidate surface): ann_ivf_trained fixes nprobe=2 on the trained
    cells; this emits the measured recall@1 / cosine-regret tradeoff at
    nprobe in {1, 2, 4} against the exact panel, so the probe count for
    the PRODUCTION quantizer is a read-off, not a default. Training
    runs ONCE (bounded deterministic sample, exact integer Lloyd —
    train_ivf_centroids' contract); each sweep point reuses _ivf_search
    unchanged against the same centroid model. The oracle re-derives
    the identical trained model per sweep point via the unrolled Lloyd
    CTEs (_trained_ivf_pre), the ann_ivf_trained precedent."""
    emb = _emb(spark, sf_dir).cache()
    cent = train_ivf_centroids(spark, ivf_training_sample(emb))
    return _nprobe_sweep(spark, sf_dir, emb, cent)


def _sweep_oracle(pre: str = "", cent_sql: str = "") -> str:
    blocks, selects = [_duck_exact_top1()], []
    for p in PROBE_SWEEP:
        blocks.append(f"ivf{p} AS ({_ivf_oracle(p, pre=pre, cent_sql=cent_sql)})")
        selects.append(_duck_recall_at_1(
            f"SELECT query_id, neighbor_id AS ann_nn, cos AS ann_cos"
            f" FROM ivf{p}", f"{p} AS n_probe,"))
    u = "\nUNION ALL\n".join(selects)
    return ("WITH " + ",\n".join(blocks)
            + f"\nSELECT * FROM (\n{u}\n) ORDER BY n_probe")


register("ann_ivf_nprobe_sweep", ann_ivf_nprobe_sweep, _sweep_oracle(),
         "IVF recall@1 / cosine-regret curve across nprobe in {1,2,4}")

register(
    "ann_ivf_trained_sweep", ann_ivf_trained_sweep,
    _sweep_oracle(
        pre=_trained_ivf_pre(),
        cent_sql=(f"SELECT cell_id, "
                  f"list_transform(cq, c -> c / {Q_SCALE}.0) AS cv "
                  f"FROM tcent{N_ITERS}")),
    "recall/nprobe sweep over the Lloyd-trained IVF quantizer")


# ---------------------------------------------- IVF-PQ composition
from .training_extras import (  # noqa: E402
    ADC_TOPK as IVFPQ_TOPK, PQ_K, PQ_M, PQ_SUB)


def _ivf_pq_search(emb: DataFrame, cent: DataFrame,
                   n_probe: int = N_PROBE, pq_m: int = PQ_M,
                   reuse_codes: bool = False) -> DataFrame:
    """Shared IVF-PQ search: the coarse quantizer ``cent`` (cell_id,
    cv, cnorm — the _ivf_search contract) routes each query to its
    probe-{N_PROBE} cells, and WITHIN the probed cells candidates
    rank by PQ asymmetric distance over their compressed codes
    (ann_pq_adc_topk's scorer) — raw vectors never touched at scan
    time, exactly how a billion-vector index serves. Scale shape: the
    centroid and codebook tables and the per-query LUT are
    broadcasts; the scan reads only the probed cells' code rows
    (~{N_PROBE}/{N_CELLS} of the corpus); distances fold in index
    order with fixed-order subspace sums, so doubles are
    bit-identical cross-engine and the composition carries a full
    hash oracle. ``pq_m`` picks the subspace count (the M sweep's
    axis; the default reproduces the standing PQ_M=4 index with
    byte-identical plans — r12 extraction rule verified)."""
    pq_sub = DIM // pq_m  # == PQ_SUB at the default pq_m
    cdot = F.expr(vecfold.fold_dot("v", "cv"))
    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id", "v", "cell_id",
        (cdot / (F.col("norm") * F.col("cnorm"))).alias("ccos"))
    w = Window.partitionBy("vec_id").orderBy(F.col("ccos").desc(),
                                             "cell_id")
    ranked = scored.withColumn("crn", F.row_number().over(w)).cache()
    assigned = (ranked.filter((F.col("crn") == 1)
                              & (F.col("vec_id") >= N_QUERIES))
                .select(F.col("vec_id").alias("db_id"),
                        F.col("cell_id").alias("cell")))
    probes = (ranked.filter((F.col("vec_id") < N_QUERIES)
                            & (F.col("crn") <= n_probe))
              .select(F.col("vec_id").alias("query_id"),
                      F.col("cell_id").alias("cell")))
    sub = emb.select(
        "vec_id",
        F.explode(F.array(*[
            F.struct(F.lit(m).alias("m"),
                     F.expr(f"slice(v, {m * pq_sub + 1}, {pq_sub})")
                     .alias("sv"))
            for m in range(pq_m)])).alias("e"),
    ).select("vec_id", F.col("e.m").alias("m"), F.col("e.sv").alias("sv"))
    codebook = sub.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("code"), "m", F.col("sv").alias("cbv"))
    dist = F.expr(vecfold.fold_sq_dist("sv", "cbv"))
    db_sub = sub.filter(F.col("vec_id") >= N_QUERIES)
    wc = Window.partitionBy("vec_id", "m").orderBy("dist", "code")
    codes = (db_sub.join(F.broadcast(codebook), "m")
             .withColumn("dist", dist)
             .withColumn("rn", F.row_number().over(wc))
             .filter(F.col("rn") == 1)
             .select(F.col("vec_id").alias("db_id"), "m", "code"))
    q_sub = sub.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "m", "sv")
    lut = (q_sub.join(F.broadcast(codebook), "m")
           .withColumn("ld", dist)
           .select("query_id", "m", "code", "ld"))
    if reuse_codes:
        # codes and LUT are independent of n_probe: the probe sweep
        # passes reuse_codes=True so its three search instances derive
        # them ONCE (intra-query reuse — nothing persists across bench
        # runs; at the lake "codes are computed once and reused across
        # points"). Single-search callers keep the uncached plan.
        codes, lut = codes.cache(), lut.cache()
    cand = (probes.join(assigned, "cell")
            .select("query_id", "db_id").distinct())
    paired = (cand.join(codes, "db_id")
              .join(F.broadcast(lut), ["query_id", "m", "code"]))
    dists = [F.sum(F.when(F.col("m") == m, F.col("ld"))).alias(f"_d{m}")
             for m in range(pq_m)]
    agg = paired.groupBy("query_id", "db_id").agg(*dists)
    total = "+".join(f"_d{m}" for m in range(pq_m))
    adc = agg.withColumn("adc_r6", F.round(F.expr(total), 6))
    wq = Window.partitionBy("query_id").orderBy("adc_r6", "db_id")
    return (adc.withColumn("rank", F.row_number().over(wq))
            .filter(F.col("rank") <= IVFPQ_TOPK)
            .select("query_id", "rank",
                    F.col("db_id").alias("neighbor_id"), "adc_r6")
            .orderBy("query_id", "rank"))


def ann_ivf_pq_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with the SEED coarse quantizer (vec_id < N_CELLS stand
    in for trained centroids — ann_ivf_probe's convention); the
    trained variant is ann_ivf_pq_trained. See _ivf_pq_search for the
    index shape and scale arguments."""
    emb = _emb(spark, sf_dir).cache()
    cent = emb.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("cell_id"), F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"))
    return _ivf_pq_search(emb, cent)


def ann_ivf_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production IVF-PQ composition: the exact-fixed-point
    Lloyd-trained coarse quantizer (train_ivf_centroids — bounded
    training sample, model-size centroid table) routes queries, PQ
    ADC scores the probed cells' compressed codes. Both halves
    already carry unrolled oracles (ann_ivf_trained's training CTEs,
    ann_pq_adc_topk's scorer), so the full train+route+scan pipeline
    is hash-checkable end to end."""
    emb = _emb(spark, sf_dir).cache()
    return _ivf_pq_search(
        emb, train_ivf_centroids(spark, ivf_training_sample(emb)))


def _ivf_pq_oracle(pre: str = "", cent_sql: str = "",
                   n_probe: int = N_PROBE, pq_m: int = PQ_M) -> str:
    pq_sub = DIM // pq_m  # == PQ_SUB at the default pq_m
    slices = " UNION ALL ".join(
        f"SELECT vec_id, {m} AS m,"
        f" list_slice(v, {m * pq_sub + 1}, {(m + 1) * pq_sub}) AS sv FROM emb"
        for m in range(pq_m))
    dist = (f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
            f" list_transform(range(1, {pq_sub} + 1),"
            " i -> (s.sv[i] - c.cbv[i]) * (s.sv[i] - c.cbv[i]))),"
            " (acc, d) -> acc + d)")
    qdist = dist.replace("s.sv", "q.sv")
    dsums = ", ".join(
        f"SUM(CASE WHEN k.m = {m} THEN ld END) AS _d{m}" for m in range(pq_m))
    total = "+".join(f"_d{m}" for m in range(pq_m))
    if not cent_sql:
        cent_sql = (f"SELECT vec_id AS cell_id, v AS cv "
                    f"FROM emb WHERE vec_id < {N_CELLS}")
    return f"""
WITH emb AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
){pre}, cent AS (
    {cent_sql}
), cscored AS (
    SELECT e.vec_id, e.v, c.cell_id,
           list_dot_product(e.v, c.cv)
           / (sqrt(list_dot_product(e.v, e.v))
              * sqrt(list_dot_product(c.cv, c.cv))) AS ccos
    FROM emb e CROSS JOIN cent c
), cranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY ccos DESC, cell_id) AS crn
    FROM cscored
), assigned AS (
    SELECT vec_id AS db_id, cell_id AS cell
    FROM cranked WHERE crn = 1 AND vec_id >= {N_QUERIES}
), probes AS (
    SELECT vec_id AS query_id, cell_id AS cell
    FROM cranked WHERE vec_id < {N_QUERIES} AND crn <= {n_probe}
), sub AS ({slices}),
codebook AS (
    SELECT vec_id AS code, m, sv AS cbv FROM sub WHERE vec_id < {PQ_K}
), db_scored AS (
    SELECT s.vec_id AS db_id, s.m, c.code, {dist} AS dist
    FROM (SELECT * FROM sub WHERE vec_id >= {N_QUERIES}) s
    JOIN codebook c USING (m)
), codes AS (
    SELECT db_id, m, code FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY db_id, m
                                     ORDER BY dist, code) AS rn
        FROM db_scored) WHERE rn = 1
), lut AS (
    SELECT q.vec_id AS query_id, q.m, c.code, {qdist} AS ld
    FROM (SELECT * FROM sub WHERE vec_id < {N_QUERIES}) q
    JOIN codebook c USING (m)
), cand AS (
    SELECT DISTINCT p.query_id, a.db_id
    FROM probes p JOIN assigned a USING (cell)
), agg AS (
    SELECT cd.query_id, cd.db_id, {dsums}
    FROM cand cd JOIN codes k USING (db_id)
    JOIN lut l ON l.query_id = cd.query_id AND l.m = k.m
              AND l.code = k.code
    GROUP BY 1, 2
), rankedq AS (
    SELECT query_id, db_id, ROUND({total}, 6) AS adc_r6,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY ROUND({total}, 6), db_id) AS rank
    FROM agg
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS INT) AS rank,
       CAST(db_id AS BIGINT) AS neighbor_id, adc_r6
FROM rankedq WHERE rank <= {IVFPQ_TOPK} ORDER BY query_id, rank
"""


register("ann_ivf_pq_pipeline", ann_ivf_pq_pipeline, _ivf_pq_oracle(),
         "IVF coarse routing + PQ ADC scoring: the full compressed index")

register(
    "ann_ivf_pq_trained", ann_ivf_pq_trained,
    _ivf_pq_oracle(
        pre=_trained_ivf_pre(),
        cent_sql=(f"SELECT cell_id, "
                  f"list_transform(cq, c -> c / {Q_SCALE}.0) AS cv "
                  f"FROM tcent{N_ITERS}")),
    "Lloyd-trained IVF routing + PQ ADC scoring (fully oracle-checked)")


# ------------------------------------------- IVF-PQ probe sweep
def _adc_top1(emb: DataFrame, search: DataFrame) -> DataFrame:
    """The TRUE cosine of each query's ADC top-1 choice in ``search``
    (an ``_ivf_pq_search`` result): ``(query_id, ann_nn, ann_cos)``.
    Broadcasts the panel-sized top-1 table and reads the corpus once
    per side."""
    top1 = search.filter(F.col("rank") == 1).select("query_id", "neighbor_id")
    qv = emb.select(F.col("vec_id").alias("query_id"),
                    F.col("v").alias("qv"), F.col("norm").alias("qn"))
    nv = emb.select(F.col("vec_id").alias("neighbor_id"),
                    F.col("v").alias("nv"), F.col("norm").alias("nn_"))
    tcos = F.expr(vecfold.fold_dot("qv", "nv"))
    return (qv.join(F.broadcast(top1), "query_id")
            .join(F.broadcast(nv.join(
                F.broadcast(top1.select("neighbor_id").distinct()),
                "neighbor_id")), "neighbor_id")
            .select("query_id", F.col("neighbor_id").alias("ann_nn"),
                    F.round(tcos / (F.col("qn") * F.col("nn_")), 6)
                    .alias("ann_cos")))


def _duck_adc_top1(pq: str) -> str:
    """DuckDB twin of ``_adc_top1`` over the search relation ``pq``
    (reads the ``embx`` CTE)."""
    return f"""SELECT t.query_id, t.neighbor_id AS ann_nn,
           ROUND(list_dot_product(q.v, n.v)
                 / (sqrt(list_dot_product(q.v, q.v))
                    * sqrt(list_dot_product(n.v, n.v))), 6) AS ann_cos
    FROM (SELECT query_id, neighbor_id FROM {pq} WHERE rank = 1) t
    JOIN embx q ON q.vec_id = t.query_id
    JOIN embx n ON n.vec_id = t.neighbor_id"""


def ann_ivf_pq_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC cosine-regret vs nprobe over the TRAINED coarse quantizer —
    the last ANN family without a measured tuning curve (VERDICT r13
    ask #5): at each probe count the full compressed index
    (Lloyd-trained routing + PQ ADC scoring, _ivf_pq_search unchanged)
    picks its top-1, and the row reports recall@1 against the exact
    panel plus the TRUE-cosine regret of the ADC choice — the number an
    operator trades against scan fraction before fixing nprobe for a
    compressed index. Training runs ONCE (bounded deterministic sample,
    exact integer Lloyd); the oracle re-derives the identical model per
    sweep point via the unrolled Lloyd CTEs (the trained-sweep
    precedent).

    Unlike the uncompressed sweeps, recall@1 and regret are NOT lawful
    monotone in nprobe here: a wider candidate set can surface a
    neighbor whose COMPRESSED distance beats the exact nn's, displacing
    it (ADC is approximate). Only candidate nesting survives
    compression, so the pinned law is n_answered monotone + the
    nprobe={N_PROBE} point equal to ann_ivf_pq_trained's rank-1 choice
    (tests/test_r14_wave2.py).

    Scale shape: |PROBE_SWEEP| compressed searches — per point the scan
    reads only probed cells' code rows; centroids/codebook/LUT are
    model-size broadcasts; the true-cosine audit join broadcasts the
    panel-sized top-1 table against the corpus (<= N_QUERIES rows). At
    the lake the PQ codes are computed once and reused across points
    (here each point re-derives them — fixture-size cost, same plan
    family the hygiene sweep proves bounded)."""
    emb = _emb(spark, sf_dir).cache()
    cent = train_ivf_centroids(spark, ivf_training_sample(emb))
    exact1 = _exact_top1(spark, sf_dir)
    out = None
    for p in PROBE_SWEEP:
        top1 = _adc_top1(
            emb, _ivf_pq_search(emb, cent, n_probe=p, reuse_codes=True))
        s = (_recall_at_1(exact1, top1)
             .select(F.lit(p).alias("n_probe"), *RECALL_COLS))
        out = s if out is None else out.unionByName(s)
    return out.orderBy("n_probe")


def _pq_sweep_oracle() -> str:
    pre = _trained_ivf_pre()
    cent_sql = (f"SELECT cell_id, "
                f"list_transform(cq, c -> c / {Q_SCALE}.0) AS cv "
                f"FROM tcent{N_ITERS}")
    blocks, selects = [], []
    blocks.append("embx AS (SELECT vec_id,"
                  " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
                  " FROM embeddings)")
    blocks.append(_duck_exact_top1())
    for p in PROBE_SWEEP:
        blocks.append(
            f"pq{p} AS ({_ivf_pq_oracle(pre=pre, cent_sql=cent_sql, n_probe=p)})")
        selects.append(_duck_recall_at_1(_duck_adc_top1(f"pq{p}"),
                                         f"{p} AS n_probe,"))
    u = "\nUNION ALL\n".join(selects)
    return ("WITH " + ",\n".join(blocks)
            + f"\nSELECT * FROM (\n{u}\n) ORDER BY n_probe")


register("ann_ivf_pq_sweep", ann_ivf_pq_sweep, _pq_sweep_oracle(),
         "ADC recall/regret vs nprobe over the trained IVF-PQ index")


# --------------------------------------- LSH tables x probes grid
GRID_RADII = (0, 1)  # probe radius: exact bucket only / + Hamming-1


def ann_lsh_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D LSH tuning surface — tables T in {1,2,3} x probe radius r in
    {0,1} (VERDICT r14 ask #4): completes the 1-D curves
    (ann_lsh_tables_sweep = this grid's r=0 edge, pinned exactly equal
    in tests/test_r15_wave.py; ann_lsh_multiprobe explores the probe
    axis on a structurally different 12-bit table) into the surface an
    operator actually reads before fixing (T, r) — more tables and
    wider probes both buy recall, but with different candidate-volume
    prices, and only the surface shows which is cheaper at a target
    recall.

    Scale shape — ONE bucket-key shuffle join for all six grid points:
    the probe side emits its exact key plus the 4 Hamming-1 flips per
    table (5 keys/vector/table), the index side its exact key; each
    matched pair reduces to (minT_exact, minT_any) = the smallest
    table index where the pair collides at radius 0 / radius 1, and
    every grid point is then a FILTER over that model-bounded pair
    table (grid membership is monotone in both axes by construction:
    candidate sets are nested unions). Candidate volume — the measured
    output — is the only corpus-pair-scale frame, exactly as in the
    1-D sweeps; panel scoring joins are panel-sized. Never all-pairs.
    """
    sigs = _hp_sigs(spark, sf_dir)
    idx = _hp_index(sigs, TABLES)
    flips = ", ".join(f"own ^ {1 << b}" for b in range(BITS_PER_TABLE))
    probe = (idx.select("vec_id", "tbl", F.col("bkt").alias("own"))
             .select("vec_id", "tbl", "own",
                     F.expr(f"explode(array(own, {flips}))").alias("key")))
    joined = (probe.join(idx.select(F.col("vec_id").alias("neighbor_id"),
                                    "tbl", "bkt"),
                         ["tbl"])
              .filter((F.col("key") == F.col("bkt"))
                      & (F.col("vec_id") != F.col("neighbor_id"))))
    pairq = (joined.groupBy("vec_id", "neighbor_id")
             .agg(F.min(F.when(F.col("own") == F.col("bkt"), F.col("tbl")))
                  .alias("mint0"),
                  F.min("tbl").alias("mint1"))
             .cache())
    panel = _with_cos(pairq.filter(F.col("vec_id") < N_QUERIES),
                      sigs, sf_dir).cache()
    points = [(nt, rad) for nt in TABLE_SWEEP for rad in GRID_RADII]
    # all 12 candidate-volume cells in ONE pass over the pair table
    # (six filtered re-aggregations would re-scan the cache six times)
    vols = pairq.agg(*[
        F.coalesce(F.sum(F.expr(
            f"cast(vec_id < neighbor_id and min{'t0' if rad == 0 else 't1'}"
            f" < {nt} as int)")), F.lit(0)).cast("long").alias(f"v_{nt}_{rad}")
        for nt, rad in points])
    vol_stack = ", ".join(f"{nt}, {rad}, v_{nt}_{rad}" for nt, rad in points)
    vol_rows = vols.select(F.expr(
        f"stack({len(points)}, {vol_stack})"
        " AS (n_tables, probe_radius, n_cand_pairs)"))
    tops = None
    for nt, rad in points:
        qual = F.col("mint0" if rad == 0 else "mint1") < nt
        top1 = (_top1(panel.filter(qual))
                .select(F.lit(nt).alias("n_tables"),
                        F.lit(rad).alias("probe_radius"), "*"))
        tops = top1 if tops is None else tops.unionByName(top1)
    keys = ["n_tables", "probe_radius"]
    stats = _recall_at_1(_exact_top1(spark, sf_dir), tops,
                         vol_rows.select(*keys))
    return (stats.join(F.broadcast(vol_rows), keys)
            .select(*keys, "n_cand_pairs", *RECALL_COLS)
            .orderBy(*keys))


def _lsh_grid_oracle() -> str:
    flips = ", ".join(f"xor(bkt, {1 << b})" for b in range(BITS_PER_TABLE))
    blocks = f"""{_duck_exact_top1()}, {_duck_hp_sigs()}, idx AS (
    {_duck_hp_index('sig', TABLES)}
), probe AS (
    SELECT vec_id, tbl, bkt AS own, UNNEST([bkt, {flips}]) AS key FROM idx
), pairq AS (
    SELECT p.vec_id, i.vec_id AS neighbor_id,
           MIN(CASE WHEN p.own = i.bkt THEN p.tbl END) AS mint0,
           MIN(p.tbl) AS mint1
    FROM probe p JOIN idx i
      ON i.tbl = p.tbl AND i.bkt = p.key AND i.vec_id <> p.vec_id
    GROUP BY 1, 2
), panel AS (
    {_duck_with_cos(f'(SELECT * FROM pairq WHERE vec_id < {N_QUERIES})')}
)"""
    selects = []
    for nt in TABLE_SWEEP:
        for rad in GRID_RADII:
            qcol = "mint0" if rad == 0 else "mint1"
            selects.append(_duck_recall_at_1(
                _duck_top1(f"SELECT * FROM panel WHERE {qcol} < {nt}"),
                f"""{nt} AS n_tables, {rad} AS probe_radius,
       (SELECT CAST(COALESCE(SUM(CASE WHEN vec_id < neighbor_id
                             THEN 1 ELSE 0 END), 0) AS BIGINT)
        FROM pairq WHERE {qcol} < {nt}) AS n_cand_pairs,"""))
    u = "\nUNION ALL\n".join(selects)
    return ("WITH " + blocks
            + f"\nSELECT * FROM (\n{u}\n) ORDER BY n_tables, probe_radius")


register("ann_lsh_grid", ann_lsh_grid, _lsh_grid_oracle(),
         "LSH tables x probe-radius tuning surface (one join, 6 points)")


# ------------------------------------------- PQ subspace-count sweep
M_SWEEP = (2, 4, 8)  # subspace counts; sub dims 32/16/8 over DIM=64


def ann_pq_m_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression axis of the PQ family (VERDICT r14 ask #5): per
    subspace count M in {2, 4, 8} — code size M bytes/vector — the
    corpus-wide PQ reconstruction error plus the full trained IVF-PQ
    search quality at the standing nprobe (recall@1 against the exact
    panel and true-cosine regret of the ADC choice). The lawful
    direction is pinned in tests/test_r15_wave.py: with codebooks
    sliced from the SAME first-PQ_K vectors, the fine-M code space
    contains every coarse-M choice (pick both halves from the same
    source vector), so per-vector reconstruction error — hence the
    corpus sum — is non-increasing in M; and the M=4 point runs the
    IDENTICAL search as ann_ivf_pq_trained / ann_ivf_pq_sweep's
    nprobe=2 row (cross-law, exact equality). Recall/regret are NOT
    lawful in M (a coarser quantizer can luckily rank the true
    neighbor first), which is why the curve must be measured.

    Scale shape: |M_SWEEP| compressed searches (each the hygiene-swept
    ann_ivf_pq_trained plan family — scans read probed cells' code
    rows; centroids/codebook/LUT model-size broadcasts) plus one
    codebook-broadcast reconstruction pass per M whose shuffle is the
    per-vector regroup; training runs ONCE. Per-vector ADC totals and
    reconstruction distances fold subspace terms in fixed textual
    order (exact integers after micro quantization), so the whole
    surface carries a full hash oracle."""
    emb = _emb(spark, sf_dir).cache()
    cent = train_ivf_centroids(spark, ivf_training_sample(emb))
    exact1 = _exact_top1(spark, sf_dir)
    dist = F.expr(vecfold.fold_sq_dist("sv", "cbv"))
    out = None
    for pm in M_SWEEP:
        ps = DIM // pm
        # --- reconstruction error over the WHOLE corpus at this M ---
        sub = emb.select(
            "vec_id",
            F.explode(F.array(*[
                F.struct(F.lit(m).alias("m"),
                         F.expr(f"slice(v, {m * ps + 1}, {ps})")
                         .alias("sv"))
                for m in range(pm)])).alias("e"),
        ).select("vec_id", F.col("e.m").alias("m"),
                 F.col("e.sv").alias("sv"))
        codebook = sub.filter(F.col("vec_id") < PQ_K).select(
            F.col("vec_id").alias("code"), "m", F.col("sv").alias("cbv"))
        wc = Window.partitionBy("vec_id", "m").orderBy("dist", "code")
        best = (sub.join(F.broadcast(codebook), "m")
                .withColumn("dist", dist)
                .withColumn("rn", F.row_number().over(wc))
                .filter(F.col("rn") == 1))
        per_vec = best.groupBy("vec_id").agg(*[
            F.sum(F.when(F.col("m") == m, F.col("dist"))).alias(f"_d{m}")
            for m in range(pm)])
        total = "+".join(f"_d{m}" for m in range(pm))
        recon = per_vec.agg(
            F.sum(F.expr(f"cast(round(({total}) * 1000000) as bigint)"))
            .cast("long").alias("recon_err_micro"))
        # --- trained IVF-PQ search quality at this M -----------------
        top1 = _adc_top1(
            emb, _ivf_pq_search(emb, cent, n_probe=N_PROBE, pq_m=pm))
        s = (_recall_at_1(exact1, top1)
             .crossJoin(F.broadcast(recon))
             .select(F.lit(pm).alias("m_subspaces"),
                     F.lit(ps).alias("sub_dim"),
                     F.lit(pm).alias("code_bytes"),
                     "recon_err_micro", *RECALL_COLS))
        out = s if out is None else out.unionByName(s)
    return out.orderBy("m_subspaces")


def _pq_m_sweep_oracle() -> str:
    pre = _trained_ivf_pre()
    cent_sql = (f"SELECT cell_id, "
                f"list_transform(cq, c -> c / {Q_SCALE}.0) AS cv "
                f"FROM tcent{N_ITERS}")
    blocks, selects = [], []
    blocks.append("embx AS (SELECT vec_id,"
                  " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
                  " FROM embeddings)")
    blocks.append(_duck_exact_top1())
    for pm in M_SWEEP:
        ps = DIM // pm
        slices = " UNION ALL ".join(
            f"SELECT vec_id, {m} AS m,"
            f" list_slice(v, {m * ps + 1}, {(m + 1) * ps}) AS sv FROM embx"
            for m in range(pm))
        dist = (f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
                f" list_transform(range(1, {ps} + 1),"
                " i -> (s.sv[i] - c.cbv[i]) * (s.sv[i] - c.cbv[i]))),"
                " (acc, d) -> acc + d)")
        dsums = ", ".join(
            f"SUM(CASE WHEN m = {m} THEN dist END) AS _d{m}"
            for m in range(pm))
        total = "+".join(f"_d{m}" for m in range(pm))
        blocks.append(f"""recon{pm} AS (
    SELECT CAST(SUM(CAST(ROUND(({total}) * 1000000) AS BIGINT))
                AS BIGINT) AS recon_err_micro
    FROM (
        SELECT vec_id, {dsums} FROM (
            SELECT s.vec_id, s.m, c.code, {dist} AS dist,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                                      ORDER BY {dist}, c.code) AS rn
            FROM (SELECT * FROM ({slices})) s
            JOIN (SELECT vec_id AS code, m, sv AS cbv
                  FROM ({slices}) WHERE vec_id < {PQ_K}) c USING (m)
        ) WHERE rn = 1 GROUP BY vec_id
    )
)""")
        blocks.append(
            f"pqm{pm} AS ({_ivf_pq_oracle(pre=pre, cent_sql=cent_sql, n_probe=N_PROBE, pq_m=pm)})")
        selects.append(_duck_recall_at_1(_duck_adc_top1(f"pqm{pm}"), f"""\
{pm} AS m_subspaces, {ps} AS sub_dim, {pm} AS code_bytes,
       (SELECT recon_err_micro FROM recon{pm}) AS recon_err_micro,"""))
    u = "\nUNION ALL\n".join(selects)
    return ("WITH " + ",\n".join(blocks)
            + f"\nSELECT * FROM (\n{u}\n) ORDER BY m_subspaces")


register("ann_pq_m_sweep", ann_pq_m_sweep, _pq_m_sweep_oracle(),
         "PQ compression curve: reconstruction / recall / regret vs M")


# ------------------------------------- residual IVF-PQ (FAISS form)
def _ivf_rpq_search(emb: DataFrame, cent: DataFrame,
                    n_probe: int = N_PROBE, pq_m: int = PQ_M) -> DataFrame:
    """Residual-encoded IVF-PQ — the production FAISS composition
    (IndexIVFPQ encodes r = v - centroid(cell(v)), not v itself): the
    coarse quantizer routes exactly as _ivf_pq_search, but PQ codes
    compress each vector's RESIDUAL against its assigned centroid, and
    the per-query LUT is therefore keyed by PROBED CELL (the query's
    residual differs per cell — q - cv[cell]); a candidate pair scores
    through the LUT row of the db vector's assigned cell. Residuals
    concentrate near zero once the coarse quantizer has soaked up the
    between-cell variance, which is why the production index encodes
    them — ann_pq_residual_gain measures the reconstruction gain on
    this corpus.

    Scale shape — identical plan family to _ivf_pq_search (the
    hygiene-swept one): centroids/codebook are model-size broadcasts;
    the LUT grows only by the n_probe factor (queries x n_probe x M x
    PQ_K — still a model-size broadcast); candidate scans read only
    probed cells' code rows. Residual arithmetic is one zip_with per
    vector computed inside the corpus scan. Every distance folds
    subspace terms in fixed index order (exact same doubles both
    engines), so the composition carries a full hash oracle."""
    pq_sub = DIM // pq_m
    cdot = F.expr(vecfold.dot("v", "cv", DIM))
    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id", "v", "cell_id", "cv",
        (cdot / (F.col("norm") * F.col("cnorm"))).alias("ccos"))
    w = Window.partitionBy("vec_id").orderBy(F.col("ccos").desc(),
                                             "cell_id")
    ranked = scored.withColumn("crn", F.row_number().over(w)).cache()
    rv = F.expr("zip_with(v, cv, (x, y) -> x - y)")
    resid = (ranked.filter(F.col("crn") == 1)
             .select("vec_id", F.col("cell_id").alias("cell"),
                     rv.alias("rv")))
    sub = resid.select(
        "vec_id", "cell",
        F.explode(F.array(*[
            F.struct(F.lit(m).alias("m"),
                     F.expr(f"slice(rv, {m * pq_sub + 1}, {pq_sub})")
                     .alias("sv"))
            for m in range(pq_m)])).alias("e"),
    ).select("vec_id", "cell", F.col("e.m").alias("m"),
             F.col("e.sv").alias("sv"))
    codebook = sub.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("code"), "m", F.col("sv").alias("cbv"))
    dist = F.expr(vecfold.sq_dist("sv", "cbv", pq_sub))
    wc = Window.partitionBy("vec_id", "m").orderBy("dist", "code")
    codes = (sub.filter(F.col("vec_id") >= N_QUERIES)
             .join(F.broadcast(codebook), "m")
             .withColumn("dist", dist)
             .withColumn("rn", F.row_number().over(wc))
             .filter(F.col("rn") == 1)
             .select(F.col("vec_id").alias("db_id"), "cell", "m", "code"))
    probes = (ranked.filter((F.col("vec_id") < N_QUERIES)
                            & (F.col("crn") <= n_probe))
              .select(F.col("vec_id").alias("query_id"),
                      F.col("cell_id").alias("cell"), rv.alias("qrv")))
    q_sub = probes.select(
        "query_id", "cell",
        F.explode(F.array(*[
            F.struct(F.lit(m).alias("m"),
                     F.expr(f"slice(qrv, {m * pq_sub + 1}, {pq_sub})")
                     .alias("sv"))
            for m in range(pq_m)])).alias("e"),
    ).select("query_id", "cell", F.col("e.m").alias("m"),
             F.col("e.sv").alias("sv"))
    lut = (q_sub.join(F.broadcast(codebook), "m")
           .withColumn("ld", dist)
           .select("query_id", "cell", "m", "code", "ld"))
    cand = (probes.select("query_id", "cell")
            .join(resid.filter(F.col("vec_id") >= N_QUERIES)
                  .select(F.col("vec_id").alias("db_id"), "cell"), "cell"))
    paired = (cand.join(codes, ["db_id", "cell"])
              .join(F.broadcast(lut), ["query_id", "cell", "m", "code"]))
    dists = [F.sum(F.when(F.col("m") == m, F.col("ld"))).alias(f"_d{m}")
             for m in range(pq_m)]
    agg = paired.groupBy("query_id", "db_id").agg(*dists)
    total = "+".join(f"_d{m}" for m in range(pq_m))
    adc = agg.withColumn("adc_r6", F.round(F.expr(total), 6))
    wq = Window.partitionBy("query_id").orderBy("adc_r6", "db_id")
    return (adc.withColumn("rank", F.row_number().over(wq))
            .filter(F.col("rank") <= IVFPQ_TOPK)
            .select("query_id", "rank",
                    F.col("db_id").alias("neighbor_id"), "adc_r6")
            .orderBy("query_id", "rank"))


def ann_ivf_residual_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ over the Lloyd-trained coarse quantizer — the
    exact composition a production FAISS IndexIVFPQ runs (see
    _ivf_rpq_search). Routing is IDENTICAL to ann_ivf_pq_trained
    (same trained centroids, same probes), so the candidate pair set
    matches pairwise — only the compressed geometry differs (pinned in
    tests/test_r15_wave3.py alongside a full numpy replay)."""
    emb = _emb(spark, sf_dir).cache()
    return _ivf_rpq_search(
        emb, train_ivf_centroids(spark, ivf_training_sample(emb)))


def _ivf_rpq_oracle(pre: str = "", cent_sql: str = "",
                    n_probe: int = N_PROBE, pq_m: int = PQ_M) -> str:
    pq_sub = DIM // pq_m
    res_slices = " UNION ALL ".join(
        f"SELECT vec_id, cell, {m} AS m,"
        f" list_slice(rv, {m * pq_sub + 1}, {(m + 1) * pq_sub}) AS sv"
        f" FROM resid"
        for m in range(pq_m))
    q_slices = " UNION ALL ".join(
        f"SELECT query_id, cell, {m} AS m,"
        f" list_slice(qrv, {m * pq_sub + 1}, {(m + 1) * pq_sub}) AS sv"
        f" FROM probes"
        for m in range(pq_m))
    dist = (f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
            f" list_transform(range(1, {pq_sub} + 1),"
            " i -> (s.sv[i] - c.cbv[i]) * (s.sv[i] - c.cbv[i]))),"
            " (acc, d) -> acc + d)")
    qdist = dist.replace("s.sv", "q.sv")
    dsums = ", ".join(
        f"SUM(CASE WHEN k.m = {m} THEN ld END) AS _d{m}" for m in range(pq_m))
    total = "+".join(f"_d{m}" for m in range(pq_m))
    if not cent_sql:
        cent_sql = (f"SELECT vec_id AS cell_id, v AS cv "
                    f"FROM emb WHERE vec_id < {N_CELLS}")
    return f"""
WITH emb AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
){pre}, cent AS (
    {cent_sql}
), cscored AS (
    SELECT e.vec_id, e.v, c.cell_id, c.cv,
           list_dot_product(e.v, c.cv)
           / (sqrt(list_dot_product(e.v, e.v))
              * sqrt(list_dot_product(c.cv, c.cv))) AS ccos
    FROM emb e CROSS JOIN cent c
), cranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY ccos DESC, cell_id) AS crn
    FROM cscored
), resid AS (
    SELECT vec_id, cell_id AS cell,
           list_transform(range(1, {DIM} + 1), i -> v[i] - cv[i]) AS rv
    FROM cranked WHERE crn = 1
), sub AS ({res_slices}),
codebook AS (
    SELECT vec_id AS code, m, sv AS cbv FROM sub WHERE vec_id < {PQ_K}
), db_scored AS (
    SELECT s.vec_id AS db_id, s.cell, s.m, c.code, {dist} AS dist
    FROM (SELECT * FROM sub WHERE vec_id >= {N_QUERIES}) s
    JOIN codebook c USING (m)
), codes AS (
    SELECT db_id, cell, m, code FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY db_id, m
                                     ORDER BY dist, code) AS rn
        FROM db_scored) WHERE rn = 1
), probes AS (
    SELECT vec_id AS query_id, cell_id AS cell,
           list_transform(range(1, {DIM} + 1), i -> v[i] - cv[i]) AS qrv
    FROM cranked WHERE vec_id < {N_QUERIES} AND crn <= {n_probe}
), qsub AS ({q_slices}),
lut AS (
    SELECT q.query_id, q.cell, q.m, c.code, {qdist} AS ld
    FROM qsub q JOIN codebook c USING (m)
), cand AS (
    SELECT p.query_id, p.cell, r.vec_id AS db_id
    FROM probes p JOIN resid r ON r.cell = p.cell
    WHERE r.vec_id >= {N_QUERIES}
), agg AS (
    SELECT cd.query_id, cd.db_id, {dsums}
    FROM cand cd
    JOIN codes k ON k.db_id = cd.db_id AND k.cell = cd.cell
    JOIN lut l ON l.query_id = cd.query_id AND l.cell = cd.cell
              AND l.m = k.m AND l.code = k.code
    GROUP BY 1, 2
), rankedq AS (
    SELECT query_id, db_id, ROUND({total}, 6) AS adc_r6,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY ROUND({total}, 6), db_id) AS rank
    FROM agg
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS INT) AS rank,
       CAST(db_id AS BIGINT) AS neighbor_id, adc_r6
FROM rankedq WHERE rank <= {IVFPQ_TOPK} ORDER BY query_id, rank
"""


register(
    "ann_ivf_residual_pq", ann_ivf_residual_pq,
    _ivf_rpq_oracle(
        pre=_trained_ivf_pre(),
        cent_sql=(f"SELECT cell_id, "
                  f"list_transform(cq, c -> c / {Q_SCALE}.0) AS cv "
                  f"FROM tcent{N_ITERS}")),
    "residual-encoded IVF-PQ (the production FAISS composition)")


# ------------------------------------- residual vs plain PQ recon
def ann_pq_residual_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Why a production index encodes residuals: corpus-wide PQ
    reconstruction error at the standing M, plain encoding (codes
    compress v — ann_pq_m_sweep's geometry, byte-equal at M=PQ_M,
    the pinned cross-law) vs residual encoding (codes compress
    v - centroid(cell(v)) against the Lloyd-trained coarse quantizer
    — ann_ivf_residual_pq's geometry). The gap IS the between-cell
    variance the coarse quantizer absorbs before quantization; it is
    measured, not lawful (a fixed first-PQ_K-vectors codebook is not
    k-means-optimal for either encoding), which is the point of the
    query.

    Scale shape: training once (bounded sample, model-size centroid
    table); per encoding ONE corpus pass — codebook broadcast, the
    only shuffle the per-vector regroup of subspace bests; the
    residual pass adds the centroid-assignment broadcast join inside
    the same scan. Reconstruction distances fold in fixed index
    order and quantize to micro before the integer corpus sum, so
    both rows hash exactly."""
    emb = _emb(spark, sf_dir).cache()
    cent = train_ivf_centroids(spark, ivf_training_sample(emb))
    cdot = F.expr(vecfold.dot("v", "cv", DIM))
    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id", "v",
        (cdot / (F.col("norm") * F.col("cnorm"))).alias("ccos"),
        "cell_id", "cv")
    w = Window.partitionBy("vec_id").orderBy(F.col("ccos").desc(),
                                             "cell_id")
    resid = (scored.withColumn("crn", F.row_number().over(w))
             .filter(F.col("crn") == 1)
             .select("vec_id",
                     F.expr("zip_with(v, cv, (x, y) -> x - y)")
                     .alias("xv")))
    plain = emb.select("vec_id", F.col("v").alias("xv"))
    dist = F.expr(vecfold.sq_dist("sv", "cbv", PQ_SUB))
    out = None
    for enc, frame in (("plain", plain), ("residual", resid)):
        sub = frame.select(
            "vec_id",
            F.explode(F.array(*[
                F.struct(F.lit(m).alias("m"),
                         F.expr(f"slice(xv, {m * PQ_SUB + 1}, {PQ_SUB})")
                         .alias("sv"))
                for m in range(PQ_M)])).alias("e"),
        ).select("vec_id", F.col("e.m").alias("m"),
                 F.col("e.sv").alias("sv"))
        codebook = sub.filter(F.col("vec_id") < PQ_K).select(
            F.col("vec_id").alias("code"), "m", F.col("sv").alias("cbv"))
        wc = Window.partitionBy("vec_id", "m").orderBy("dist", "code")
        best = (sub.join(F.broadcast(codebook), "m")
                .withColumn("dist", dist)
                .withColumn("rn", F.row_number().over(wc))
                .filter(F.col("rn") == 1))
        per_vec = best.groupBy("vec_id").agg(*[
            F.sum(F.when(F.col("m") == m, F.col("dist"))).alias(f"_d{m}")
            for m in range(PQ_M)])
        total = "+".join(f"_d{m}" for m in range(PQ_M))
        row = per_vec.agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.sum(F.expr(f"cast(round(({total}) * 1000000) as bigint)"))
            .cast("long").alias("recon_err_micro")).select(
            F.lit(enc).alias("encoding"),
            F.lit(PQ_M).alias("m_subspaces"),
            "n_vectors", "recon_err_micro")
        out = row if out is None else out.unionByName(row)
    return out.orderBy("encoding")


def _residual_gain_oracle() -> str:
    pre = _trained_ivf_pre()
    cent_sql = (f"SELECT cell_id, "
                f"list_transform(cq, c -> c / {Q_SCALE}.0) AS cv "
                f"FROM tcent{N_ITERS}")
    dist = (f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
            f" list_transform(range(1, {PQ_SUB} + 1),"
            " i -> (s.sv[i] - c.cbv[i]) * (s.sv[i] - c.cbv[i]))),"
            " (acc, d) -> acc + d)")
    dsums = ", ".join(
        f"SUM(CASE WHEN m = {m} THEN dist END) AS _d{m}"
        for m in range(PQ_M))
    total = "+".join(f"_d{m}" for m in range(PQ_M))
    blocks = [f"""emb AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
){pre}, cent AS (
    {cent_sql}
), cscored AS (
    SELECT e.vec_id, e.v, c.cell_id, c.cv,
           list_dot_product(e.v, c.cv)
           / (sqrt(list_dot_product(e.v, e.v))
              * sqrt(list_dot_product(c.cv, c.cv))) AS ccos
    FROM emb e CROSS JOIN cent c
), cranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY ccos DESC, cell_id) AS crn
    FROM cscored
), fplain AS (SELECT vec_id, v AS xv FROM emb),
fresidual AS (
    SELECT vec_id,
           list_transform(range(1, {DIM} + 1), i -> v[i] - cv[i]) AS xv
    FROM cranked WHERE crn = 1
)"""]
    selects = []
    for enc in ("plain", "residual"):
        slices = " UNION ALL ".join(
            f"SELECT vec_id, {m} AS m,"
            f" list_slice(xv, {m * PQ_SUB + 1}, {(m + 1) * PQ_SUB}) AS sv"
            f" FROM f{enc}"
            for m in range(PQ_M))
        blocks.append(f"""recon_{enc} AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CAST(ROUND(({total}) * 1000000) AS BIGINT))
                AS BIGINT) AS recon_err_micro
    FROM (
        SELECT vec_id, {dsums} FROM (
            SELECT s.vec_id, s.m, c.code, {dist} AS dist,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                                      ORDER BY {dist}, c.code) AS rn
            FROM ({slices}) s
            JOIN (SELECT vec_id AS code, m, sv AS cbv
                  FROM ({slices}) WHERE vec_id < {PQ_K}) c USING (m)
        ) WHERE rn = 1 GROUP BY vec_id
    )
)""")
        selects.append(
            f"SELECT '{enc}' AS encoding, CAST({PQ_M} AS INT)"
            f" AS m_subspaces, n_vectors, recon_err_micro"
            f" FROM recon_{enc}")
    u = "\nUNION ALL\n".join(selects)
    return ("WITH " + ",\n".join(blocks)
            + f"\nSELECT * FROM (\n{u}\n) ORDER BY encoding")


register("ann_pq_residual_gain", ann_pq_residual_gain,
         _residual_gain_oracle(),
         "corpus PQ reconstruction error: plain vs residual encoding")


# --------------------------------------- LSH bits-per-table sweep
BITS_SWEEP = (3, 4, 6)  # table widths over the FIXED 12-plane budget
BITS_LAYOUTS = tuple((b, t) for b in BITS_SWEEP for t in range(N_PLANES // b))


def ann_lsh_bits_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third axis of the LSH tuning space — how to SPLIT a fixed
    hyperplane budget: the same 12 planes as 4 tables x 3 bits, 3 x 4
    (ann_lsh_bucketed's standing layout — this sweep's B=4 row equals
    ann_lsh_tables_sweep's T=3 row column for column, the pinned
    cross-law), or 2 x 6. Fewer bits per table = coarser buckets and
    more tables = more candidates and recall; more bits = cheaper
    scans. Completes tables x radius (ann_lsh_grid) into a budget
    cube. One lawful direction survives the split: every B=6 table's
    plane set CONTAINS a whole B=4 table's ({0..5} superset of {0..3},
    {6..11} of {8..11}) and a whole B=3 table's, so candidates(B=6)
    is a subset of both others (counts monotone); B=4 vs B=3 is NOT
    nested (planes {4..7} contain no whole 3-bit table) — measured,
    not lawful, which is the point.

    Scale shape — ONE bucket-key shuffle join for all three splits:
    the 12 sign bits compute once per vector; the index side emits
    (bits, tbl, bkt) rows (9 per vector, a constant fan-out) and pairs
    meet only on (bits, tbl, bkt) equality, reduced per split to
    distinct pairs. Candidate volume — the measured output — is the
    only pair-scale frame; the volume row is ONE keys=[] aggregate
    stacked to 3 rows; panel scoring joins are panel-sized. Never
    all-pairs, never a per-split re-join."""
    sigs = _hp_sigs(spark, sf_dir)
    pairq = _bucket_pairs(_hp_index(sigs, BITS_LAYOUTS), "!=").cache()
    # all 3 volume cells in ONE keys=[] aggregate over the pair table
    vols = pairq.agg(*[
        F.coalesce(F.sum(F.expr(
            f"cast(bits = {bb} and vec_id < neighbor_id as int)")), F.lit(0))
        .cast("long").alias(f"v_{bb}") for bb in BITS_SWEEP])
    vol_stack = ", ".join(
        f"{bb}, {N_PLANES // bb}, v_{bb}" for bb in BITS_SWEEP)
    vol_rows = vols.select(F.expr(
        f"stack({len(BITS_SWEEP)}, {vol_stack})"
        " AS (bits_per_table, n_tables, n_cand_pairs)"))
    tops = _top1(_with_cos(pairq.filter(F.col("vec_id") < N_QUERIES),
                           sigs, sf_dir), ["bits"])
    stats = _recall_at_1(_exact_top1(spark, sf_dir),
                         tops.withColumnRenamed("bits", "bits_per_table"),
                         vol_rows.select("bits_per_table"))
    return (stats.join(F.broadcast(vol_rows), ["bits_per_table"])
            .select("bits_per_table", "n_tables", "n_cand_pairs",
                    *RECALL_COLS)
            .orderBy("bits_per_table"))


def _bits_sweep_oracle() -> str:
    blocks = f"""{_duck_exact_top1()}, {_duck_hp_sigs()}, idx AS (
    {_duck_hp_index('sig', BITS_LAYOUTS)}
), pairq AS (
    {_duck_bucket_pairs('idx', '!=')}
), panel AS (
    {_duck_with_cos(f'(SELECT * FROM pairq WHERE vec_id < {N_QUERIES})')}
)"""
    selects = []
    for bits in BITS_SWEEP:
        selects.append(_duck_recall_at_1(
            _duck_top1(f"SELECT * FROM panel WHERE bits = {bits}"),
            f"""{bits} AS bits_per_table, {N_PLANES // bits} AS n_tables,
       (SELECT CAST(COALESCE(SUM(CASE WHEN vec_id < neighbor_id
                             THEN 1 ELSE 0 END), 0) AS BIGINT)
        FROM pairq WHERE bits = {bits}) AS n_cand_pairs,"""))
    u = "\nUNION ALL\n".join(selects)
    return ("WITH " + blocks
            + f"\nSELECT * FROM (\n{u}\n) ORDER BY bits_per_table")


register("ann_lsh_bits_sweep", ann_lsh_bits_sweep, _bits_sweep_oracle(),
         "LSH plane-budget split: 2x6 / 3x4 / 4x3 tables, one join")
