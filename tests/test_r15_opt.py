"""Round-15 optimization equivalence pins (OPTIMIZATION_r15.md).

Every r15 optimization restructured HOW a query computes without
changing WHAT it computes; these tests pin each restructuring against
an in-test replica of the pre-optimization implementation (not just
the oracle — the oracle parity suite already covers that) so a future
regression in the optimized path is attributed to the optimization,
not the query.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from .conftest import SF_ORACLE
from .graph_refs import peel


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


# ------------------------------------------------ vecfold bit-identity
def test_unrolled_dot_bit_identical_to_fold(spark):
    """The unrolled codegen dot/sq-dist/self-dot (vecfold.py) must be
    bit-identical to the interpreted HOF fold on REAL pair data —
    string-repr comparison so even a signed-zero flip fails."""
    from impractical_impala_spark.functions import vecfold

    emb = (spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
           .select("vec_id",
                   F.expr("transform(embedding, x -> cast(x as double))")
                   .alias("v")))
    a, b = emb.alias("a"), emb.alias("b")
    pairs = a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
    checks = [
        (vecfold.dot("a.v", "b.v", 64),
         vecfold.fold_dot("a.v", "b.v")),
        (vecfold.sq_dist("a.v", "b.v", 64),
         vecfold.fold_sq_dist("a.v", "b.v")),
        (vecfold.self_dot("a.v", 64),
         vecfold.fold_self_dot("a.v")),
    ]
    for unrolled, fold in checks:
        bad = pairs.select(
            F.expr(unrolled).alias("u"), F.expr(fold).alias("f")
        ).filter("u IS DISTINCT FROM f"
                 " OR cast(u as string) != cast(f as string)").count()
        assert bad == 0, f"unroll diverged from fold: {unrolled[:80]}"


# ------------------------------------- neardup top-1 via max-struct agg
def test_neardup_max_struct_equals_window_top1(spark):
    """dedup_embedding_neardup's partial-agg top-1 must pick exactly
    the row the old row_number window picked (cos DESC, neighbor ASC),
    for every panel query at sf0.01."""
    from impractical_impala_spark.queries.dedup import (
        NB_QUERY_MAX, embedding_neardup_frame)
    from impractical_impala_spark.queries.similarity import _emb

    emb = _emb(spark, SF_ORACLE).cache()
    got = embedding_neardup_frame(emb, cap=NB_QUERY_MAX)

    # pre-optimization reference: the window implementation, inlined
    n = emb.agg(F.count(F.lit(1)).alias("n_vec"))
    panel = (emb.crossJoin(F.broadcast(n))
             .filter(F.pmod(
                 F.expr("cast(conv(substring(md5(cast(vec_id as string)),"
                        " 1, 7), 16, 10) as bigint)"),
                 F.greatest(F.lit(1),
                            F.expr(f"n_vec div {NB_QUERY_MAX}"))) == 0)
             .select("vec_id", "v", "norm"))
    a, b = panel.alias("a"), emb.alias("b")
    dot = F.expr("aggregate(zip_with(a.v, b.v, (x, y) -> x * y),"
                 " cast(0.0 as double), (acc, x) -> acc + x)")
    pairs = (F.broadcast(a)
             .join(b, F.col("a.vec_id") != F.col("b.vec_id"))
             .select(F.col("a.vec_id").alias("vec_id"),
                     F.col("b.vec_id").alias("neighbor_id"),
                     (dot / (F.col("a.norm") * F.col("b.norm")))
                     .alias("cos")))
    w = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(),
                                             "neighbor_id")
    want = (pairs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "neighbor_id",
                    F.round("cos", 6).alias("cos")))
    cols = ["vec_id", "neighbor_id", "cos"]
    assert _rows(got, cols) == _rows(want, cols)


# --------------------------------------------- nested-core peel pins
def _toy_edges(spark):
    # a 5-clique + a 4-cycle fringe + a tail: degeneracy 4, rich 2-core
    clique = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    cycle = [(10, 11), (11, 12), (12, 13), (13, 10), (10, 0)]
    tail = [(20, 21), (21, 22)]
    return spark.createDataFrame(clique + cycle + tail, ["a", "b"])


def test_degeneracy_nested_peel_equals_full_peel(spark):
    """degeneracy_core's nested-core probes must produce the same rows
    as probing every k from the FULL edge set (the pre-optimization
    shape)."""
    from impractical_impala_spark.operators.graph import degeneracy_core

    e = _toy_edges(spark)
    got = {r.level: (r.k, r.n_nodes, r.n_edges)
           for r in degeneracy_core(e).collect()}
    e0 = e.select("a", "b").distinct().cache()
    # reference: full-set peels at every k until empty
    sizes = {}
    k = 1
    while True:
        n_nodes, n_edges = peel(e0, k, 30)
        if n_edges == 0:
            break
        sizes[k] = (n_nodes, n_edges)
        k += 1
    e0.unpersist()
    degeneracy = max(sizes)
    assert got["2core"] == (2, *sizes[2])
    assert got["degeneracy"] == (degeneracy, *sizes[degeneracy])


def test_kcore_summary_chained_peels_equal_full_peels(spark):
    from impractical_impala_spark.operators.graph import k_core_summary

    e = _toy_edges(spark)
    got = {r.k: (r.n_nodes, r.n_edges)
           for r in k_core_summary(e, ks=(4, 2, 3)).collect()}
    e0 = e.select("a", "b").distinct().cache()
    want = {k: peel(e0, k, 30) for k in (2, 3, 4)}
    e0.unpersist()
    assert got == want


# -------------------------------------------- MMR driver-side greedy
def test_mmr_driver_greedy_equals_unrolled_plan(spark):
    """emb_mmr_diversify's driver-side greedy must reproduce the old
    unrolled-join plan row for row (including the exact double scores)
    at sf0.01."""
    from impractical_impala_spark.queries.retrieval_curation import (
        MMR_K, MMR_POOL, MMR_QUERIES, _IDOT, _LAM, _ONE_MINUS_LAM,
        _VQ_SPARK, emb_mmr_diversify)
    from impractical_impala_spark.sources import load_table

    got = emb_mmr_diversify(spark, SF_ORACLE)

    # pre-optimization reference: the unrolled in-plan greedy, inlined
    emb = (load_table(spark, SF_ORACLE, "embeddings")
           .select("vec_id", F.expr(_VQ_SPARK).alias("vq"))
           .withColumn("ssq", F.expr(
               "aggregate(vq, cast(0 as bigint),"
               " (acc, x) -> acc + x * x)"))
           .cache())
    q = emb.filter(F.col("vec_id") < MMR_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("vq").alias("qvq"),
        F.col("ssq").alias("qssq"))
    c = emb.select(F.col("vec_id").alias("cand_id"), "vq", "ssq")
    sim = (f"cast({_IDOT.replace('q.vq', 'qvq').replace('c.vq', 'vq')}"
           " as double)"
           " / (sqrt(cast(qssq as double)) * sqrt(cast(ssq as double)))")
    scored = (F.broadcast(q).join(c, F.col("query_id") != F.col("cand_id"))
              .select("query_id", "cand_id", "vq", "ssq",
                      F.expr(sim).alias("s")))
    wq = Window.partitionBy("query_id").orderBy(F.col("s").desc(),
                                                "cand_id")
    pool = (scored.withColumn("rn", F.row_number().over(wq))
            .filter(F.col("rn") <= MMR_POOL)
            .select("query_id", "cand_id", "vq", "ssq", "s").cache())
    pa = pool.select("query_id", F.col("cand_id").alias("a"),
                     F.col("vq").alias("avq"), F.col("ssq").alias("assq"))
    pb = pool.select("query_id", F.col("cand_id").alias("b"),
                     F.col("vq").alias("bvq"), F.col("ssq").alias("bssq"))
    psim = ("cast(aggregate(zip_with(avq, bvq, (x, y) -> x * y),"
            " cast(0 as bigint), (acc, x) -> acc + x) as double)"
            " / (sqrt(cast(assq as double)) * sqrt(cast(bssq as double)))")
    pairs = (pa.join(pb, "query_id").filter(F.col("a") != F.col("b"))
             .select("query_id", "a", "b", F.expr(psim).alias("ps"))
             .cache())
    cand = pool.select("query_id", "cand_id", "s")
    sel = (cand.withColumn("rn", F.row_number().over(
        Window.partitionBy("query_id").orderBy(F.col("s").desc(),
                                               "cand_id")))
        .filter(F.col("rn") == 1)
        .select("query_id", "cand_id", F.lit(1).alias("rnk"),
                F.col("s").alias("score")))
    for step in range(2, MMR_K + 1):
        rem = cand.join(sel.select("query_id", "cand_id"),
                        ["query_id", "cand_id"], "left_anti")
        sel_ids = sel.select(F.col("query_id").alias("sq"),
                             F.col("cand_id").alias("sb"))
        mx = (rem.join(pairs.withColumnRenamed("query_id", "pq"),
                       (F.col("query_id") == F.col("pq"))
                       & (F.col("cand_id") == F.col("a")))
              .join(sel_ids, (F.col("query_id") == F.col("sq"))
                    & (F.col("b") == F.col("sb")))
              .groupBy("query_id", "cand_id", "s")
              .agg(F.max("ps").alias("mps")))
        pick = (mx.withColumn("score", F.expr(
            f"{_LAM} * s - {_ONE_MINUS_LAM} * mps"))
            .withColumn("rn", F.row_number().over(
                Window.partitionBy("query_id")
                .orderBy(F.col("score").desc(), "cand_id")))
            .filter(F.col("rn") == 1)
            .select("query_id", "cand_id", F.lit(step).alias("rnk"),
                    "score"))
        sel = sel.unionByName(pick)
    want = (sel.select("query_id", "rnk",
                       F.col("cand_id").alias("neighbor_id"),
                       (F.round("score", 6) + 0.0).alias("mmr")))
    cols = ["query_id", "rnk", "neighbor_id", "mmr"]
    g, w = _rows(got, cols), _rows(want, cols)
    assert g == w
    assert len(g) == MMR_QUERIES * MMR_K
    pool.unpersist()
    pairs.unpersist()
    emb.unpersist()
