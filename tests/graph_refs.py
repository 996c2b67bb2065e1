"""Spark REFERENCE k-core peel the coreness-based operators are pinned
against (tests/test_r15_opt.py, tests/test_r16_opt.py). It was the
product path through r15; since r16 the k-core family reads every k off
one h-index coreness fixpoint (operators/graph.py::coreness), so the
peel lives here as a test-only reference."""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _n_nodes(e: DataFrame) -> int:
    return (e.select(F.col("a").alias("u"))
            .unionByName(e.select(F.col("b").alias("u")))
            .distinct().count())


def peel(e0: DataFrame, k: int, max_iter: int) -> tuple[int, int]:
    """Peel the distinct edge frame ``e0(a, b)`` to its k-core: drop
    every edge with an endpoint of degree < k until no edge goes.
    Returns (n_nodes, n_edges) of the surviving subgraph. Each round's
    edges are a subset of the last, so an unchanged count is the
    fixpoint."""
    cur, n_cur = e0, e0.count()
    for _ in range(max_iter):
        deg = (cur.select(F.col("a").alias("u"))
               .unionByName(cur.select(F.col("b").alias("u")))
               .groupBy("u").agg(F.count(F.lit(1)).alias("d")))
        keep = deg.filter(F.col("d") >= k).select("u")
        cur = (cur.join(keep.withColumnRenamed("u", "a"), "a", "left_semi")
               .join(keep.withColumnRenamed("u", "b"), "b", "left_semi")
               .select("a", "b").localCheckpoint(eager=True))
        n_nxt = cur.count()
        if n_nxt == n_cur:
            return _n_nodes(cur), n_nxt
        n_cur = n_nxt
    raise RuntimeError(
        f"k-core peel: k={k} did not stabilize in {max_iter} rounds")
