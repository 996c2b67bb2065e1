"""Round-3 end-to-end pipeline queries — compositions that prove the
engine's stages chain, not just run alone:

- ``sink_roundtrip_partitioned``: O30's sink surface under the driver's
  hash gate. Writes ``orders`` as hive-partitioned parquet through
  ``sources.sinks.write_table``, reads it back with a partition-key
  filter (directory pruning — the free 100x at the lake), aggregates.
  The oracle aggregates the original table directly, so any corruption
  in the write/read path breaks the hash match.
- ``ann_dedup_pipeline``: the ANN-side mirror of ``dedup_survivors``:
  augment embeddings with exact copies -> single-table hyperplane LSH
  candidate pairs -> exact-cosine confirm -> connected-component
  clusters -> keep-min-representative -> per-label summary. Every stage
  is the scale-shaped variant (bucketed candidates, id-only pair
  shuffles, one shuffle per component round).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources import load_table, read_table, write_table

# ------------------------------------------------------ sink roundtrip
_ROUNDTRIP_PRIOS = ("1-URGENT", "2-HIGH")


def _scratch_dir(sf_dir: str) -> str:
    # inside the repo's gitignored warehouse dir (or the session's
    # SPARK_GRAFT_WAREHOUSE_DIR override — concurrent-session safety)
    from ..session import scratch_root

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    return f"{scratch_root()}/sink_roundtrip_{tag}"


def sink_roundtrip_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders -> partitioned parquet sink -> pruned read-back ->
    aggregate. The read applies a partition-key filter, so only 2 of 5
    priority directories are scanned (PartitionFilters in the plan);
    the aggregate must equal the oracle's direct aggregation of the
    source table bit-for-bit."""
    orders = load_table(spark, sf_dir, "orders")
    path = _scratch_dir(sf_dir)
    write_table(orders, path, fmt="parquet",
                partition_by=["o_orderpriority"])
    back = read_table(spark, path, fmt="parquet")
    return (
        back.filter(F.col("o_orderpriority").isin(*_ROUNDTRIP_PRIOS))
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum("o_totalprice"), 4).alias("total_price"))
        .orderBy("o_orderpriority", "o_orderstatus")
    )


register("sink_roundtrip_partitioned", sink_roundtrip_partitioned, f"""
SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 4) AS total_price
FROM orders
WHERE o_orderpriority IN {_ROUNDTRIP_PRIOS!r}
GROUP BY o_orderpriority, o_orderstatus
ORDER BY o_orderpriority, o_orderstatus
""", "partitioned parquet sink roundtrip under the hash gate")


# ------------------------------------------------------ ann dedup pipeline
COPY_OFFSET = 10_000_000
COPY_MOD = 4          # every 4th vector gets an exact duplicate
NEAR_DUP_COS = 0.9    # organic max pairwise cos is ~0.51 at sf0.01/0.1
PIPE_TABLE = ((4, 0),)  # single 4-bit hyperplane table (hp & 15)


def ann_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-dedup end to end: bucketed candidates -> exact-cosine
    confirm -> clusters -> survivors, summarized per label. Identical
    vectors share every signature bit, so planted copies are always
    candidates; the id-only pair frame is what shuffles into the
    component rounds."""
    from ..broadcast_gate import maybe_broadcast
    from ..functions import vecfold
    from ..operators.graph import connected_components
    from .similarity import DIM, _bucket_pairs, _hp_index, _hp_sigs

    # the copies are exact duplicates of v, so they share its signature
    sigs = _hp_sigs(spark, sf_dir)
    emb = sigs.unionByName(
        sigs.filter(F.col("vec_id") % COPY_MOD == 0)
        .withColumn("vec_id", F.col("vec_id") + F.lit(COPY_OFFSET)))
    cand = _bucket_pairs(_hp_index(emb, PIPE_TABLE), "<").select(
        F.col("vec_id").alias("va"), F.col("neighbor_id").alias("vb"))
    lhs = emb.select(F.col("vec_id").alias("va"), F.col("v").alias("xa"),
                     F.col("norm").alias("na"))
    rhs = emb.select(F.col("vec_id").alias("vb"), F.col("v").alias("xb"),
                     F.col("norm").alias("nb"))
    dot = F.expr(vecfold.dot("xa", "xb", DIM))
    pairs = (
        cand.join(maybe_broadcast(lhs, sf_dir, "embeddings"), "va")
        .join(maybe_broadcast(rhs, sf_dir, "embeddings"), "vb")
        .withColumn("cos", dot / (F.col("na") * F.col("nb")))
        .filter(F.col("cos") > NEAR_DUP_COS)
        .select("va", "vb")
    )
    removed = (
        connected_components(pairs, "va", "vb")
        .filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias("vec_id"))
    )
    labels = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    corpus = labels.unionByName(
        labels.filter(F.col("vec_id") % COPY_MOD == 0)
        .withColumn("vec_id", F.col("vec_id") + F.lit(COPY_OFFSET))
    )
    kept = corpus.join(removed, "vec_id", "left_anti")
    return (
        corpus.groupBy("label").agg(F.count(F.lit(1)).alias("n_total"))
        .join(kept.groupBy("label").agg(F.count(F.lit(1)).alias("n_kept")),
              "label", "left")
        .withColumn("n_kept", F.coalesce(F.col("n_kept"), F.lit(0)))
        .withColumn("n_removed", F.col("n_total") - F.col("n_kept"))
        .orderBy("label")
    )


def _ann_pipeline_oracle() -> str:
    from .dedup import _duck_components
    from .similarity import _duck_bucket_pairs, _duck_hp, _duck_hp_index

    return f"""
WITH RECURSIVE emb AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
    UNION ALL
    SELECT vec_id + {COPY_OFFSET},
           list_transform(embedding, x -> CAST(x AS DOUBLE))
    FROM embeddings WHERE vec_id % {COPY_MOD} = 0
), sig AS (
    SELECT vec_id, v, {_duck_hp('v')} AS hp FROM emb
), idx AS (
    {_duck_hp_index('sig', PIPE_TABLE)}
), pairs AS (
    SELECT c.vec_id AS va, c.neighbor_id AS vb
    FROM ({_duck_bucket_pairs('idx', '<')}) c
    JOIN sig a ON a.vec_id = c.vec_id
    JOIN sig b ON b.vec_id = c.neighbor_id
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(b.v, b.v))) > {NEAR_DUP_COS}
), {_duck_components("pairs", "va", "vb")}, removed AS (
    SELECT node AS vec_id FROM comp WHERE node <> cluster_id
), corpus AS (
    SELECT vec_id, label FROM embeddings
    UNION ALL
    SELECT vec_id + {COPY_OFFSET}, label
    FROM embeddings WHERE vec_id % {COPY_MOD} = 0
)
SELECT label, COUNT(*) AS n_total,
       CAST(COUNT(*) FILTER (WHERE vec_id NOT IN (SELECT vec_id FROM removed))
            AS BIGINT) AS n_kept,
       CAST(COUNT(*) FILTER (WHERE vec_id IN (SELECT vec_id FROM removed))
            AS BIGINT) AS n_removed
FROM corpus
GROUP BY label
ORDER BY label
"""


register("ann_dedup_pipeline", ann_dedup_pipeline, _ann_pipeline_oracle(),
         "LSH candidates -> cosine confirm -> clusters -> per-label survivors")
