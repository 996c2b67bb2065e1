"""Round-3 corpus-curation operators over ``documents`` — the three
pipeline stages between "raw crawl" and "training shards" that the
earlier dedup/quality families don't yet cover:

- ``pack_sequences``: concat-then-split sequence packing. Real LLM
  pipelines concatenate a document stream and cut it into fixed
  token-budget context windows; the bin a doc lands in is determined by
  its starting offset in the concatenated stream, which is a pure
  window cumulative sum — one shuffle on the stream key, no Python.
- ``mix_weighted_sample``: deterministic per-source mixture sampling.
  The mixing weights of a data recipe become per-source keep rates; the
  keep decision is ``md5(doc_id:source) < rate-threshold`` so every
  engine (and every re-run) draws the identical sample — reproducible
  ablations at any scale, zero shuffles before the final tiny summary.
- ``dedup_incremental``: new-batch-vs-corpus dedup. A crawl refresh
  must dedup against the EXISTING lake without re-pairing the lake with
  itself: exact matches via content-hash join, near matches via a
  SimHash band join (reusing the dedup family's 28-bit fingerprints),
  both shuffling only on (hash | band) keys — never an all-pairs self
  join. Statuses: exact_dup > near_dup > novel.

All Spark sides are pure Catalyst expressions (whole-stage codegen);
every query has an exact DuckDB twin, so the family is hash-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources import load_table
from .dedup import (
    _DUCK_HASHES, _DUCK_MUT, _DUCK_SHINGLES, _DUCK_WORDS,
    _SPARK_HASHES, _SPARK_MUT, _SPARK_SHINGLES, _SPARK_WORDS,
    SIMHASH_BITS, _duck_simhash_terms, _spark_simhash_terms,
)

# --------------------------------------------------------------- packing
PACK_BUDGET = 256  # tokens per training sequence


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-split packing: per (lang, source) stream in doc_id
    order, a doc's sequence id is ``floor(start_offset / budget)`` of
    its first token in the concatenated stream. Exactly one shuffle (on
    the stream key, carried through window + final agg — same
    partitioning, no second exchange). At 100 TB the stream key must be
    finer than lang alone or one partition serializes a whole language
    — (lang, source) here; (lang, source, shard) on a real lake."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", "source",
        F.expr(f"cast(size({_SPARK_WORDS}) as bigint)").alias("n_tokens"),
    )
    w = Window.partitionBy("lang", "source").orderBy("doc_id")
    packed = (
        toks.withColumn("cum", F.sum("n_tokens").over(w))
        .withColumn("seq_id", F.expr(
            f"cast(floor((cum - n_tokens) / cast({PACK_BUDGET} as double))"
            " as bigint)"))
    )
    return (
        packed.groupBy("lang", "source", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


register("pack_sequences", pack_sequences, f"""
WITH toks AS (
    SELECT doc_id, lang, source,
           CAST(len({_DUCK_WORDS}) AS BIGINT) AS n_tokens
    FROM documents
), packed AS (
    SELECT *, SUM(n_tokens) OVER (PARTITION BY lang, source
                                  ORDER BY doc_id) AS cum
    FROM toks
)
SELECT lang, source,
       CAST(floor((cum - n_tokens) / CAST({PACK_BUDGET} AS DOUBLE)) AS BIGINT)
           AS seq_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM packed
GROUP BY lang, source, seq_id
""", "concat-then-split token-budget sequence packing per stream")


# ---------------------------------------------------------------- mixing
# Mixture recipe: keep rate per source, keyed on the numeric source
# index mod 4. The keep decision compares a 6-hex-digit md5 prefix
# (uniform over 16^6) against floor(rate * 16^6) rendered in hex —
# string comparison over same-length lowercase hex IS the numeric
# comparison, and md5 is identical everywhere.
MIX_RATES = [0.2, 0.4, 0.6, 0.8]
_MIX_THRESH = [format(int(r * 16**6), "06x") for r in MIX_RATES]

_RATE_CASE = ("CASE CAST({sub}(source, 4, 8) AS INT) % 4 "
              + " ".join(f"WHEN {i} THEN CAST({r} AS DOUBLE)"
                         for i, r in enumerate(MIX_RATES[:-1]))
              + f" ELSE CAST({MIX_RATES[-1]} AS DOUBLE) END")
_THRESH_CASE = ("CASE CAST({sub}(source, 4, 8) AS INT) % 4 "
                + " ".join(f"WHEN {i} THEN '{t}'"
                           for i, t in enumerate(_MIX_THRESH[:-1]))
                + f" ELSE '{_MIX_THRESH[-1]}' END")


def mix_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source deterministic mixture sampling summary: n_in, n_kept,
    realized vs target rate. One scan; the keep decision is map-side
    expression work and the only shuffle carries one row per source."""
    docs = load_table(spark, sf_dir, "documents")
    kept = F.expr(
        "substring(md5(concat(cast(doc_id as string), ':', source)), 1, 6)"
        f" < {_THRESH_CASE.format(sub='substring')}")
    return (
        docs.select("source",
                    F.expr(_RATE_CASE.format(sub="substring")).alias("target_rate"),
                    kept.cast("int").alias("k"))
        .groupBy("source", "target_rate")
        .agg(F.count(F.lit(1)).alias("n_in"), F.sum("k").alias("n_kept"))
        .withColumn("realized_rate",
                    F.round(F.col("n_kept") / F.col("n_in"), 4))
    )


register("mix_weighted_sample", mix_weighted_sample, f"""
SELECT source,
       {_RATE_CASE.format(sub='substr')} AS target_rate,
       CAST(COUNT(*) AS BIGINT) AS n_in,
       CAST(SUM(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':' || source), 1, 6)
                          < {_THRESH_CASE.format(sub='substr')}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       ROUND(CAST(SUM(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':' || source), 1, 6)
                                < {_THRESH_CASE.format(sub='substr')}
                       THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4) AS realized_rate
FROM documents
GROUP BY source, target_rate
""", "deterministic per-source mixture-rate sampling summary")


# ---------------------------------------------------- incremental dedup
# Batch composition (deterministic, so true positives exist at every
# scale factor): the "existing lake" is doc_id % 5 != 0; the incoming
# batch is the rest (novel) plus exact copies of every 7th corpus doc
# and every-7th-word-dropped mutations of every 11th.
INC_COPY_OFFSET = 3_000_000
INC_MUT_OFFSET = 4_000_000
INC_PREFIX_BITS = 8     # SimHash band: top bits must match to pair
INC_HAMMING_T = 7       # ... then full-28-bit Hamming confirms


def _inc_spark_frames(spark: SparkSession, sf_dir: str):
    """(corpus, batch) with content hash ch, fingerprint fp, and the
    bounded-cardinality near-dup blocking key (lang, source, len_band,
    8-bit SimHash prefix) — same construction the ngram-Jaccard family
    uses, so block sizes stay roughly corpus-size-independent (the bare
    prefix alone is 256 fixed blocks → linear-in-corpus probe cost).
    Content identity is md5 over the lowercased token stream so exact
    copies match regardless of original byte form."""
    docs = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "text", "lang", "source") \
        .repartition(spark.sparkContext.defaultParallelism)
    base = docs.withColumn("words", F.expr(_SPARK_WORDS))
    corpus_w = base.filter(F.col("doc_id") % 5 != 0)
    batch_w = (
        base.filter(F.col("doc_id") % 5 == 0)
        .unionByName(
            corpus_w.filter(F.col("doc_id") % 7 == 0)
            .withColumn("doc_id", F.col("doc_id") + F.lit(INC_COPY_OFFSET)))
        .unionByName(
            corpus_w.filter(F.col("doc_id") % 11 == 0)
            .withColumn("doc_id", F.col("doc_id") + F.lit(INC_MUT_OFFSET))
            .withColumn("words", F.expr(_SPARK_MUT.format(w="words"))))
    )

    def keyed(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("ch", F.expr("md5(concat_ws(' ', words))"))
            .withColumn("dh", F.expr(
                _SPARK_HASHES.format(s=_SPARK_SHINGLES.format(w="words"))))
            .withColumn("len_band",
                        F.expr("cast(floor(log2(size(dh))) as bigint)"))
            .withColumn("fp", F.expr(f"({_spark_simhash_terms('dh')})"))
            .withColumn("blk",
                        F.expr(f"fp >> {SIMHASH_BITS - INC_PREFIX_BITS}"))
            .select("doc_id", "lang", "source", "ch", "fp", "len_band", "blk")
        )

    return keyed(corpus_w), keyed(batch_w)


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup an incoming batch against the existing corpus: exact via
    content-hash equi-join, near via a bounded-cardinality block join
    (lang, source, len_band, SimHash prefix) + Hamming confirm, neither
    pairing the corpus with itself. Shuffles carry only keys; at 100 TB
    the batch side is typically
    << corpus and AQE broadcasts it, making both probes one corpus
    pass. Output: one row per batch doc with its status and the
    smallest matching corpus doc_id (NULL for novel)."""
    corpus, batch = _inc_spark_frames(spark, sf_dir)
    corpus = corpus.cache()
    batch = batch.cache()

    exact = (
        batch.join(corpus.select("ch", F.col("doc_id").alias("c_id")), "ch")
        .groupBy("doc_id").agg(F.min("c_id").alias("match_id"))
        .withColumn("status", F.lit("exact_dup"))
    )
    rest = batch.join(exact.select("doc_id"), "doc_id", "left_anti")
    c = corpus.select(F.col("doc_id").alias("c_id"),
                      F.col("lang").alias("c_lang"),
                      F.col("source").alias("c_source"),
                      F.col("len_band").alias("c_len_band"),
                      F.col("fp").alias("c_fp"), F.col("blk").alias("c_blk"))
    near = (
        rest.join(c, (F.col("lang") == F.col("c_lang"))
                  & (F.col("source") == F.col("c_source"))
                  & (F.col("len_band") == F.col("c_len_band"))
                  & (F.col("blk") == F.col("c_blk"))
                  & (F.expr(f"bit_count(fp ^ c_fp) <= {INC_HAMMING_T}")))
        .groupBy("doc_id").agg(F.min("c_id").alias("match_id"))
        .withColumn("status", F.lit("near_dup"))
    )
    novel = (
        rest.join(near.select("doc_id"), "doc_id", "left_anti")
        .select("doc_id", F.lit(None).cast("bigint").alias("match_id"),
                F.lit("novel").alias("status"))
    )
    return exact.select("doc_id", "match_id", "status") \
        .unionByName(near.select("doc_id", "match_id", "status")) \
        .unionByName(novel)


def _inc_duck_cte() -> str:
    dh = _DUCK_HASHES.format(s=_DUCK_SHINGLES.format(w="words"))
    return f"""
corpus_w AS (
    SELECT doc_id, lang, source, {_DUCK_WORDS} AS words
    FROM documents WHERE doc_id % 5 <> 0
), batch_w AS (
    SELECT doc_id, lang, source, {_DUCK_WORDS} AS words
    FROM documents WHERE doc_id % 5 = 0
    UNION ALL
    SELECT doc_id + {INC_COPY_OFFSET}, lang, source, words
    FROM corpus_w WHERE doc_id % 7 = 0
    UNION ALL
    SELECT doc_id + {INC_MUT_OFFSET}, lang, source, {_DUCK_MUT.format(w='words')}
    FROM corpus_w WHERE doc_id % 11 = 0
), corpus AS (
    SELECT doc_id, lang, source, md5(array_to_string(words, ' ')) AS ch,
           CAST(floor(log2(len(dh))) AS BIGINT) AS len_band,
           ({_duck_simhash_terms('dh')}) AS fp
    FROM (SELECT doc_id, lang, source, words, {dh} AS dh FROM corpus_w)
), batch AS (
    SELECT doc_id, lang, source, md5(array_to_string(words, ' ')) AS ch,
           CAST(floor(log2(len(dh))) AS BIGINT) AS len_band,
           ({_duck_simhash_terms('dh')}) AS fp
    FROM (SELECT doc_id, lang, source, words, {dh} AS dh FROM batch_w)
), exact AS (
    SELECT b.doc_id, MIN(c.doc_id) AS match_id, 'exact_dup' AS status
    FROM batch b JOIN corpus c USING (ch) GROUP BY b.doc_id
), rest AS (
    SELECT * FROM batch WHERE doc_id NOT IN (SELECT doc_id FROM exact)
), near AS (
    SELECT r.doc_id, MIN(c.doc_id) AS match_id, 'near_dup' AS status
    FROM rest r JOIN corpus c
      ON r.lang = c.lang AND r.source = c.source
     AND r.len_band = c.len_band
     AND (r.fp >> {SIMHASH_BITS - INC_PREFIX_BITS})
         = (c.fp >> {SIMHASH_BITS - INC_PREFIX_BITS})
     AND bit_count(xor(r.fp, c.fp)) <= {INC_HAMMING_T}
    GROUP BY r.doc_id
)"""


register("dedup_incremental", dedup_incremental, f"""
WITH {_inc_duck_cte().lstrip()}
SELECT doc_id, match_id, status FROM exact
UNION ALL
SELECT doc_id, match_id, status FROM near
UNION ALL
SELECT doc_id, CAST(NULL AS BIGINT) AS match_id, 'novel' AS status
FROM rest WHERE doc_id NOT IN (SELECT doc_id FROM near)
""", "new-batch-vs-corpus dedup (exact hash + simhash band)")


# --------------------------------------------------------- leakage-safe split
# Train/val/test assignment that can never leak a near-duplicate across
# splits: the split is a deterministic hash of the doc's near-dup
# CLUSTER representative (connected components over the verified
# minhash-LSH pairs), not of the doc itself — every member of a cluster
# lands in the same split by construction. Plain per-doc hash splits
# put a mutated copy of a train doc into the eval split, which is the
# classic contamination bug this operator exists to close. At lake
# scale the cost is the cluster formation (already a first-class
# artifact above); the assignment itself is one scan + one id join.
SPLIT_BUCKETS = 10  # 8 train / 1 val / 1 test


def _split_case(h: str) -> str:
    """Shared CASE expression (both dialects) mapping a 0-9 bucket to a
    split name."""
    return (f"CASE WHEN {h} < 8 THEN 'train'"
            f" WHEN {h} = 8 THEN 'val' ELSE 'test' END")


def split_cluster_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc split assignment over the augmented corpus (base docs +
    the mutated near-dup copies the dedup family injects). group_id =
    cluster representative for clustered docs, the doc itself
    otherwise; bucket = md5(group_id) mod 10 -> 80/10/10."""
    from .dedup import MUT_OFFSET, dedup_clusters

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") % 3 == 0)
        .withColumn("doc_id", F.col("doc_id") + F.lit(MUT_OFFSET))
    )
    clusters = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    assigned = (
        corpus.join(clusters, "doc_id", "left")
        .withColumn("group_id", F.coalesce(F.col("cluster_id"), F.col("doc_id")))
    )
    h = ("conv(substring(md5(cast(group_id as string)), 1, 7), 16, 10)"
         f" % {SPLIT_BUCKETS}")
    return assigned.select(
        "doc_id", "group_id",
        F.expr(_split_case(h)).alias("split"),
    )


def _split_oracle() -> str:
    from .dedup import MUT_OFFSET, _duck_components, _minhash_oracle

    h = ("CAST(('0x' || substr(md5(CAST(group_id AS VARCHAR)), 1, 7))"
         f" AS BIGINT) % {SPLIT_BUCKETS}")
    return f"""
WITH RECURSIVE pairs AS (
    SELECT doc_a, doc_b FROM ({_minhash_oracle()})
), {_duck_components("pairs", "doc_a", "doc_b")}, corpus AS (
    SELECT doc_id FROM documents
    UNION ALL
    SELECT doc_id + {MUT_OFFSET} FROM documents WHERE doc_id % 3 = 0
), assigned AS (
    SELECT c.doc_id,
           CAST(COALESCE(comp.cluster_id, c.doc_id) AS BIGINT) AS group_id
    FROM corpus c LEFT JOIN comp ON c.doc_id = comp.node
)
SELECT doc_id, group_id, {_split_case(h)} AS split
FROM assigned
"""


register("split_cluster_safe", split_cluster_safe, _split_oracle(),
         "near-dup-cluster-keyed train/val/test split (no cross-split leakage)")


# ------------------------------------------- DSIR importance weights
from .monitor_eval import _ha_sql as _dsir_ha  # noqa: E402

DSIR_B = 256             # hashed feature buckets
DSIR_TARGET_LANG = "en"  # the target distribution: English docs


def doc_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style hashed-n-gram importance weights: estimate per-doc
    log importance of the TARGET distribution (lang = 'en') over the
    RAW corpus from Laplace-smoothed hashed-unigram bucket
    frequencies — the data-selection mechanism behind
    importance-resampled pretraining mixes. Tokens hash to DSIR_B
    md5 buckets; each bucket's log density ratio quantizes to
    nano-units (one ln over a rational of exact integers, shared
    half-away rounding); a doc's weight is the exact integer sum of
    its tokens' bucket scores. Per-source output: doc counts, the
    positively-weighted (target-like) fraction in ppm, and the mean
    weight (half-away nano — integer div would disagree between
    engines on negative sums). The bucket table is model-size and
    broadcast; the corpus shuffles only on (doc, bucket)."""
    toks = (load_table(spark, sf_dir, "documents")
            .select("doc_id", "source", "lang",
                    F.explode(F.expr("split(lower(text), ' ')")).alias("t")))
    bucketed = toks.withColumn("b", F.expr(
        "pmod(cast(conv(substring(md5(t), 1, 7), 16, 10) as bigint),"
        f" {DSIR_B})"))
    counts = (bucketed.groupBy("b")
              .agg(F.count(F.lit(1)).alias("c_raw"),
                   F.sum(F.expr(
                       f"cast(lang = '{DSIR_TARGET_LANG}' as int)"))
                   .alias("c_tgt")))
    tot = counts.agg(F.sum("c_raw").alias("n_raw"),
                     F.sum("c_tgt").alias("n_tgt"))
    lr = _dsir_ha(
        f"ln((cast(c_tgt + 1 as double) * (n_raw + {DSIR_B})) /"
        f" (cast(c_raw + 1 as double) * (n_tgt + {DSIR_B}))) * 1e9")
    scores = (counts.crossJoin(F.broadcast(tot))
              .select("b", F.expr(lr).alias("lr_nano")))
    per_doc = (bucketed.join(F.broadcast(scores), "b")
               .groupBy("doc_id", "source")
               .agg(F.sum("lr_nano").alias("w_nano")))
    mean_ha = _dsir_ha("cast(sum_w as double) / n_docs")
    return (per_doc.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("w_nano").alias("sum_w"),
                 F.sum(F.expr("cast(w_nano > 0 as int)")).alias("n_pos"))
            .select("source", "n_docs",
                    F.col("sum_w").alias("sum_w_nano"),
                    F.expr(mean_ha).alias("mean_w_nano"),
                    F.expr("n_pos * 1000000 div n_docs").alias("pos_ppm"))
            .orderBy("source"))


register("doc_dsir_importance", doc_dsir_importance, f"""
WITH toks AS (
    SELECT doc_id, source, lang,
           UNNEST(string_split(lower(text), ' ')) AS t
    FROM documents
), bucketed AS (
    SELECT doc_id, source, lang,
           CAST(('0x' || substr(md5(t), 1, 7)) AS BIGINT) % {DSIR_B} AS b
    FROM toks
), counts AS (
    SELECT b, CAST(COUNT(*) AS BIGINT) AS c_raw,
           CAST(SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}'
                         THEN 1 ELSE 0 END) AS BIGINT) AS c_tgt
    FROM bucketed GROUP BY b
), tot AS (
    SELECT CAST(SUM(c_raw) AS BIGINT) AS n_raw,
           CAST(SUM(c_tgt) AS BIGINT) AS n_tgt
    FROM counts
), scores AS (
    SELECT b, {_dsir_ha(
        f"ln((cast(c_tgt + 1 as double) * (n_raw + {DSIR_B})) /"
        f" (cast(c_raw + 1 as double) * (n_tgt + {DSIR_B}))) * 1e9")} AS lr_nano
    FROM counts CROSS JOIN tot
), per_doc AS (
    SELECT doc_id, source, CAST(SUM(lr_nano) AS BIGINT) AS w_nano
    FROM bucketed JOIN scores USING (b)
    GROUP BY 1, 2
), agg AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(w_nano) AS BIGINT) AS sum_w,
           CAST(SUM(CASE WHEN w_nano > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos
    FROM per_doc GROUP BY source
)
SELECT source, n_docs, sum_w AS sum_w_nano,
       {_dsir_ha("CAST(sum_w AS DOUBLE) / n_docs")} AS mean_w_nano,
       CAST(n_pos * 1000000 // n_docs AS BIGINT) AS pos_ppm
FROM agg ORDER BY source
""", "DSIR hashed-unigram importance weights (target lang vs corpus)")


# ------------------------------------------- pretraining mix allocator
MIX_BUDGET_NUM, MIX_BUDGET_DEN = 2, 5   # token budget = 40% of corpus
MIX_CAP_DEN = 10                        # per-source cap = 10% of budget


def corpus_mix_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining-mix allocator: rank sources by a quality score
    (stopword-rate proxy in ppm — the cheap single-scan stand-in for
    a full quality classifier), then greedily fill a token budget of
    {MIX_BUDGET_NUM}/{MIX_BUDGET_DEN} of the corpus with a per-source
    cap of budget/{MIX_CAP_DEN} — the capped-greedy water-fill every
    data-mix pipeline runs before sampling. The greedy loop is a
    WINDOW CUMSUM over the source-ranked spine (sources are
    model-size), so the allocation is one ordered pass, not an
    iterative driver loop; every quantity is an exact integer token
    count. Output: per-source allocation and budget shares."""
    toks = (load_table(spark, sf_dir, "documents")
            .select("source",
                    F.explode(F.expr("split(lower(text), ' ')")).alias("t")))
    per_src = toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("tokens"),
        F.sum(F.expr("cast(t in ('the','a','of','to','and') as int)"))
        .alias("sw"))
    scored = per_src.withColumn(
        "quality_ppm", F.expr("sw * 1000000 div tokens"))
    tot = scored.agg(F.sum("tokens").alias("n_total"))
    base = (scored.crossJoin(F.broadcast(tot))
            .withColumn("budget", F.expr(
                f"n_total * {MIX_BUDGET_NUM} div {MIX_BUDGET_DEN}"))
            .withColumn("cap", F.expr(f"budget div {MIX_CAP_DEN}"))
            .withColumn("want", F.expr("least(tokens, cap)")))
    w = (Window.orderBy(F.col("quality_ppm").desc(), "source")
         .rowsBetween(Window.unboundedPreceding, -1))
    alloc = (base
             .withColumn("taken_before",
                         F.coalesce(F.sum("want").over(w), F.lit(0)))
             .withColumn("allocated", F.expr(
                 "greatest(0, least(want, budget - taken_before))")))
    return (alloc.select(
        "source", "quality_ppm", "tokens", "cap", "allocated",
        F.expr("allocated * 1000000 div budget").alias("budget_share_ppm"))
        .orderBy(F.col("quality_ppm").desc(), "source"))


register("corpus_mix_allocation", corpus_mix_allocation, f"""
WITH toks AS (
    SELECT source, UNNEST(string_split(lower(text), ' ')) AS t
    FROM documents
), per_src AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS tokens,
           CAST(SUM(CASE WHEN t IN ('the','a','of','to','and')
                         THEN 1 ELSE 0 END) AS BIGINT) AS sw
    FROM toks GROUP BY source
), scored AS (
    SELECT source, tokens, sw * 1000000 // tokens AS quality_ppm
    FROM per_src
), tot AS (SELECT SUM(tokens) AS n_total FROM scored),
base AS (
    SELECT source, tokens, quality_ppm,
           n_total * {MIX_BUDGET_NUM} // {MIX_BUDGET_DEN} AS budget,
           (n_total * {MIX_BUDGET_NUM} // {MIX_BUDGET_DEN})
               // {MIX_CAP_DEN} AS cap,
           LEAST(tokens, (n_total * {MIX_BUDGET_NUM} // {MIX_BUDGET_DEN})
               // {MIX_CAP_DEN}) AS want
    FROM scored CROSS JOIN tot
), alloc AS (
    SELECT *, COALESCE(SUM(want) OVER (
               ORDER BY quality_ppm DESC, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS taken_before
    FROM base
)
SELECT source, CAST(quality_ppm AS BIGINT) AS quality_ppm, tokens,
       CAST(cap AS BIGINT) AS cap,
       CAST(GREATEST(0, LEAST(want, budget - taken_before)) AS BIGINT)
           AS allocated,
       CAST(GREATEST(0, LEAST(want, budget - taken_before)) * 1000000
            // budget AS BIGINT) AS budget_share_ppm
FROM alloc ORDER BY quality_ppm DESC, source
""", "capped-greedy pretraining mix allocation over source quality")


# ------------------------------------------------ boilerplate ratio
BP_MIN_DOCS = 3   # a fragment in >= this many docs of a source is boilerplate
BP_MIN_CHARS = 20  # fragments shorter than this are ignored


def doc_boilerplate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection per source: the share of each document's
    sentence fragments that recur in >= BP_MIN_DOCS distinct documents
    of the SAME source — headers, footers, templates and navigation
    chrome that survive exact dedup because the surrounding document
    differs. Fragments are '.'-splits of >= BP_MIN_CHARS chars,
    md5-hashed; the census keys on (source, fragment hash) with an
    exact distinct-doc count (the dedup shuffle shape — fragment
    vocabulary, never the corpus, crosses the wire twice). Output per
    source: docs, mean and max boilerplate ppm — the strip-or-keep
    curation signal."""
    frags = (load_table(spark, sf_dir, "documents")
             .select("doc_id", "source",
                     F.explode(F.split("text", "\\.")).alias("frag"))
             .select("doc_id", "source",
                     F.md5(F.trim("frag")).alias("h"),
                     F.length(F.trim("frag")).alias("len"))
             .filter(F.col("len") >= BP_MIN_CHARS))
    census = (frags.groupBy("source", "h")
              .agg(F.countDistinct("doc_id").alias("nd")))
    marked = (frags.join(census, ["source", "h"])
              .withColumn("bp", F.expr(
                  f"cast(nd >= {BP_MIN_DOCS} as int)")))
    per_doc = (marked.groupBy("doc_id", "source")
               .agg(F.count(F.lit(1)).alias("n_frags"),
                    F.sum("bp").alias("n_bp"))
               .withColumn("ratio_ppm", F.expr(
                   "n_bp * 1000000 div n_frags")))
    return (per_doc.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.expr("sum(ratio_ppm) div count(1)")
                 .alias("mean_bp_ppm"),
                 F.max("ratio_ppm").alias("max_bp_ppm"))
            .orderBy("source"))


register("doc_boilerplate_ratio", doc_boilerplate_ratio, f"""
WITH frags AS (
    SELECT doc_id, source, md5(trim(frag)) AS h
    FROM (SELECT doc_id, source,
                 UNNEST(string_split(text, '.')) AS frag
          FROM documents)
    WHERE length(trim(frag)) >= {BP_MIN_CHARS}
), census AS (
    SELECT source, h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
    FROM frags GROUP BY 1, 2
), per_doc AS (
    SELECT f.doc_id, f.source, CAST(COUNT(*) AS BIGINT) AS n_frags,
           CAST(SUM(CASE WHEN c.nd >= {BP_MIN_DOCS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_bp
    FROM frags f JOIN census c ON f.source = c.source AND f.h = c.h
    GROUP BY 1, 2
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_bp * 1000000 // n_frags) // COUNT(*) AS BIGINT)
           AS mean_bp_ppm,
       CAST(MAX(n_bp * 1000000 // n_frags) AS BIGINT) AS max_bp_ppm
FROM per_doc GROUP BY source ORDER BY source
""", "per-source boilerplate fragment share (recurring sentence census)")


# ------------------------------------------- packing efficiency audit
PACK_SHARDS = 8  # stream shards per lang — the parallelism dial


def doc_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency audit at the STREAM grain — the numbers an
    operator reads before fixing the shard layout that pack_sequences
    only gestures at ("(lang, source, shard) on a real lake"): per
    (lang, shard = doc_id % PACK_SHARDS) concat-then-split stream at
    the same PACK_BUDGET, how many context windows the stream fills,
    how many documents straddle a window boundary (their loss-masking
    cost is the thing packing trades against padding), and how full
    the tail window is. Same whitespace token measure as
    pack_sequences, so per-lang token totals are EQUAL across the two
    stream layouts (the pinned cross-law: packing never creates or
    drops tokens).

    Scale shape: one scan, one shuffle on (lang, shard); the window
    cumulative sum is linear per shard and PACK_SHARDS is the
    parallelism dial (at the lake: shards ~ corpus/shard-target, the
    per-shard tail waste amortizes to <= 1 window per shard — exactly
    how pretraining shard writers bound it). Everything after the
    window is integer arithmetic off the per-doc offsets, so the
    audit hashes exactly."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang",
        F.expr(f"pmod(doc_id, {PACK_SHARDS})").alias("shard"),
        F.expr(f"cast(size({_SPARK_WORDS}) as bigint)").alias("tok"))
    w = (Window.partitionBy("lang", "shard").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    pos = toks.withColumn(
        "strt", F.coalesce(F.sum("tok").over(w), F.lit(0)))
    marked = pos.select(
        "lang", "shard", "tok",
        F.expr(f"cast(tok > 0 and strt div {PACK_BUDGET}"
               f" != (strt + tok - 1) div {PACK_BUDGET} as int)")
        .alias("crossing"))
    return (marked.groupBy("lang", "shard")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("tok").alias("total_tokens"),
                 F.expr(f"cast((sum(tok) + {PACK_BUDGET} - 1)"
                        f" div {PACK_BUDGET} as bigint)").alias("n_bins"),
                 F.sum("crossing").cast("long").alias("n_crossing"))
            .select("lang", "shard", "n_docs", "total_tokens", "n_bins",
                    "n_crossing",
                    F.expr(f"(total_tokens - (n_bins - 1) * {PACK_BUDGET})"
                           f" * 1000000 div {PACK_BUDGET}")
                    .alias("tail_fill_ppm"))
            .orderBy("lang", "shard"))


register("doc_pack_efficiency", doc_pack_efficiency, f"""
WITH toks AS (
    SELECT doc_id, lang, doc_id % {PACK_SHARDS} AS shard,
           CAST(len({_DUCK_WORDS}) AS BIGINT) AS tok
    FROM documents
), pos AS (
    SELECT *, COALESCE(SUM(tok) OVER (
        PARTITION BY lang, shard ORDER BY doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS strt
    FROM toks
), marked AS (
    SELECT lang, shard, tok,
           CASE WHEN tok > 0 AND strt // {PACK_BUDGET}
                     <> (strt + tok - 1) // {PACK_BUDGET}
                THEN 1 ELSE 0 END AS crossing
    FROM pos
)
SELECT lang, shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(tok) AS BIGINT) AS total_tokens,
       CAST((SUM(tok) + {PACK_BUDGET} - 1) // {PACK_BUDGET} AS BIGINT)
           AS n_bins,
       CAST(SUM(crossing) AS BIGINT) AS n_crossing,
       CAST((SUM(tok) - ((SUM(tok) + {PACK_BUDGET} - 1) // {PACK_BUDGET}
                         - 1) * {PACK_BUDGET}) * 1000000 // {PACK_BUDGET}
            AS BIGINT) AS tail_fill_ppm
FROM marked GROUP BY 1, 2 ORDER BY 1, 2
""", "per-(lang, shard) packing efficiency: windows, straddles, tail")


# --------------------------------------- mixture temperature sweep
MIX_ALPHA_TENTHS = (0, 5, 7, 10)  # sampling temperature alpha x 10

from .monitor_eval import _ha_sql as _mix_ha  # noqa: E402


def _mix_pow(a: int) -> str:
    # IDENTICAL text on both engines: pow of exact integers through
    # single correctly-rounded IEEE ops -> the same double everywhere
    return (f"pow(CAST(n_docs AS DOUBLE), CAST({a} AS DOUBLE) / 10)"
            " * 1e6")


def source_mixture_temperature(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Temperature-based mixture reweighting sweep — the standard
    multilingual/multi-source sampling recipe (w_d proportional to
    n_d^alpha): per (lang, source) domain and alpha in {0, .5, .7, 1},
    the micro-quantized tempered weight, its ppm share of the recipe,
    and the effective number of domains ESS = (sum w)^2 / sum w^2 the
    temperature leaves (alpha=1 reproduces natural proportions
    exactly; alpha=0 is uniform with ESS = #domains exactly — both
    pinned laws; between, the curve is the measured answer to "how
    hard does this temperature flatten my recipe"). mix_weighted_sample
    consumes a FIXED recipe; this sweep is how that recipe gets
    chosen.

    Scale shape: ONE corpus reduce to the (lang, source) domain frame
    (cached), then per alpha a domain-cardinality projection plus a
    1-row keys=[] total attached by broadcast — no second corpus
    scan, no pair frames. Weights are half-away micro-quantized
    BEFORE the cross-domain sums, so every reduction is order-free
    integer arithmetic; square sums ride DECIMAL(38,0)/HUGEINT
    (w_micro ~ 1e15 at lake domain sizes puts w^2 past int64); the
    ppm share is an exact 128-bit integer division both engines."""
    docs = load_table(spark, sf_dir, "documents")
    dom = (docs.groupBy("lang", "source")
           .agg(F.count(F.lit(1)).alias("n_docs")).cache())
    out = None
    for a in MIX_ALPHA_TENTHS:
        wm = dom.select(
            "lang", "source", "n_docs",
            F.expr(_mix_ha(_mix_pow(a))).alias("weight_micro"))
        tot = wm.agg(
            F.sum(F.expr("cast(weight_micro as decimal(38,0))"))
            .alias("s1"),
            F.sum(F.expr("cast(weight_micro as decimal(38,0))"
                         " * weight_micro")).alias("s2"))
        row = wm.crossJoin(F.broadcast(tot)).select(
            F.lit(a).alias("alpha_tenths"), "lang", "source", "n_docs",
            "weight_micro",
            F.expr("cast(cast(weight_micro as decimal(38,0)) * 1000000"
                   " div s1 as bigint)").alias("share_ppm"),
            F.expr(_mix_ha("CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
                           " * 1e3 / CAST(s2 AS DOUBLE)"))
            .alias("ess_milli"))
        out = row if out is None else out.unionByName(row)
    return out.orderBy("alpha_tenths", "lang", "source")


def _mixture_oracle() -> str:
    blocks = ["""dom AS (
    SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY 1, 2
)"""]
    selects = []
    for a in MIX_ALPHA_TENTHS:
        blocks.append(f"""wm{a} AS (
    SELECT lang, source, n_docs,
           {_mix_ha(_mix_pow(a))} AS weight_micro
    FROM dom
)""")
        blocks.append(f"""tot{a} AS (
    SELECT CAST(SUM(CAST(weight_micro AS HUGEINT)) AS HUGEINT) AS s1,
           CAST(SUM(CAST(weight_micro AS HUGEINT) * weight_micro)
                AS HUGEINT) AS s2
    FROM wm{a}
)""")
        selects.append(f"""
SELECT {a} AS alpha_tenths, lang, source, n_docs, weight_micro,
       CAST(CAST(weight_micro AS HUGEINT) * 1000000 // s1 AS BIGINT)
           AS share_ppm,
       {_mix_ha("CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * 1e3"
                " / CAST(s2 AS DOUBLE)")} AS ess_milli
FROM wm{a} CROSS JOIN tot{a}""")
    u = "\nUNION ALL\n".join(selects)
    return ("WITH " + ",\n".join(blocks)
            + f"\nSELECT * FROM (\n{u}\n)"
            " ORDER BY alpha_tenths, lang, source")


register("source_mixture_temperature", source_mixture_temperature,
         _mixture_oracle(),
         "tempered mixture weights + ESS per alpha (recipe chooser)")
