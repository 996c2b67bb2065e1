"""Deduplication operators over the ``documents`` table — the
training-data-pipeline surface (exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding nearest-duplicate).

Design for oracle-exactness AND 100 TB scale:

- Every hash is integer arithmetic both engines can compute bit-for-bit:
  ``token_hash = int(md5(token)[:7 hex], 16)`` (28 bits), minhash
  permutations ``(a*h + b) mod (2^31-1)`` — products stay < 2^63, no
  overflow on either engine.
- The Spark side is PURE Catalyst expressions (transform/aggregate/
  array_* higher-order functions) — no Python UDF in the hot path, so
  whole-stage codegen applies and the only shuffles are the LSH
  band-bucket join and final dedup.
- The synthetic corpus has no real duplicates, so each query AUGMENTS
  the table with deterministic copies (exact, or with every 7th word
  dropped) built identically in Spark and SQL — the pipeline then has
  true positives to find at every scale factor.
- LSH recall is probabilistic, so the minhash oracle replicates the
  SIGNATURE pipeline (not a brute-force scan): both sides compute the
  same candidates by construction; the brute-force ground truth is the
  separate blocked n-gram-Jaccard query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..broadcast_gate import maybe_broadcast
from ..functions import vecfold
from ..registry import register, oracle_sql_of
from ..sources import load_table

P = 2147483647  # 2^31 - 1

# A broadcast hint in this family is only ever a small-corpus fast path;
# the shared size gate (broadcast_gate.py) keeps it from becoming a
# pinned OOM at lake scale.
def _maybe_broadcast(df: DataFrame, sf_dir: str) -> DataFrame:
    return maybe_broadcast(df, sf_dir, "documents")
NUM_PERM, BANDS, ROWS_PER_BAND = 16, 4, 4
JACCARD_T = 0.4
MUT_OFFSET = 1_000_000
COPY_OFFSET = 2_000_000
SIMHASH_BITS = 28  # token hashes are 28-bit


def _perm_consts() -> list[tuple[int, int]]:
    """Deterministic (a, b) minhash permutation constants via an LCG."""
    consts, x = [], 12345
    for _ in range(NUM_PERM):
        x = (1103515245 * x + 12345) % (1 << 31)
        a = x | 1
        x = (1103515245 * x + 12345) % (1 << 31)
        consts.append((a, x))
    return consts


PERMS = _perm_consts()

# --- shared expression fragments (Spark SQL dialect / DuckDB dialect) ----
_SPARK_WORDS = "split(lower(text), ' ')"
_DUCK_WORDS = "string_split(lower(text), ' ')"

# drop every 7th word (deterministic near-duplicate mutation)
_SPARK_MUT = "filter({w}, (w, i) -> ((i + 1) % 7) != 0)"
_DUCK_MUT = ("list_transform(list_filter(range(1, len({w}) + 1),"
             " i -> i % 7 != 0), i -> {w}[i])")

# word bigram shingles (k=2; a 1-word doc yields its single word)
_SPARK_SHINGLES = ("transform(sequence(1, greatest(size({w}) - 1, 1)),"
                   " i -> concat_ws(' ', slice({w}, i, 2)))")
_DUCK_SHINGLES = ("list_transform(range(1, greatest(len({w}) - 1, 1) + 1),"
                  " i -> array_to_string(list_slice({w}, i, i + 1), ' '))")

# 28-bit md5-prefix token hash, distinct set
_SPARK_HASHES = ("array_distinct(transform({s},"
                 " t -> cast(conv(substring(md5(t), 1, 7), 16, 10) as bigint)))")
_DUCK_HASHES = ("list_distinct(list_transform({s},"
                " t -> CAST(('0x' || substr(md5(t), 1, 7)) AS BIGINT)))")


def _spark_docsets(spark: SparkSession, sf_dir: str, mutated: bool) -> DataFrame:
    """documents (+ mutated copies of every 3rd doc) with the distinct
    bigram-shingle hash set column ``dh``.

    The corpus parquet is a single small file (1-2 scan splits), which
    would serialize the CPU-heavy shingle/md5 expression work onto 1-2
    tasks — repartition first to one task per core so hashing uses the
    whole machine (at lake scale the scan has enough natural splits and
    this is a no-op knob)."""
    n = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text") \
        .repartition(n)
    base = docs.withColumn("words", F.expr(_SPARK_WORDS))
    if mutated:
        # one corpus scan: every 3rd doc explodes into (base, mutated)
        # row variants in place — a union of a second filtered scan
        # would read the corpus twice and double the map-task count of
        # everything downstream (the mutation reuses the already-split
        # words, so no expression work repeats either)
        variants = F.expr(
            f"CASE WHEN doc_id % 3 = 0 THEN array("
            f" named_struct('doc_id', doc_id, 'words', words),"
            f" named_struct('doc_id', doc_id + {MUT_OFFSET},"
            f"              'words', {_SPARK_MUT.format(w='words')}))"
            f" ELSE array(named_struct('doc_id', doc_id, 'words', words))"
            f" END")
        out = (base.select(F.explode(variants).alias("v"))
               .select("v.doc_id", "v.words"))
    else:
        out = base
    return (
        out.withColumn("sh", F.expr(_SPARK_SHINGLES.format(w="words")))
        .withColumn("dh", F.expr(_SPARK_HASHES.format(s="sh")))
        .select("doc_id", "dh")
    )


def _duck_docsets(mutated: bool) -> str:
    mut_block = f"""
    UNION ALL
    SELECT doc_id + {MUT_OFFSET} AS doc_id,
           {_DUCK_MUT.format(w=_DUCK_WORDS)} AS words
    FROM documents WHERE doc_id % 3 = 0""" if mutated else ""
    return f"""
docsets AS (
    SELECT doc_id, {_DUCK_HASHES.format(s=_DUCK_SHINGLES.format(w='words'))} AS dh
    FROM (
        SELECT doc_id, {_DUCK_WORDS} AS words FROM documents{mut_block}
    )
)"""


# ---------------------------------------------------------------- exact
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: one shuffle on md5(text), keep the
    min doc_id per group. Augmented with exact copies of every 5th doc
    so duplicate groups exist."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(COPY_OFFSET)
    )
    allr = docs.unionByName(copies)
    return (
        allr.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


register("dedup_exact", dedup_exact, f"""
WITH alldocs AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {COPY_OFFSET}, text FROM documents WHERE doc_id % 5 = 0
)
SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM alldocs GROUP BY md5(text)
""", "exact dedup via content hash")


# ---------------------------------------------------------------- minhash LSH
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16 perms) -> LSH(4 bands x 4 rows) -> band-bucket join ->
    exact-Jaccard confirmation. Candidate generation never compares all
    pairs: docs meet only inside equal band buckets (at 100 TB this is
    the standard shuffle-friendly near-dup join)."""
    ds = _spark_docsets(spark, sf_dir, mutated=True)
    mh_cols = [
        F.array_min(F.expr(f"transform(dh, h -> ({a} * h + {b}) % {P})")).alias(f"mh{i}")
        for i, (a, b) in enumerate(PERMS)
    ]
    sigs = ds.select("doc_id", "dh", *mh_cols)
    band_exprs = [
        F.concat_ws("_", *[F.col(f"mh{band * ROWS_PER_BAND + r}")
                           for r in range(ROWS_PER_BAND)]).alias(f"band{band}")
        for band in range(BANDS)
    ]
    sigs = sigs.select("doc_id", "dh", *band_exprs).cache()
    # candidate generation on (id, band key) only — the shingle-hash
    # arrays never ride through the pair-dedup shuffle. Band rows come
    # from ONE explode pass over the cached signatures: a 4-way union
    # would re-read the cache 4x and quadruple the map-task count of
    # every downstream stage (measured: the union plan ran 256-task
    # stages over a corpus that needs 64).
    band_structs = F.array(*[
        F.struct(F.lit(band).alias("band_idx"),
                 F.col(f"band{band}").alias("bkey"))
        for band in range(BANDS)
    ])
    buckets = (
        sigs.select("doc_id", F.explode(band_structs).alias("bb"))
        .select("doc_id", "bb.band_idx", "bb.bkey")
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    # small corpora broadcast (ids + band keys only) for plan
    # determinism; past the size gate the join shuffles on the band key,
    # which is the correct lake-scale candidate-generation plan
    pairs = (
        a.join(_maybe_broadcast(b, sf_dir),
               (F.col("a.band_idx") == F.col("b.band_idx"))
               & (F.col("a.bkey") == F.col("b.bkey"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    dha = sigs.select(F.col("doc_id").alias("doc_a"), F.col("dh").alias("dha"))
    dhb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("dh").alias("dhb"))
    pairs = pairs.join(_maybe_broadcast(dha, sf_dir), "doc_a") \
                 .join(_maybe_broadcast(dhb, sf_dir), "doc_b")
    inter = F.size(F.array_intersect("dha", "dhb"))
    union = F.size("dha") + F.size("dhb") - inter
    return (
        pairs.withColumn("jaccard", inter.cast("double") / union.cast("double"))
        .filter(F.col("jaccard") >= JACCARD_T)
        .select("doc_a", "doc_b", "jaccard")
    )


def _duck_minhash_ctes() -> str:
    """The minhash→banding→confirmed-pairs pipeline as composable CTE
    bodies (docsets, sigs, buckets, cand, lsh_pairs) — shared by the
    dedup_minhash_lsh oracle and the dedup_lsh_audit oracle."""
    mh = ",\n           ".join(
        f"list_min(list_transform(dh, h -> ({a} * h + {b}) % {P})) AS mh{i}"
        for i, (a, b) in enumerate(PERMS)
    )
    bands = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, dh, {band} AS band_idx, "
        + " || '_' || ".join(
            f"CAST(mh{band * ROWS_PER_BAND + r} AS VARCHAR)"
            for r in range(ROWS_PER_BAND))
        + " AS bkey FROM sigs"
        for band in range(BANDS)
    )
    return f"""{_duck_docsets(mutated=True).lstrip()},
sigs AS (
    SELECT doc_id, dh,
           {mh}
    FROM docsets
),
buckets AS (
{bands}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.dh AS dha, b.dh AS dhb
    FROM buckets a JOIN buckets b
      ON a.band_idx = b.band_idx AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
lsh_pairs AS (
    SELECT doc_a, doc_b,
           CAST(len(list_intersect(dha, dhb)) AS DOUBLE)
           / CAST(len(dha) + len(dhb) - len(list_intersect(dha, dhb))
                  AS DOUBLE) AS jaccard
    FROM cand
    WHERE CAST(len(list_intersect(dha, dhb)) AS DOUBLE)
          / CAST(len(dha) + len(dhb) - len(list_intersect(dha, dhb))
                 AS DOUBLE) >= {JACCARD_T}
)"""


def _minhash_oracle() -> str:
    return f"""
WITH {_duck_minhash_ctes()}
SELECT doc_a, doc_b, jaccard FROM lsh_pairs
"""


register("dedup_minhash_lsh", dedup_minhash_lsh, _minhash_oracle(),
         "minhash signatures -> LSH banding -> verified near-dup pairs")


# ---------------------------------------------------------------- ngram jaccard
# Blocking key for the exact-Jaccard pair join. (lang, source) alone is
# LOW cardinality: at 100 TB each block is a constant fraction of the
# corpus and the within-block self-join goes quadratic. Two
# content-derived components bound the blocks:
#   - len_band: floor(log2(|dh|)) — near-dups have near-equal shingle
#     counts, unrelated docs of very different length never meet;
#   - blk: the top NGRAM_PREFIX_BITS bits of the doc's SimHash — block
#     cardinality GROWS with corpus content diversity, so block size
#     stays roughly corpus-size-independent (asserted in
#     tests/test_query_invariants.py::test_ngram_block_sizes_bounded).
# Both are already computed in this module (simhash) and both dialects
# mirror them exactly, so the pair set stays oracle-checkable.
NGRAM_PREFIX_BITS = 8


def _spark_simhash_terms(col: str = "dh") -> str:
    return " + ".join(
        f"(CASE WHEN 2 * size(filter({col}, h -> ((h >> {j}) & 1) = 1))"
        f" > size({col}) THEN cast({1 << j} as bigint) ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )


def _duck_simhash_terms(col: str = "dh") -> str:
    return " + ".join(
        f"(CASE WHEN 2 * len(list_filter({col}, h -> ((h >> {j}) & 1) = 1))"
        f" > len({col}) THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked exact n-gram Jaccard: compare pairs that share the
    bounded-cardinality blocking key (lang, source, len_band, simhash
    prefix — see NGRAM_PREFIX_BITS above). The ground-truth companion
    to the LSH query: within a block the Jaccard is exact."""
    ds = _spark_docsets(spark, sf_dir, mutated=True)
    meta = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    meta = meta.unionByName(
        meta.filter(F.col("doc_id") % 3 == 0)
        .withColumn("doc_id", F.col("doc_id") + F.lit(MUT_OFFSET))
    )
    # cache: re-measured for the r3 blocking key — the 28 simhash CASE
    # terms doubled the per-side expression cost, flipping round 2's
    # cache-loses result (now 2.8s uncached vs 1.0s cached warm at
    # sf0.1; r2's bare key measured 4.9 vs 7.1 the other way). The
    # broadcast hint stays size-gated: small corpora pin it for plan
    # determinism; past the gate the join shuffles on the full block
    # key.
    ds = (
        ds.join(meta, "doc_id")
        .withColumn("len_band",
                    F.expr("cast(floor(log2(size(dh))) as bigint)"))
        .withColumn("blk", F.expr(
            f"({_spark_simhash_terms('dh')})"
            f" >> {SIMHASH_BITS - NGRAM_PREFIX_BITS}"))
        .cache()
    )
    a, b = ds.alias("a"), ds.alias("b")
    pairs = a.join(
        _maybe_broadcast(b, sf_dir),
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.source") == F.col("b.source"))
        & (F.col("a.len_band") == F.col("b.len_band"))
        & (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    inter = F.size(F.array_intersect(F.col("a.dh"), F.col("b.dh")))
    union = F.size(F.col("a.dh")) + F.size(F.col("b.dh")) - inter
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_T)
    )


register("dedup_ngram_jaccard", dedup_ngram_jaccard, f"""
WITH {_duck_docsets(mutated=True).lstrip()},
meta AS (
    SELECT doc_id, lang, source FROM documents
    UNION ALL
    SELECT doc_id + {MUT_OFFSET}, lang, source FROM documents WHERE doc_id % 3 = 0
),
ds AS (
    SELECT d.doc_id, d.dh, m.lang, m.source,
           CAST(floor(log2(len(d.dh))) AS BIGINT) AS len_band,
           ({_duck_simhash_terms('d.dh')})
               >> {SIMHASH_BITS - NGRAM_PREFIX_BITS} AS blk
    FROM docsets d JOIN meta m USING (doc_id)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(len(list_intersect(a.dh, b.dh)) AS DOUBLE)
       / CAST(len(a.dh) + len(b.dh) - len(list_intersect(a.dh, b.dh)) AS DOUBLE)
           AS jaccard
FROM ds a JOIN ds b
  ON a.lang = b.lang AND a.source = b.source
 AND a.len_band = b.len_band AND a.blk = b.blk AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.dh, b.dh)) AS DOUBLE)
      / CAST(len(a.dh) + len(b.dh) - len(list_intersect(a.dh, b.dh)) AS DOUBLE)
      >= {JACCARD_T}
""", "blocked exact n-gram jaccard near-dup pairs")


# ---------------------------------------------------------------- simhash
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc SimHash fingerprint: bit j of the fingerprint is the
    majority vote of bit j across the doc's (distinct) token hashes.
    Emitted with a 14-bit bucket prefix — the blocking key under which
    hamming-near fingerprints collide."""
    ds = _spark_docsets(spark, sf_dir, mutated=False)
    return ds.select(
        "doc_id",
        F.expr(_spark_simhash_terms("dh")).alias("simhash"),
    ).withColumn("bucket", F.expr(f"simhash >> {SIMHASH_BITS // 2}"))


def _simhash_oracle() -> str:
    bit_terms = _duck_simhash_terms("dh")
    return f"""
WITH {_duck_docsets(mutated=False).lstrip()}
SELECT doc_id, {bit_terms} AS simhash,
       ({bit_terms}) >> {SIMHASH_BITS // 2} AS bucket
FROM docsets
"""


register("dedup_simhash", dedup_simhash, _simhash_oracle(),
         "simhash fingerprint + blocking bucket per doc")


# ---------------------------------------------------------------- embedding near-dup
NB_QUERY_MAX = 1024  # absolute cap on the exact-baseline query panel


def embedding_neardup_frame(emb: DataFrame, cap: int = NB_QUERY_MAX) -> DataFrame:
    """Exact top-1 cosine neighbor for a size-BOUNDED deterministic query
    panel, against the FULL corpus. The exact baseline exists to audit
    the LSH twin's recall, and a recall estimate only needs a bounded
    panel of query points — so the QUERY side is capped at ~`cap` rows
    by hash membership (md5-prefix mod, the contrastive_negatives
    engine-portable trick; in-plan via a broadcast 1-row count, no
    driver round-trip, no RNG state) while the CANDIDATE side stays the
    whole corpus. Pair space is cap x n — linear in the corpus like
    ann_cosine_topk, never quadratic. Below the cap the panel is the
    full corpus, so small-SF results are unchanged from the unbounded
    form (tests pin the unbounded twin against this one)."""
    n = emb.agg(F.count(F.lit(1)).alias("n_vec"))
    panel = (
        emb.crossJoin(F.broadcast(n))
        .filter(F.pmod(
            F.expr("cast(conv(substring(md5(cast(vec_id as string)), 1, 7),"
                   " 16, 10) as bigint)"),
            F.greatest(F.lit(1), F.expr(f"n_vec div {cap}"))) == 0)
        .select("vec_id", "v", "norm")
    )
    # The PANEL must be the broadcast/build side — explicitly. Without
    # the hint Spark picks the side with the smaller size ESTIMATE,
    # and the hash-membership filter's selectivity is invisible to the
    # estimator, so it chose the full corpus at sf0.01 (caught by the
    # r7 mechanized BNLJ sweep): a corpus-sized broadcast at 100 TB.
    # The cap bounds the true panel size, so the hint is always safe.
    from .similarity import DIM

    a, b = panel.alias("a"), emb.alias("b")
    # unrolled codegen dot — bit-identical to the zip_with fold it
    # replaces (vecfold module docstring has the op-order argument);
    # the unroll width follows the shared embedding DIM (ADVICE r15:
    # a hard-coded 64 would silently truncate if DIM ever moved)
    dot = F.expr(vecfold.dot("a.v", "b.v", DIM))
    pairs = (
        F.broadcast(a).join(b, F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            (dot / (F.col("a.norm") * F.col("b.norm"))).alias("cos"),
        )
    )
    # top-1 per query via a PARTIAL-AGGREGATING max over
    # struct(cos, -neighbor_id) instead of row_number over a window:
    # lexicographic struct max picks max cos, then (via the negated id)
    # the SMALLEST neighbor_id among exact ties — precisely the window's
    # (cos DESC, neighbor_id ASC) first row, including NaN placement
    # (Spark's total order ranks NaN greatest in both sort and max).
    # The agg map-side-combines cap-many rows per task, so the cap x n
    # pair stream is never sorted or shuffled (guide §2.3 "aggregate
    # before you shuffle"); plan: Sort+Window -> HashAggregate.
    return (
        pairs.groupBy("vec_id")
        .agg(F.max(F.struct(F.col("cos"),
                            (-F.col("neighbor_id")).alias("neg_id")))
             .alias("top"))
        .select("vec_id", (-F.col("top.neg_id")).alias("neighbor_id"),
                F.round("top.cos", 6).alias("cos"))
    )


def dedup_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-cosine nearest-duplicate baseline over a deterministic
    bounded query panel (see embedding_neardup_frame): top-1 neighbor
    via JVM-side zip_with dot products. At real scale candidate
    generation is the LSH twin (dedup_embedding_lsh); this baseline's
    job is recall auditing, which a capped panel serves at any corpus
    size. Reuses the similarity module's embedding loader — one numeric
    pipeline to keep correct."""
    from .similarity import _emb

    return embedding_neardup_frame(_emb(spark, sf_dir).cache())


register("dedup_embedding_neardup", dedup_embedding_neardup, f"""
WITH norms AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
), n AS (
    SELECT COUNT(*) AS n_vec FROM norms
), panel AS (
    SELECT vec_id, v FROM norms, n
    WHERE CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 7)) AS BIGINT)
          % GREATEST(1, n_vec // {NB_QUERY_MAX}) = 0
), pairs AS (
    SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
           list_dot_product(a.v, b.v)
           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
               AS cos
    FROM panel a JOIN norms b ON a.vec_id <> b.vec_id
), ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cos DESC, neighbor_id) AS rn
    FROM pairs
)
SELECT vec_id, neighbor_id, ROUND(cos, 6) AS cos
FROM ranked WHERE rn = 1
""", "top-1 cosine neighbor, bounded query panel vs full corpus")


# ---------------------------------------------------------------- clusters
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER formation: connected components over the
    verified minhash-LSH pairs (operators/graph.py min-label
    propagation; each round's convergence test is one exact label-sum
    scalar observed on its checkpoint — the corpus stays distributed).
    cluster_id = smallest doc_id in the component; n_members sizes
    each cluster so a downstream keep-one-representative filter is a
    plain predicate.
    Oracle: recursive-CTE transitive closure over the same pair SQL."""
    from pyspark.sql import Window

    from ..operators.graph import connected_components

    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs, "doc_a", "doc_b")
    return (
        comp.select(F.col("node").alias("doc_id"),
                    F.col("component").alias("cluster_id"))
        .withColumn("n_members",
                    F.count(F.lit(1)).over(Window.partitionBy("cluster_id")))
    )


def _clusters_oracle() -> str:
    return f"""
WITH RECURSIVE pairs AS (
    SELECT doc_a, doc_b FROM ({_minhash_oracle()})
), nodes AS (
    SELECT doc_a AS node FROM pairs
    UNION
    SELECT doc_b FROM pairs
), edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
), reach(node, lbl) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
), comp AS (
    SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node
)
SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members
FROM comp
"""


register("dedup_clusters", dedup_clusters, _clusters_oracle(),
         "connected-component near-dup clusters over LSH pairs")


# ---------------------------------------------------------------- survivors
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end dedup ARTIFACT: the augmented corpus minus every
    non-representative near-dup cluster member (keep the min doc_id per
    cluster), summarized per language of the base document. Chains
    cluster formation (connected components) -> anti-join -> aggregate;
    at lake scale each step is a key-partitioned shuffle, and the
    removal set rides as (doc_id) only."""
    remove = (
        dedup_clusters(spark, sf_dir)
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") % 3 == 0)
        .withColumn("doc_id", F.col("doc_id") + F.lit(MUT_OFFSET))
    )
    kept = corpus.join(remove, "doc_id", "left_anti")
    # left join + coalesce: a language whose every doc was removed still
    # gets a row (n_kept=0), matching the oracle's GROUP BY over the
    # full corpus
    return (
        corpus.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
        .join(kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept")),
              "lang", "left")
        .withColumn("n_kept", F.coalesce(F.col("n_kept"), F.lit(0)))
        .withColumn("n_removed", F.col("n_total") - F.col("n_kept"))
        .orderBy("lang")
    )


def _survivors_oracle() -> str:
    return f"""
WITH RECURSIVE pairs AS (
    SELECT doc_a, doc_b FROM ({_minhash_oracle()})
), nodes AS (
    SELECT doc_a AS node FROM pairs UNION SELECT doc_b FROM pairs
), edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION SELECT doc_b, doc_a FROM pairs
), reach(node, lbl) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
), removed AS (
    SELECT node AS doc_id FROM reach GROUP BY node
    HAVING node <> MIN(lbl)
), corpus AS (
    SELECT doc_id, lang FROM documents
    UNION ALL
    SELECT doc_id + {MUT_OFFSET}, lang FROM documents WHERE doc_id % 3 = 0
)
SELECT lang, COUNT(*) AS n_total,
       CAST(COUNT(*) FILTER (WHERE doc_id NOT IN (SELECT doc_id FROM removed))
            AS BIGINT) AS n_kept,
       CAST(COUNT(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM removed))
            AS BIGINT) AS n_removed
FROM corpus
GROUP BY lang
ORDER BY lang
"""


register("dedup_survivors", dedup_survivors, _survivors_oracle(),
         "corpus minus non-representative cluster members, per language")


# ---------------------------------------------------------------- embedding LSH
# Scale path for embedding near-dup (the brute-force
# dedup_embedding_neardup above is the labeled exact baseline): vectors
# meet only inside equal random-hyperplane buckets, so the pair space
# is bucket-local instead of corpus^2. Reuses the similarity module's
# deterministic +/-1 hyperplanes so the DuckDB oracle computes the
# identical signatures (LSH recall is probabilistic, so — like the
# minhash family — the oracle replicates the SIGNATURE pipeline rather
# than a brute-force scan: both sides derive the same candidates by
# construction).
#
# The natural corpus has no near-dups (max pairwise cosine ~0.51), so
# the query augments it with deterministic duplicates built identically
# in both dialects: exact copies (uniform x1.5 scaling — cosine exactly
# 1) of every 5th vector and jittered copies (x*0.9 + 0.02 — cosine
# ~0.984 against the unit-norm base) of every 7th.
EMB_COPY_OFFSET = 3_000_000
EMB_JIT_OFFSET = 4_000_000
COS_T = 0.95


def _spark_emb_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import _emb

    base = _emb(spark, sf_dir).select("vec_id", "v")
    copies = base.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + F.lit(EMB_COPY_OFFSET)).alias("vec_id"),
        F.expr("transform(v, x -> x * cast(1.5 as double))").alias("v"),
    )
    jit = base.filter(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + F.lit(EMB_JIT_OFFSET)).alias("vec_id"),
        F.expr("transform(v, x -> x * cast(0.9 as double)"
               " + cast(0.02 as double))").alias("v"),
    )
    return base.unionByName(copies).unionByName(jit).withColumn(
        "norm",
        # row-scale: the fold stays (vecfold.fold_dot docstring)
        F.expr(f"sqrt({vecfold.fold_self_dot('v')})"),
    )


def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate embedding PAIRS (cosine >= COS_T) via multi-table
    hyperplane LSH: 3 independent 4-bit signatures; candidate pairs are
    same-bucket-in-some-table only, deduped as (id, id) before the
    vectors are re-fetched through a size-gated broadcast. One
    bucket-key shuffle + one id join — no corpus^2 stage anywhere."""
    from .similarity import BITS_PER_TABLE, N_TABLES, _planes

    emb = _spark_emb_aug(spark, sf_dir)
    planes = _planes()
    for t in range(N_TABLES):
        terms = []
        for r in range(BITS_PER_TABLE):
            plane = planes[t * BITS_PER_TABLE + r]
            proj = vecfold.fold_dot_const("v", plane)
            terms.append(f"(CASE WHEN {proj} > 0 THEN {1 << r} ELSE 0 END)")
        emb = emb.withColumn(f"bucket{t}", F.expr(" + ".join(terms)).cast("bigint"))
    emb = emb.cache()
    tables = None
    for t in range(N_TABLES):
        part = emb.select("vec_id", F.lit(t).alias("tbl"),
                          F.col(f"bucket{t}").alias("bucket"))
        tables = part if tables is None else tables.unionByName(part)
    a, b = tables.alias("a"), tables.alias("b")
    cand = (
        a.join(b, (F.col("a.tbl") == F.col("b.tbl"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(F.col("a.vec_id").alias("vec_id"),
                F.col("b.vec_id").alias("neighbor_id"))
        .dropDuplicates(["vec_id", "neighbor_id"])
    )
    va = emb.select(F.col("vec_id").alias("vec_id"), F.col("v").alias("va"),
                    F.col("norm").alias("na"))
    vb = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("vb"),
                    F.col("norm").alias("nb"))
    cand = cand.join(maybe_broadcast(va, sf_dir, "embeddings"), "vec_id") \
               .join(maybe_broadcast(vb, sf_dir, "embeddings"), "neighbor_id")
    # candidate volume here is bucket-local (measured regression with
    # the unroll — vecfold.fold_dot docstring): the fold stays
    dot = F.expr(vecfold.fold_dot("va", "vb"))
    return (
        cand.select("vec_id", "neighbor_id",
                    (dot / (F.col("na") * F.col("nb"))).alias("cos"))
        .filter(F.col("cos") >= COS_T)
        .select("vec_id", "neighbor_id", F.round("cos", 6).alias("cos"))
    )


def _emb_lsh_oracle() -> str:
    from .similarity import BITS_PER_TABLE, N_TABLES, _planes

    planes = _planes()
    buckets = []
    for t in range(N_TABLES):
        terms = []
        for r in range(BITS_PER_TABLE):
            plane = planes[t * BITS_PER_TABLE + r]
            arr = "[" + ", ".join(f"CAST({s} AS DOUBLE)" for s in plane) + "]"
            terms.append(f"(CASE WHEN list_dot_product(v, {arr}) > 0"
                         f" THEN {1 << r} ELSE 0 END)")
        buckets.append(" + ".join(terms))
    bucket_union = "\n    UNION ALL\n".join(
        f"    SELECT vec_id, {t} AS tbl, b{t} AS bucket FROM sigs"
        for t in range(N_TABLES)
    )
    return f"""
WITH base AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
), aug AS (
    SELECT vec_id, v FROM base
    UNION ALL
    SELECT vec_id + {EMB_COPY_OFFSET}, list_transform(v, x -> x * 1.5)
    FROM base WHERE vec_id % 5 = 0
    UNION ALL
    SELECT vec_id + {EMB_JIT_OFFSET}, list_transform(v, x -> x * 0.9 + 0.02)
    FROM base WHERE vec_id % 7 = 0
), sigs AS (
    SELECT vec_id, v,
           {buckets[0]} AS b0,
           {buckets[1]} AS b1,
           {buckets[2]} AS b2
    FROM aug
), buckets AS (
{bucket_union}
), cand AS (
    SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS neighbor_id
    FROM buckets a JOIN buckets b
      ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
), scored AS (
    SELECT c.vec_id, c.neighbor_id,
           list_dot_product(x.v, y.v)
           / (sqrt(list_dot_product(x.v, x.v))
              * sqrt(list_dot_product(y.v, y.v))) AS cos
    FROM cand c
    JOIN sigs x ON c.vec_id = x.vec_id
    JOIN sigs y ON c.neighbor_id = y.vec_id
)
SELECT vec_id, neighbor_id, ROUND(cos, 6) AS cos
FROM scored WHERE cos >= {COS_T}
"""


register("dedup_embedding_lsh", dedup_embedding_lsh, _emb_lsh_oracle(),
         "bucketed near-dup embedding pairs (hyperplane LSH + cosine confirm)")


# ---------------------------------------------------------- containment
TRUNC_OFFSET = 3_000_000
CONTAIN_T = 0.6
ANCHOR_K = 4          # bottom-k shingle hashes used as candidate anchors
MAX_ANCHOR_DOCS = 32  # stop-shingle cut: anchors hotter than this drop


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection — containment |A∩B|/|A| finds a
    short document quoted/embedded inside a longer one, which Jaccard
    misses (a half-length excerpt of a 100-shingle doc has J≈0.5 but
    containment 1.0). Candidate generation is bottom-k sketch anchoring:
    docs meet only when they share one of each other's ANCHOR_K smallest
    shingle hashes (if A ⊆ B, B's minimum shingle lands in A with
    probability |A|/|B| per anchor — the standard containment-LSH
    argument), and anchors shared by more than MAX_ANCHOR_DOCS docs are
    dropped entirely (the stop-shingle cut that bounds every bucket at
    scale; the oracle replicates the same cut, so both engines see the
    identical candidate set by construction). Every 4th doc is augmented
    with its first-half truncation so true containments exist at every
    scale factor. Pair sets are re-fetched by doc_id join after the
    bounded candidate stage — the LSH-family shape."""
    n = spark.sparkContext.defaultParallelism
    docs = (load_table(spark, sf_dir, "documents").select("doc_id", "text")
            .repartition(n))
    base = docs.withColumn("words", F.expr(_SPARK_WORDS))
    variants = F.expr(
        f"CASE WHEN doc_id % 4 = 0 THEN array("
        f" named_struct('doc_id', doc_id, 'words', words),"
        f" named_struct('doc_id', doc_id + {TRUNC_OFFSET}, 'words',"
        f"   slice(words, 1, greatest(size(words) div 2, 1))))"
        f" ELSE array(named_struct('doc_id', doc_id, 'words', words)) END")
    ds = (base.select(F.explode(variants).alias("v"))
          .select("v.doc_id", "v.words")
          .withColumn("sh", F.expr(_SPARK_SHINGLES.format(w="words")))
          .withColumn("dh", F.expr(_SPARK_HASHES.format(s="sh")))
          .select("doc_id", "dh", F.size("dh").alias("nh"))
          .cache())
    anchors = ds.select(
        "doc_id", "nh",
        F.explode(F.expr(f"slice(array_sort(dh), 1, {ANCHOR_K})")).alias("ah"))
    keep = (anchors.groupBy("ah").agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") <= MAX_ANCHOR_DOCS).select("ah"))
    anchors = anchors.join(keep, "ah")
    a, b = anchors.alias("a"), anchors.alias("b")
    cand = (a.join(b, (F.col("a.ah") == F.col("b.ah"))
                   & ((F.col("a.nh") < F.col("b.nh"))
                      | ((F.col("a.nh") == F.col("b.nh"))
                         & (F.col("a.doc_id") < F.col("b.doc_id")))))
            .select(F.col("a.doc_id").alias("doc_small"),
                    F.col("b.doc_id").alias("doc_big"))
            .distinct())
    sa = ds.select(F.col("doc_id").alias("doc_small"),
                   F.col("dh").alias("dh_a"))
    sb = ds.select(F.col("doc_id").alias("doc_big"),
                   F.col("dh").alias("dh_b"))
    scored = (cand.join(sa, "doc_small").join(sb, "doc_big")
              .select("doc_small", "doc_big",
                      (F.size(F.array_intersect("dh_a", "dh_b"))
                       .cast("double") / F.size("dh_a").cast("double"))
                      .alias("containment")))
    return (scored.filter(F.col("containment") >= CONTAIN_T)
            .select("doc_small", "doc_big",
                    F.round("containment", 6).alias("containment")))


register("dedup_containment", dedup_containment, f"""
WITH ds AS (
    SELECT doc_id,
           {_DUCK_HASHES.format(s=_DUCK_SHINGLES.format(w='words'))} AS dh
    FROM (
        SELECT doc_id, {_DUCK_WORDS} AS words FROM documents
        UNION ALL
        SELECT doc_id + {TRUNC_OFFSET},
               list_slice(w, 1, greatest(len(w) // 2, 1))
        FROM (SELECT doc_id, {_DUCK_WORDS} AS w FROM documents)
        WHERE doc_id % 4 = 0
    )
), dss AS (
    SELECT doc_id, dh, len(dh) AS nh FROM ds
), anchors0 AS (
    SELECT doc_id, nh, UNNEST(list_slice(list_sort(dh), 1, {ANCHOR_K})) AS ah
    FROM dss
), keep AS (
    SELECT ah FROM anchors0 GROUP BY ah HAVING COUNT(*) <= {MAX_ANCHOR_DOCS}
), anchors AS (
    SELECT a.* FROM anchors0 a JOIN keep USING (ah)
), cand AS (
    SELECT DISTINCT a.doc_id AS doc_small, b.doc_id AS doc_big
    FROM anchors a JOIN anchors b
      ON a.ah = b.ah
     AND (a.nh < b.nh OR (a.nh = b.nh AND a.doc_id < b.doc_id))
), scored AS (
    SELECT c.doc_small, c.doc_big,
           CAST(len(list_intersect(x.dh, y.dh)) AS DOUBLE)
           / CAST(len(x.dh) AS DOUBLE) AS containment
    FROM cand c
    JOIN dss x ON c.doc_small = x.doc_id
    JOIN dss y ON c.doc_big = y.doc_id
)
SELECT doc_small, doc_big, ROUND(containment, 6) AS containment
FROM scored WHERE containment >= {CONTAIN_T}
""", "bottom-k-anchored asymmetric containment (quote/excerpt detection)")


# ------------------------------------------------------------ LSH audit
def dedup_lsh_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tuning audit for the probabilistic dedup path: the LSH-confirmed
    pair set against the blocked-exact-Jaccard ground truth, as ONE
    integer-exact summary row (pair counts, overlap, recall in ppm).
    This is the operator that answers "are 4 bands x 4 rows enough at
    this Jaccard threshold?" — run it on a sample before committing a
    corpus-wide dedup configuration. Composes the two registered
    pipelines unchanged (each self-contained, the pipelines.py
    discipline); the full-outer join runs on the two PAIR sets
    (near-dup-sized, orders below corpus-sized)."""
    lsh = dedup_minhash_lsh(spark, sf_dir) \
        .select("doc_a", "doc_b", F.lit(1).alias("in_lsh"))
    truth = dedup_ngram_jaccard(spark, sf_dir) \
        .select("doc_a", "doc_b", F.lit(1).alias("in_truth"))
    j = lsh.join(truth, ["doc_a", "doc_b"], "full_outer")
    return j.agg(
        F.sum(F.coalesce(F.col("in_lsh"), F.lit(0))).alias("n_lsh"),
        F.sum(F.coalesce(F.col("in_truth"), F.lit(0))).alias("n_truth"),
        F.sum(F.coalesce(F.col("in_lsh"), F.lit(0))
              * F.coalesce(F.col("in_truth"), F.lit(0))).alias("n_both"),
    ).select(
        "n_lsh", "n_truth", "n_both",
        F.expr("n_both * 1000000 div n_truth").alias("recall_ppm"),
        (F.col("n_lsh") - F.col("n_both")).alias("lsh_only_pairs"),
        (F.col("n_truth") - F.col("n_both")).alias("truth_only_pairs"),
    )


register("dedup_lsh_audit", dedup_lsh_audit, f"""
WITH {_duck_minhash_ctes()},
meta AS (
    SELECT doc_id, lang, source FROM documents
    UNION ALL
    SELECT doc_id + {MUT_OFFSET}, lang, source FROM documents
    WHERE doc_id % 3 = 0
),
dsb AS (
    SELECT d.doc_id, d.dh, m.lang, m.source,
           CAST(floor(log2(len(d.dh))) AS BIGINT) AS len_band,
           ({_duck_simhash_terms('d.dh')})
               >> {SIMHASH_BITS - NGRAM_PREFIX_BITS} AS blk
    FROM docsets d JOIN meta m USING (doc_id)
),
truth_pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM dsb a JOIN dsb b
      ON a.lang = b.lang AND a.source = b.source
     AND a.len_band = b.len_band AND a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.dh, b.dh)) AS DOUBLE)
          / CAST(len(a.dh) + len(b.dh) - len(list_intersect(a.dh, b.dh))
                 AS DOUBLE) >= {JACCARD_T}
),
j AS (
    SELECT COALESCE(l.flag, 0) AS in_lsh, COALESCE(t.flag, 0) AS in_truth
    FROM (SELECT doc_a, doc_b, 1 AS flag FROM lsh_pairs) l
    FULL OUTER JOIN (SELECT doc_a, doc_b, 1 AS flag FROM truth_pairs) t
    USING (doc_a, doc_b)
)
SELECT CAST(SUM(in_lsh) AS BIGINT) AS n_lsh,
       CAST(SUM(in_truth) AS BIGINT) AS n_truth,
       CAST(SUM(in_lsh * in_truth) AS BIGINT) AS n_both,
       CAST(SUM(in_lsh * in_truth) * 1000000 // SUM(in_truth) AS BIGINT)
           AS recall_ppm,
       CAST(SUM(in_lsh) - SUM(in_lsh * in_truth) AS BIGINT)
           AS lsh_only_pairs,
       CAST(SUM(in_truth) - SUM(in_lsh * in_truth) AS BIGINT)
           AS truth_only_pairs
FROM j
""", "LSH-vs-exact-Jaccard recall/overlap audit (integer-exact ppm)")


# ---------------------------------------------------------------- dup-rate gauge
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation-dashboard gauge downstream of exact dedup: per
    source, how much of the snapshot is redundant. Same augmented
    corpus as dedup_exact (every 5th doc duplicated, copies keep their
    source); one shuffle on (source, content hash) then a source-
    dimension aggregate — n_docs, n_unique, dup_ppm. At the lake this
    is the per-partition dedup-rate monitor that decides which sources
    re-enter the MinHash pipeline."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text")
    copies = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(COPY_OFFSET))
    allr = docs.unionByName(copies)
    hashed = allr.select("source", F.md5("text").alias("h"))
    per_hash = hashed.groupBy("source", "h").agg(
        F.count(F.lit(1)).alias("n"))
    return (per_hash.groupBy("source")
            .agg(F.sum("n").alias("n_docs"),
                 F.count(F.lit(1)).alias("n_unique"))
            .select("source", "n_docs", "n_unique",
                    F.expr("(n_docs - n_unique) * 1000000 div n_docs")
                    .alias("dup_ppm"))
            .orderBy("source"))


register("dedup_rate_by_source", dedup_rate_by_source, f"""
WITH allr AS (
    SELECT doc_id, source, text FROM documents
    UNION ALL
    SELECT doc_id + {COPY_OFFSET}, source, text FROM documents
    WHERE doc_id % 5 = 0
), per_hash AS (
    SELECT source, md5(text) AS h, COUNT(*) AS n FROM allr GROUP BY 1, 2
)
SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs,
       COUNT(*) AS n_unique,
       CAST((SUM(n) - COUNT(*)) * 1000000 // SUM(n) AS BIGINT) AS dup_ppm
FROM per_hash GROUP BY source ORDER BY source
""", "exact-duplicate rate per source (curation dashboard gauge)")


# ---------------------------------------------------------------- calibration
def minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit: on the LSH candidate pairs (BEFORE the
    Jaccard threshold — the full calibration curve needs the rejected
    tail too), compare the 16-permutation minhash ESTIMATE of Jaccard
    (matching components / 16) against the exact shingle Jaccard, and
    report the calibration per estimator bucket: n_pairs, mean true
    Jaccard, mean absolute error — all integer ppm (sums of exact
    integers, one div per aggregate). Self-contained recomputation of
    the signature pipeline (the dedup_survivors convention); candidate
    generation stays band-bucketed, so the audit costs what the dedup
    run costs, never all-pairs. This is the measurement that justifies
    NUM_PERM=16: more permutations buy error ~1/sqrt(n_perm)."""
    ds = _spark_docsets(spark, sf_dir, mutated=True)
    mh_cols = [
        F.array_min(F.expr(
            f"transform(dh, h -> ({a} * h + {b}) % {P})")).alias(f"mh{i}")
        for i, (a, b) in enumerate(PERMS)
    ]
    sigs = ds.select("doc_id", "dh", *mh_cols)
    band_exprs = [
        F.concat_ws("_", *[F.col(f"mh{band * ROWS_PER_BAND + r}")
                           for r in range(ROWS_PER_BAND)]).alias(f"band{band}")
        for band in range(BANDS)
    ]
    sigs = sigs.select("doc_id", "dh",
                       *[F.col(f"mh{i}") for i in range(NUM_PERM)],
                       *band_exprs).cache()
    band_structs = F.array(*[
        F.struct(F.lit(band).alias("band_idx"),
                 F.col(f"band{band}").alias("bkey"))
        for band in range(BANDS)
    ])
    buckets = (
        sigs.select("doc_id", F.explode(band_structs).alias("bb"))
        .select("doc_id", "bb.band_idx", "bb.bkey")
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    pairs = (
        a.join(_maybe_broadcast(b, sf_dir),
               (F.col("a.band_idx") == F.col("b.band_idx"))
               & (F.col("a.bkey") == F.col("b.bkey"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sa = sigs.select(F.col("doc_id").alias("doc_a"),
                     F.col("dh").alias("dha"),
                     *[F.col(f"mh{i}").alias(f"ma{i}")
                       for i in range(NUM_PERM)])
    sb = sigs.select(F.col("doc_id").alias("doc_b"),
                     F.col("dh").alias("dhb"),
                     *[F.col(f"mh{i}").alias(f"mb{i}")
                       for i in range(NUM_PERM)])
    joined = pairs.join(_maybe_broadcast(sa, sf_dir), "doc_a") \
                  .join(_maybe_broadcast(sb, sf_dir), "doc_b")
    matches = sum(
        (F.col(f"ma{i}") == F.col(f"mb{i}")).cast("long")
        for i in range(NUM_PERM))
    inter = F.size(F.array_intersect("dha", "dhb")).cast("long")
    union = (F.size("dha") + F.size("dhb")).cast("long") - inter
    scored = joined.select(
        matches.alias("est_matches"),
        inter.alias("inter"), union.alias("uni"))
    est_ppm = F.expr(f"est_matches * 1000000 div {NUM_PERM}")
    return (scored
            .select("est_matches",
                    F.expr("inter * 1000000 div uni").alias("true_ppm"),
                    est_ppm.alias("est_ppm"))
            .groupBy("est_matches", "est_ppm")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.expr("sum(true_ppm) div count(1)").alias("mean_true_ppm"),
                 F.expr("sum(abs(est_ppm - true_ppm)) div count(1)")
                 .alias("mean_abs_err_ppm"))
            .orderBy("est_matches"))


def _calibration_oracle() -> str:
    match_terms = " + ".join(
        f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END"
        for i in range(NUM_PERM))
    return f"""
WITH {_duck_minhash_ctes()},
scored AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ({match_terms}) AS est_matches,
           CAST(len(list_intersect(a.dh, b.dh)) * 1000000
                // (len(a.dh) + len(b.dh) - len(list_intersect(a.dh, b.dh)))
                AS BIGINT) AS true_ppm
    FROM (SELECT DISTINCT s.doc_id, s.dh, s.mh0, s.mh1, s.mh2, s.mh3,
                 s.mh4, s.mh5, s.mh6, s.mh7, s.mh8, s.mh9, s.mh10,
                 s.mh11, s.mh12, s.mh13, s.mh14, s.mh15
          FROM sigs s) a
    JOIN (SELECT DISTINCT s.doc_id, s.dh, s.mh0, s.mh1, s.mh2, s.mh3,
                 s.mh4, s.mh5, s.mh6, s.mh7, s.mh8, s.mh9, s.mh10,
                 s.mh11, s.mh12, s.mh13, s.mh14, s.mh15
          FROM sigs s) b
      ON a.doc_id < b.doc_id
    WHERE EXISTS (SELECT 1 FROM buckets x JOIN buckets y
                  ON x.band_idx = y.band_idx AND x.bkey = y.bkey
                  WHERE x.doc_id = a.doc_id AND y.doc_id = b.doc_id)
)
SELECT est_matches,
       CAST(est_matches * 1000000 // {NUM_PERM} AS BIGINT) AS est_ppm,
       COUNT(*) AS n_pairs,
       CAST(SUM(true_ppm) // COUNT(*) AS BIGINT) AS mean_true_ppm,
       CAST(SUM(ABS(est_matches * 1000000 // {NUM_PERM} - true_ppm))
            // COUNT(*) AS BIGINT) AS mean_abs_err_ppm
FROM scored GROUP BY est_matches ORDER BY est_matches
"""


register("minhash_calibration", minhash_calibration, _calibration_oracle(),
         "minhash-estimate vs true Jaccard calibration per sketch bucket")


# -------------------------------------------------- threshold sweep
SWEEP_T_PPM = (400_000, 500_000, 600_000, 700_000, 800_000, 900_000)


def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup yield curve: how many near-dup pairs — and how many
    distinct documents — a Jaccard threshold removes, swept over six
    candidate thresholds in ONE pass. The curve is what a curation
    review actually looks at before committing to a cutoff
    (too low = over-merging distinct docs, too high = residual
    near-dups), and computing it per-threshold would re-run the pair
    join six times. Pairs come from the same bounded blocking key as
    dedup_ngram_jaccard (lang, source, len band, simhash prefix);
    Jaccard is kept as an exact integer ppm (inter*1e6 div union), so
    every threshold compare is integer. The sweep explodes thresholds
    over the BLOCKED pair frame only; affected-doc counts stack both
    pair sides and count distinct per threshold."""
    ds = _spark_docsets(spark, sf_dir, mutated=True)
    meta = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source")
    meta = meta.unionByName(
        meta.filter(F.col("doc_id") % 3 == 0)
        .withColumn("doc_id", F.col("doc_id") + F.lit(MUT_OFFSET)))
    ds = (ds.join(meta, "doc_id")
          .withColumn("len_band",
                      F.expr("cast(floor(log2(size(dh))) as bigint)"))
          .withColumn("blk", F.expr(
              f"({_spark_simhash_terms('dh')})"
              f" >> {SIMHASH_BITS - NGRAM_PREFIX_BITS}"))
          .cache())
    a, b = ds.alias("a"), ds.alias("b")
    pairs = (a.join(
        _maybe_broadcast(b, sf_dir),
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.source") == F.col("b.source"))
        & (F.col("a.len_band") == F.col("b.len_band"))
        & (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            # BIGINT before the multiply — same 32-bit wraparound trap
            # as dedup_banding_sweep's jacc_ppm (ADVICE r13 #2); the
            # oracle computes in DuckDB BIGINT.
            F.expr("cast(size(array_intersect(a.dh, b.dh)) as bigint)"
                   " * 1000000"
                   " div (cast(size(a.dh) as bigint) + size(b.dh)"
                   " - size(array_intersect(a.dh, b.dh)))")
            .alias("jacc_ppm")))
    ts = ", ".join(str(t) for t in SWEEP_T_PPM)
    fan = (pairs.withColumn("t_ppm", F.explode(F.expr(f"array({ts})")))
           .filter(F.col("jacc_ppm") >= F.col("t_ppm")))
    n_pairs = fan.groupBy("t_ppm").agg(F.count(F.lit(1)).alias("n_pairs"))
    docs = (fan.select("t_ppm", F.col("doc_a").alias("doc"))
            .unionByName(fan.select("t_ppm", F.col("doc_b").alias("doc")))
            .distinct()
            .groupBy("t_ppm").agg(F.count(F.lit(1)).alias("n_docs")))
    # literal threshold spine: a threshold that kills EVERY pair must
    # still emit its zero row, exactly like the oracle's UNNEST spine
    spine = spark.range(1).select(
        F.explode(F.expr(f"array({ts})")).alias("t_ppm"))
    return (spine.join(n_pairs, "t_ppm", "left")
            .join(docs, "t_ppm", "left")
            .select(F.col("t_ppm").cast("long").alias("t_ppm"),
                    F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
                    F.coalesce("n_docs", F.lit(0)).alias("n_docs"))
            .orderBy("t_ppm"))


def _sweep_oracle() -> str:
    ts = ", ".join(str(t) for t in SWEEP_T_PPM)
    return f"""
WITH {_duck_docsets(mutated=True).lstrip()},
meta AS (
    SELECT doc_id, lang, source FROM documents
    UNION ALL
    SELECT doc_id + {MUT_OFFSET}, lang, source FROM documents
    WHERE doc_id % 3 = 0
),
ds AS (
    SELECT d.doc_id, d.dh, m.lang, m.source,
           CAST(floor(log2(len(d.dh))) AS BIGINT) AS len_band,
           ({_duck_simhash_terms('d.dh')})
               >> {SIMHASH_BITS - NGRAM_PREFIX_BITS} AS blk
    FROM docsets d JOIN meta m USING (doc_id)
),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           len(list_intersect(a.dh, b.dh)) * 1000000
           // (len(a.dh) + len(b.dh) - len(list_intersect(a.dh, b.dh)))
               AS jacc_ppm
    FROM ds a JOIN ds b
      ON a.lang = b.lang AND a.source = b.source
     AND a.len_band = b.len_band AND a.blk = b.blk
     AND a.doc_id < b.doc_id
),
fan AS (
    SELECT p.*, t.t_ppm
    FROM pairs p, (SELECT UNNEST([{ts}]) AS t_ppm) t
    WHERE p.jacc_ppm >= t.t_ppm
),
np AS (SELECT t_ppm, CAST(COUNT(*) AS BIGINT) AS n_pairs
       FROM fan GROUP BY 1),
nd AS (SELECT t_ppm, CAST(COUNT(*) AS BIGINT) AS n_docs
       FROM (SELECT DISTINCT t_ppm, doc FROM (
                 SELECT t_ppm, doc_a AS doc FROM fan
                 UNION ALL SELECT t_ppm, doc_b FROM fan))
       GROUP BY 1)
SELECT CAST(t.t_ppm AS BIGINT) AS t_ppm,
       COALESCE(np.n_pairs, 0) AS n_pairs,
       COALESCE(nd.n_docs, 0) AS n_docs
FROM (SELECT UNNEST([{ts}]) AS t_ppm) t
LEFT JOIN np ON t.t_ppm = np.t_ppm
LEFT JOIN nd ON t.t_ppm = nd.t_ppm
ORDER BY t_ppm
"""


register("dedup_threshold_sweep", dedup_threshold_sweep, _sweep_oracle(),
         "near-dup yield curve: pairs/docs removed per Jaccard threshold")


# ---------------------------------------------- banding sweep
# Banding configurations over the SAME 16-perm signature: b bands of
# r = 16/b rows. Bands nest (an 8-row band is two adjacent 4-row
# bands), so candidate sets are strictly ordered: a pair colliding at
# b bands collides at 2b — cand(2) ⊆ cand(4) ⊆ cand(8). The sweep is
# the dedup counterpart of ann_ivf_nprobe_sweep: the measured
# candidate-volume/recall curve an operator reads before fixing (b, r)
# for a corpus-wide dedup run.
BAND_SWEEP = (2, 4, 8)
JACCARD_T_PPM = round(JACCARD_T * 1_000_000)


def dedup_banding_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banding tuning curve: for b bands x 16/b rows over
    the shared 16-perm signatures, ONE row per configuration with the
    candidate-pair volume, the exact-Jaccard-confirmed count (integer
    ppm compare — inter*1e6 div union >= threshold, identical rule both
    engines), and recall against the PLANTED mutated near-dups (every
    3rd doc carries a shingle-mutated twin at +MUT_OFFSET — ground
    truth by construction, not by a second pair join). More bands =
    shorter band keys = more candidates and higher recall at more
    confirm work; the nesting law (see BAND_SWEEP note) makes every
    column monotone in b, pinned in tests/test_r13_wave2.py.

    Scale shape: per configuration one band-key shuffle over (id, key)
    rows and one pair-dedup — the dedup_minhash_lsh plan re-run 3x on
    the cached signature frame; never an all-pairs comparison."""
    ds = _spark_docsets(spark, sf_dir, mutated=True)
    mh_cols = [
        F.array_min(F.expr(
            f"transform(dh, h -> ({a} * h + {b}) % {P})")).alias(f"mh{i}")
        for i, (a, b) in enumerate(PERMS)
    ]
    sigs = ds.select("doc_id", "dh", *mh_cols).cache()
    planted = (load_table(spark, sf_dir, "documents")
               .filter(F.col("doc_id") % 3 == 0)
               .agg(F.count(F.lit(1)).alias("n_planted")))
    # 64-bit BEFORE the multiply: size() is INT32, and in non-ANSI mode
    # `int * 1000000` wraps silently for docs with >2147 shingles —
    # the DuckDB oracle's len() is BIGINT, so the narrow form is a
    # scale-dependent cross-engine divergence (ADVICE r13 #2).
    jacc_ppm = F.expr(
        "cast(size(array_intersect(dha, dhb)) as bigint) * 1000000"
        " div (cast(size(dha) as bigint) + size(dhb)"
        " - size(array_intersect(dha, dhb)))")
    out = None
    for nb in BAND_SWEEP:
        rpb = NUM_PERM // nb
        band_structs = F.array(*[
            F.struct(
                F.lit(band).alias("band_idx"),
                F.concat_ws("_", *[F.col(f"mh{band * rpb + r}")
                                   for r in range(rpb)]).alias("bkey"))
            for band in range(nb)
        ])
        buckets = (sigs.select("doc_id", F.explode(band_structs).alias("bb"))
                   .select("doc_id", "bb.band_idx", "bb.bkey"))
        ba, bb = buckets.alias("a"), buckets.alias("b")
        pairs = (ba.join(
            _maybe_broadcast(bb, sf_dir),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .dropDuplicates(["doc_a", "doc_b"]))
        dha = sigs.select(F.col("doc_id").alias("doc_a"),
                          F.col("dh").alias("dha"))
        dhb = sigs.select(F.col("doc_id").alias("doc_b"),
                          F.col("dh").alias("dhb"))
        scored = (pairs.join(_maybe_broadcast(dha, sf_dir), "doc_a")
                  .join(_maybe_broadcast(dhb, sf_dir), "doc_b")
                  .select("doc_a", "doc_b", jacc_ppm.alias("jp")))
        stat = scored.agg(
            F.count(F.lit(1)).alias("n_cand"),
            F.sum(F.expr(f"cast(jp >= {JACCARD_T_PPM} as int)"))
            .alias("n_confirmed"),
            F.sum(F.expr(f"cast(doc_b - doc_a = {MUT_OFFSET}"
                         f" and doc_a % 3 = 0 as int)"))
            .alias("n_planted_hit"))
        row = (stat.crossJoin(F.broadcast(planted)).select(
            F.lit(nb).alias("n_bands"),
            F.lit(rpb).alias("rows_per_band"),
            F.col("n_cand").cast("long").alias("n_cand"),
            F.col("n_confirmed").cast("long").alias("n_confirmed"),
            F.col("n_planted_hit").cast("long").alias("n_planted_hit"),
            "n_planted",
            F.expr("n_planted_hit * 1000000 div n_planted")
            .alias("recall_ppm"),
            F.expr("case when n_cand = 0 then null"
                   " else n_confirmed * 1000000 div n_cand end")
            .alias("precision_ppm")))
        out = row if out is None else out.unionByName(row)
    return out.orderBy("n_bands")


def _banding_sweep_oracle() -> str:
    mh = ",\n           ".join(
        f"list_min(list_transform(dh, h -> ({a} * h + {b}) % {P})) AS mh{i}"
        for i, (a, b) in enumerate(PERMS)
    )
    blocks = [f"""{_duck_docsets(mutated=True).lstrip()},
sigs AS (
    SELECT doc_id, dh,
           {mh}
    FROM docsets
),
planted AS (
    SELECT COUNT(*) AS n_planted FROM documents WHERE doc_id % 3 = 0
)"""]
    selects = []
    for nb in BAND_SWEEP:
        rpb = NUM_PERM // nb
        bands = "\n    UNION ALL\n".join(
            f"    SELECT doc_id, dh, {band} AS band_idx, "
            + " || '_' || ".join(
                f"CAST(mh{band * rpb + r} AS VARCHAR)"
                for r in range(rpb))
            + " AS bkey FROM sigs"
            for band in range(nb)
        )
        blocks.append(f""", buckets{nb} AS (
{bands}
), cand{nb} AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.dh AS dha, b.dh AS dhb
    FROM buckets{nb} a JOIN buckets{nb} b
      ON a.band_idx = b.band_idx AND a.bkey = b.bkey
     AND a.doc_id < b.doc_id
), stat{nb} AS (
    SELECT {nb} AS n_bands, {rpb} AS rows_per_band,
           CAST(COUNT(*) AS BIGINT) AS n_cand,
           CAST(SUM(CASE WHEN len(list_intersect(dha, dhb)) * 1000000
                    // (len(dha) + len(dhb) - len(list_intersect(dha, dhb)))
                    >= {JACCARD_T_PPM} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_confirmed,
           CAST(SUM(CASE WHEN doc_b - doc_a = {MUT_OFFSET}
                    AND doc_a % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_planted_hit
    FROM cand{nb}
)""")
        selects.append(f"SELECT * FROM stat{nb}")
    u = "\nUNION ALL\n".join(selects)
    return ("WITH " + "".join(blocks) + f"""
SELECT s.n_bands, s.rows_per_band, s.n_cand, s.n_confirmed,
       s.n_planted_hit, p.n_planted,
       CAST(s.n_planted_hit * 1000000 // p.n_planted AS BIGINT)
           AS recall_ppm,
       CASE WHEN s.n_cand = 0 THEN NULL
            ELSE CAST(s.n_confirmed * 1000000 // s.n_cand AS BIGINT) END
           AS precision_ppm
FROM ({u}) s CROSS JOIN planted p
ORDER BY s.n_bands
""")


register("dedup_banding_sweep", dedup_banding_sweep,
         _banding_sweep_oracle(),
         "minhash banding (b x 16/b) candidate/recall tuning curve")


# ---------------------------------------------- hamming spectrum
def dedup_hamming_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash separability audit: the histogram of pairwise hamming
    distances among fingerprints sharing a blocking bucket — the
    empirical gap between near-dup distances (small hamming) and
    random-pair distances (binomial around SIMHASH_BITS/2) that tells
    you WHERE to put the hamming threshold dedup_simhash's consumers
    use. Pairs are bucket-local only (the blocking bound: work is
    sum of bucket sizes squared, never corpus²); bit_count(xor) is
    exact integer in both engines; output is the <= SIMHASH_BITS+1
    row distance histogram."""
    sh = dedup_simhash(spark, sf_dir).select("doc_id", "simhash",
                                             "bucket")
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.expr("cast(bit_count(a.simhash ^ b.simhash)"
                            " as int)").alias("hamming")))
    return (pairs.groupBy("hamming")
            .agg(F.count(F.lit(1)).alias("n_pairs"))
            .orderBy("hamming"))


register("dedup_hamming_spectrum", dedup_hamming_spectrum, f"""
WITH sh AS (SELECT * FROM ({_simhash_oracle()}) s0)
SELECT CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM sh a JOIN sh b
  ON a.bucket = b.bucket AND a.doc_id < b.doc_id
GROUP BY 1 ORDER BY hamming
""", "bucket-local simhash hamming-distance histogram (threshold audit)")


# ---------------------------------------- cross-source dup matrix
def dedup_cross_source_matrix(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Source-pair near-duplication matrix: how many confirmed
    MinHash-LSH near-dup pairs connect each (source, source) cell —
    the provenance view that says which sources copy from (or share a
    pipeline with) which, the step AFTER per-source dedup rates when
    deciding what to drop. Composes dedup_minhash_lsh's confirmed
    pairs unchanged (band-bucketed candidates, so cross-source pairs
    form wherever signatures collide — the banding is content-only);
    sources attach via the doc dimension (mutated clones inherit
    their original's source) and the matrix is sources² rows with
    exact pair counts and within-source share ppm per source."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    meta = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source")
    meta = meta.unionByName(
        meta.filter(F.col("doc_id") % 3 == 0)
        .withColumn("doc_id", F.col("doc_id") + F.lit(MUT_OFFSET)))
    labeled = (pairs
               .join(meta.select(F.col("doc_id").alias("doc_a"),
                                 F.col("source").alias("src_a")), "doc_a")
               .join(meta.select(F.col("doc_id").alias("doc_b"),
                                 F.col("source").alias("src_b")), "doc_b")
               .select(F.least("src_a", "src_b").alias("s1"),
                       F.greatest("src_a", "src_b").alias("s2")))
    cells = labeled.groupBy("s1", "s2").agg(
        F.count(F.lit(1)).alias("n_pairs"))
    tot = cells.agg(F.sum("n_pairs").alias("nn"))
    return (cells.crossJoin(F.broadcast(tot))
            .select("s1", "s2", "n_pairs",
                    F.expr("cast(s1 = s2 as int)").alias("within_source"),
                    F.expr("n_pairs * 1000000 div nn").alias("share_ppm"))
            .orderBy(F.desc("n_pairs"), "s1", "s2"))


register("dedup_cross_source_matrix", dedup_cross_source_matrix, f"""
WITH lsh AS (SELECT doc_a, doc_b
             FROM ({oracle_sql_of("dedup_minhash_lsh")}) p0),
meta AS (
    SELECT doc_id, source FROM documents
    UNION ALL
    SELECT doc_id + {MUT_OFFSET}, source FROM documents
    WHERE doc_id % 3 = 0
), labeled AS (
    SELECT LEAST(ma.source, mb.source) AS s1,
           GREATEST(ma.source, mb.source) AS s2
    FROM lsh
    JOIN meta ma ON lsh.doc_a = ma.doc_id
    JOIN meta mb ON lsh.doc_b = mb.doc_id
), cells AS (
    SELECT s1, s2, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM labeled GROUP BY 1, 2
), tot AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS nn FROM cells)
SELECT s1, s2, n_pairs,
       CAST(s1 = s2 AS INT) AS within_source,
       CAST(n_pairs * 1000000 // nn AS BIGINT) AS share_ppm
FROM cells CROSS JOIN tot
ORDER BY n_pairs DESC, s1, s2
""", "source-pair near-dup matrix from the confirmed LSH pairs")


# ---------------------------------------- shingle-size sweep
# The third tuning axis of the dedup family (after banding b and LSH
# table count T): shingle WINDOW k. Longer shingles discriminate better
# (a chance word overlap between unrelated docs rarely extends to a
# 3-gram) but tolerate mutation worse (one dropped word destroys up to
# k shingles), so recall on true near-dups falls with k while the
# planted-vs-neighbor separation margin grows. This emits the measured
# curve over k in SHINGLE_SWEEP on two deterministic pair panels:
# PLANTED (doc, mutated twin at +MUT_OFFSET — ground truth by
# construction) and NEIGHBOR (doc_id, doc_id+1 — unrelated-doc
# baseline). No pair join anywhere: both panels are equality joins on
# derived keys.
SHINGLE_SWEEP = (1, 2, 3)


def _spark_shingles_k(k: int) -> str:
    """k-word shingles over the split words column (k=2 reproduces
    _SPARK_SHINGLES; a doc shorter than k yields its truncated
    window)."""
    return (f"transform(sequence(1, greatest(size(words) - {k - 1}, 1)),"
            f" i -> concat_ws(' ', slice(words, i, {k})))")


def _duck_shingles_k(k: int) -> str:
    return (f"list_transform(range(1, greatest(len(words) - {k - 1}, 1)"
            f" + 1), i -> array_to_string("
            f"list_slice(words, i, i + {k - 1}), ' '))")


def dedup_shingle_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-vs-shingle-size tuning curve: per k in SHINGLE_SWEEP,
    the planted near-dup panel's mean exact Jaccard (integer ppm,
    BIGINT arithmetic — the r13 ADVICE rule), its recall at the
    standing JACCARD_T threshold, the unrelated-neighbor panel's mean
    Jaccard, and the separation margin between the two — the number a
    curation review reads before fixing k for a corpus-wide dedup run
    (k too small: neighbors collide; k too large: real near-dups fall
    under the threshold).

    Scale shape: ONE corpus scan computes the words column and all
    |SHINGLE_SWEEP| distinct-shingle-hash sets side by side; both pair
    panels attach by equality joins on doc_id arithmetic (planted:
    id + MUT_OFFSET; neighbor: id + 1) — never a pair-space join; the
    output is |SHINGLE_SWEEP| rows from one global aggregate."""
    n = spark.sparkContext.defaultParallelism
    docs = (load_table(spark, sf_dir, "documents").select("doc_id", "text")
            .repartition(n)
            .withColumn("words", F.expr(_SPARK_WORDS)))
    variants = F.expr(
        f"CASE WHEN doc_id % 3 = 0 THEN array("
        f" named_struct('doc_id', doc_id, 'words', words),"
        f" named_struct('doc_id', doc_id + {MUT_OFFSET},"
        f"              'words', {_SPARK_MUT.format(w='words')}))"
        f" ELSE array(named_struct('doc_id', doc_id, 'words', words))"
        f" END")
    sets = (docs.select(F.explode(variants).alias("v"))
            .select("v.doc_id", "v.words")
            .select("doc_id", *[
                F.expr(_SPARK_HASHES.format(s=_spark_shingles_k(k)))
                .alias(f"dh{k}") for k in SHINGLE_SWEEP])
            .cache())
    jt_ppm = round(JACCARD_T * 1_000_000)

    def jacc(k: int) -> str:
        return (f"cast(size(array_intersect(a_dh{k}, b_dh{k})) as bigint)"
                f" * 1000000"
                f" div (cast(size(a_dh{k}) as bigint) + size(b_dh{k})"
                f" - size(array_intersect(a_dh{k}, b_dh{k})))")

    def panel(offset: int, pred: str) -> DataFrame:
        a = sets.select(F.col("doc_id").alias("a_id"), *[
            F.col(f"dh{k}").alias(f"a_dh{k}") for k in SHINGLE_SWEEP])
        b = sets.select((F.col("doc_id") - offset).alias("a_id"), *[
            F.col(f"dh{k}").alias(f"b_dh{k}") for k in SHINGLE_SWEEP])
        return (a.filter(F.expr(pred)).join(b, "a_id")
                .select(*[F.expr(jacc(k)).alias(f"j{k}")
                          for k in SHINGLE_SWEEP]))

    planted = panel(MUT_OFFSET, "a_id % 3 = 0 AND a_id < 1000000")
    # unrelated baseline: consecutive BASE doc ids (both < MUT_OFFSET)
    neighbor = panel(1, "a_id % 3 != 2 AND a_id < 1000000")
    pl = planted.agg(
        F.count(F.lit(1)).alias("n_planted"),
        *[F.sum(f"j{k}").alias(f"pj{k}") for k in SHINGLE_SWEEP],
        *[F.sum(F.expr(f"cast(j{k} >= {jt_ppm} as long)"))
          .alias(f"pr{k}") for k in SHINGLE_SWEEP])
    nb = neighbor.agg(
        F.count(F.lit(1)).alias("n_neighbor"),
        *[F.sum(f"j{k}").alias(f"nj{k}") for k in SHINGLE_SWEEP])
    both = pl.crossJoin(F.broadcast(nb))
    stacked = ", ".join(
        f"{k}L, pj{k}, pr{k}, nj{k}" for k in SHINGLE_SWEEP)
    return (both.select(
        "n_planted", "n_neighbor",
        F.expr(f"stack({len(SHINGLE_SWEEP)}, {stacked})"
               " AS (k, pj, pr, nj)"))
        .select(
            F.col("k").cast("int").alias("k"),
            "n_planted", "n_neighbor",
            F.expr("pj div n_planted").alias("planted_mean_jacc_ppm"),
            F.expr("pr * 1000000 div n_planted").alias("recall_ppm"),
            F.expr("nj div n_neighbor").alias("neighbor_mean_jacc_ppm"),
            F.expr("pj div n_planted - nj div n_neighbor")
            .alias("separation_ppm"))
        .orderBy("k"))


def _shingle_sweep_oracle() -> str:
    jt_ppm = round(JACCARD_T * 1_000_000)
    dh_cols = ",\n           ".join(
        f"{_DUCK_HASHES.format(s=_duck_shingles_k(k))} AS dh{k}"
        for k in SHINGLE_SWEEP)

    def jacc(k: int, side_a: str = "a", side_b: str = "b") -> str:
        inter = f"len(list_intersect({side_a}.dh{k}, {side_b}.dh{k}))"
        return (f"CAST({inter} AS BIGINT) * 1000000"
                f" // (CAST(len({side_a}.dh{k}) AS BIGINT)"
                f" + len({side_b}.dh{k}) - {inter})")

    pj = ", ".join(
        f"CAST(SUM({jacc(k)}) AS BIGINT) AS pj{k},"
        f" CAST(SUM(CASE WHEN {jacc(k)} >= {jt_ppm} THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS pr{k}"
        for k in SHINGLE_SWEEP)
    nj = ", ".join(
        f"CAST(SUM({jacc(k)}) AS BIGINT) AS nj{k}" for k in SHINGLE_SWEEP)
    rows = "\n    UNION ALL\n    ".join(
        f"SELECT {k} AS k, pj{k} AS pj, pr{k} AS pr, nj{k} AS nj"
        f" FROM pl CROSS JOIN nb" for k in SHINGLE_SWEEP)
    return f"""
WITH sets AS (
    SELECT doc_id,
           {dh_cols}
    FROM (
        SELECT doc_id, {_DUCK_WORDS} AS words FROM documents
        UNION ALL
        SELECT doc_id + {MUT_OFFSET} AS doc_id,
               {_DUCK_MUT.format(w=_DUCK_WORDS)} AS words
        FROM documents WHERE doc_id % 3 = 0
    )
), pl AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_planted, {pj}
    FROM sets a JOIN sets b ON b.doc_id = a.doc_id + {MUT_OFFSET}
    WHERE a.doc_id % 3 = 0 AND a.doc_id < 1000000
), nb AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_neighbor, {nj}
    FROM sets a JOIN sets b ON b.doc_id = a.doc_id + 1
    WHERE a.doc_id % 3 != 2 AND a.doc_id < 1000000
)
SELECT CAST(k AS INT) AS k,
       (SELECT n_planted FROM pl) AS n_planted,
       (SELECT n_neighbor FROM nb) AS n_neighbor,
       CAST(pj // (SELECT n_planted FROM pl) AS BIGINT)
           AS planted_mean_jacc_ppm,
       CAST(pr * 1000000 // (SELECT n_planted FROM pl) AS BIGINT)
           AS recall_ppm,
       CAST(nj // (SELECT n_neighbor FROM nb) AS BIGINT)
           AS neighbor_mean_jacc_ppm,
       CAST(pj // (SELECT n_planted FROM pl)
            - nj // (SELECT n_neighbor FROM nb) AS BIGINT)
           AS separation_ppm
FROM ({rows})
ORDER BY k
"""


register("dedup_shingle_sweep", dedup_shingle_sweep,
         _shingle_sweep_oracle(),
         "Jaccard / recall / separation vs shingle size k (dedup tuning)")


def dedup_shingle_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) split of dedup_shingle_sweep (VERDICT r14 ask
    #8): the same planted/neighbor Jaccard panels per shingle size k,
    sliced by the A-side BASE document's corpus slice — the table a
    curation review reads to see WHERE the corpus-wide k is mis-tuned
    (a slice whose separation margin collapses needs its own k or its
    own threshold). Raw integer sums (pj/pr/nj) ride along the derived
    means precisely so the sums-to-global cross-law vs the global sweep
    is exact: per k, slice sums partition the global panel
    (tests/test_r15_wave.py re-derives every global row from this
    output). Means are NULL where a slice has no pairs on that panel
    (guarded division — DuckDB raises on integer //0 where Spark
    NULLs).

    Scale shape: identical to the global sweep — ONE corpus scan
    computes all |SHINGLE_SWEEP| shingle-hash sets; panels attach by
    doc_id-arithmetic equality joins (never pair-space); the only
    addition is that the final aggregate keys on the model-size
    (lang, source) domain instead of collapsing to one row."""
    n = spark.sparkContext.defaultParallelism
    docs = (load_table(spark, sf_dir, "documents")
            .select("doc_id", "text", "lang", "source")
            .repartition(n)
            .withColumn("words", F.expr(_SPARK_WORDS)))
    variants = F.expr(
        f"CASE WHEN doc_id % 3 = 0 THEN array("
        f" named_struct('doc_id', doc_id, 'words', words),"
        f" named_struct('doc_id', doc_id + {MUT_OFFSET},"
        f"              'words', {_SPARK_MUT.format(w='words')}))"
        f" ELSE array(named_struct('doc_id', doc_id, 'words', words))"
        f" END")
    sets = (docs.select("lang", "source", F.explode(variants).alias("v"))
            .select("lang", "source", "v.doc_id", "v.words")
            .select("doc_id", "lang", "source", *[
                F.expr(_SPARK_HASHES.format(s=_spark_shingles_k(k)))
                .alias(f"dh{k}") for k in SHINGLE_SWEEP])
            .cache())
    jt_ppm = round(JACCARD_T * 1_000_000)

    def jacc(k: int) -> str:
        return (f"cast(size(array_intersect(a_dh{k}, b_dh{k})) as bigint)"
                f" * 1000000"
                f" div (cast(size(a_dh{k}) as bigint) + size(b_dh{k})"
                f" - size(array_intersect(a_dh{k}, b_dh{k})))")

    def panel(offset: int, pred: str) -> DataFrame:
        a = sets.select(F.col("doc_id").alias("a_id"), "lang", "source", *[
            F.col(f"dh{k}").alias(f"a_dh{k}") for k in SHINGLE_SWEEP])
        b = sets.select((F.col("doc_id") - offset).alias("a_id"), *[
            F.col(f"dh{k}").alias(f"b_dh{k}") for k in SHINGLE_SWEEP])
        return (a.filter(F.expr(pred)).join(b, "a_id")
                .select("lang", "source", *[
                    F.expr(jacc(k)).alias(f"j{k}")
                    for k in SHINGLE_SWEEP]))

    planted = panel(MUT_OFFSET, "a_id % 3 = 0 AND a_id < 1000000")
    neighbor = panel(1, "a_id % 3 != 2 AND a_id < 1000000")
    pl = planted.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_planted"),
        *[F.sum(f"j{k}").alias(f"pj{k}") for k in SHINGLE_SWEEP],
        *[F.sum(F.expr(f"cast(j{k} >= {jt_ppm} as long)"))
          .alias(f"pr{k}") for k in SHINGLE_SWEEP])
    nb = neighbor.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_neighbor"),
        *[F.sum(f"j{k}").alias(f"nj{k}") for k in SHINGLE_SWEEP])
    both = (pl.join(nb, ["lang", "source"], "full")
            .select("lang", "source",
                    F.expr("coalesce(n_planted, 0)").alias("n_planted"),
                    F.expr("coalesce(n_neighbor, 0)").alias("n_neighbor"),
                    *[F.expr(f"coalesce({c}{k}, 0)").alias(f"{c}{k}")
                      for k in SHINGLE_SWEEP for c in ("pj", "pr", "nj")]))
    stacked = ", ".join(
        f"{k}L, pj{k}, pr{k}, nj{k}" for k in SHINGLE_SWEEP)
    return (both.select(
        "lang", "source", "n_planted", "n_neighbor",
        F.expr(f"stack({len(SHINGLE_SWEEP)}, {stacked})"
               " AS (k, pj, pr, nj)"))
        .select(
            F.col("k").cast("int").alias("k"), "lang", "source",
            "n_planted", "n_neighbor",
            F.col("pj").alias("planted_jacc_sum_ppm"),
            F.col("pr").alias("recall_hits"),
            F.col("nj").alias("neighbor_jacc_sum_ppm"),
            F.expr("case when n_planted > 0 then pj div n_planted end")
            .alias("planted_mean_jacc_ppm"),
            F.expr("case when n_planted > 0"
                   " then pr * 1000000 div n_planted end")
            .alias("recall_ppm"),
            F.expr("case when n_neighbor > 0 then nj div n_neighbor end")
            .alias("neighbor_mean_jacc_ppm"),
            F.expr("case when n_planted > 0 and n_neighbor > 0 then"
                   " pj div n_planted - nj div n_neighbor end")
            .alias("separation_ppm"))
        .orderBy("k", "lang", "source"))


def _shingle_by_source_oracle() -> str:
    jt_ppm = round(JACCARD_T * 1_000_000)
    dh_cols = ",\n           ".join(
        f"{_DUCK_HASHES.format(s=_duck_shingles_k(k))} AS dh{k}"
        for k in SHINGLE_SWEEP)

    def jacc(k: int) -> str:
        inter = f"len(list_intersect(a.dh{k}, b.dh{k}))"
        return (f"CAST({inter} AS BIGINT) * 1000000"
                f" // (CAST(len(a.dh{k}) AS BIGINT)"
                f" + len(b.dh{k}) - {inter})")

    pj = ", ".join(
        f"CAST(SUM({jacc(k)}) AS BIGINT) AS pj{k},"
        f" CAST(SUM(CASE WHEN {jacc(k)} >= {jt_ppm} THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS pr{k}"
        for k in SHINGLE_SWEEP)
    nj = ", ".join(
        f"CAST(SUM({jacc(k)}) AS BIGINT) AS nj{k}" for k in SHINGLE_SWEEP)
    coal = ", ".join(
        f"COALESCE({c}{k}, 0) AS {c}{k}"
        for k in SHINGLE_SWEEP for c in ("pj", "pr", "nj"))
    rows = "\n    UNION ALL\n    ".join(
        f"SELECT {k} AS k, lang, source, n_planted, n_neighbor,"
        f" pj{k} AS pj, pr{k} AS pr, nj{k} AS nj FROM sl"
        for k in SHINGLE_SWEEP)
    return f"""
WITH sets AS (
    SELECT doc_id, lang, source,
           {dh_cols}
    FROM (
        SELECT doc_id, lang, source, {_DUCK_WORDS} AS words
        FROM documents
        UNION ALL
        SELECT doc_id + {MUT_OFFSET} AS doc_id, lang, source,
               {_DUCK_MUT.format(w=_DUCK_WORDS)} AS words
        FROM documents WHERE doc_id % 3 = 0
    )
), pl AS (
    SELECT a.lang AS lang, a.source AS source,
           CAST(COUNT(*) AS BIGINT) AS n_planted, {pj}
    FROM sets a JOIN sets b ON b.doc_id = a.doc_id + {MUT_OFFSET}
    WHERE a.doc_id % 3 = 0 AND a.doc_id < 1000000
    GROUP BY 1, 2
), nb AS (
    SELECT a.lang AS lang, a.source AS source,
           CAST(COUNT(*) AS BIGINT) AS n_neighbor, {nj}
    FROM sets a JOIN sets b ON b.doc_id = a.doc_id + 1
    WHERE a.doc_id % 3 != 2 AND a.doc_id < 1000000
    GROUP BY 1, 2
), sl AS (
    SELECT lang, source,
           COALESCE(n_planted, 0) AS n_planted,
           COALESCE(n_neighbor, 0) AS n_neighbor,
           {coal}
    FROM pl FULL OUTER JOIN nb USING (lang, source)
)
SELECT CAST(k AS INT) AS k, lang, source, n_planted, n_neighbor,
       pj AS planted_jacc_sum_ppm,
       pr AS recall_hits,
       nj AS neighbor_jacc_sum_ppm,
       CASE WHEN n_planted > 0
            THEN CAST(pj // n_planted AS BIGINT) END
           AS planted_mean_jacc_ppm,
       CASE WHEN n_planted > 0
            THEN CAST(pr * 1000000 // n_planted AS BIGINT) END
           AS recall_ppm,
       CASE WHEN n_neighbor > 0
            THEN CAST(nj // n_neighbor AS BIGINT) END
           AS neighbor_mean_jacc_ppm,
       CASE WHEN n_planted > 0 AND n_neighbor > 0
            THEN CAST(pj // n_planted - nj // n_neighbor AS BIGINT) END
           AS separation_ppm
FROM ({rows})
ORDER BY k, lang, source
"""


register("dedup_shingle_by_source", dedup_shingle_by_source,
         _shingle_by_source_oracle(),
         "per-(lang, source) shingle-size tuning panels (sums-to-global)")


def dedup_banding_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) split of dedup_banding_sweep (the r15
    companion of dedup_shingle_by_source, same slice convention): for
    every banding configuration, candidate volume / confirm count /
    planted recall / precision per corpus slice, keyed by the LEFT
    pair member's BASE document (mutants report under their source doc
    — every pair has exactly one slice, so per-b slice sums partition
    the global sweep row; cross-law in tests/test_r15_wave2.py).
    The table a curation review reads to see WHICH corpus slice makes
    a banding configuration too loose (precision collapse) or too
    tight (recall collapse) before fixing (b, r) corpus-wide.

    Scale shape: identical to the global sweep — per configuration one
    band-key shuffle over (id, key) rows and one pair-dedup on the
    cached signature frame; the slice attach is one corpus-keyed equi
    join of (doc_id, lang, source); the final aggregates key on the
    model-size (lang, source) domain. Never all-pairs."""
    ds = _spark_docsets(spark, sf_dir, mutated=True)
    mh_cols = [
        F.array_min(F.expr(
            f"transform(dh, h -> ({a} * h + {b}) % {P})")).alias(f"mh{i}")
        for i, (a, b) in enumerate(PERMS)
    ]
    sigs = ds.select("doc_id", "dh", *mh_cols).cache()
    docs_ls = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("base_a"), "lang", "source")
    planted = (load_table(spark, sf_dir, "documents")
               .filter(F.col("doc_id") % 3 == 0)
               .groupBy("lang", "source")
               .agg(F.count(F.lit(1)).alias("n_planted")))
    jacc_ppm = F.expr(
        "cast(size(array_intersect(dha, dhb)) as bigint) * 1000000"
        " div (cast(size(dha) as bigint) + size(dhb)"
        " - size(array_intersect(dha, dhb)))")
    out = None
    for nb in BAND_SWEEP:
        rpb = NUM_PERM // nb
        band_structs = F.array(*[
            F.struct(
                F.lit(band).alias("band_idx"),
                F.concat_ws("_", *[F.col(f"mh{band * rpb + r}")
                                   for r in range(rpb)]).alias("bkey"))
            for band in range(nb)
        ])
        buckets = (sigs.select("doc_id", F.explode(band_structs).alias("bb"))
                   .select("doc_id", "bb.band_idx", "bb.bkey"))
        ba, bb = buckets.alias("a"), buckets.alias("b")
        pairs = (ba.join(
            _maybe_broadcast(bb, sf_dir),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .dropDuplicates(["doc_a", "doc_b"]))
        dha = sigs.select(F.col("doc_id").alias("doc_a"),
                          F.col("dh").alias("dha"))
        dhb = sigs.select(F.col("doc_id").alias("doc_b"),
                          F.col("dh").alias("dhb"))
        scored = (pairs.join(_maybe_broadcast(dha, sf_dir), "doc_a")
                  .join(_maybe_broadcast(dhb, sf_dir), "doc_b")
                  .select("doc_a", "doc_b", jacc_ppm.alias("jp")))
        sliced = (scored.withColumn("base_a", F.expr(
            f"case when doc_a >= {MUT_OFFSET}"
            f" then doc_a - {MUT_OFFSET} else doc_a end"))
            .join(_maybe_broadcast(docs_ls, sf_dir), "base_a"))
        st = sliced.groupBy("lang", "source").agg(
            F.count(F.lit(1)).alias("n_cand"),
            F.sum(F.expr(f"cast(jp >= {JACCARD_T_PPM} as int)"))
            .alias("n_confirmed"),
            F.sum(F.expr(f"cast(doc_b - doc_a = {MUT_OFFSET}"
                         f" and doc_a % 3 = 0 as int)"))
            .alias("n_planted_hit"))
        row = (st.join(planted, ["lang", "source"], "full")
               .select(
                   F.lit(nb).alias("n_bands"),
                   F.lit(rpb).alias("rows_per_band"),
                   "lang", "source",
                   F.expr("coalesce(n_cand, 0L)").cast("long")
                   .alias("n_cand"),
                   F.expr("coalesce(n_confirmed, 0L)").cast("long")
                   .alias("n_confirmed"),
                   F.expr("coalesce(n_planted_hit, 0L)").cast("long")
                   .alias("n_planted_hit"),
                   F.expr("coalesce(n_planted, 0L)").cast("long")
                   .alias("n_planted"))
               .select("n_bands", "rows_per_band", "lang", "source",
                       "n_cand", "n_confirmed", "n_planted_hit",
                       "n_planted",
                       F.expr("case when n_planted > 0 then"
                              " n_planted_hit * 1000000 div n_planted"
                              " end").alias("recall_ppm"),
                       F.expr("case when n_cand > 0 then"
                              " n_confirmed * 1000000 div n_cand end")
                       .alias("precision_ppm")))
        out = row if out is None else out.unionByName(row)
    return out.orderBy("n_bands", "lang", "source")


def _banding_by_source_oracle() -> str:
    mh = ",\n           ".join(
        f"list_min(list_transform(dh, h -> ({a} * h + {b}) % {P})) AS mh{i}"
        for i, (a, b) in enumerate(PERMS)
    )
    blocks = [f"""{_duck_docsets(mutated=True).lstrip()},
sigs AS (
    SELECT doc_id, dh,
           {mh}
    FROM docsets
),
docls AS (
    SELECT doc_id AS base_a, lang, source FROM documents
),
planted AS (
    SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_planted
    FROM documents WHERE doc_id % 3 = 0 GROUP BY 1, 2
)"""]
    selects = []
    for nb in BAND_SWEEP:
        rpb = NUM_PERM // nb
        bands = "\n    UNION ALL\n".join(
            f"    SELECT doc_id, dh, {band} AS band_idx, "
            + " || '_' || ".join(
                f"CAST(mh{band * rpb + r} AS VARCHAR)"
                for r in range(rpb))
            + " AS bkey FROM sigs"
            for band in range(nb)
        )
        blocks.append(f""", buckets{nb} AS (
{bands}
), cand{nb} AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.dh AS dha, b.dh AS dhb
    FROM buckets{nb} a JOIN buckets{nb} b
      ON a.band_idx = b.band_idx AND a.bkey = b.bkey
     AND a.doc_id < b.doc_id
), st{nb} AS (
    SELECT d.lang AS lang, d.source AS source,
           CAST(COUNT(*) AS BIGINT) AS n_cand,
           CAST(SUM(CASE WHEN len(list_intersect(dha, dhb)) * 1000000
                    // (len(dha) + len(dhb) - len(list_intersect(dha, dhb)))
                    >= {JACCARD_T_PPM} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_confirmed,
           CAST(SUM(CASE WHEN doc_b - doc_a = {MUT_OFFSET}
                    AND doc_a % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_planted_hit
    FROM cand{nb} c
    JOIN docls d ON d.base_a = CASE WHEN c.doc_a >= {MUT_OFFSET}
                                    THEN c.doc_a - {MUT_OFFSET}
                                    ELSE c.doc_a END
    GROUP BY 1, 2
), sl{nb} AS (
    SELECT {nb} AS n_bands, {rpb} AS rows_per_band, lang, source,
           COALESCE(n_cand, 0) AS n_cand,
           COALESCE(n_confirmed, 0) AS n_confirmed,
           COALESCE(n_planted_hit, 0) AS n_planted_hit,
           COALESCE(n_planted, 0) AS n_planted
    FROM st{nb} FULL OUTER JOIN planted USING (lang, source)
)""")
        selects.append(f"SELECT * FROM sl{nb}")
    u = "\nUNION ALL\n".join(selects)
    return ("WITH " + "".join(blocks) + f"""
SELECT CAST(n_bands AS INT) AS n_bands,
       CAST(rows_per_band AS INT) AS rows_per_band,
       lang, source, n_cand, n_confirmed, n_planted_hit, n_planted,
       CASE WHEN n_planted > 0
            THEN CAST(n_planted_hit * 1000000 // n_planted AS BIGINT) END
           AS recall_ppm,
       CASE WHEN n_cand > 0
            THEN CAST(n_confirmed * 1000000 // n_cand AS BIGINT) END
           AS precision_ppm
FROM ({u})
ORDER BY n_bands, lang, source
""")


register("dedup_banding_by_source", dedup_banding_by_source,
         _banding_by_source_oracle(),
         "per-(lang, source) banding-configuration panels (sums-to-global)")
