"""Query registration. Importing this package registers every query into
``impractical_impala_spark.registry``. One module per family.

The correctness driver checks the FIRST 50 entries of ``all_queries()``
each round. That window is computed at import time from the committed
``CORRECTNESS_r*.json`` history (``..window.computed_window``: changed
names first, then never checked, then latest-row-failed, then
stalest-green) and installed with ``set_window_order``.
``CHANGED_THIS_ROUND`` below is its only hand input. The hand-kept
window lists of rounds 4-10 are in git history
(``git show e87f44a:impractical_impala_spark/queries/__init__.py``).
"""

from ..registry import set_window_order

from . import (reference_ops, stats_ops, tpch, tpch_more,  # noqa: F401
               windows, streams, text,
               dedup, similarity, joins_special, json_ops, extras,
               sketches, multimodal,
               tpch_plus, training_extras, windows_plus, tpch_plus2,
               streams_plus, tpch_final, pipelines, training_ops,
               curation, analytics, lakehouse, ml_more, warehouse_extras,
               layout, feature_ops, paths_stats, modern_sql, profiling,
               drift, quality, stat_tests, audit_ops, sampling_stats,
               forecast, spectral_info, text_ir, emb_eval, linkage_splits,
               calibration_ops, scoring_seq, monitor_eval, corpus_eval,
               operating_point, experiment, retrieval_curation,
               engine_stats, ops_quality, hypothesis, dynamics,
               value_monitors)

# Queries whose plan or values changed since the newest committed
# CORRECTNESS round, as ``name -> as-of round`` (that newest round when
# the change landed). A name leads the window until a green CORRECTNESS
# row from a later round proves it; ``window.changed_lead`` then drops it,
# so a retired entry is dead and can be deleted.
CHANGED_THIS_ROUND: dict[str, int] = {
    # Round 16 (as-of 16): graph_modularity_by_type's ORACLE coalesces
    # m_in in a CTE before the contribution reads it; in one SELECT the
    # contribution bound within.m_in, NULL for a group with no internal
    # edges (sf0.001), where Spark rightly gives the -d^2/4m^2 term.
    # The Spark plan is unchanged.
    "graph_modularity_by_type": 16,
    # connected_components reads its edges once and starts from the
    # one-hop labels: at sf0.01 the size estimate of its checkpointed
    # output fell from 21.5 GiB to 9.2 MiB, under the 10 MiB broadcast
    # threshold, so ann_dedup_pipeline's survivor joins now broadcast
    # it (shape only; values and expression hash unchanged).
    "ann_dedup_pipeline": 16,
    # One cached MinHash signature relation (doc_id, dh, mh0..mh15) for
    # every minhash query, with band keys derived after the cache, in
    # place of per-query caches of band keys or mh + band keys (values
    # unchanged; expression hash only):
    "dedup_minhash_lsh": 16,
    "minhash_calibration": 16,
    "dedup_lsh_audit": 16,          # reads dedup_minhash_lsh's pairs
    "dedup_cross_source_matrix": 16,  # reads dedup_minhash_lsh's pairs
    # One hyperplane-LSH layer (similarity._hp_sigs: one cached 12-bit
    # signature per vector, bucket layouts sliced from it by one
    # explode) and one recall@1 scorer (_exact_top1 + _recall_at_1);
    # values unchanged:
    "ann_lsh_bucketed": 16,       # one explode in place of a 3-way union
    "dedup_embedding_lsh": 16,    # same, over its augmented frame
    "ann_lsh_tables_sweep": 16,   # same, per table count
    "ann_recall_audit": 16,       # reads ann_lsh_bucketed's answers
    "ann_lsh_multiprobe": 16,     # probes hp (expression hash only)
    "ann_lsh_grid": 16,           # probes the shared index (expression)
    "ann_lsh_bits_sweep": 16,     # hp slices, shared scorer (expression)
    "ann_ivf_nprobe_sweep": 16,   # shared scorer (expression hash only)
    "ann_ivf_trained_sweep": 16,  # shared scorer (expression hash only)
    "ann_ivf_pq_sweep": 16,       # shared scorer + ADC cosine helper
    "ann_pq_m_sweep": 16,         # shared scorer + ADC cosine helper
}

from ..registry import registered_names  # noqa: E402
from ..window import computed_window  # noqa: E402

WINDOW = computed_window(registered_names(), CHANGED_THIS_ROUND)
assert len(WINDOW) == 50, len(WINDOW)

set_window_order(WINDOW)
