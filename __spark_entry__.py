"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query; ``queries()`` maps every
implemented operator (SURVEY.md §2 + extensions) to a (spark, sf_dir) ->
DataFrame callable; ``oracle_sql()`` gives the DuckDB-equivalent SQL the
driver hash-compares against at sf0.01.

Ordering contract: the driver checks the first 50 ``queries()`` entries
per round (observed in CORRECTNESS_r01/r02), so entries are emitted in
an explicit priority order. Rotation policy (per VERDICT r02): every
query that is NEW, CHANGED THIS ROUND, or NEVER DRIVER-PROVEN sits
inside the 50-entry window; the burn-in relational built-ins rotated out
all hold green rows from earlier rounds over unchanged code. The full
registry (all entries, in and past the window) is self-checked each
round with ``tools/check_oracle.py`` — the committed transcripts are
``SELFCHECK_r{N}.md`` — so rotation never substitutes for verification,
it only chooses which 50 rows the external driver re-proves.

Former "retired" entries (trips_clean / airport_trips / minhash_signatures
/ simhash — each a strict plan prefix of a checked query) are registered
again past the window so the driver-visible inventory is complete; their
containing queries remain the primary evidence.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from flink_stream_processing_refarch_spark.operators import bpe as bpe_ops  # noqa: E402
from flink_stream_processing_refarch_spark.operators import contamination as contam_ops  # noqa: E402
from flink_stream_processing_refarch_spark.operators import corpus as corpus_ops  # noqa: E402
from flink_stream_processing_refarch_spark.operators import corpus_io as corpus_io_ops  # noqa: E402
from flink_stream_processing_refarch_spark.operators import dedup as dedup_ops  # noqa: E402
from flink_stream_processing_refarch_spark.operators import multimodal as mm_ops  # noqa: E402
from flink_stream_processing_refarch_spark.operators import retrieval as retr_ops  # noqa: E402
from flink_stream_processing_refarch_spark.operators import sampling as sampling_ops  # noqa: E402
from flink_stream_processing_refarch_spark.operators import incremental as incr_ops  # noqa: E402
from flink_stream_processing_refarch_spark.operators import selection as sel_ops  # noqa: E402
from flink_stream_processing_refarch_spark.operators import semantic as semantic_ops  # noqa: E402
from flink_stream_processing_refarch_spark.operators import similarity as sim_ops  # noqa: E402
from flink_stream_processing_refarch_spark.operators import sketches as sketch_ops  # noqa: E402
from flink_stream_processing_refarch_spark.operators import text as text_ops  # noqa: E402
from flink_stream_processing_refarch_spark import api as api_mod  # noqa: E402
from flink_stream_processing_refarch_spark import plancache  # noqa: E402
from flink_stream_processing_refarch_spark.oracle import sqlgen  # noqa: E402
from flink_stream_processing_refarch_spark.plans import funnels, relational, subqueries, taxi, tpch_deep  # noqa: E402
from flink_stream_processing_refarch_spark.streaming import jobs as streaming_jobs  # noqa: E402

# Priority order. Slots 1-50 = the driver's correctness window.
# The window IS the mechanical plan emitted by
# ``tools/make_ledger.py --changed ...`` (VERDICT r09 #7): changed-this-
# round entries first in registry order, then every other entry ranked
# by oldest last-green round (registry order as tiebreak), first 50 win.
# The changed set (8 entries, LEDGER.md) is the four batch/stream twins
# whose state is now one shared definition beside the batch entry
# (session windows, CMS cells, the quantile histogram tail, source
# drift): both entries of each pair. Per-round
# rotation rationale lives in the git history of this file.
PRIORITY = [
    # ---- slots 1-50: the correctness window (== LEDGER next-window) ----
    "quantile_histogram_streaming",
    "source_drift",
    "source_drift_streaming",
    "session_windows",
    "session_windows_streaming",
    "heavy_hitters_cms",
    "quantile_histogram",
    "heavy_hitters_streaming",
    "taxi_pipeline",
    "q1_pickup_count",
    "q2_trip_duration",
    "q1_streaming",
    "q2_streaming",
    "trending_cells_streaming",
    "market_share",
    "returned_customers",
    "order_priority",
    "unshipped_revenue",
    "trade_volume",
    "prospect_customers",
    "product_profit",
    "lonely_returns",
    "min_cost_supplier",
    "ann_pq",
    "pq_ingest_streaming",
    "media_decode_wav",
    "media_decode_ppm",
    "order_count_distribution",
    "small_lot_revenue",
    "brand_volume_revenue",
    "late_shipments",
    "important_parts",
    "adhoc_sql",
    "dedup_embedding",
    "bpe_train",
    "bpe_token_count",
    "source_signature_terms",
    "knn_label_accuracy",
    "ann_recall_eval",
    "importance_resampling",
    "lm_perplexity",
    "bm25_score",
    "bm25_topk_batch",
    "bm25_topk_batch_ext",
    "bm25_mrr",
    "doc_fingerprint",
    "udtf_word_positions",
    "split_train_test",
    "split_counts",
    "corpus_recover_roundtrip",
    # ---- past the window: green rows over plans whose results are
    # unchanged (see LEDGER.md) ----
    "corpus_vacuum_roundtrip",
    "corpus_time_travel",
    "corpus_upsert_roundtrip",
    "corpus_upsert_streaming",
    "corpus_compact_roundtrip",
    "corpus_layout_roundtrip",
    "corpus_evolve_roundtrip",
    "corpus_delete_roundtrip",
    "corpus_changes_roundtrip",
    "corpus_pinned_snapshot",
    "cdc_index_refresh",
    "corpus_cdc_stream",
    "cdc_index_refresh_streaming",
    "corpus_redact_roundtrip",
    "trending_cells",
    "q1_kinesis_wire",
    "trips_clean",
    "airport_trips",
    "minhash_signatures",
    "ngram_jaccard",
    "corpus_build",
    "dedup_spans",
    "containment_dedup",
    "winnow_matches",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "dup_source_matrix",
    "dedup_simhash",
    "simhash",
    "dedup_exact",
    "dedup_survivors",
    "passage_dedup",
    "dup_provenance",
    "embedding_quantize",
    "media_metadata",
    "media_features",
    "media_resize",
    "frame_sample",
    "inverted_index",
    "running_totals",
    "time_rollup",
    "asof_join",
    "sliding_window_counts",
    "skew_salted_join",
    "retention_cohorts",
    "funnel_completion",
    "stream_static_join",
    "vocab_stats",
    "doc_chunks",
    "stream_stream_join",
    "stream_stream_left_join",
    "streaming_dedup",
    "feature_hashing",
    "curriculum_order",
    "vocab_coverage",
    "large_orders",
    "top_supplier",
    "part_promotion",
    "supplier_part_variety",
    "ann_lsh_multiprobe",
    "semantic_dedup",
    "kmeans_clusters",
    "lang_id",
    "decontaminate",
    "token_count_bpe",
    "split_leakage",
    "repetition_score",
    "training_mix",
    "winnow_fingerprints_streaming",
    "quality_funnel",
    "quality_funnel_streaming",
    "corpus_ingest_streaming",
    "token_stats",
    "quality_score",
    "decontaminate_streaming",
    "memorization_risk",
    "winnow_fingerprints",
    "dedup_incremental",
    "hybrid_retrieval",
    "hybrid_retrieval_ext",
    "stateful_sessionize",
    "tws_user_totals",
    "sequence_packing",
    "bottomk_sample",
    "mixture_weights",
    "sketch_rollup",
    "cosine_topk",
    "ann_lsh",
    "ann_ivf",
    "embedding_norms",
    "stratified_cap",
    "range_join_bands",
    "priority_lists",
    "promo_revenue",
    "pricing_summary",
    "revenue_by_nation",
    "orders_by_region",
    "rollup_orders",
    "top_parts",
    "pivot_status",
    "unpivot_metrics",
    "bucketed_join",
    "rolling_revenue",
    "json_extract",
    "cube_orders",
    "distinct_counts",
    "semi_join",
    "anti_join",
    "customer_order_stats",
    "top_customers_per_nation",
    "set_ops",
    "grouping_sets",
    "udaf_median",
    "full_outer_balances",
    "exists_returned_orders",
    "in_large_orders",
    "scalar_below_avg",
    "tfidf_top_terms",
    "length_histogram",
    "approx_distinct",
    "approx_quantiles",
    "pii_scrub",
    "global_row_number",
    "bigram_lm",
]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: Q1 (pickup counts per geohash6 per 10-min window) at sf0.001."""
    return taxi.q1_pickup_count(spark, "/root/testdata/sf0.001")


def _all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out = {
        "q1_pickup_count": taxi.q1_pickup_count,
        "q2_trip_duration": taxi.q2_trip_duration,
        "trips_clean": taxi.q_trips_clean,
        "airport_trips": taxi.q_airport_trips,
        "trending_cells": taxi.q_trending_cells,
        "q1_streaming": streaming_jobs.q1_streaming,
        "q2_streaming": streaming_jobs.q2_streaming,
    }
    out.update(streaming_jobs.QUERIES)
    out.update(relational.QUERIES)
    out.update(tpch_deep.QUERIES)
    out.update(subqueries.QUERIES)
    out.update(funnels.QUERIES)
    out.update(text_ops.QUERIES)
    out.update(bpe_ops.QUERIES)
    out.update(contam_ops.QUERIES)
    out.update(corpus_ops.QUERIES)
    out.update(corpus_io_ops.QUERIES)
    out.update(dedup_ops.QUERIES)
    out.update(incr_ops.QUERIES)
    out.update(sim_ops.QUERIES)
    out.update(mm_ops.QUERIES)
    out.update(sampling_ops.QUERIES)
    out.update(sel_ops.QUERIES)
    out.update(semantic_ops.QUERIES)
    out.update(sketch_ops.QUERIES)
    out.update(retr_ops.QUERIES)
    out.update(api_mod.QUERIES)
    # Batch queries go through the per-session plan cache (prepared-
    # statement layer, see plancache.py): repeated identical queries pay
    # Catalyst analysis/optimization/codegen once per session, matching
    # the reference's compile-once dataflow. NOT wrapped: streaming
    # entries (each call must re-run the bounded stream) and builders
    # carrying ``stateful_build = True`` — declared at the builder's
    # definition site, next to the state-building code, and enforced by
    # cached_plan itself (it raises on such builders), so the exemption
    # can't drift out of sync with the code the way a hand-list here
    # could.
    uncached = (
        {"q1_streaming", "q2_streaming"}
        | set(streaming_jobs.QUERIES)
        | {n for n, f in out.items() if getattr(f, "stateful_build", False)}
    )
    return {
        name: (fn if name in uncached else plancache.cached_plan(name, fn))
        for name, fn in out.items()
    }


def _ordered(full: dict) -> dict:
    """Apply PRIORITY order; append any stragglers (new queries registered
    in a module but not yet prioritized) at the end."""
    out = {}
    for name in PRIORITY:
        if name in full:
            out[name] = full[name]
    for name, v in full.items():
        if name not in out:
            out[name] = v
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered(_all_queries())


def oracle_sql() -> dict[str, str]:
    out = {
        "q1_pickup_count": sqlgen.q1_sql(),
        "q2_trip_duration": sqlgen.q2_sql(),
        "trips_clean": sqlgen.trips_clean_sql(),
        "airport_trips": sqlgen.airport_trips_oracle_sql(),
        "trending_cells": sqlgen.trending_cells_sql(),
        "q1_streaming": sqlgen.q1_streaming_sql(),
        "q2_streaming": sqlgen.q2_streaming_sql(),
    }
    out.update(streaming_jobs.ORACLES)
    out.update(relational.ORACLES)
    out.update(tpch_deep.ORACLES)
    out.update(subqueries.ORACLES)
    out.update(funnels.ORACLES)
    out.update(text_ops.ORACLES)
    out.update(bpe_ops.ORACLES)
    out.update(contam_ops.ORACLES)
    out.update(corpus_ops.ORACLES)
    out.update(corpus_io_ops.ORACLES)
    out.update(dedup_ops.ORACLES)
    out.update(incr_ops.ORACLES)
    out.update(sim_ops.ORACLES)
    out.update(mm_ops.ORACLES)
    out.update(sampling_ops.ORACLES)
    out.update(sel_ops.ORACLES)
    out.update(semantic_ops.ORACLES)
    out.update(sketch_ops.ORACLES)
    out.update(retr_ops.ORACLES)
    out.update(api_mod.ORACLES)
    return _ordered(out)
