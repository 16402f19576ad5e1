"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The actual catalog lives in ``etl_projects_spark.queries`` (and the
extension modules it imports); this file just re-exports it.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

import etl_projects_spark.queries_curation  # noqa: F401  (registers into the catalog)
import etl_projects_spark.queries_lifecycle  # noqa: F401
import etl_projects_spark.queries_llm  # noqa: F401
import etl_projects_spark.queries_media  # noqa: F401
import etl_projects_spark.queries_mixing  # noqa: F401
import etl_projects_spark.queries_quality  # noqa: F401
import etl_projects_spark.queries_scale  # noqa: F401
import etl_projects_spark.queries_sql  # noqa: F401
import etl_projects_spark.queries_timeseries  # noqa: F401
import etl_projects_spark.queries_tpch_ext  # noqa: F401
import etl_projects_spark.queries_wave28  # noqa: F401
import etl_projects_spark.queries_wave29  # noqa: F401
import etl_projects_spark.queries_wave30  # noqa: F401
import etl_projects_spark.queries_wave31  # noqa: F401
import etl_projects_spark.queries_wave32  # noqa: F401
import etl_projects_spark.queries_wave33  # noqa: F401
from etl_projects_spark.queries import ORACLE, QUERIES
from etl_projects_spark.queries import q1_pricing_summary


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: TPC-H Q1-style pricing
    summary (scan → filter → 8-agg groupBy)."""
    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


# Coverage rotation: the external checker samples the FIRST 50 entries
# of queries() (CORRECTNESS_r01 == first 50 of r1's dict order, exactly).
# With 100 catalog queries that leaves half unproven per round, so the
# order is managed explicitly: queries fixed since the last round lead
# (their repaired oracles need fresh rows), then every query with no
# CORRECTNESS row yet, then the previously-green remainder. Rounds
# accumulate: r1 proved the first-50 half, r2's window covers the rest.
#
# r1-r5 cumulative: 241/241 driver-green (every query has a row from
# the round its then-current shape was last checked). From r6 on the
# window carries three kinds of entries, in this order:
#   1. queries REWORKED after their last driver row (stale rows);
#   2. new additions (every addition must land inside the window);
#   3. freshness re-checks of the OLDEST rows (r1-era first).
# The churn rule is machine-enforced: tools/window_hashes.py records
# the (source, oracle) hash each window proved, and
# tests/test_window_guard.py fails if any query whose hash changed
# since its recorded window is not in the current first 50.
_ROUND_PRIORITY = [
    # --- r16 window (OPTIMIZATION round 2) --------------------------
    # Fronts every query whose PLAN this round's optimizations
    # reshaped (values byte-identical, proven per change in
    # OPTIMIZATION_r16.md), then retires the oldest freshness rows
    # (r9 vintage — the "nothing older than 6 rounds" rule).
    # 1-3: the DSIR family — the weights relation now scores per
    # document row against a one-row broadcast dense bucket->lnr
    # array (the corpus-keyed fold exchange, the per-token broadcast
    # join and the ct/cr full-outer merge are gone), and the select
    # kernel folds the approxQuantile probe into the pin''s
    # materializing action + takes the budget total from the prefix
    # sum''s own offsets relation.
    "dsir_select",
    "dsir_importance_weights",
    "curation_pipeline_run",
    # 4-8: consumers of the jaccard_pairs grouped-path rework (per-doc
    # set sizes carried through the pair expansion; the two per-id
    # size joins are gone) and the lsh_recall_report candidate-side
    # distinct drop (the terminal per-pair groupBy already dedups).
    # minhash/incremental/df_capped ride the same module (candidates/
    # cap paths unchanged — re-proven here).
    "dedup_ngram_jaccard",
    "dedup_jaccard_df_capped",
    "lsh_recall_report",
    "dedup_minhash_lsh",
    "dedup_incremental_batch",
    # 9-10: the decontaminate probe's stable-input fast path (the
    # operator's defensive pre-count + re-snapshot jobs are skipped
    # when the caller hands it a driver-local or persisted relation —
    # both these callers do; grams, joins and emitted rows unchanged)
    # and the jaccard grouped-path carrier packed into one long (the
    # struct carrier's interpreted sort comparator measurably
    # regressed the 3x-corpus probe; packed == r15 sort bytes).
    "decontaminate_eval_join",
    "substring_span_incremental",
    # 11-15: the streaming family — state-store counts derived from
    # input bytes instead of the fixed 8 (clamped to the session
    # default at scale), and the interval join''s inner-join drain
    # drops the trailing no-data micro-batch (state eviction for a
    # terminating query; results byte-identical).
    "streaming_interval_join",
    "streaming_incremental_dedup",
    "streaming_tumbling_counts",
    "streaming_dedup_within_watermark",
    "streaming_stateful_running_totals",
    # --- lake registration declares the written schema --------------
    # LakeEngine.load_table / load_dataframe / promote_to_dw register
    # each table with the schema of the frame just written instead of
    # letting Spark infer it from the files: every query that builds a
    # lake table and reads it back through the catalog is re-proven
    # (curation_pipeline_run, the fifth consumer, is already above).
    "engine_sql_file_build",
    "engine_partitioned_incremental",
    "dw_promotion_gate",
    "pipeline_dag_build",
    # 14-26: freshness rotation — the oldest (r9-vintage) green rows,
    # tools/freshness_report.py order.
    "kmv_jaccard_event_types",
    "layer_format_policy",
    "lm_surprise_filter",
    "map_functions_props",
    "media_frame_energy",
    "media_phash_neardup",
    "merge_upsert_orders",
    "mlm_token_masking",
    "mode_priority_by_segment",
    "neardup_rate_by_source",
    "ngram_bigram_topk",
    "ohlc_hourly_events",
    "partition_checksums",
    # 27-37: rest of the r9 vintage.
    "phrase_search_positions",
    "posexplode_doc_tokens",
    "profile_orders",
    "quality_violation_counts",
    "retention_cohorts",
    "struct_to_string",
    "tfidf_top_terms",
    "union_distinct_keys",
    "window_first_last_order",
    "window_percent_rank",
    "zorder_cluster_events",
    # 44-50: oldest r10-vintage rows (freshness_report order; the
    # tail rows rotated out to make room for newer entries stay
    # r10-vintage and lead the next freshness queue).
    "approx_distinct_users_daily",
    "approx_percentile_tolerance",
    "asof_nearest_click",
    "attribution_first_touch",
    "bag_setops_lineitem",
    "bitmap_user_event_mask",
    "bollinger_bands_daily",
]



def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, ordered so
    the checker's 50-query window lands on this round's priorities."""
    ordered = {n: QUERIES[n] for n in _ROUND_PRIORITY if n in QUERIES}
    ordered.update({n: q for n, q in QUERIES.items() if n not in ordered})
    return ordered


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query (omitted only for
    genuinely non-SQL-expressible operators → rows-only check).

    Values registered as zero-arg callables (data-derived twin oracles)
    are resolved HERE — at gate time, against the oracle corpus in
    effect — not at module import (r12 ADVICE: import-time generation
    read parquet + ran matmuls on every import and baked in whatever
    SPARK_GRAFT_ORACLE_SF_DIR said at import). A callable returning
    None (e.g. the corpus is absent or empty) drops the entry — the
    driver then records its weaker rows-only check for that query.
    """
    out: dict[str, str] = {}
    for name, o in ORACLE.items():
        if callable(o):
            o = o()
        if o is not None:
            out[name] = o
    return out
