"""Query catalog + registry.

Every implemented operator from SURVEY.md §2 registers here as a named query:
a Spark builder ``(spark, sf_dir) -> DataFrame`` and (where SQL-expressible)
a DuckDB oracle SQL string over the same parquet tables. The driver runs both
at sf0.01 and hash-compares.

Determinism contract for oracle-matched queries (why they bit-match):

- **No floating-point aggregation.** Money/quantity doubles are converted to
  exact int64 fixed-point units (cents) *before* SUM/AVG, so aggregate values
  are exact integers independent of summation order; ratios are produced by
  a single division whose operand expressions are identical on both sides
  (IEEE 754 ops are deterministic given identical operands and order).
- **UTC session timezone** pinned at query build time (parquet timestamps are
  instants; DuckDB reads them UTC-naive).
- Every computed column is aliased identically in the Spark builder and the
  oracle SQL (the driver sorts columns by name before hashing).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from dask_lightgbm_spark.shipping import ship_package

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}


# Session confs the query wrapper pins (timezone for oracle bit-parity;
# AQE + a shuffle-partition clamp so the external driver's gate fits its
# time budget at sf0.01). Originals are remembered per-session so library
# callers can undo the pinning with restore_confs(spark).
_PINNED_CONFS = (
    "spark.sql.session.timeZone",
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.shuffle.partitions",
    "spark.sql.optimizer.excludedRules",
)

# redundant-filter inference under Generate re-inlines derived-array
# expressions without CSE — O(len²) per row on shingle/n-gram explodes
# (266 s → 1.9 s at sf0.1 when excluded; see session.py for the full note)
_EXCLUDED_RULE = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"


def _pin_confs(spark: SparkSession) -> None:
    # conf get/set are py4j round trips (~1.5 ms each on this host — r15
    # profile); pinning is idempotent, so it runs once per session and
    # restore_confs() re-arms it. The bench's 3x17 timed invocations were
    # paying ~8 round trips each for conf values that never change.
    if getattr(spark, "_dls_confs_pinned", False):
        # drift sentinels (r15 advisor): two cheap gets instead of ~8
        # get/sets — if caller/test code mutated a pinned conf mid-session,
        # fall through and re-pin everything. The two checked are the
        # correctness-critical one (UTC timezone: oracle bit-parity) and
        # the perf-critical one (the excluded rule: O(len²) explodes).
        try:
            if (
                spark.conf.get("spark.sql.session.timeZone") == "UTC"
                and _EXCLUDED_RULE
                in (spark.conf.get("spark.sql.optimizer.excludedRules") or "")
            ):
                return
        except Exception:
            return
        spark._dls_confs_pinned = False
    if not hasattr(spark, "_dls_orig_confs"):
        orig: dict[str, str | None] = {}
        for k in _PINNED_CONFS:
            try:
                orig[k] = spark.conf.get(k)
            except Exception:
                orig[k] = None
        spark._dls_orig_confs = orig
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    try:
        if int(spark.conf.get("spark.sql.shuffle.partitions")) > 32:
            spark.conf.set("spark.sql.shuffle.partitions", "32")
    except Exception:
        pass
    try:
        current = spark.conf.get("spark.sql.optimizer.excludedRules") or ""
    except Exception:
        current = ""
    if _EXCLUDED_RULE not in current:
        merged = f"{current},{_EXCLUDED_RULE}" if current else _EXCLUDED_RULE
        spark.conf.set("spark.sql.optimizer.excludedRules", merged)
    spark._dls_confs_pinned = True


def restore_confs(spark: SparkSession) -> None:
    """Undo the conf pinning done by catalog queries: restores every conf in
    ``_PINNED_CONFS`` to its value before the first catalog query ran on this
    session. Call after materializing the returned DataFrames (the AQE /
    shuffle-partition confs are read at *execution* time, so restoring before
    collect would defeat the pinning; session timezone is captured at plan
    analysis, so already-built DataFrames keep UTC semantics either way)."""
    for k, v in getattr(spark, "_dls_orig_confs", {}).items():
        try:
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        except Exception:
            pass
    if hasattr(spark, "_dls_orig_confs"):
        del spark._dls_orig_confs
    spark._dls_confs_pinned = False  # next catalog query re-pins


def query(name: str, oracle: str | None = None):
    """Register a query builder; ``oracle=None`` marks a genuinely
    non-SQL-expressible op (driver falls back to rows-only check)."""

    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # defensive: driver owns the session; pin dynamic confs we need
            # (originals saved — see restore_confs)
            _pin_confs(spark)
            ship_package(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        _QUERIES[name] = wrapped
        if oracle is not None:
            _ORACLES[name] = oracle
        return wrapped

    return deco


# The driver's correctness gate runs queries in the order all_queries()
# yields them and caps at ~50 per round, so ordering is rotated each round
# under a hard STALENESS CONTRACT: every query NOT verified in the latest
# CORRECTNESS round gates first, ordered oldest-verification-first (ties by
# position in that round's gate). The list below is the r8 rotation — the 3
# never-driver-sampled queries lead, then the 135 names absent from
# CORRECTNESS_r07 (36 r4-era, 49 r5-era, 50 r6-era). r8 is a consolidation
# round: catalog growth is FROZEN so the driver's ~50 slots all go to debt
# (r8 clears the r4 block + oldest r5; r9 finishes r5/r6).
# tests/test_relational.py recomputes this ordering from the committed
# CORRECTNESS_r*.json files and pins the list, so a new round's rotation
# cannot be forgotten without a test failure; `python tools/gen_gate.py`
# regenerates the block below mechanically (`--check` reports staleness).
_GATE_FIRST: list[str] = [
    # --- never driver-verified (prepend new queries here) ---
    # --- last verified r12 ---
    "q20_cube",
    "q11_distinct_counts",
    "q12_string_funcs",
    "q13_date_agg",
    "q14_events_hourly",
    "q16_pivot",
    "q17_customer_max_order",
    "q18_shipping_priority",
    "q19_case_bucket",
    "q21_asof_join",
    "q23_predicate_ratio",
    "q22_positional_projection",
    "q24_grouped_zscore_pandas",
    "q25_mapinpandas_elementwise",
    "q26_json_extract",
    "q15_sessionize",
    "q40_funnel",
    "q48_range_interval_window",
    "x05_stream_append_watermark",
    "x06_stream_session_window",
    "x07_stream_dedup_within_watermark",
    "s14_knn_quantized",
    "x08_stream_stream_interval_join",
    "t27_unigram_lm_familiarity",
    "q56_binned_range_join",
    "t28_bpe_token_topk",
    "x09_stream_foreachbatch_sink",
    "q57_forward_fill",
    "x10_stream_stream_left_outer",
    "q58_tpch_q5_local_supplier",
    "q59_tpch_q4_priority_check",
    "q60_pagerank_int",
    "s15_ivf_persisted_index",
    "q61_merge_cdc_deletes",
    "q62_salted_skew_join",
    "t29_weighted_sampling",
    "q63_scd2_history",
    "s16_mmr_diversified_topk",
    # --- last verified r13 ---
    "q30_disjunctive_predicates",
    "q31_not_in_subquery",
    "q32_scalar_subquery",
    "q33_percentiles",
    "q34_array_regexp_funcs",
    "q36_merge_upsert",
    "q37_union_except",
    "q38_posexplode",
    "q39_moving_window_frame",
    "q41_map_funcs",
    "q42_having",
    "q43_date_arithmetic",
    "q44_intersect_all",
    "q45_window_functions",
    "q46_string_agg",
    "q47_correlated_scalar_subquery",
    "q01_pricing_summary",
    "q02_filter_project",
    "q03_global_agg",
    "q04_join_nation_revenue",
    "q05_top_orders",
    "q06_window_topk_per_customer",
    "q07_setop_intersect",
    "q08_anti_join",
    "q09_semi_join",
    "q10_rollup",
    "q35_approx_stats",
    "t30_sequence_packing",
    "t31_cluster_representatives",
    "q64_tpch_q9_profit",
    "s17_knn_pq",
    "s18_knn_ivf_pq",
    "s19_ann_recall",
    "q65_partitioned_sink_roundtrip",
    "q66_tpch_q13_custdist",
    "t32_pii_redaction",
    "x11_stream_ann_serving",
    "q67_null_semantics",
    "t33_lsh_quality_report",
    "q68_tpch_q22_global_opportunity",
    "s20_knn_ivf_pq_multiprobe",
    "q27_grouping_sets",
    "q28_session_window",
    "q29_promo_revenue",
    "t01_dedup_exact_stats",
    "t02_dedup_exact_groups",
    "t03_ngram_jaccard_pairs",
    "t04_minhash_signatures",
    "t05_minhash_lsh_neardup",
    "t06_simhash",
    # --- last verified r14 ---
    "t07_simhash_neardup",
    "t08_lang_id",
    "t09_text_quality",
    "t10_token_stats",
    "t11_fingerprint",
    "t12_multimodal_meta",
    "t13_tfidf_topterms",
    "t14_dedup_components",
    "t15_repetition_ratio",
    "t16_token_zipf",
    "t17_deterministic_split",
    "t18_pii_scan",
    "s01_knn_bruteforce",
    "s02_knn_ivf",
    "s03_embedding_neardup",
    "s04_vector_stats",
    "s05_knn_lsh",
    "s06_neardup_in_cells",
    "s07_knn_ivf_multiprobe",
    "s08_knn_lsh_multiprobe",
    "s09_kmeans_train",
    "s10_ivf_learned_cells",
    "x01_stream_events_hourly",
    "x02_stream_stateful_user_totals",
    "x03_stream_dedup_counts",
    "x04_stream_static_join",
    "q70_tpch_q7_volume_shipping",
    "q71_tpch_q10_returned_items",
    "q72_tpch_q8_market_share",
    "s22_knn_graph",
    "x13_stream_decontamination",
    "q73_bucketed_join",
    "q74_incremental_agg_merge",
    "q75_constraint_audit",
    "t40_incremental_ingest_dedup",
    "s23_ivf_incremental_insert",
    "ml04_hashed_bow_features",
    "x14_stream_ingest_dedup",
    "t41_gopher_quality_rules",
    "s24_knn_truncated_rerank",
    "q76_orc_roundtrip",
    "q77_csv_gzip_roundtrip",
    "x15_stream_ivf_insert",
    "x16_stream_upsert_state",
    "ml05_holdout_eval",
    "q78_small_files_compaction",
    "q79_analytic_battery",
    "t42_editdist_verify",
    "s25_label_propagation",
    "q80_gapfill_timeseries",
]

# module-name order for everything not in _GATE_FIRST (relational first —
# q27-q47 were outside the r4 sample; t/s blocks were r4-verified)
_GATE_REST_PREFIX = ["q", "ml", "t", "s", "x"]


def _gate_order(d: dict) -> dict:
    first = {n: d[n] for n in _GATE_FIRST if n in d}
    rest = [n for n in d if n not in first]
    rest.sort(
        key=lambda n: next(
            (i for i, p in enumerate(_GATE_REST_PREFIX) if n.startswith(p)),
            len(_GATE_REST_PREFIX),
        )
    )
    return {**first, **{n: d[n] for n in rest}}


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all()
    return _gate_order(dict(_QUERIES))


def all_oracles() -> dict[str, str]:
    _load_all()
    return _gate_order(dict(_ORACLES))


_LOADED = False


def _load_all():
    global _LOADED
    if _LOADED:
        return
    # import for registration side-effects. Registration order = the order
    # the driver's gate runs queries in; round 1 exhausted its budget after
    # 50 of 72, leaving t04+/s/x/ml driver-unverified, so those now register
    # FIRST — across rounds the union covers the whole catalog even if the
    # gate caps again.
    from dask_lightgbm_spark.queries import (  # noqa: F401
        ml,
        relational,
        similarity,
        streaming_q,
        text,
    )

    _LOADED = True
