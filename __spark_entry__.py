"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

All real logic lives in the ``kmr_spark`` package; this module only
aggregates the per-plan QUERIES / ORACLE_SQL registries.
"""

from __future__ import annotations

import importlib
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# make `import kmr_spark` work regardless of the driver's cwd
_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


#: Every module that registers queries, in registration order.  Each one
#: exports QUERIES and ORACLE_SQL dicts.  Import errors propagate: a
#: broken module must fail the registry, not silently shrink it.
PLAN_MODULES = (
    "kmr_spark.plans.tpch", "kmr_spark.plans.tpch_extra",
    "kmr_spark.plans.wordcount", "kmr_spark.plans.graysort",
    "kmr_spark.plans.analytics", "kmr_spark.plans.iterative",
    "kmr_spark.plans.linalg", "kmr_spark.plans.generate",
    "kmr_spark.plans.sampling", "kmr_spark.plans.layout",
    "kmr_spark.plans.graphs", "kmr_spark.plans.incremental",
    "kmr_spark.plans.semistruct", "kmr_spark.plans.sketches",
    "kmr_spark.plans.timeseries", "kmr_spark.plans.quality",
    "kmr_spark.plans.basket", "kmr_spark.plans.rfm",
    "kmr_spark.plans.training", "kmr_spark.plans.bloomjoin",
    "kmr_spark.plans.behavior", "kmr_spark.plans.diagnostics",
    "kmr_spark.plans.valuation", "kmr_spark.plans.robust",
    "kmr_spark.plans.winfuncs", "kmr_spark.plans.privacy",
    "kmr_spark.plans.inference", "kmr_spark.plans.corpusstats",
    "kmr_spark.plans.trends", "kmr_spark.plans.search",
    "kmr_spark.plans.linkage", "kmr_spark.plans.watermark",
    "kmr_spark.llm_ops.registry",
)


#: The driver checks only the first 50 registry entries, so the registry
#: starts with the names that need a fresh CORRECTNESS row most:
#: - the 12 queries whose plans changed in round 12 (OPTIMIZATION_r12.md),
#: - then the longest-unchecked rows of CORRECTNESS_r01..r11 (oldest
#:   round first, alphabetical within a round).
#: The first 50 names are the rows of CORRECTNESS_r12.json in order; the
#: last 11 slid past that check and lead the next window.  Every other
#: name follows in reverse registration order (recent additions first,
#: long-stable TPC-H last).
_DRIVER_HEAD = (
    # round-12 plan changes
    "orders_pareto_share", "orders_gini_revenue", "parts_abc_classification",
    "events_concurrent_sessions", "events_ks_test",
    "events_watermark_late_census", "graph_modularity",
    "events_forecast_reconciled", "events_anomaly_mad", "text_heaps_curve",
    "docs_source_divergence_tv", "privacy_t_closeness",
    # last checked in round 4
    "train_temperature_mix", "users_spearman_freq_value",
    # last checked in round 5
    "emb_norm_deciles", "events_asof_click_attrib", "events_ewma_int",
    "events_gap_histogram", "events_heavy_users_cms", "events_median_kvs",
    "events_median_quickselect", "events_new_vs_returning",
    "events_peak_rate", "events_props_schema_infer",
    "events_retention_day_n", "events_rolling_wau",
    "events_session_depth_histogram", "events_trending_streamed",
    "events_trimmed_mean", "events_type_share_drift", "events_user_entropy",
    "events_user_lifecycle", "events_user_streaks", "events_value_benford",
    "events_velocity_features", "events_wau_stickiness",
    "lineitem_price_discount_corr", "orders_customer_migration",
    "orders_interpurchase_gaps", "orders_monthly_growth",
    "orders_priority_mix", "orders_repeat_cohort", "profile_documents",
    "text_tokenizer_fertility", "text_zipf_curve",
    # last checked in round 6
    "docs_source_divergence_js", "emb_gram_matrix", "events_acf_daily",
    "events_asof_forward_sla", "events_bootstrap_ci",
    # slid past the round-12 check (positions 51-61)
    "events_bounce_rate", "events_cart_abandonment",
    "events_changepoint_mean", "events_cohort_ltv_curve",
    "events_diff_in_diff", "events_dow_hour_heatmap",
    "events_duplicate_purchases", "events_forecast_snaive",
    "events_hll_sliding", "events_jsonl_roundtrip", "events_linreg_trend",
)


def _registries():
    """Collect (QUERIES, ORACLE_SQL) from every plan module."""
    # A leaked KMR_RMAT_* override silently changes the generated graph
    # for every graph plan (the oracle mismatch would surface it, but
    # as a confusing downstream diff).  The scale-law harness is the
    # only sanctioned setter and declares itself via KMR_RMAT_SWEEP;
    # anything else fails loudly at the source (ADVICE r10).
    leaked = [v for v in ("KMR_RMAT_EDGES", "KMR_RMAT_LEVELS",
                          "KMR_RMAT_MIX") if os.environ.get(v)]
    if leaked and not os.environ.get("KMR_RMAT_SWEEP"):
        raise RuntimeError(
            f"KMR_RMAT override vars set outside the scale sweep: "
            f"{leaked} — unset them (or set KMR_RMAT_SWEEP=1 if this "
            f"is an intentional scale-harness run)")
    queries: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    oracles: dict[str, str] = {}
    for modname in PLAN_MODULES:
        mod = importlib.import_module(modname)
        for merged, part in ((queries, mod.QUERIES), (oracles, mod.ORACLE_SQL)):
            dup = sorted(merged.keys() & part.keys())
            if dup:
                raise ValueError(f"{modname} registers names already "
                                 f"registered by another module: {dup}")
            merged.update(part)
    head = set(_DRIVER_HEAD)
    order = _DRIVER_HEAD + tuple(n for n in reversed(queries) if n not in head)
    return ({n: queries[n] for n in order},
            {n: oracles[n] for n in order if n in oracles})


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q9 profit rollup) on /root/testdata/sf0.001.

    Q9 exercises the widest pipeline (5-table join with two broadcast
    sides, decimal-exact aggregation, multi-key sort) and is non-empty
    at every scale factor.
    """
    from kmr_spark.plans.tpch import q9

    return q9(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _registries()[0]


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (same column names)."""
    return _registries()[1]
