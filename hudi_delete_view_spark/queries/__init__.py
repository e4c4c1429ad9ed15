"""Query registry: every implemented operator registers a (spark, sf_dir) ->
DataFrame callable plus, where SQL-expressible, a DuckDB oracle string.

``__spark_entry__.queries()`` / ``oracle_sql()`` are thin views over this
registry. Column names are aliased identically on both sides (the driver's
compare sorts columns by name before hashing)."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}
_LATE: set[str] = set()

# The driver's correctness harness oracle-checks the FIRST 50 entries of
# ``ordered_queries()``. Round-9 rotation (r8 verdict item 1,
# oldest-evidence-first): every registry query now has >=1 green driver
# row, so the window re-fronts the queries whose NEWEST green row is
# OLDEST — brand-new round-9 queries first (no driver row ever = oldest
# possible evidence), then the 37 relational-core queries whose only
# driver rows date from round 1 (the code under them — scale profile,
# skew guards, FS seam — has churned for seven rounds), then the r2/r3
# survivors. Selection derives mechanically from unioning
# CORRECTNESS_r01..r08 green rows; see SURVEY.md row I1.
# Names listed here are pulled to the very front of the registry in this
# order; everything else follows in registration order (``late`` still at
# the back).
_WINDOW: tuple[str, ...] = (
    # -- round-9 NEW surfaces (never driver-checked; registered only if
    # the module landed, the ``if n in QUERIES`` guard skips the rest)
    "delta_column_mapping",
    "delta_cm_export",
    "iceberg_v3_dv_delete_view",
    "lake_export_incremental",
    # -- newest green row is round 1 (37): the relational core
    "rel_q1_pricing_summary",
    "rel_q3_top_orders",
    "rel_q5_nation_revenue",
    "rel_group_stats",
    "rel_rollup",
    "rel_cube",
    "rel_grouping_sets",
    "rel_window_topk_per_group",
    "rel_window_running",
    "rel_window_lag",
    "rel_semi_join",
    "rel_anti_join",
    "rel_outer_join_agg",
    "rel_setops",
    "rel_union_all_counts",
    "rel_global_topk",
    "rel_range_join",
    "rel_asof_join",
    "rel_scalar_string",
    "rel_scalar_datetime",
    "rel_scalar_math",
    "rel_json_extract",
    "rel_pivot",
    "rel_array_agg",
    "rel_exists_subquery",
    "rel_not_in_subquery",
    "rel_scalar_subquery",
    "rel_percentiles",
    "rel_filtered_agg",
    "rel_window_range_frame",
    "rel_distribution_ranks",
    "rel_multi_distinct",
    "rel_date_arithmetic",
    "rel_bucketed_join",
    "rel_q14_promo_share",
    "rel_q19_disjunctive",
    "rel_window_value_functions",
    # -- newest green row is round 2 (4)
    "dedup_exact_count",
    "dedup_embedding_neardup",
    "mm_media_metadata",
    "stream_sliding_avg",
    # -- newest green row is round 3 (9)
    "lake_time_travel",
    "mor_delete_view_log_only",
    "mor_incremental",
    "dedup_ngram_jaccard",
    "pipeline_dedup_topk",
    "text_fingerprint_groups",
    "text_source_profile",
    "docs_stratified_sample",
    "pipeline_corpus_curation",
)


def query(name: str, oracle: str | None = None, late: bool = False):
    """Register a query; ``oracle`` is the DuckDB-equivalent ANSI SQL.

    ``late=True`` sends the query to the very back of the registry
    (``ordered_queries``): the driver's correctness harness oracle-checks
    the first 50 registered entries, so the window is budgeted for queries
    that most need a driver row — ``late`` marks redundant/diagnostic
    variants whose behavior is already covered by a windowed query plus
    pytest (e.g. raw LSH candidate feeds behind a verified funnel)."""

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        if late:
            _LATE.add(name)
        return fn

    return deco


def ordered_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry in driver order: ``_WINDOW`` names first (in window order),
    then registration order, with ``late`` entries at the back."""
    window = {n: QUERIES[n] for n in _WINDOW if n in QUERIES}
    head = {n: f for n, f in QUERIES.items() if n not in window and n not in _LATE}
    tail = {n: f for n, f in QUERIES.items() if n in _LATE and n not in window}
    return {**window, **head, **tail}


def load_all() -> None:
    """Import every query module so registration side effects run.

    Order matters: the driver's correctness harness oracle-checks the first
    50 registered queries, so the modules whose queries most need a driver
    row go first (lake/mor table format, then the LLM-pipeline operators),
    and the large relational corpus — fully driver-verified in round 1 —
    fills the remaining slots and the tail. A broken module must raise, not
    silently shrink the registry."""
    from . import (  # noqa: F401
        lake,
        mor,
        delta,
        iceberg,
        dedup,
        similarity,
        text,
        multimodal,
        streaming,
        curation,
        relational,
    )
