"""Graded-query registry — the SURVEY.md §2 correctness contract.

Every graded operator registers here via the :func:`graded` decorator;
``__spark_entry__.py`` exposes the registry to the driver. A query with
``oracle`` set gets the full DuckDB hash-match check; ``oracle=None``
declares a rows-only smoke (reserved for ops DuckDB can't reproduce
deterministically: LSH, sketches, sinks, streaming).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
# Registering module per query (``fn.__module__``) — lets tooling map a
# git-changed source file back to the graded names it defines
# (tools/check_oracle.py --changed).
MODULES: dict[str, str] = {}


def graded(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn(spark, sf_dir) -> DataFrame`` as graded query ``name``.

    Rules every registrant must satisfy (SURVEY §8):
    - alias every computed column, identically in Spark and oracle SQL;
    - decimal-cast recipe for double aggregates;
    - every LIMIT / window orderBy ends with a unique key;
    - ROUND(,4) on float-vector / z-score outputs.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate graded query {name!r}")
        QUERIES[name] = fn
        MODULES[name] = fn.__module__
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# Driver-sample rotation: the driver's per-round correctness check grades
# the FIRST 50 names of the registry dict. Until round 9 the window was
# steered by module import order, which cannot reach names scattered in
# the middle of large modules; from round 10 the window is an explicit
# name list applied after all modules load (names NOT listed keep their
# import-order position after the window).
#
# Round-13 window — the 15 NEW r13 operators first (never sampled by
# definition), then ALL 28 remaining r05-latest-verdict names
# (recomputed from the CORRECTNESS_r01–r12 union — the r12 plan's "24"
# undercounted), then the r06 block head (stream_tumbling_counts
# first, then alphabetical) — exactly 50.
#
# Round-14 plan: any NEW r14 operators first, then the remaining 42
# r06-latest-verdict names (alphabetical from scalar_array_extended
# onward: scalar_array_extended, scalar_binary_encode,
# scalar_bitwise, scalar_collation, scalar_date, scalar_date_format,
# scalar_levenshtein, scalar_map_entries, scalar_map_hof,
# scalar_math, scalar_regexp_extract_all, scalar_string,
# scalar_string_extended, scalar_trig, scalar_try_ops, scalar_zip_dot,
# scan_project_filter, schema_*, sink_*, stream_* smokes,
# timeseries_anomaly_zscore, window_distinct_running, … — recompute
# from the union at close), then the r07 block head.
_SAMPLE_WINDOW_R13: tuple[str, ...] = (
    # --- NEW r13 operators (prepended as they land) ---
    "analytics_auc_quality",
    "layout_encoding_stats",
    "stream_ttl_rollup_replay",
    "analytics_isotonic_calibration",
    "stream_disorder_stats",
    "udf_map_in_arrow",
    "dedup_stage_funnel",
    "analytics_mde_curve",
    "analytics_theil_index",
    "join_bloom_fpp_sweep",
    "match_fs_threshold_grid",
    "text_heaps_law",
    "graph_assortativity",
    "dedup_minhash_perm_sweep",
    "pipeline_seqlen_tradeoff_sweep",
    # --- oldest verdicts: all 28 remaining r05-latest names ---
    "agg_arg_extremes",
    "agg_histogram",
    "agg_percentile",
    "agg_pivot",
    "agg_regression_moments",
    "agg_stats",
    "agg_winsorized_stats",
    "analytics_ab_lift",
    "analytics_abandonment",
    "analytics_abc_classification",
    "analytics_attribution",
    "analytics_attribution_first",
    "analytics_gini_coefficient",
    "analytics_group_regression",
    "analytics_heatmap_2d",
    "analytics_market_basket",
    "analytics_pareto_share",
    "analytics_survival_curve",
    "analytics_time_to_convert",
    "scalar_date_extended",
    "sql_group_by_all",
    "sql_lateral_topk",
    "sql_named_parameters",
    "sql_pipe_syntax",
    "sql_recursive_cte",
    "sql_subqueries",
    "unpivot_metrics",
    "window_rank_family",
    # --- r06 refresh head (fills to 50; trimmed from the tail as new
    # r13 operators are prepended) ---
    "stream_tumbling_counts",
    "agg_group_sum",
    "csv_decode_smoke",
    "csv_roundtrip_typed",
    "explode_array",
    "explode_outer_sparse",
    "scalar_array",
)


def _apply_sample_window(first: tuple[str, ...]) -> None:
    """Reorder QUERIES so ``first`` occupies the driver's 50-name window.

    Raises loudly on a typo'd / unregistered name so a bad rotation list
    cannot silently shrink the sample. Relative import order is kept for
    every name outside the window.
    """
    missing = [n for n in first if n not in QUERIES]
    if missing:
        raise KeyError(f"sample window names not registered: {missing}")
    head = set(first)
    order = [*first, *(n for n in QUERIES if n not in head)]
    for mapping in (QUERIES, ORACLES, MODULES):
        reordered = {n: mapping[n] for n in order if n in mapping}
        mapping.clear()
        mapping.update(reordered)


def load_all() -> None:
    """Import every query module so registration side effects run.

    Registration order is then rewritten by :func:`_apply_sample_window`
    so the driver's first-50 correctness sample lands exactly on the
    round's rotation list (see ``_SAMPLE_WINDOW_R13``). History: r01–r05
    sampled the alphabetical head (union 77/270); r06–r09 rotated by
    module import order (union 250/304); r10 switched to the explicit
    list (union 299/330); r11's window was the 19 NEW r11 operators +
    the final 31 never-sampled names (union 349/350 — only
    ``stream_rollup_replay``, added after that window was pinned, was
    left); r12 led with it plus the new r12 operators, closing the
    union, then refreshed the oldest (r01/r02) verdicts; from r13 the
    job is verdict FRESHNESS — new operators first, then the oldest-
    latest-verdict block. New queries may land anywhere — only the
    window list pins the sample.
    """
    from .queries import (  # noqa: F401
        pipelines,
        joins_asof,
        enrichment,
        streaming,
        merge,
        multimodal,
        sketches,
        layout,
        validation,
        curation,
        dedup,
        udfs,
        setops,
        text,
        vectors,
        semistructured,
        joins,
        relational,
        scalars,
        windows,
        aggregates,
        analytics,
    )

    _apply_sample_window(_SAMPLE_WINDOW_R13)
