"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``azure_medicine_data_engineering_spark``; this module
only adapts it to the driver's calling convention. Float-valued aggregates are
rounded identically on both sides (Spark and oracle SQL) so the value hash is
not sensitive to summation order.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from azure_medicine_data_engineering_spark.queries import registry  # noqa: E402
from azure_medicine_data_engineering_spark.queries import (  # noqa: E402,F401
    ann_index,
    audio_dedup,
    corpus_clean,
    corpus_pipeline,
    crawl_funnel,
    distrib,
    events,
    image_dedup,
    ingress,
    kn_arpa,
    medstats,
    multimodal_av_funnel,
    multimodal_funnel,
    quality,
    relational,
    relational2,
    sketches,
    sql_surface,
    stats_ml,
    text_dedup,
    tokenizer_artifacts,
    video_dedup,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the categorized-summary
    operator (reference's ``createTableCategorized``) over lineitem, in its
    scale-default mergeable-sketch form — approx-median state is fixed-size
    per group, so the plan survives 100x distinct-value growth. The exact-
    median variant stays registered as the parity query
    (``categorized_summary``)."""
    return relational.q_categorized_summary_fast(spark, "/root/testdata/sf0.001")


# Queries prior driver gates already hash-verified. The gate checks the
# FIRST 50 dict entries, so everything not yet driver-verified sorts first,
# in registration order, rotating fresh queries into each round's gate.
# The local tools/check_correctness.py gate covers ALL queries at 3 scale
# factors every round regardless — the rotation only decides which hashes
# the DRIVER records. Verified sets are read from the CORRECTNESS_r*.json
# files the driver leaves in the repo root (hash_match green only), with
# the round-1 set inlined as a fallback.
_ROUND1_VERIFIED = {
    "events_tumbling_hourly", "events_sliding_1h_30m", "events_sessionization",
    "events_json_props", "events_user_activity_profile",
    "asof_join_purchase_to_click", "interval_join_click_purchase_counts",
    "quality_report_lineitem", "null_counts_orders",
    "boolean_cast_null_semantics", "division_column_lookup",
    "profile_orders_table", "referential_integrity_lineitem",
    "categorized_summary", "pricing_summary", "join_star_revenue",
    "top_customers_by_spend", "semi_join_active_customers",
    "anti_join_idle_customers", "cross_join_cohort_aggregates",
    "union_harmonized_cohorts", "set_ops_nation_keys",
    "rollup_returnflag_status", "cube_orderstatus_priority",
    "distinct_aggregates", "window_customer_order_rank",
    "window_lag_order_gap_days", "scalar_date_functions",
    "scalar_when_chain_priority_score", "scalar_string_functions",
    "forecast_revenue_filter", "shipping_priority_topk",
    "local_supplier_volume", "winnowing_fingerprints",
    "stateful_user_profiles", "pivot_status_by_priority",
    "orders_per_customer_distribution", "cheapest_supplier_per_part",
    "large_orders_in_subquery", "full_outer_nation_presence",
    "pandas_udf_embedding_norms", "returned_item_revenue_topk",
    "shipmode_priority_matrix", "promo_revenue_share",
    "disjunctive_predicate_revenue", "idle_rich_customers_by_prefix",
    "array_agg_supplier_names", "higher_order_array_predicates",
    "map_type_surface",
}


def _driver_verified() -> set[str]:
    import glob
    import json

    seen = set(_ROUND1_VERIFIED)
    here = os.path.dirname(os.path.abspath(__file__))
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        try:
            with open(path) as f:
                rows = json.load(f)
            seen.update(
                n for n, r in rows.items()
                if isinstance(r, dict) and r.get("hash_match")
            )
        except (OSError, ValueError):
            continue
    return seen


def _touched_queries() -> tuple[set[str], set[str]]:
    """Diff the live registry against `.gate_snapshot.json` (written at
    round START by tools/gate_snapshot.py). Returns (precise, broad):
    precise = queries whose fn source or oracle text changed since the
    snapshot; broad = queries whose defining module, or a package module
    their defining module imports, changed. Round-10 VERDICT #2: a
    once-verified query modified later must re-enter the driver's
    50-slot gate instead of sorting last forever."""
    import hashlib
    import inspect
    import json
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, ".gate_snapshot.json")) as f:
            snap = json.load(f)
    except (OSError, ValueError):
        return set(), set()
    old_q = snap.get("queries", {})
    old_m = snap.get("modules", {})

    pkg = "azure_medicine_data_engineering_spark"
    precise: set[str] = set()
    mod_src_cache: dict[str, str] = {}
    changed_modules: set[str] = set()
    # current module hashes vs snapshot
    cur_files: set[str] = set()
    for root, _dirs, files in os.walk(os.path.join(here, pkg)):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, here)
            cur_files.add(rel)
            with open(path, "rb") as fh:
                digest = hashlib.sha256(fh.read()).hexdigest()
            if old_m.get(rel) != digest:
                changed_modules.add(rel)
    changed_modules.update(set(old_m) - cur_files)  # deleted modules

    # static one-level import scan: defining module -> imported pkg modules
    def imports_of(rel: str) -> set[str]:
        if rel in mod_src_cache:
            src = mod_src_cache[rel]
        else:
            try:
                with open(os.path.join(here, rel)) as fh:
                    src = fh.read()
            except OSError:
                src = ""
            mod_src_cache[rel] = src
        mods = set()
        for m in re.finditer(
            rf"from {pkg}((?:\.\w+)+) import|import {pkg}((?:\.\w+)+)", src
        ):
            dotted = (m.group(1) or m.group(2)).lstrip(".")
            parts = dotted.split(".")
            mods.add(os.path.join(pkg, *parts) + ".py")
            mods.add(os.path.join(pkg, *parts, "__init__.py"))
        return mods

    # transitive closure (round-11 ADVICE): a codec behind a seam —
    # queries/x imports operators/multimodal which lazily imports
    # operators/gif — must still re-flag when the CODEC changes; the
    # regex matches lazy in-function imports too (no line anchor), so
    # the closure walk covers them.
    closure_cache: dict[str, set[str]] = {}

    def closure_of(rel: str) -> set[str]:
        if rel in closure_cache:
            return closure_cache[rel]
        seen_mods = {rel}
        stack = [rel]
        while stack:
            cur = stack.pop()
            for dep in imports_of(cur):
                if dep not in seen_mods:
                    seen_mods.add(dep)
                    stack.append(dep)
        closure_cache[rel] = seen_mods
        return seen_mods

    broad: set[str] = set()
    for name, fn in registry.QUERIES.items():
        try:
            src = inspect.getsource(fn)
        except (OSError, TypeError):
            src = ""
        oracle = registry.ORACLES.get(name, "")
        digest = hashlib.sha256(
            (src + "\x00" + oracle).encode("utf-8")
        ).hexdigest()
        if old_q.get(name) != digest:
            precise.add(name)
            continue
        mod = sys.modules.get(fn.__module__)
        mod_file = getattr(mod, "__file__", None)
        if not mod_file:
            continue
        rel = os.path.relpath(mod_file, here)
        if closure_of(rel) & changed_modules:
            broad.add(name)
    return precise, broad


def _gate_order(names) -> list[str]:
    verified = _driver_verified()
    precise, broad = _touched_queries()

    def tier(n: str) -> int:
        if n not in verified:
            return 0
        if n in precise:
            return 1
        if n in broad:
            return 2
        return 3

    return sorted(names, key=tier)  # stable sort keeps registration order


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    q = registry.QUERIES
    return {n: q[n] for n in _gate_order(q)}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query (omitted only for
    non-SQL-expressible ops; the driver then records a rows-only check)."""
    o = registry.ORACLES
    return {n: o[n] for n in _gate_order(o)}
