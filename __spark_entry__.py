"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query (Q1 pricing summary) on sf0.001.
``queries()`` — every implemented operator from SURVEY.md §2 (+ the
LLM-pipeline extensions), as ``(spark, sf_dir) -> DataFrame`` callables.
``oracle_sql()`` — DuckDB-runnable ANSI SQL equivalents for the
SQL-expressible subset; non-SQL-expressible ops get rows-only checks.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from dataclod_spark.registry import load_all_queries
from dataclod_spark.rotation import load_history, rotation_order

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    registry = load_all_queries()
    return registry["q1_pricing_summary"].fn(spark, "/root/testdata/sf0.001")


# Queries whose RESULT VALUES may differ from their latest driver row
# because this round's tree changed the implementation or the oracle —
# they jump to the very front of the correctness window.  Reset this
# list at the start of each round; entries left over from a prior round
# only waste window slots (never produce a wrong check).
_CHANGED_THIS_ROUND: tuple[str, ...] = (
    # the grid spatial join builds every stage from one set of SQL
    # fragments (operators/spatial_join.py): the DataFrame operator and
    # the SQL dispatch routes (inner, chain, outer, EXISTS, and the
    # literal-filter pushdown's exact verdict) changed construction
    "g6_spatial_join_points_in_boxes",
    "g7_dwithin_join",
    "g8_rect_within_join",
    "g9_sql_spatial_join",
    "g11_sql_outer_spatial_join",
    "g12_sql_cte_spatial_join",
    "g14_sql_multi_join_spatial",
    "g15_sql_exists_spatial",
    "g16_sql_not_exists_spatial",
    "g17_sql_region_query",
    "g18_sql_chain_spatial_second",
    "g19_sql_dwithin_join",
    "g20_sql_distance_lt_join",
)

# The driver samples a bounded window (50 in r2-r5) of the registry in
# dict order.  The order is GENERATED from the CORRECTNESS_r*.json
# history (changed-this-round first, then never-driver-checked, then
# non-green, then stalest-first) — see dataclod_spark/rotation.py for
# the policy and tests/test_rotation.py for the window guarantees.
_PRIORITY = rotation_order(
    list(load_all_queries()),
    load_history(_REPO_DIR),
    _CHANGED_THIS_ROUND,
)


def _ordered() -> dict[str, object]:
    registry = load_all_queries()
    out = {}
    for name in _PRIORITY:
        if name in registry:
            out[name] = registry[name]
    for name, qd in registry.items():
        if name not in out:
            out[name] = qd
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: qd.fn for name, qd in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for each SQL-expressible query."""
    return {name: qd.oracle for name, qd in _ordered().items() if qd.oracle is not None}
