"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Everything is implemented in the ``biggie_spark`` package (this repo);
this file just re-exports the operator registry (SURVEY.md §2).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from biggie_spark.registry import (  # noqa: E402
    ORACLES,
    QUERIES,
    load_all_ops,
    ordered_queries,
)

load_all_ops()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the 5-table star join +
    revenue aggregate (SURVEY.md §6 `q_join_agg`)."""
    from biggie_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    return QUERIES["join_multiway_star"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2: ops the
    tools/driver_green.json ledger has not yet marked done come first,
    no-oracle ops last within each group, then by name."""
    return ordered_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query (omitted -> weaker rows-only check)."""
    return dict(ORACLES)
