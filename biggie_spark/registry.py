"""Operator registry — the single source of truth for the driver contract.

Every operator from SURVEY.md §2 registers here as
``name -> callable(spark, sf_dir) -> DataFrame`` plus (where the semantics
are SQL-expressible) a DuckDB oracle SQL string.  ``__spark_entry__.py``
re-exports these dicts verbatim.

Determinism conventions (SURVEY.md §2, binding):
1. every float output column is ``round(x, 4)`` on BOTH sides;
2. top-k / LIMIT outputs are tie-broken by key columns;
3. ``events.ts`` is only emitted through date_trunc / date / epoch-seconds;
4. no rand(), no unseeded sampling, no non-windowed first().

Laziness: ``QUERIES[name](spark, sf_dir)`` normally only CONSTRUCTS a plan
(lineage caps go through ``util.lineage_cap``, which is eager=False).  The
exceptions run Spark jobs at construction time by necessity: write-path
demos that materialize before their temp dir vanishes (ops/sources.py,
ops/bucketing.py, ops/spark4.py, two analytics4 index demos),
self-overwrite sinks that must read before they replace their own input
(ops/kv.py, ops/streaming.py foreachBatch demo, stash.put to its own path),
and iterative ops whose loop exits on a CONVERGENCE count rather than a
fixed iteration bound (llm_dedup_clusters' label-propagation: the per-round
changed-label count is an action; fixed-iteration loops like graph_pagerank
and the BPE merges stay lazy).
"""

from __future__ import annotations

import json
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# Ledger of ops that already have a driver CORRECTNESS row
# (tools/refresh_ledger.py folds it from CORRECTNESS_r*.json).
GREEN_LEDGER = Path(__file__).resolve().parent.parent / "tools" / "driver_green.json"


def ordered_queries() -> dict[str, QueryFn]:
    """QUERIES in driver order: ops the ledger does not mark done first,
    no-oracle ops last within each group, then by name — never by module
    import order.  Done = hash-green (``green``) or no-oracle
    (``no_oracle_by_design``, ``retired_no_signal``): a no-oracle op can
    never earn an upgradable driver row."""
    try:
        ledger = json.loads(GREEN_LEDGER.read_text())
    except (OSError, ValueError):
        ledger = {}
    keys = ("green", "no_oracle_by_design", "retired_no_signal")
    done = {n for key in keys for n in ledger.get(key, [])}
    order = sorted(QUERIES, key=lambda n: (n in done, n not in ORACLES, n))
    return {n: QUERIES[n] for n in order}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query callable; ``oracle=None`` means the driver applies
    its weaker rows-only check (reserved for genuinely non-SQL-expressible
    ops: write paths, sampling, approximate sketches, streaming demos)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            # A silent overwrite once shadowed ts_ohlc (per-day) with a new
            # hourly op of the same name — the ledger then lied about what
            # the driver had actually scored.  Names are contract keys;
            # collisions must fail at import time.
            raise ValueError(f"operator {name!r} is already registered")
        QUERIES[name] = fn
        if oracle is not None:
            if "--" in oracle:
                # Whitespace collapsing below folds the SQL onto one line,
                # so a `--` line comment would comment out the REST OF THE
                # QUERY — refuse at registration instead of failing in the
                # driver with an opaque parse error.
                raise ValueError(
                    f"oracle for {name!r} contains a '--' SQL comment; "
                    "use /* ... */ or remove it (oracles are collapsed to "
                    "one line)"
                )
            ORACLES[name] = " ".join(oracle.split())
        return fn

    return deco


def load_all_ops() -> None:
    """Import every operator module so registration side-effects run."""
    import biggie_spark.ops  # noqa: F401
