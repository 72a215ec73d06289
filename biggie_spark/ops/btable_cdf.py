"""btable scored surfaces (VERDICT r13 "Next round" item 3): the
capabilities round 13 built into biggie_spark/tablefmt.py but left
internal-test-only — the change data feed (``changes(from, to)``), the
IS [NOT] NULL and IN-list pruning paths, mergeSchema appends, and vacuum
observability.  Designs pre-validated in tools/backlog_r15.md; each op
follows the ops/btable_ops.py determinism contract: a FIXED commit
sequence on corpus tables in a scratch directory, ``coalesce(1)`` writes
so the file layout is structural, a bounded materialized aggregate, and a
DuckDB oracle that replays the sequence relationally.

Why the change feed is oracle-able at all: CDF granularity is FILE-level
(tablefmt.py:changes — an added file's rows emit as insert, a removed
file's rows as delete), and with one file per commit the set of files a
delete touches is a pure function of the corpus — so the per-(version,
change_type) aggregates are relationally derivable.  `bt_cdf_replay_state`
then scores the multiset invariant itself: folding the feed over the v0
state must reproduce the final table state exactly.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from biggie_spark.io import load_table
from biggie_spark.ops.btable_ops import (
    _ORC_NATION_SHIFT,
    _four_day_table,
    _materialize,
    _nation,
    _nation_shifted,
    _scratch,
)
from biggie_spark.registry import register
from biggie_spark.tablefmt import BTable


def _cdf_table(spark: SparkSession, sf_dir: str, tmp: str) -> BTable:
    """create(nation) -> append(shifted) -> delete(region 2), single-file
    commits: both data files contain region-2 rows, so the delete rewrites
    BOTH (deletes = all 50 rows, inserts = the 40 survivors) — the feed's
    per-version aggregates are structural."""
    t = BTable.create(spark, f"{tmp}/t", _nation(spark, sf_dir).coalesce(1))
    t.append(spark, _nation_shifted(spark, sf_dir).coalesce(1))
    t.delete(spark, "n_regionkey == 2")
    return t


@register(
    "bt_changes_feed_read",
    oracle=f"""
    WITH shifted AS ({_ORC_NATION_SHIFT}),
    both_v AS (
      SELECT n_nationkey, n_regionkey FROM nation
      UNION ALL SELECT n_nationkey, n_regionkey FROM shifted
    )
    SELECT 1 AS commit_version, 'insert' AS change_type,
           COUNT(*) AS cnt, CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
    FROM shifted
    UNION ALL SELECT 2, 'delete', COUNT(*), CAST(SUM(n_nationkey) AS BIGINT)
    FROM both_v
    UNION ALL SELECT 2, 'insert', COUNT(*), CAST(SUM(n_nationkey) AS BIGINT)
    FROM both_v WHERE NOT (n_regionkey = 2)
    ORDER BY commit_version, change_type
    """,
)
def bt_changes_feed_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed contents per (commit_version, change_type) over a
    create -> append -> delete log.  The copy-on-write delete must emit
    delete rows for EVERY row of both touched files and insert rows for
    every survivor (tablefmt.py:changes, Delta-without-CDC-files
    granularity) — a feed that missed a rewritten file, or leaked the v0
    create into changes(0) = (0, last], hashes red."""
    tmp = _scratch()
    try:
        t = _cdf_table(spark, sf_dir, tmp)
        return _materialize(
            t.changes(spark, 0)
            .groupBy(
                F.col("_commit_version").alias("commit_version"),
                F.col("_change_type").alias("change_type"),
            )
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum("n_nationkey").alias("sum_key"),
            )
            .orderBy("commit_version", "change_type")
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "bt_cdf_replay_state",
    oracle=f"""
    WITH v2 AS (
      SELECT n_nationkey, n_regionkey FROM (
        SELECT n_nationkey, n_name, n_regionkey FROM nation
        UNION ALL {_ORC_NATION_SHIFT}
      ) u WHERE NOT (n_regionkey = 2)
    )
    SELECT n_regionkey, COUNT(*) AS cnt,
           CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
    FROM v2 GROUP BY n_regionkey ORDER BY n_regionkey
    """,
)
def bt_cdf_replay_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDF multiset invariant AS the scored check: fold changes(0)
    over the version-0 state with signed counts (insert +1, delete -1)
    and emit the per-region final aggregate.  The oracle derives the
    final state relationally from the corpus — the hash is green iff
    state(last) = state(0) - deletes + inserts holds exactly (a second,
    engine-independent derivation of bt_commit_replay_read's answer)."""
    tmp = _scratch()
    try:
        t = _cdf_table(spark, sf_dir, tmp)
        v0 = t.read(spark, version=0).select(
            "n_regionkey", "n_nationkey", F.lit(1).alias("sign")
        )
        feed = t.changes(spark, 0).select(
            "n_regionkey",
            "n_nationkey",
            F.when(F.col("_change_type") == "insert", 1)
            .otherwise(-1)
            .alias("sign"),
        )
        return _materialize(
            v0.unionByName(feed)
            .groupBy("n_regionkey")
            .agg(
                F.sum("sign").alias("cnt"),
                F.sum(F.col("sign") * F.col("n_nationkey")).alias("sum_key"),
            )
            .filter("cnt > 0")
            .orderBy("n_regionkey")
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "bt_merge_schema_read",
    oracle="""
    WITH fin AS (
      SELECT n_nationkey, n_name, n_regionkey, CAST(NULL AS BIGINT) AS bonus
      FROM nation
      UNION ALL
      SELECT n_nationkey + 100, CAST(NULL AS VARCHAR), n_regionkey,
             CAST(n_nationkey * 3 AS BIGINT)
      FROM nation
    )
    SELECT n_regionkey, COUNT(*) AS cnt,
           CAST(SUM(CASE WHEN n_name IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_name,
           CAST(SUM(CASE WHEN bonus IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_bonus,
           CAST(SUM(bonus) AS BIGINT) AS sum_bonus
    FROM fin GROUP BY n_regionkey ORDER BY n_regionkey
    """,
)
def bt_merge_schema_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mergeSchema append (tablefmt.py:append merge_schema=True) read back:
    the appended frame ADDS a column the table lacks (bonus, widened into
    the table schema in the same commit) and LACKS a column the table has
    (n_name, null-filled) — per-region counts of both null sides plus the
    bonus sum pin the widening, the null-fill, and the old-file
    missing-column read in one aggregate."""
    tmp = _scratch()
    try:
        t = BTable.create(
            spark, f"{tmp}/t", _nation(spark, sf_dir).coalesce(1)
        )
        app = _nation(spark, sf_dir).select(
            (F.col("n_nationkey") + 100).alias("n_nationkey"),
            "n_regionkey",
            (F.col("n_nationkey") * 3).cast("long").alias("bonus"),
        )
        t.append(spark, app.coalesce(1), merge_schema=True)
        return _materialize(
            t.read(spark)
            .groupBy("n_regionkey")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum(
                    F.when(F.col("n_name").isNull(), 1).otherwise(0)
                ).alias("n_null_name"),
                F.sum(
                    F.when(F.col("bonus").isNull(), 1).otherwise(0)
                ).alias("n_null_bonus"),
                F.sum("bonus").alias("sum_bonus"),
            )
            .orderBy("n_regionkey")
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_IN_BASE_SQL = """
    SELECT n_nationkey + 100 * d.day AS k, n_name AS grp
    FROM nation, (SELECT UNNEST([1, 2, 3, 4]) AS day) d
"""

_IN_PREDS = [
    # label, spark/btable where, duckdb where, expected files scanned (of 4)
    # k spans [100d, 100d+24] per day-file d
    ("in_two_files", "k IN (101, 305)", "(k IN (101, 305))", 2),
    # 50 below every file, 150 in the 125..199 gap, 999 above: zero files
    ("in_no_file", "k IN (50, 150, 999)", "(k IN (50, 150, 999))", 0),
    # NATION_3 is inside every file's grp range -> no pruning
    (
        "in_str_all",
        "grp IN ('NATION_3', 'ZZZ')",
        "(grp IN ('NATION_3', 'ZZZ'))",
        4,
    ),
    # conjunct whose IN-list is entirely above the grp range prunes ALL
    (
        "in_conj_none",
        "k IN (205, 210) AND grp IN ('ZZZ')",
        "(k IN (205, 210) AND grp IN ('ZZZ'))",
        0,
    ),
    # fractional item keeps day-1 scanned (100.5 in [100,124]) but matches
    # no row — scanned=2, cnt counts only k=300
    ("in_frac", "k IN (100.5, 300)", "(k IN (100.5, 300))", 2),
]


@register(
    "bt_in_pruned_read",
    oracle=f"""
    WITH base AS ({_IN_BASE_SQL})
    {" UNION ALL ".join(
        f"SELECT '{label}' AS which, 4 AS files_total, "
        f"{scanned} AS files_scanned, COUNT(*) AS cnt, "
        f"CAST(COALESCE(SUM(k), 0) AS BIGINT) AS sum_k "
        f"FROM base WHERE {dq}"
        for label, _, dq, scanned in _IN_PREDS
    )}
    ORDER BY which
    """,
)
def bt_in_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list data skipping with the pruned-file count ASSERTED: the
    structural four-day table reads under IN predicates whose exact scan
    counts are known (a file survives iff ANY list item falls inside its
    [min,max]).  files_scanned is the live tablefmt.py:scan_file_count
    value pinned against an oracle literal — under-pruning and
    over-pruning both hash red, and the row contents catch an IN-list
    evaluated as a filter but mis-pruned as stats."""
    tmp = _scratch()
    try:
        t = _four_day_table(spark, sf_dir, tmp)
        # scan_file_count is driver-side log math, so the five predicate
        # aggregates union into ONE action (optimization r14, guide §2.6
        # — same fusion as bt_stats_skipped_read; 11 -> 7 Spark jobs
        # measured via tools/op_job_count.py).  Rows/types identical.
        frames = [
            t.read(spark, where=sw).agg(
                F.lit(label).alias("which"),
                F.lit(4).alias("files_total"),
                F.lit(t.scan_file_count(sw)).alias("files_scanned"),
                F.count(F.lit(1)).alias("cnt"),
                F.coalesce(F.sum("k"), F.lit(0)).cast("long").alias("sum_k"),
            )
            for label, sw, _, _ in _IN_PREDS
        ]
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return _materialize(out.orderBy("which"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_NULL_SLICES_SQL = """
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN n_chars END AS v
    FROM documents WHERE doc_id % 3 = 0
    UNION ALL
    SELECT doc_id, n_chars AS v FROM documents WHERE doc_id % 3 = 1
    UNION ALL
    SELECT doc_id, CAST(NULL AS BIGINT) AS v
    FROM documents WHERE doc_id % 3 = 2
"""

_NULL_PREDS = [
    # label, where (same text both engines), expected files scanned (of 3)
    # file A (doc_id%3=0): mixed nulls; B (%3=1): zero nulls; C (%3=2): all
    ("is_null", "v IS NULL", 2),  # B excluded (nullCount = 0)
    ("is_not_null", "v IS NOT NULL", 2),  # C excluded (nullCount = rows)
    ("cmp_skips_allnull", "v >= 0", 2),  # C excluded (NULL >= 0 never true)
    ("key_not_null", "doc_id IS NOT NULL", 3),  # no file is all-null on key
]


@register(
    "bt_null_stats_skipped_read",
    oracle=f"""
    WITH base AS ({_NULL_SLICES_SQL})
    {" UNION ALL ".join(
        f"SELECT '{label}' AS which, 3 AS files_total, "
        f"{scanned} AS files_scanned, COUNT(*) AS cnt, "
        f"CAST(COALESCE(SUM(v), 0) AS BIGINT) AS sum_v "
        f"FROM base WHERE {w}"
        for label, w, scanned in _NULL_PREDS
    )}
    ORDER BY which
    """,
)
def bt_null_stats_skipped_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS [NOT] NULL pruning on per-file null counts (Delta's nullCount,
    tablefmt.py:_clause_excludes): three single-file commits from
    documents slices — mixed-null, never-null, all-null — read under
    predicates whose exact scan counts are structural.  Also pins the
    all-null-file rule: `v >= 0` must skip the file where every v is NULL
    (NULL op literal is never true) without dropping a single live row."""
    tmp = _scratch()
    try:
        docs = load_table(spark, sf_dir, "documents")
        slices = [
            docs.filter("doc_id % 3 = 0").select(
                "doc_id",
                F.when(F.col("doc_id") % 2 == 0, F.col("n_chars")).alias("v"),
            ),
            docs.filter("doc_id % 3 = 1").select(
                "doc_id", F.col("n_chars").alias("v")
            ),
            docs.filter("doc_id % 3 = 2").select(
                "doc_id", F.lit(None).cast("long").alias("v")
            ),
        ]
        t = BTable.create(spark, f"{tmp}/t", slices[0].coalesce(1))
        for s in slices[1:]:
            t.append(spark, s.coalesce(1))
        # Four per-predicate collects fused into ONE unioned action
        # (optimization r14, guide §2.6 — see bt_in_pruned_read; 9 -> 6
        # Spark jobs).  Rows/types identical.
        frames = [
            t.read(spark, where=w).agg(
                F.lit(label).alias("which"),
                F.lit(3).alias("files_total"),
                F.lit(t.scan_file_count(w)).alias("files_scanned"),
                F.count(F.lit(1)).alias("cnt"),
                F.coalesce(F.sum("v"), F.lit(0)).cast("long").alias("sum_v"),
            )
            for label, w, _ in _NULL_PREDS
        ]
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return _materialize(out.orderBy("which"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "bt_vacuum_observability",
    oracle="""
    SELECT 5 AS files_pre_delete, 4 AS files_live, 1 AS files_vacuumed,
           COUNT(*) AS cnt, CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
    FROM nation WHERE NOT (n_regionkey = 2)
    """,
)
def bt_vacuum_observability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM observability: five single-file region commits, then a
    delete that removes region 2's file ENTIRELY (no survivors, so no
    rewrite — the layout stays 5 physical / 4 live files), then
    vacuum(keep_versions=1, retention_seconds=0).  Exactly the one
    unreferenced file may be reclaimed: files_vacuumed pins vacuum against
    both under-collection (orphan left) and over-collection (a live file
    deleted would also break cnt/sum on the final read)."""
    tmp = _scratch()
    try:
        nat = _nation(spark, sf_dir)
        t = BTable.create(
            spark, f"{tmp}/t", nat.filter("n_regionkey = 0").coalesce(1)
        )
        for r in (1, 2, 3, 4):
            t.append(spark, nat.filter(f"n_regionkey = {r}").coalesce(1))
        files_pre = t.scan_file_count()
        t.delete(spark, "n_regionkey == 2")
        # retention 0 is safe here: single-writer scratch table (the
        # tablefmt.py:vacuum docstring's sanctioned case)
        vacuumed = len(t.vacuum(keep_versions=1, retention_seconds=0))
        files_live = t.scan_file_count()
        r = t.read(spark).agg(
            F.count(F.lit(1)), F.sum("n_nationkey")
        ).collect()[0]
        return spark.createDataFrame(
            [(files_pre, files_live, vacuumed, r[0], r[1])],
            "files_pre_delete int, files_live int, files_vacuumed int, "
            "cnt bigint, sum_key bigint",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
