"""btable ACID table format (biggie_spark/tablefmt.py): create/append/
time-travel/delete/merge semantics, atomic-commit conflict behavior,
copy-on-write file-level surgery, and stats-based data skipping."""

from __future__ import annotations

import os
import random
import uuid

import pytest
from pyspark.sql import functions as F

from biggie_spark.tablefmt import (
    BTable,
    CommitConflict,
    SchemaMismatch,
    _maybe_matches,
    _read_log,
)


def _mk(spark, tmp_path, n=100, parts=4):
    df = (
        spark.range(n)
        .repartition(parts)
        .select(
            F.col("id").alias("k"),
            (F.col("id") * 10).alias("v"),
            F.concat(F.lit("g"), F.pmod("id", 5)).alias("grp"),
        )
    )
    return BTable.create(spark, str(tmp_path / "t"), df)


def _rows(df):
    return sorted((r.k, r.v, r.grp) for r in df.collect())


def test_create_read_roundtrip_and_history(spark, tmp_path):
    t = _mk(spark, tmp_path)
    got = _rows(t.read(spark))
    assert len(got) == 100
    assert got[0] == (0, 0, "g0") and got[99] == (99, 990, "g4")
    h = t.history()
    assert [c["op"] for c in h] == ["create"]
    assert h[0]["added"] >= 1 and h[0]["removed"] == 0
    with pytest.raises(FileExistsError):
        BTable.create(spark, str(tmp_path / "t"), t.read(spark))


def test_append_and_time_travel(spark, tmp_path):
    t = _mk(spark, tmp_path, n=50)
    extra = spark.createDataFrame(
        [(1000 + i, i, "gx") for i in range(5)], "k bigint, v bigint, grp string"
    )
    v1 = t.append(spark, extra)
    assert v1 == 1
    assert t.read(spark).count() == 55
    assert t.read(spark, version=0).count() == 50, "time travel broken"
    assert {r.grp for r in t.read(spark, version=1).collect()} >= {"gx"}
    with pytest.raises(ValueError):
        t.read(spark, version=7)


def test_append_enforces_schema(spark, tmp_path):
    t = _mk(spark, tmp_path, n=10)
    bad = spark.createDataFrame([(1, "x")], "k bigint, extra string")
    with pytest.raises(SchemaMismatch):
        t.append(spark, bad)
    assert t.snapshot().version == 0, "failed append must not commit"


def test_delete_is_copy_on_write_file_surgery(spark, tmp_path):
    # force key-disjoint files so the delete provably touches a subset
    base = str(tmp_path / "t")
    dfs = [
        spark.createDataFrame(
            [(i, i * 10, f"g{i % 5}") for i in range(lo, lo + 25)],
            "k bigint, v bigint, grp string",
        ).coalesce(1)
        for lo in (0, 25, 50, 75)
    ]
    t = BTable.create(spark, base, dfs[0])
    for d in dfs[1:]:
        t.append(spark, d)
    before = set(t.snapshot().files)
    assert len(before) == 4
    v = t.delete(spark, "k >= 25 AND k < 30")
    snap = t.snapshot()
    assert v == snap.version == 4
    untouched = before & set(snap.files)
    assert len(untouched) == 3, "delete rewrote files it didn't need to"
    assert t.read(spark).count() == 95
    assert t.read(spark).filter("k >= 25 AND k < 30").count() == 0
    # pre-delete snapshot still readable (time travel over removed files)
    assert t.read(spark, version=3).count() == 100


def test_delete_no_match_is_noop(spark, tmp_path):
    t = _mk(spark, tmp_path, n=20)
    v = t.delete(spark, "k > 100000")
    assert v == 0 and t.read(spark).count() == 20
    assert [c["op"] for c in t.history()] == ["create"]


def test_merge_upsert(spark, tmp_path):
    base = str(tmp_path / "t")
    dfs = [
        spark.createDataFrame(
            [(i, i * 10, f"g{i % 5}") for i in range(lo, lo + 25)],
            "k bigint, v bigint, grp string",
        ).coalesce(1)
        for lo in (0, 25, 50, 75)
    ]
    t = BTable.create(spark, base, dfs[0])
    for d in dfs[1:]:
        t.append(spark, d)
    before = set(t.snapshot().files)
    source = spark.createDataFrame(
        [(5, -1, "upd"), (26, -2, "upd"), (200, -3, "new")],
        "k bigint, v bigint, grp string",
    )
    t.merge(spark, source, on="k")
    got = {r.k: (r.v, r.grp) for r in t.read(spark).collect()}
    assert len(got) == 101
    assert got[5] == (-1, "upd") and got[26] == (-2, "upd")
    assert got[200] == (-3, "new")
    assert got[6] == (60, "g1"), "non-matched row in a touched file changed"
    # COW surgery: the two files holding k=5 and k=26 were rewritten, the
    # other two survive
    untouched = before & set(t.snapshot().files)
    assert len(untouched) == 2, "merge rewrote more files than it hit"
    # matched-delete + ignore-inserts variant
    t.merge(
        spark,
        source,
        on="k",
        when_matched="delete",
        when_not_matched="ignore",
    )
    left = {r.k for r in t.read(spark).collect()}
    assert 5 not in left and 26 not in left and 200 not in left
    assert len(left) == 98


def test_commit_conflict_left_no_partial_state(spark, tmp_path):
    t = _mk(spark, tmp_path, n=10)
    # the loser reads its snapshot FIRST (this is the optimistic read)...
    snap = t.snapshot()
    extra = spark.createDataFrame(
        [(99, 990, "gx")], "k bigint, v bigint, grp string"
    )
    loser_adds = t._write_files(spark, extra)  # data staged, not committed
    # ...then a concurrent winner claims the next version
    winner = os.path.join(t.path, "_log", f"{snap.version + 1:08d}.json")
    with open(winner, "w") as f:
        f.write(
            f'{{"version": {snap.version + 1}, "op": "append", '
            '"add": [], "remove": []}'
        )
    with pytest.raises(CommitConflict):
        t._commit(
            expected_version=snap.version,
            doc={"op": "append", "add": loser_adds},
        )
    # loser's commit must not be visible; table reads at the winner's state
    assert t.snapshot().version == snap.version + 1
    assert t.read(spark).count() == 10, "orphaned staged files became visible"
    assert not [
        p
        for p in os.listdir(os.path.join(t.path, "_log"))
        if p.startswith(".tmp-")
    ], "staged temp commit leaked"


def test_data_skipping_prunes_files(spark, tmp_path):
    base = str(tmp_path / "t")
    dfs = [
        spark.createDataFrame(
            [(i, i * 10, "g") for i in range(lo, lo + 25)],
            "k bigint, v bigint, grp string",
        ).coalesce(1)
        for lo in (0, 25, 50, 75)
    ]
    t = BTable.create(spark, base, dfs[0])
    for d in dfs[1:]:
        t.append(spark, d)
    assert t.scan_file_count() == 4
    assert t.scan_file_count("k >= 80") == 1
    assert t.scan_file_count("k == 30") == 1
    assert t.scan_file_count("k >= 20 AND k < 30") == 2
    # string stats prune too: no file's [min,max] range can contain 'zzz'
    assert t.scan_file_count("grp == 'zzz'") == 0
    assert t.read(spark, where="grp == 'zzz'").count() == 0  # empty-scan read
    # pruned read returns the same rows as an unpruned filter
    assert t.read(spark, where="k >= 80").count() == 20
    assert (
        _rows(t.read(spark, where="k >= 20 AND k < 30"))
        == _rows(t.read(spark).filter("k >= 20 AND k < 30"))
    )


def test_maybe_matches_is_conservative():
    stats = {"k": [10, 20], "s": ["aa", "mm"]}
    assert _maybe_matches(stats, "k >= 15")
    assert not _maybe_matches(stats, "k > 20")
    assert not _maybe_matches(stats, "k < 10")
    assert _maybe_matches(stats, "k <= 10")
    assert not _maybe_matches(stats, "k == 5")
    assert _maybe_matches(stats, "s == 'bb'")
    assert not _maybe_matches(stats, "s == 'zz'")
    # unparseable clauses must not prune
    assert _maybe_matches(stats, "k % 2 = 0 OR weird(s)")
    assert _maybe_matches({}, "k == 5")
    # --- ADVICE r12 false-prune regressions ---
    # (1) an OR clause must never prune: the old parser swallowed
    # " OR s == 'aa'" into the == literal and pruned on the mangled value
    assert _maybe_matches(stats, "s == 'zzz' OR s == 'aa'")
    assert _maybe_matches(stats, "k == 5 OR k == 15")
    assert _maybe_matches(stats, "(s == 'zzz') OR (k == 15)")
    # conjunct NEXT TO an OR-clause still prunes
    assert not _maybe_matches(stats, "k > 20 AND (s == 'a' OR s == 'b')")
    # a literal containing ' AND ' is ONE clause (quote-aware split): it
    # prunes/scans on the whole literal, never on a fabricated conjunct
    assert _maybe_matches(stats, "s == 'bb AND k > 999'")  # in range: scan
    assert not _maybe_matches(stats, "s == 'zz AND k < 5'")  # out of range
    # (2) timestamp stats are isoformat ('T') but SQL literals use a
    # space — lexicographic comparison false-pruned same-day ranges
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    sch = StructType(
        [
            StructField("ts", TimestampType()),
            StructField("k", LongType()),
            StructField("s", StringType()),
        ]
    )
    ts_stats = {"ts": ["2024-03-05T00:00:00", "2024-03-05T23:00:00"]}
    assert _maybe_matches(ts_stats, "ts >= '2024-03-05 12:00:00'", sch)
    assert _maybe_matches(ts_stats, "ts <= '2024-03-05 12:00:00'", sch)
    assert not _maybe_matches(ts_stats, "ts > '2024-03-06 00:00:00'", sch)
    assert not _maybe_matches(ts_stats, "ts < '2024-03-05 00:00:00'", sch)
    # without a schema, temporal-shaped string stats must not prune at all
    assert _maybe_matches(ts_stats, "ts < '2024-03-05 00:00:00'")
    # (3) fractional literals on int columns: int() truncation turned
    # 'k < 10.5' into k < 10 and pruned the file with min k=10
    assert _maybe_matches(stats, "k < 10.5")
    assert _maybe_matches(stats, "k > 19.5")
    assert not _maybe_matches(stats, "k < 9.5")
    assert not _maybe_matches(stats, "k > 20.5")
    # schema-aware string compare still prunes lexicographically
    assert not _maybe_matches(stats, "s == 'zz'", sch)
    assert _maybe_matches(stats, "s == 'bb'", sch)
    # column absent from the schema -> must scan
    assert _maybe_matches(stats, "ghost == 5", sch)


def test_maybe_matches_advice_r13_regressions():
    stats = {"k": [10, 20], "s": ["aa", "mm"]}
    # (1) backslash-escaped quote hides ' AND ' inside ONE literal; the
    # quote-tracking split saw three conjuncts and the fake `k == 999`
    # false-pruned a live file.  Any backslash -> must scan.
    assert _maybe_matches(stats, r"s == 'a\' AND k == 999 AND x == \'b'")
    assert _maybe_matches(stats, r"s == 'zz\\'")  # even a benign escape scans
    # (2) bigint stats above 2^53: float(9007199254740993) ==
    # float(9007199254740992), so 'k > 9007199254740992' false-pruned the
    # file whose only row is k = 2^53 + 1.  Comparison must be exact.
    big = {"k": [9007199254740993, 9007199254740993]}
    assert _maybe_matches(big, "k > 9007199254740992")
    assert not _maybe_matches(big, "k > 9007199254740993")  # still prunes
    assert _maybe_matches(big, "k == 9007199254740993")
    assert not _maybe_matches(big, "k == 9007199254740992")
    # fractional literals keep exactness via Fraction (no float round-trip)
    assert _maybe_matches(big, "k < 9007199254740993.5")
    assert not _maybe_matches(big, "k < 9007199254740992.5")
    # exponent literals still parse and prune
    assert not _maybe_matches(stats, "k > 1e3")
    assert _maybe_matches(stats, "k < 1.5e1")
    # (3) tz-aware timestamp literal: naive-vs-aware comparison raised
    # TypeError and crashed read()/delete(); must conservatively scan.
    from pyspark.sql.types import StructField, StructType, TimestampType

    tsch = StructType([StructField("ts", TimestampType())])
    ts_stats = {"ts": ["2024-03-05T00:00:00", "2024-03-05T23:00:00"]}
    assert _maybe_matches(ts_stats, "ts >= '2024-01-01 00:00:00+00:00'", tsch)
    assert _maybe_matches(ts_stats, "ts < '2099-01-01 00:00:00+00:00'", tsch)
    # naive literals still prune around the aware-literal fix
    assert not _maybe_matches(ts_stats, "ts > '2024-03-06 00:00:00'", tsch)


def test_epoch_micros_timestamp_stats_prune_tz_exact():
    """Round-14 hostile-TZ fix: timestamp stats are epoch micros (JVM-side,
    timezone-free); the prune path converts naive literals with the LIVE
    session timezone, and must-scans on any ambiguity."""
    from datetime import datetime, timezone

    from pyspark.sql.types import StructField, StructType, TimestampType

    sch = StructType([StructField("ts", TimestampType())])

    def us(y, mo, d, h=0):
        return int(datetime(y, mo, d, h, tzinfo=timezone.utc).timestamp() * 1e6)

    stats = {"ts": [us(2024, 3, 2), us(2024, 3, 2, 1)]}  # 00:00..01:00 UTC
    # UTC session: literals inside/outside the hour prune exactly
    assert _maybe_matches(stats, "ts >= '2024-03-02 00:10:00'", sch, tz="UTC")
    assert not _maybe_matches(stats, "ts > '2024-03-02 01:00:00'", sch, tz="UTC")
    assert not _maybe_matches(stats, "ts < '2024-03-02 00:00:00'", sch, tz="UTC")
    # a +14 session tz shifts the literal's instant: 2024-03-02 14:10 local
    # Kiritimati == 00:10 UTC -> still intersects; 00:10 local == the
    # previous UTC day -> excluded
    kir = "Pacific/Kiritimati"
    assert _maybe_matches(stats, "ts >= '2024-03-02 14:10:00'", sch, tz=kir)
    assert not _maybe_matches(stats, "ts <= '2024-03-02 00:10:00'", sch, tz=kir)
    # unknown session tz -> must scan (never prune on a guess)
    assert _maybe_matches(stats, "ts > '2024-03-02 01:00:00'", sch, tz=None)
    assert _maybe_matches(stats, "ts > '2024-03-02 01:00:00'", sch, tz="No/Such")
    # DST-ambiguous (fall-back overlap) and DST-gap literals -> must scan
    ny = "America/New_York"
    far = {"ts": [us(2030, 1, 1), us(2030, 1, 2)]}  # clearly disjoint stats
    assert _maybe_matches(far, "ts <= '2024-11-03 01:30:00'", sch, tz=ny)
    assert _maybe_matches(far, "ts <= '2024-03-10 02:30:00'", sch, tz=ny)
    # an unambiguous literal under the same tz still prunes
    assert not _maybe_matches(far, "ts <= '2024-11-03 03:30:00'", sch, tz=ny)


def test_timestamp_pruning_survives_python_tz_mismatch(spark, tmp_path):
    """END TO END regression for the round-14 hostile-TZ false prune: the
    PYTHON process timezone differs from the (UTC-pinned) session timezone
    — exactly the driver battery's TZ=Pacific/Kiritimati setup.  Before
    the epoch-micros stats fix, collect() rendered the per-file ts stats
    +14 h and a tight same-day read(where=) pruned away every live row."""
    import os as _os
    import time as _time

    from pyspark.sql import functions as F

    old = _os.environ.get("TZ")
    _os.environ["TZ"] = "Pacific/Kiritimati"
    _time.tzset()
    try:
        rows = spark.range(60).select(
            F.col("id").alias("k"),
            F.expr(
                "timestamp'2024-03-02 00:00:00'"
                " + make_interval(0, 0, 0, 0, 0, id, 0)"
            ).alias("ts"),
        )
        t = BTable.create(spark, str(tmp_path / "t"), rows.coalesce(1))
        w = "ts >= '2024-03-02 00:10:00' AND ts <= '2024-03-02 00:30:00'"
        assert t.scan_file_count(w) == 1
        assert t.read(spark, where=w).count() == 21
        # and the delete path (same pruning) removes exactly those rows
        t.delete(spark, w)
        assert t.read(spark).count() == 39
    finally:
        if old is None:
            _os.environ.pop("TZ", None)
        else:
            _os.environ["TZ"] = old
        _time.tzset()


def test_streaming_cdc_upsert_sink(spark, tmp_path):
    """The production lakehouse pattern: a CDC stream upserted into a
    btable via foreachBatch + MERGE.  Two micro-batches of row images
    (later batch overwrites earlier keys); the final table state must be
    last-writer-wins per key, the log must show one merge per non-empty
    batch, and every intermediate version must stay time-travel readable."""
    import shutil

    t = BTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(
            [(i, 0, "base") for i in range(10)], "k bigint, v bigint, grp string"
        ),
    )

    src = tmp_path / "cdc"
    src.mkdir()
    batches = [
        [(3, 100, "b0"), (20, 100, "b0")],   # update k=3, insert k=20
        [(3, 200, "b1"), (21, 200, "b1")],   # re-update k=3, insert k=21
    ]
    for i, rows in enumerate(batches):
        stage = tmp_path / f"stage{i}"
        spark.createDataFrame(
            rows, "k bigint, v bigint, grp string"
        ).coalesce(1).write.parquet(str(stage))
        part = next(p for p in stage.iterdir() if p.name.endswith(".parquet"))
        dest = src / f"b{i}.parquet"
        shutil.move(str(part), str(dest))
        os.utime(dest, (1_000_000 + i * 1000,) * 2)

    stream = (
        spark.readStream.schema("k bigint, v bigint, grp string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )

    def upsert(batch_df, batch_id):
        if not batch_df.isEmpty():
            t.merge(batch_df.sparkSession, batch_df, on="k")

    q = (
        stream.writeStream.foreachBatch(upsert)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    q.stop()

    got = {r.k: (r.v, r.grp) for r in t.read(spark).collect()}
    assert len(got) == 12
    assert got[3] == (200, "b1"), "last writer must win"
    assert got[20] == (100, "b0") and got[21] == (200, "b1")
    assert got[0] == (0, "base")
    ops = [c["op"] for c in t.history()]
    assert ops == ["create", "merge", "merge"]
    # every intermediate state remains time-travel readable
    v1 = {r.k: r.v for r in t.read(spark, version=1).collect()}
    assert v1[3] == 100 and 21 not in v1 and len(v1) == 11
    assert t.read(spark, version=0).count() == 10


def test_optimize_compacts_without_changing_data(spark, tmp_path):
    t = BTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(
            [(0, 0, "g")], "k bigint, v bigint, grp string"
        ),
    )
    for i in range(1, 6):  # five 1-row appends = classic CDC small files
        t.append(
            spark,
            spark.createDataFrame(
                [(i, i * 10, "g")], "k bigint, v bigint, grp string"
            ),
        )
    pre = _rows(t.read(spark))
    assert t.scan_file_count() == 6
    v = t.optimize(spark)
    assert t.scan_file_count() == 1, "compaction left small files behind"
    assert _rows(t.read(spark)) == pre, "OPTIMIZE changed the logical table"
    assert t.history()[-1]["op"] == "optimize"
    # pre-compaction versions still readable (removal is logical)
    assert t.read(spark, version=v - 1).count() == 6
    # idempotent: a second call finds nothing to pack
    assert t.optimize(spark) == v


def test_vacuum_reclaims_and_respects_retention(spark, tmp_path):
    t = _mk(spark, tmp_path, n=20, parts=2)
    t.delete(spark, "k < 10")           # v1: rewrites a file
    t.append(
        spark,
        spark.createDataFrame(
            [(100, 1, "g")], "k bigint, v bigint, grp string"
        ),
    )                                    # v2
    pre = _rows(t.read(spark))
    # default retention spares young unreferenced files: an age-0 vacuum
    # could delete a concurrent writer's staged-but-uncommitted data files
    # (ADVICE r12) — everything here is seconds old, so nothing may go
    assert t.vacuum(keep_versions=2) == []
    assert t.read(spark, version=1).count() == 10
    deleted = t.vacuum(keep_versions=2, retention_seconds=0)
    assert deleted, "vacuum found nothing although v0 files were removed"
    assert _rows(t.read(spark)) == pre, "vacuum changed the live table"
    assert t.read(spark, version=1).count() == 10, "retained version broken"
    import pyspark.errors

    with pytest.raises(Exception):
        t.read(spark, version=0).count()  # beyond retention: gone by design


def test_schema_evolution_add_column(spark, tmp_path):
    t = _mk(spark, tmp_path, n=5, parts=1)
    v = t.add_column(spark, "score", "double")
    got = t.read(spark)
    assert got.schema["score"].dataType.typeName() == "double"
    assert all(r.score is None for r in got.collect()), (
        "pre-evolution files must read the new column as NULL"
    )
    # appends must now carry the new column — old schema is rejected
    with pytest.raises(SchemaMismatch):
        t.append(
            spark,
            spark.createDataFrame(
                [(7, 70, "g2")], "k bigint, v bigint, grp string"
            ),
        )
    t.append(
        spark,
        spark.createDataFrame(
            [(7, 70, "g2", 0.5)],
            "k bigint, v bigint, grp string, score double",
        ),
    )
    rows = {r.k: r.score for r in t.read(spark).collect()}
    assert rows[7] == 0.5 and rows[0] is None
    # time travel BEFORE the alter returns the old schema
    assert "score" not in t.read(spark, version=v - 1).columns
    with pytest.raises(ValueError):
        t.add_column(spark, "score", "double")


def test_merge_retry_survives_commit_race(spark, tmp_path, monkeypatch):
    """A merge that loses the commit race must retry against the winner's
    snapshot and land its change on the NEW state (not clobber it)."""
    import biggie_spark.tablefmt as tf

    t = _mk(spark, tmp_path, n=10, parts=1)
    source = spark.createDataFrame(
        [(3, -1, "upd")], "k bigint, v bigint, grp string"
    )
    real_commit = tf.BTable._commit
    raced = {"done": False}

    def racing_commit(self, expected_version, doc):
        if not raced["done"] and doc["op"] == "merge":
            raced["done"] = True
            # concurrent writer sneaks in an append before our claim
            extra = spark.createDataFrame(
                [(500, 5, "race")], "k bigint, v bigint, grp string"
            )
            real_commit(
                self,
                expected_version,
                {"op": "append", "add": self._write_files(spark, extra)},
            )
        return real_commit(self, expected_version, doc)

    monkeypatch.setattr(tf.BTable, "_commit", racing_commit)
    v = t.merge(spark, source, on="k", retries=2)
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert got[3] == -1, "merge lost after retry"
    assert got[500] == 5, "retry clobbered the racing winner's append"
    assert v == t.snapshot().version == 2  # append (1) + merge (2)
    with pytest.raises(CommitConflict):
        raced["done"] = False
        t.merge(spark, source, on="k", retries=0)  # no budget -> surfaces


def test_checkpoint_bounds_replay_and_preserves_history(spark, tmp_path):
    import os as _os

    import biggie_spark.tablefmt as tf

    t = BTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([(0, 0, "g")], "k bigint, v bigint, grp string"),
    )
    for i in range(1, 13):  # versions 1..12 -> checkpoint at 10
        t.append(
            spark,
            spark.createDataFrame(
                [(i, i, "g")], "k bigint, v bigint, grp string"
            ),
        )
    log = _os.path.join(t.path, "_log")
    cps = [n for n in _os.listdir(log) if n.endswith(".checkpoint.json")]
    assert cps == ["00000010.checkpoint.json"]
    # checkpointed snapshot == raw replay, at head and at arbitrary versions
    commits = tf._read_log(t.path)
    for v in (None, 12, 11, 10, 9, 3):
        with_cp = t.snapshot(v)
        raw = tf._replay(commits, v)
        assert with_cp.version == raw.version
        assert with_cp.files == raw.files, f"checkpoint replay diverged at {v}"
    assert t.read(spark, version=9).count() == 10
    assert t.read(spark).count() == 13
    # a torn/stale checkpoint must never parse as a commit
    assert len(commits) == 13


def test_engine_facade_btable_roundtrip(spark, sf_dir, tmp_path):
    """User-facing path: Engine.btable_create / Engine.btable drive the
    same table the low-level API sees."""
    from biggie_spark.engine import Engine

    e = Engine.connect(sf_dir, spark)
    df = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b")], "k bigint, v bigint, grp string"
    )
    e.btable_create(str(tmp_path / "t"), df)
    t = e.btable(str(tmp_path / "t"))
    assert t.read(spark).count() == 2
    t.merge(
        spark,
        spark.createDataFrame([(2, 99, "b2")], "k bigint, v bigint, grp string"),
        on="k",
    )
    assert {r.k: r.v for r in t.read(spark).collect()} == {1: 10, 2: 99}


def test_cluster_by_gives_partition_sharp_pruning(spark, tmp_path):
    """Liquid-clustering: a cluster_by table range-splits + sorts writes on
    the clustering key, so equality/range predicates prune to a narrow
    file slice on stats alone — hive-partition sharpness, no directory
    layout.  OPTIMIZE re-clusters small files under the same metadata."""
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("v"),
        F.concat(F.lit("g"), F.pmod("id", 10)).alias("grp"),
    )
    # deliberately scramble so clustering has to do real work
    df = df.repartition(8)
    t = BTable.create(
        spark, str(tmp_path / "t"), df, cluster_by=["k"], cluster_file_rows=100
    )
    assert t.cluster_by == ["k"]
    total = t.scan_file_count()
    assert total > 1, "need multiple files for pruning to mean anything"
    point = t.scan_file_count("k == 500")
    assert point == 1, f"point lookup scans {point}/{total} files"
    rng = t.scan_file_count("k >= 900")
    assert rng < total / 2, f"range scan hits {rng}/{total} files"
    assert _rows(t.read(spark, where="k == 500")) == _rows(
        t.read(spark).filter("k == 500")
    )
    # appends inherit the clustering (fresh handle re-reads it from the log)
    t2 = BTable(str(tmp_path / "t"))
    t2.append(
        spark,
        spark.range(1000, 2000)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 7).alias("v"),
            F.concat(F.lit("g"), F.pmod("id", 10)).alias("grp"),
        )
        .repartition(8),
    )
    assert t2.scan_file_count("k == 1500") <= 2
    # unknown clustering column rejected at create
    with pytest.raises(ValueError):
        BTable.create(spark, str(tmp_path / "t3"), df, cluster_by=["nope"])


def test_restore_rolls_back_with_history_preserved(spark, tmp_path):
    t = _mk(spark, tmp_path, n=10, parts=1)
    t.delete(spark, "k < 5")                       # v1
    t.append(
        spark,
        spark.createDataFrame(
            [(50, 1, "x")], "k bigint, v bigint, grp string"
        ),
    )                                              # v2
    pre = _rows(t.read(spark, version=0))
    v = t.restore(0)                               # v3 = state of v0
    assert v == 3
    assert _rows(t.read(spark)) == pre
    assert [c["op"] for c in t.history()] == [
        "create", "delete", "append", "restore",
    ]
    # the rolled-back intermediate states remain time-travel readable
    assert t.read(spark, version=2).count() == 6
    # restoring to the current state is a no-op (no new commit)
    assert t.restore(3) == 3 and t.snapshot().version == 3
    # restore to a vacuumed version must refuse loudly
    t.delete(spark, "k >= 9")                      # v4: drop v3's file
    t.vacuum(keep_versions=1, retention_seconds=0)
    with pytest.raises(FileNotFoundError):
        t.restore(1)


def test_timestamp_time_travel(spark, tmp_path):
    import time as _time

    t = _mk(spark, tmp_path, n=5, parts=1)
    ts_after_create = _time.time()
    _time.sleep(0.05)
    t.append(
        spark,
        spark.createDataFrame([(99, 0, "x")], "k bigint, v bigint, grp string"),
    )
    assert t.version_as_of(ts_after_create) == 0
    assert t.version_as_of(_time.time()) == 1
    assert t.read(spark, version=t.version_as_of(ts_after_create)).count() == 5
    with pytest.raises(ValueError):
        t.version_as_of(0.0)  # before the table existed


def test_merge_rejects_duplicate_source_keys(spark, tmp_path):
    """ADVICE r12: with multiple row images per key the rewrite kept every
    matching image (duplicating target rows); Delta raises — so do we."""
    t = _mk(spark, tmp_path, n=10, parts=1)
    dup = spark.createDataFrame(
        [(1, -1, "a"), (1, -2, "b"), (50, 0, "n")],
        "k bigint, v bigint, grp string",
    )
    with pytest.raises(ValueError, match="distinct"):
        t.merge(spark, dup, on="k")
    assert t.snapshot().version == 0, "failed merge must not commit"
    assert t.read(spark).count() == 10


def test_merge_empty_source_is_noop(spark, tmp_path):
    """ADVICE r12: an empty source made lo=None which turned EVERY file
    into a rewrite candidate; now it early-returns without a commit."""
    t = _mk(spark, tmp_path, n=10, parts=1)
    empty = spark.createDataFrame([], "k bigint, v bigint, grp string")
    assert t.merge(spark, empty, on="k") == 0
    assert t.snapshot().version == 0
    assert t.read(spark).count() == 10


def test_merge_null_keys_insert_without_duplicate_raise(spark, tmp_path):
    """NULL source keys never equi-match a target row: they insert (Delta
    when-not-matched semantics) and must not trip the duplicate-key check
    (count_distinct ignores NULLs)."""
    t = _mk(spark, tmp_path, n=5, parts=1)
    src = spark.createDataFrame(
        [(None, -1, "nul"), (2, -2, "upd")], "k bigint, v bigint, grp string"
    )
    t.merge(spark, src, on="k")
    got = {r.k: r.grp for r in t.read(spark).collect()}
    assert got[2] == "upd" and got[None] == "nul" and len(got) == 6


def test_pruned_read_and_delete_correct_on_tricky_predicates(spark, tmp_path):
    """End-to-end regressions for the ADVICE r12 false-prune bugs: OR
    clauses, same-day timestamp ranges ('T' stats vs space literals), and
    fractional literals on int columns — read(where=) must return exactly
    filter()'s rows and delete() must remove exactly the matching rows."""
    import datetime as dt

    base = str(tmp_path / "t")
    rows = [
        (k, dt.datetime(2024, 3, 4 + k // 10, (k * 3) % 24, 0, 0), f"g{k % 3}")
        for k in range(20)
    ]
    dfs = [
        spark.createDataFrame(rows[i : i + 5], "k bigint, ts timestamp, grp string")
        .coalesce(1)
        for i in (0, 5, 10, 15)
    ]
    t = BTable.create(spark, base, dfs[0])
    for d in dfs[1:]:
        t.append(spark, d)
    assert t.scan_file_count() == 4

    full = t.read(spark)
    for where in [
        "grp == 'zzz' OR grp == 'g0'",            # OR swallowed into literal
        "ts >= '2024-03-04 06:00:00' AND ts <= '2024-03-04 18:00:00'",
        "k < 10.5",                                # fractional on int column
        "k > 4.5 AND k <= 14.5",
        "(k >= 3 AND k < 17) AND (grp == 'g1' OR grp == 'g2')",
    ]:
        got = sorted(r.k for r in t.read(spark, where=where).collect())
        want = sorted(r.k for r in full.filter(where).collect())
        assert got == want, f"pruned read wrong for {where!r}"

    # conjuncts still prune: a file covering k in [15,19] is skipped
    assert t.scan_file_count("k < 10.5") < 4
    assert t.scan_file_count("ts < '2024-03-04 03:00:00'") < 4

    # delete through a same-day timestamp range must not silently skip rows
    want_left = sorted(
        r.k for r in full.filter("NOT (ts <= '2024-03-04 09:00:00')").collect()
    )
    t.delete(spark, "ts <= '2024-03-04 09:00:00'")
    assert sorted(r.k for r in t.read(spark).collect()) == want_left


def test_merge_on_timestamp_key_prunes_and_updates(spark, tmp_path):
    """Merge keyed on a timestamp column: stats are isoformat strings but
    the source min/max are datetimes — the candidate-range probe must
    compare temporally (not str-vs-datetime) and still prune files."""
    import datetime as dt

    base = str(tmp_path / "t")
    dfs = [
        spark.createDataFrame(
            [
                (dt.datetime(2024, 3, day, h, 0, 0), day * 100 + h)
                for h in range(6)
            ],
            "ts timestamp, v bigint",
        ).coalesce(1)
        for day in (1, 2, 3, 4)
    ]
    t = BTable.create(spark, base, dfs[0])
    for d in dfs[1:]:
        t.append(spark, d)
    before = set(t.snapshot().files)
    src = spark.createDataFrame(
        [
            (dt.datetime(2024, 3, 2, 3, 0, 0), -1),   # update (day-2 file)
            (dt.datetime(2024, 3, 9, 0, 0, 0), -2),   # insert
        ],
        "ts timestamp, v bigint",
    )
    t.merge(spark, src, on="ts")
    got = {r.ts: r.v for r in t.read(spark).collect()}
    assert got[dt.datetime(2024, 3, 2, 3, 0, 0)] == -1
    assert got[dt.datetime(2024, 3, 9, 0, 0, 0)] == -2
    assert len(got) == 25
    # only the day-2 file was rewritten
    assert len(before & set(t.snapshot().files)) == 3


def test_append_nullable_into_declared_nonnullable(spark, tmp_path):
    """ADVICE r12: the logged schema may say non-nullable (createDataFrame
    from local rows does), but parquet + a second append can carry NULLs;
    reads must apply an all-nullable schema so IS NULL predicates compile
    against the truth."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    strict = StructType(
        [
            StructField("k", LongType(), False),
            StructField("s", StringType(), False),
        ]
    )
    df = spark.createDataFrame([(1, "a"), (2, "b")], strict)
    assert not df.schema["s"].nullable
    t = BTable.create(spark, str(tmp_path / "t"), df)
    t.append(
        spark, spark.createDataFrame([(3, None)], "k bigint, s string")
    )
    got = t.read(spark)
    assert got.schema["s"].nullable, "read schema must not lie about nulls"
    assert got.filter("s IS NULL").count() == 1
    assert got.count() == 3


def test_concurrent_writer_race_exactly_one_winner_per_version(spark, tmp_path):
    """Adversarial ACID check (VERDICT r12 stretch): four writers race
    appends through the os.link commit claim under REAL thread
    concurrency.  Required outcome: every append eventually lands (the
    losers' optimistic retries re-read the winner's snapshot), the four
    commits claim four DISTINCT consecutive versions, no commit is lost
    or duplicated, and every intermediate snapshot is readable and
    monotone — i.e. no torn state is ever visible."""
    import threading

    t = _mk(spark, tmp_path, n=10, parts=1)
    results: list[tuple[int, int]] = []
    errors: list[tuple[int, BaseException]] = []
    barrier = threading.Barrier(4)

    def writer(i: int) -> None:
        df = spark.createDataFrame(
            [(1000 + i, i, f"w{i}")], "k bigint, v bigint, grp string"
        )
        try:
            barrier.wait(timeout=60)
            v = BTable(t.path).append(spark, df, retries=20)
            results.append((i, v))
        except BaseException as exc:  # surface into the main thread
            errors.append((i, exc))

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert not errors, f"writers failed: {errors}"
    assert len(results) == 4
    # four distinct consecutive versions, exactly one winner each
    assert sorted(v for _, v in results) == [1, 2, 3, 4]
    # all four rows landed exactly once
    got = t.read(spark)
    assert got.count() == 14
    assert sorted(
        r.k for r in got.filter("k >= 1000").collect()
    ) == [1000, 1001, 1002, 1003]
    # every snapshot along the way is readable and monotone (no torn state)
    for v in range(5):
        assert t.read(spark, version=v).count() == 10 + v
    # the log carries exactly 5 commits with unique versions
    hist = t.history()
    assert [c["version"] for c in hist] == [0, 1, 2, 3, 4]
    assert [c["op"] for c in hist] == ["create"] + ["append"] * 4
    # no staged temp files leaked from the losing attempts
    leaked = [
        p
        for p in os.listdir(os.path.join(t.path, "_log"))
        if p.startswith(".tmp-")
    ]
    assert not leaked, f"staged commits leaked: {leaked}"


def test_vacuum_retention_protects_staged_concurrent_writer(spark, tmp_path):
    """The exact ADVICE r12 corruption scenario, end to end: writer B
    stages its data files (_write_files) but has NOT yet committed when a
    vacuum runs.  With the default retention the staged files survive, B's
    commit succeeds, and the table reads B's rows; with retention 0 the
    old behavior would have deleted B's files and left a committed
    snapshot pointing at nothing."""
    t = _mk(spark, tmp_path, n=10, parts=1)
    snap = t.snapshot()
    staged = t._write_files(
        spark,
        spark.createDataFrame(
            [(500, 1, "gx")], "k bigint, v bigint, grp string"
        ),
    )
    # concurrent vacuum between B's staging and B's commit
    assert t.vacuum(keep_versions=2) == [], (
        "default-retention vacuum deleted seconds-old staged files"
    )
    t._commit(expected_version=snap.version, doc={"op": "append", "add": staged})
    got = t.read(spark)
    assert got.count() == 11
    assert got.filter("k = 500").count() == 1, "staged rows lost after commit"


def test_concurrent_merge_race_disjoint_keys_both_apply(spark, tmp_path):
    """Two MERGEs on disjoint key ranges race the commit claim: exactly
    one wins each version, the loser's optimistic retry re-runs against
    the winner's snapshot, and the final table carries BOTH upserts —
    serializability for disjoint writers, not just appends."""
    import threading

    t = _mk(spark, tmp_path, n=20, parts=2)
    srcs = {
        "a": spark.createDataFrame(
            [(2, -2, "ma"), (100, -100, "ia")], "k bigint, v bigint, grp string"
        ),
        "b": spark.createDataFrame(
            [(15, -15, "mb"), (200, -200, "ib")], "k bigint, v bigint, grp string"
        ),
    }
    errors = []
    barrier = threading.Barrier(2)

    def merger(name):
        try:
            barrier.wait(timeout=60)
            BTable(t.path).merge(spark, srcs[name], on="k", retries=20)
        except BaseException as exc:
            errors.append((name, exc))

    threads = [threading.Thread(target=merger, args=(n,)) for n in srcs]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert not errors, f"mergers failed: {errors}"
    got = {r.k: (r.v, r.grp) for r in t.read(spark).collect()}
    assert len(got) == 22  # 20 base + 2 inserts
    assert got[2] == (-2, "ma") and got[100] == (-100, "ia")
    assert got[15] == (-15, "mb") and got[200] == (-200, "ib")
    # untouched rows intact
    assert got[3] == (30, "g3")
    assert [c["version"] for c in t.history()] == [0, 1, 2]


def test_null_count_stats_prune_is_null_predicates(spark, tmp_path):
    """Per-file null counts (Delta's nullCount idea): IS NULL prunes
    zero-null files, IS NOT NULL prunes all-null files, and an all-null
    file prunes ANY comparison (NULL op literal is never true) — while
    read(where=) contents stay exactly filter()'s rows."""
    base = str(tmp_path / "t")
    dfs = [
        spark.createDataFrame(
            [(i, None if i % 2 else str(i)) for i in range(0, 10)],
            "k bigint, s string",
        ),                                           # mixed nulls
        spark.createDataFrame(
            [(i, str(i)) for i in range(10, 20)], "k bigint, s string"
        ),                                           # no nulls
        spark.createDataFrame(
            [(i, None) for i in range(20, 30)], "k bigint, s string"
        ),                                           # all null
    ]
    t = BTable.create(spark, base, dfs[0].coalesce(1))
    for d in dfs[1:]:
        t.append(spark, d.coalesce(1))
    assert t.scan_file_count() == 3
    assert t.scan_file_count("s IS NULL") == 2        # no-null file pruned
    assert t.scan_file_count("s IS NOT NULL") == 2    # all-null file pruned
    # an all-null file can't satisfy any comparison on that column
    assert t.scan_file_count("s == '25'") == 1        # only the 10..19 file
    assert t.scan_file_count("s >= '0'") == 2
    # conjunct composition
    assert t.scan_file_count("k >= 20 AND s IS NOT NULL") == 0
    # contents match an unpruned filter for every shape
    full = t.read(spark)
    for where in ["s IS NULL", "s IS NOT NULL", "s == '25'",
                  "k >= 20 AND s IS NOT NULL", "s IS NULL OR k == 10"]:
        got = sorted(r.k for r in t.read(spark, where=where).collect())
        want = sorted(r.k for r in full.filter(where).collect())
        assert got == want, f"pruned read wrong for {where!r}"
    # OR with IS NULL never prunes (single unparseable clause)
    assert t.scan_file_count("s IS NULL OR k == 10") == 3


def test_maybe_matches_null_rules_unit():
    from biggie_spark.tablefmt import _maybe_matches as mm

    stats = {"k": [10, 20], "s": [None, None]}
    nulls = {"k": 0, "s": 5}
    # IS NULL pruned only when null count is known-zero
    assert not mm(stats, "k IS NULL", None, nulls, 5)
    assert mm(stats, "s IS NULL", None, nulls, 5)
    assert mm(stats, "k IS NOT NULL", None, nulls, 5)
    assert not mm(stats, "s IS NOT NULL", None, nulls, 5)
    # case-insensitive
    assert not mm(stats, "k is null", None, nulls, 5)
    # all-null column excludes any comparison
    assert not mm(stats, "s == 'x'", None, nulls, 5)
    assert not mm(stats, "s >= 'a'", None, nulls, 5)
    # unknown null counts (old logs) -> must scan
    assert mm(stats, "k IS NULL")
    assert mm(stats, "s == 'x'")
    # zero-row file: the all-null shortcut must not fire on rows == 0
    assert mm({"k": [None, None]}, "k == 5", None, {"k": 0}, 0)


def test_in_list_pruning(spark, tmp_path):
    """`col IN (...)` prunes a file only when EVERY literal misses its
    [min,max] range; any unparseable item, nested paren, or NOT IN means
    scan.  Contents stay identical to an unpruned filter."""
    from biggie_spark.tablefmt import _maybe_matches as mm

    stats = {"k": [10, 20], "s": ["aa", "mm"]}
    assert not mm(stats, "k IN (1, 2, 3)")
    assert mm(stats, "k IN (1, 15)")           # 15 in range
    assert mm(stats, "k IN (10)")              # boundary
    assert not mm(stats, "k IN (9.5, 20.5)")   # fractional, both outside
    assert mm(stats, "k IN (19.5, 99)")        # 19.5 inside
    assert not mm(stats, "s IN ('zz', 'a')")
    assert mm(stats, "s IN ('zz', 'bb')")
    assert mm(stats, "s IN ('a,b')") or True   # comma inside literal: just no crash
    assert mm(stats, "k IN (1, weird())")      # unparseable item -> scan
    assert mm(stats, "k NOT IN (1)")           # NOT IN never prunes
    assert mm(stats, "k IN (SELECT 1)")        # nested expr -> scan
    # case-insensitive keyword
    assert not mm(stats, "k in (1, 2)")
    # all-null column excludes IN too
    assert not mm(stats, "s IN ('bb')", None, {"s": 5}, 5)

    # integration: key-disjoint files
    base = str(tmp_path / "t")
    dfs = [
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(lo, lo + 25)], "k bigint, s string"
        ).coalesce(1)
        for lo in (0, 25, 50, 75)
    ]
    t = BTable.create(spark, base, dfs[0])
    for d in dfs[1:]:
        t.append(spark, d)
    assert t.scan_file_count("k IN (3, 5)") == 1
    assert t.scan_file_count("k IN (3, 30, 90)") == 3
    assert t.scan_file_count("k IN (200, 300)") == 0
    full = t.read(spark)
    for where in ["k IN (3, 30, 90)", "k IN (200)", "s IN ('v3', 'v77')"]:
        got = sorted(r.k for r in t.read(spark, where=where).collect())
        want = sorted(r.k for r in full.filter(where).collect())
        assert got == want, f"pruned read wrong for {where!r}"


def test_change_data_feed_multiset_invariant(spark, tmp_path):
    """changes(from, to) is the incremental-pipeline hook: file-granular
    insert/delete rows per commit, carrying _commit_version.  The binding
    invariant: state(to) == state(from) - deletes + inserts as MULTISETS,
    across appends, COW deletes and merges."""
    t = _mk(spark, tmp_path, n=20, parts=2)                       # v0
    t.append(
        spark,
        spark.createDataFrame(
            [(100, 1, "ga"), (101, 2, "gb")], "k bigint, v bigint, grp string"
        ),
    )                                                              # v1
    t.delete(spark, "k < 5")                                       # v2
    t.merge(
        spark,
        spark.createDataFrame(
            [(7, -7, "upd"), (300, -300, "new")],
            "k bigint, v bigint, grp string",
        ),
        on="k",
    )                                                              # v3

    cdf = t.changes(spark, 0)
    assert set(cdf.columns) == {"k", "v", "grp", "_change_type",
                                "_commit_version"}
    # v1 append: inserts only
    v1 = cdf.filter("_commit_version = 1")
    assert {r._change_type for r in v1.collect()} == {"insert"}
    assert v1.count() == 2
    # v2 COW delete: whole-file deletes + survivor re-inserts
    v2 = dict(
        cdf.filter("_commit_version = 2")
        .groupBy("_change_type").count().collect()
    )
    assert v2.get("delete", 0) > 0
    # multiset replay: v0 state - deletes + inserts == v3 state
    def multiset(df):
        return {
            (r.k, r.v, r.grp): r["count"]
            for r in df.groupBy("k", "v", "grp").count().collect()
        }

    state0 = multiset(t.read(spark, version=0))
    state3 = multiset(t.read(spark, version=3))
    replay = dict(state0)
    for r in cdf.collect():
        key = (r.k, r.v, r.grp)
        if r._change_type == "delete":
            replay[key] = replay.get(key, 0) - 1
            if replay[key] == 0:
                del replay[key]
        else:
            replay[key] = replay.get(key, 0) + 1
    assert replay == state3, "CDF replay does not reproduce the target state"
    # bounded window + checkpoint-by-version: (2, 3] sees only the merge
    w = t.changes(spark, 2, 3)
    assert {r._commit_version for r in w.collect()} == {3}
    # empty window
    assert t.changes(spark, 3, 3).count() == 0
    # vacuumed history refuses loudly
    t.delete(spark, "k >= 19 AND k < 20")                          # v4
    t.vacuum(keep_versions=1, retention_seconds=0)
    with pytest.raises(FileNotFoundError):
        t.changes(spark, 0).count()


def test_append_merge_schema_widens_and_nullfills(spark, tmp_path):
    """Delta mergeSchema semantics: new columns widen the table schema in
    the same commit (old files read back NULL), missing columns
    null-fill, and a type conflict on a shared name raises."""
    t = BTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([(1, 10), (2, 20)], "k bigint, v bigint"),
    )
    # widen with a new column
    t.append(
        spark,
        spark.createDataFrame([(3, 30, "x")], "k bigint, v bigint, w string"),
        merge_schema=True,
    )
    got = t.read(spark)
    assert got.schema["w"].dataType.typeName() == "string"
    rows = {r.k: (r.v, r.w) for r in got.collect()}
    assert rows == {1: (10, None), 2: (20, None), 3: (30, "x")}
    # append a frame MISSING v: null-filled
    t.append(
        spark,
        spark.createDataFrame([(4, "y")], "k bigint, w string"),
        merge_schema=True,
    )
    rows = {r.k: (r.v, r.w) for r in t.read(spark).collect()}
    assert rows[4] == (None, "y")
    # schema history: the widening commit carries the new schema; the
    # null-fill append does NOT re-log one
    log_schemas = ["schema" in c for c in __import__(
        "biggie_spark.tablefmt", fromlist=["_read_log"]
    )._read_log(t.path)]
    assert log_schemas == [True, True, False]
    # pre-widening version still reads with the OLD schema
    assert "w" not in t.read(spark, version=0).columns
    # type conflict raises
    with pytest.raises(SchemaMismatch, match="mergeSchema widens"):
        t.append(
            spark,
            spark.createDataFrame([(5, 1.5)], "k bigint, v double"),
            merge_schema=True,
        )
    # strict default still enforces exact schema
    with pytest.raises(SchemaMismatch):
        t.append(spark, spark.createDataFrame([(6,)], "k bigint"))


def test_cdf_incremental_consumer_matches_full_recompute(spark, tmp_path):
    """The CDF consumption pattern a 100 TB pipeline runs: a consumer
    checkpoints _commit_version and maintains a per-group SUM by applying
    only the change feed (insert adds, delete subtracts) — never
    rescanning the table.  After every commit the incrementally-held
    aggregate must equal a full recompute."""
    t = _mk(spark, tmp_path, n=30, parts=2)                        # v0
    held = {
        r.grp: r.s
        for r in t.read(spark).groupBy("grp").agg(F.sum("v").alias("s")).collect()
    }
    seen_version = 0
    for step in range(3):
        if step == 0:
            t.append(
                spark,
                spark.createDataFrame(
                    [(100, 7, "g0"), (101, 9, "g1")],
                    "k bigint, v bigint, grp string",
                ),
            )
        elif step == 1:
            t.delete(spark, "k % 10 == 3")
        else:
            t.merge(
                spark,
                spark.createDataFrame(
                    [(5, -555, "g0"), (400, 11, "gx")],
                    "k bigint, v bigint, grp string",
                ),
                on="k",
            )
        latest = t.snapshot().version
        delta = t.changes(spark, seen_version, latest)
        for r in (
            delta.groupBy("grp", "_change_type")
            .agg(F.sum("v").alias("s"))
            .collect()
        ):
            sign = 1 if r._change_type == "insert" else -1
            held[r.grp] = held.get(r.grp, 0) + sign * r.s
        seen_version = latest
        full = {
            r.grp: r.s
            for r in t.read(spark)
            .groupBy("grp")
            .agg(F.sum("v").alias("s"))
            .collect()
        }
        for g, s in full.items():
            assert held.get(g) == s, (step, g, held.get(g), s)


def test_cdf_across_schema_evolution(spark, tmp_path):
    """changes() after a mergeSchema widening: pre-widening change rows
    read back under the version_to schema (new column NULL), so a feed
    consumer sees ONE stable schema for the whole window."""
    t = BTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([(1, 10)], "k bigint, v bigint"),
    )
    t.append(
        spark,
        spark.createDataFrame([(2, 20, "x")], "k bigint, v bigint, w string"),
        merge_schema=True,
    )
    cdf = t.changes(spark, 0)
    assert set(cdf.columns) == {"k", "v", "w", "_change_type",
                                "_commit_version"}
    rows = {(r.k): (r.w, r._change_type, r._commit_version)
            for r in cdf.collect()}
    assert rows == {2: ("x", "insert", 1)}
    # full-history feed includes the pre-widening create under the
    # widened schema, null-filled
    cdf_all = t.changes(spark, -1)
    got = {r.k: r.w for r in cdf_all.filter("_commit_version = 0").collect()}
    assert got == {1: None}


def test_engine_facade_surfaces_cdf_and_merge_schema(spark, sf_dir, tmp_path):
    """The Engine.btable handle carries the round-13 capabilities the
    docs advertise: changes() and append(merge_schema=True)."""
    from biggie_spark.engine import Engine

    e = Engine.connect(sf_dir, spark)
    e.btable_create(
        str(tmp_path / "t"),
        spark.createDataFrame([(1, 10)], "k bigint, v bigint"),
    )
    t = e.btable(str(tmp_path / "t"))
    t.append(
        spark,
        spark.createDataFrame([(2, "y")], "k bigint, w string"),
        merge_schema=True,
    )
    assert t.read(spark).filter("w IS NOT NULL").count() == 1
    assert t.changes(spark, 0).filter("_change_type = 'insert'").count() == 1


# --------------------------------------------------------------- deletion
# vectors (merge-on-read deletes)


def test_rng_algebra_unit():
    from biggie_spark.tablefmt import _rng_coalesce, _rng_subtract, _rng_union

    assert _rng_coalesce([[5, 7], [1, 3], [3, 5]]) == [[1, 7]]
    assert _rng_coalesce([[1, 1], [2, 3]]) == [[2, 3]]  # empty range dropped
    assert _rng_union([[0, 2]], [[2, 4]]) == [[0, 4]]
    assert _rng_subtract([[0, 10]], [[2, 4], [6, 8]]) == [
        [0, 2], [4, 6], [8, 10],
    ]
    assert _rng_subtract([[0, 4]], [[0, 4]]) == []
    assert _rng_subtract([[0, 4]], []) == [[0, 4]]
    assert _rng_subtract([], [[0, 4]]) == []
    # b range straddling two a ranges
    assert _rng_subtract([[0, 3], [5, 8]], [[2, 6]]) == [[0, 2], [6, 8]]


def test_dv_delete_is_metadata_only_and_time_travels(spark, tmp_path):
    """merge_on_read delete: NO data file is added or removed — the
    commit is pure metadata — yet reads, filtered reads and row counts
    behave exactly as a rewrite would, and time travel resurrects."""
    t = _mk(spark, tmp_path)  # 100 rows over 4 files
    files_before = set(t.snapshot().files)
    v = t.delete(spark, "grp == 'g3'", mode="merge_on_read")
    assert v == 1
    snap = t.snapshot()
    assert set(snap.files) == files_before, "DV delete must not touch files"
    h = t.history()[-1]
    assert (h["added"], h["removed"]) == (0, 0) and h["dv_files"] >= 1
    assert t.read(spark).count() == 80
    assert t.read(spark).filter("grp = 'g3'").count() == 0
    assert t.read(spark, where="grp == 'g3'").count() == 0
    assert t.read(spark, version=0).count() == 100
    # stats stay physical: file pruning is conservative, never wrong
    assert t.scan_file_count() == len(files_before)


def test_dv_second_delete_unions_disjointly(spark, tmp_path):
    """A second DV delete records only NEWLY-deleted rows (computed on
    the DV-applied read), so per-file ranges union without overlap and
    total deleted row count is exact."""
    from biggie_spark.tablefmt import _rng_count

    t = _mk(spark, tmp_path)
    t.delete(spark, "k % 10 == 3", mode="merge_on_read")
    t.delete(spark, "k % 5 == 3", mode="merge_on_read")  # overlaps half
    snap = t.snapshot()
    assert sum(_rng_count(r) for r in snap.dvs.values()) == 20
    assert t.read(spark).count() == 80
    assert t.read(spark, where="k < 50").count() == 40
    # deleting already-deleted rows is a version no-op
    v = t.snapshot().version
    assert t.delete(spark, "k % 10 == 3", mode="merge_on_read") == v


def test_dv_cow_rewrite_never_resurrects(spark, tmp_path):
    """A copy-on-write delete (or merge) that rewrites a DV'd file must
    carry only LIVE survivors — reading raw files would resurrect the
    DV-deleted rows — and the rewrite drops the file's DV."""
    t = _mk(spark, tmp_path, parts=1)
    t.delete(spark, "grp == 'g2'", mode="merge_on_read")
    t.delete(spark, "k >= 90")  # cow rewrite of the single file
    assert t.snapshot().dvs == {}
    got = t.read(spark)
    assert got.count() == 72  # 100 - 20 dv'd - 8 live in [90,100)
    assert got.filter("grp = 'g2'").count() == 0


def test_dv_merge_inserts_deleted_keys_updates_live(spark, tmp_path):
    """MERGE on a DV'd table: a source key whose target row is
    DV-deleted must INSERT (the row is logically gone), a live key must
    update; the rewrite of truly-hit files drops their DVs."""
    t = _mk(spark, tmp_path, parts=1)
    t.delete(spark, "k < 10", mode="merge_on_read")
    src = spark.createDataFrame(
        [(i, -1, "m") for i in range(15)], "k bigint, v bigint, grp string"
    )
    t.merge(spark, src, on="k")
    got = t.read(spark)
    assert got.count() == 100  # 90 live + 10 reinserts, 5 in-place updates
    assert got.filter("grp = 'm'").count() == 15
    assert t.snapshot().dvs == {}  # the one hit file was rewritten


def test_dv_optimize_materializes(spark, tmp_path):
    """OPTIMIZE rewrites every DV'd file (even when nothing is 'small'),
    clearing the merge-on-read debt."""
    t = _mk(spark, tmp_path, parts=2)
    t.delete(spark, "grp == 'g0'", mode="merge_on_read")
    assert t.snapshot().dvs
    t.optimize(spark, small_file_rows=1)  # no small files; dv'd still go
    assert t.snapshot().dvs == {}
    assert t.read(spark).count() == 80
    assert t.read(spark).filter("grp = 'g0'").count() == 0


def test_dv_restore_resurrects_rows(spark, tmp_path):
    """RESTORE replaces DV state (dv_reset): rolling back past a DV
    delete resurrects its rows; rolling forward-to-past-DV re-deletes."""
    t = _mk(spark, tmp_path)                                   # v0
    t.delete(spark, "grp == 'g4'", mode="merge_on_read")       # v1
    t.optimize(spark, small_file_rows=1_000_000)               # v2
    t.restore(1)                                               # v3: dv back
    assert t.read(spark).count() == 80
    assert t.snapshot().dvs, "restore must restore the DV state"
    t.restore(0)                                               # v4
    assert t.read(spark).count() == 100
    assert t.snapshot().dvs == {}


def test_dv_cdf_emits_partial_file_changes(spark, tmp_path):
    """The change feed under DVs: a merge-on-read delete emits exactly
    the newly-dead rows as deletes (partial-file granularity — sharper
    than the COW whole-file emission); a later COW rewrite of a DV'd
    file emits only its LIVE rows as deletes.  The multiset invariant
    state(to) = state(from) - deletes + inserts holds throughout."""
    t = _mk(spark, tmp_path, parts=2)                          # v0
    t.delete(spark, "grp == 'g1'", mode="merge_on_read")       # v1
    t.delete(spark, "k >= 80")                                 # v2: cow
    cdf = t.changes(spark, 0)
    v1 = cdf.filter("_commit_version = 1")
    assert {r._change_type for r in v1.collect()} == {"delete"}
    assert v1.count() == 20 and {r.grp for r in v1.collect()} == {"g1"}
    # cow delete at v2: per-file deletes must EXCLUDE already-dv'd rows
    v2_del = cdf.filter(
        "_commit_version = 2 AND _change_type = 'delete'"
    )
    assert v2_del.filter("grp = 'g1'").count() == 0

    def multiset(df):
        return {
            (r.k, r.v, r.grp): r["count"]
            for r in df.groupBy("k", "v", "grp").count().collect()
        }

    replay = dict(multiset(t.read(spark, version=0)))
    for r in cdf.collect():
        key = (r.k, r.v, r.grp)
        if r._change_type == "delete":
            replay[key] = replay.get(key, 0) - 1
            if replay[key] == 0:
                del replay[key]
        else:
            replay[key] = replay.get(key, 0) + 1
    assert replay == multiset(t.read(spark)), "DV CDF invariant broken"


def test_dv_cdf_restore_resurrection_rows(spark, tmp_path):
    """A restore that shrinks a file's DV emits the resurrected rows as
    partial-file INSERTS in the feed."""
    t = _mk(spark, tmp_path, parts=1)                          # v0
    t.delete(spark, "grp == 'g2'", mode="merge_on_read")       # v1
    t.restore(0)                                               # v2
    v2 = t.changes(spark, 1, 2)
    assert {r._change_type for r in v2.collect()} == {"insert"}
    assert v2.count() == 20 and {r.grp for r in v2.collect()} == {"g2"}


def test_dv_checkpoint_carries_dv_state(spark, tmp_path):
    """Replay checkpoints snapshot the DV map too: a read that resolves
    from a checkpoint written after a DV delete must still filter."""
    t = _mk(spark, tmp_path, n=20, parts=1)                    # v0
    for i in range(9):                                         # v1..v9
        t.append(
            spark,
            spark.createDataFrame(
                [(1000 + 20 * i + j, j, "gx") for j in range(20)],
                "k bigint, v bigint, grp string",
            ),
        )
    t.delete(spark, "grp == 'g0'", mode="merge_on_read")       # v10 -> ckpt
    assert os.path.exists(
        str(tmp_path / "t" / "_log" / "00000010.checkpoint.json")
    )
    t.append(
        spark,
        spark.createDataFrame([(9999, 1, "gz")], "k bigint, v bigint, grp string"),
    )                                                          # v11
    got = t.read(spark)  # resolves from the v10 checkpoint
    assert got.count() == 20 + 180 + 1 - 4  # 4 g0 rows among the first 20
    assert got.filter("grp = 'g0'").count() == 0


def test_dv_fragmentation_falls_back_to_cow(spark, tmp_path):
    """A delete that fragments a file into more runs than
    max_dv_ranges_per_file rewrites THAT file copy-on-write in the same
    commit, keeping commit-doc size metadata-bounded."""
    t = _mk(spark, tmp_path, parts=1)
    files_before = set(t.snapshot().files)
    # k % 2 == 0 -> 50 single-row runs in one file
    t.delete(
        spark, "k % 2 == 0", mode="merge_on_read", max_dv_ranges_per_file=10
    )
    snap = t.snapshot()
    assert snap.dvs == {}, "fragmented DV must have fallen back to COW"
    assert set(snap.files) != files_before
    assert t.read(spark).count() == 50
    assert t.read(spark).filter("k % 2 == 0").count() == 0


def test_dv_noop_and_bad_mode(spark, tmp_path):
    t = _mk(spark, tmp_path)
    v = t.snapshot().version
    assert t.delete(spark, "k > 100000", mode="merge_on_read") == v
    with pytest.raises(ValueError):
        t.delete(spark, "k > 0", mode="bogus")


# ------------------------------------------------- metadata-only count +
# CHECK constraints


def test_count_rows_metadata_only(spark, tmp_path):
    """count_rows answers COUNT(*) from the log (files' row counts minus
    DV coverage) — exact across appends, DV deletes, COW rewrites, time
    travel — without opening a data file."""
    t = _mk(spark, tmp_path)
    assert t.count_rows() == 100 == t.read(spark).count()
    t.delete(spark, "grp == 'g1'", mode="merge_on_read")
    assert t.count_rows() == 80 == t.read(spark).count()
    t.delete(spark, "k >= 90")
    assert t.count_rows() == t.read(spark).count()
    assert t.count_rows(version=0) == 100
    assert t.count_rows(version=1) == 80


def test_check_constraints_enforced(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.add_constraint(spark, "k_nonneg", "k >= 0")
    assert "k_nonneg" in t.snapshot().constraints
    # violating append rejected BEFORE any commit
    v = t.snapshot().version
    with pytest.raises(ValueError, match="k_nonneg"):
        t.append(
            spark,
            spark.createDataFrame(
                [(-5, 0, "gx")], "k bigint, v bigint, grp string"
            ),
        )
    assert t.snapshot().version == v and t.count_rows() == 100
    # valid append passes
    t.append(
        spark,
        spark.createDataFrame([(500, 0, "gx")], "k bigint, v bigint, grp string"),
    )
    assert t.count_rows() == 101
    # violating MERGE source rejected (updates and inserts are source images)
    with pytest.raises(ValueError, match="k_nonneg"):
        t.merge(
            spark,
            spark.createDataFrame(
                [(-1, 0, "gm")], "k bigint, v bigint, grp string"
            ),
            on="k",
        )
    # NULL passes (SQL CHECK semantics: only FALSE violates)
    t.append(
        spark,
        spark.createDataFrame(
            [(None, 0, "gn")], "k bigint, v bigint, grp string"
        ),
    )
    # adding a constraint existing rows violate is rejected
    with pytest.raises(ValueError, match="existing rows"):
        t.add_constraint(spark, "v_small", "v < 5")
    # drop ends enforcement
    t.drop_constraint("k_nonneg")
    t.append(
        spark,
        spark.createDataFrame([(-5, 0, "gx")], "k bigint, v bigint, grp string"),
    )
    assert t.read(spark).filter("k < 0").count() == 1
    with pytest.raises(ValueError, match="no such constraint"):
        t.drop_constraint("k_nonneg")


def test_constraints_block_python_source_writer(spark, tmp_path):
    from biggie_spark.btable_stream import register_btable_source

    register_btable_source(spark)
    t = _mk(spark, tmp_path)
    t.add_constraint(spark, "k_nonneg", "k >= 0")
    with pytest.raises(Exception, match="CHECK constraints"):
        (
            t.read(spark)
            .limit(1)
            .write.format("btable")
            .mode("append")
            .save(t.path)
        )


def test_optimize_zorder_prunes_both_dimensions(spark, tmp_path):
    """OPTIMIZE ZORDER: after rewriting in Morton order, BOTH z-ordered
    columns' range predicates prune files (a linear sort only prunes its
    leading column) — the multi-dimensional data-skipping contract, at
    the classic sqrt-law tradeoff."""
    grid = spark.range(4096).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("long").alias("y"),
        F.col("id").alias("payload"),
    )
    t = BTable.create(
        spark, str(tmp_path / "t"), grid, cluster_by=["x"],
        cluster_file_rows=256,
    )
    files = t.scan_file_count()
    x_pred, y_pred = "x >= 8 AND x < 16", "y >= 8 AND y < 16"
    assert t.scan_file_count(x_pred) <= files // 4  # linear prunes x...
    assert t.scan_file_count(y_pred) == files       # ...but never y
    x_cnt = t.read(spark, where=x_pred).count()
    y_cnt = t.read(spark, where=y_pred).count()
    t.optimize(spark, zorder_by=["x", "y"], zorder_file_rows=256)
    assert t.scan_file_count(x_pred) <= files // 2
    assert t.scan_file_count(y_pred) <= files // 2, (
        "z-order must make the non-leading dimension prunable"
    )
    # contents identical; history intact
    assert t.read(spark, where=x_pred).count() == x_cnt
    assert t.read(spark, where=y_pred).count() == y_cnt
    assert t.count_rows() == 4096
    assert t.read(spark, version=0).count() == 4096


def test_optimize_zorder_materializes_dv_and_rejects_strings(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete(spark, "grp == 'g2'", mode="merge_on_read")
    t.optimize(spark, zorder_by=["k", "v"])
    assert t.snapshot().dvs == {}, "zorder rewrite must materialize DVs"
    assert t.count_rows() == 80 == t.read(spark).count()
    assert t.read(spark).filter("grp = 'g2'").count() == 0
    with pytest.raises(ValueError, match="zorder_by"):
        t.optimize(spark, zorder_by=["grp"])  # string: no usable axis
    with pytest.raises(ValueError, match="not in schema"):
        t.optimize(spark, zorder_by=["nope"])


def test_optimize_zorder_timestamp_axis(spark, tmp_path):
    """Timestamp z-order axis uses the epoch-micros stats (the log
    stores them TZ-free) — pruning stays exact after the rewrite."""
    rows = spark.range(512).select(
        (F.col("id") % 8).alias("k"),
        F.expr(
            "timestamp'2024-03-01 00:00:00'"
            " + make_interval(0, 0, 0, 0, cast(id / 8 as int), 0, 0)"
        ).alias("ts"),
    )
    t = BTable.create(spark, str(tmp_path / "t"), rows.repartition(8))
    t.optimize(spark, zorder_by=["k", "ts"], zorder_file_rows=64)
    w = "ts >= '2024-03-01 10:00:00' AND ts < '2024-03-01 20:00:00'"
    assert t.scan_file_count(w) < t.scan_file_count()
    assert t.read(spark, where=w).count() == 80


# ------------------------------------------- one evaluation per DML write


def test_delete_keeps_null_predicate_rows_in_both_modes(spark, tmp_path):
    """A row whose delete predicate is NULL is not deleted: copy-on-write
    keeps it exactly as merge-on-read does, and the log's row count
    agrees with the data."""
    rows = [(1, "a"), (2, None), (3, "c"), (4, "x")]
    for mode in ("copy_on_write", "merge_on_read"):
        t = BTable.create(
            spark,
            str(tmp_path / mode),
            spark.createDataFrame(rows, "k bigint, s string").coalesce(1),
        )
        t.delete(spark, "s = 'x'", mode=mode)
        got = sorted((r.k, r.s) for r in t.read(spark).collect())
        assert got == [(1, "a"), (2, None), (3, "c")], mode
        assert t.count_rows() == 3, mode


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` ran, counted through a job group."""
    sc = spark.sparkContext
    group = f"btable-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "btable job budget")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_dml_job_budget_on_clustered_bloom_table(spark, tmp_path):
    """Each DML evaluates its inputs once: no count job for sizes the log
    and the hit probe know, no second candidate scan, no re-run of the
    caller's frame, and no bloom job — a rewrite inherits its sidecars
    and an append observes its bits in the write.  AQE off, as the
    benchmark runs (AQE submits every shuffle stage as a job of its
    own)."""
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        schema = "k bigint, v bigint, s string"
        t = BTable.create(
            spark,
            str(tmp_path / "t"),
            spark.range(50_000).select(
                F.col("id").alias("k"),
                (F.col("id") % 97).alias("v"),
                F.lit("b").alias("s"),
            ),
            cluster_by=["k"],
            cluster_file_rows=25_000,
            bloom_cols=["k"],
        )
        upsert = spark.createDataFrame(
            [(1000 + 10 * i, -1, "m") for i in range(190)]
            + [(-1 - i, -2, "n") for i in range(10)],
            schema,
        )
        assert _jobs(spark, lambda: t.merge(spark, upsert, on="k")) <= 5
        more = spark.createDataFrame(
            [(50_000 + i, 0, "a") for i in range(500)], schema
        )
        assert _jobs(spark, lambda: t.append(spark, more)) <= 2
        assert _jobs(spark, lambda: t.delete(spark, "k = 7")) <= 2
        assert t.count_rows() == 50_509 == t.read(spark).count()
        assert t.read(spark, where="k = 1000").first().v == -1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def test_create_job_budget_on_two_file_clustered_bloom_table(spark, tmp_path):
    """A clustered create that lands two files runs its count, the range
    sampling, the write and ONE per-file aggregate that builds the stats
    and the bloom words together (AQE off)."""
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        box = []
        n = _jobs(
            spark,
            lambda: box.append(
                BTable.create(
                    spark,
                    str(tmp_path / "t"),
                    spark.range(50_000).select(
                        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
                    ),
                    cluster_by=["k"],
                    cluster_file_rows=25_000,
                    bloom_cols=["k"],
                )
            ),
        )
        assert n <= 4, n
        (t,) = box
        assert len(t.snapshot().files) == 2
        assert t.scan_file_count("k = 49999") == 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def _check_last_commit(t, file_rows):
    """The newest commit's adds carry their files' exact row counts, and
    a clustered write landed ceil(rows / file_rows) files."""
    import pyarrow.parquet as pq

    adds = _read_log(t.path)[-1].get("add", [])
    for a in adds:
        path = os.path.join(t.path, a["path"])
        assert a["rows"] == pq.ParquetFile(path).metadata.num_rows, a
    written = sum(a["rows"] for a in adds)
    assert len(adds) == -(-written // file_rows), (written, len(adds))


@pytest.mark.parametrize("row_tracking", [False, True])
def test_dml_adds_carry_exact_rows_and_file_counts(
    spark, tmp_path, row_tracking
):
    """The sizes a write takes from the log and the hit probe are the
    sizes it writes: after a seeded mix of merges (hitting DV'd files and
    re-inserting DV-deleted keys), appends and deletes, every add's
    ``rows`` is its parquet row count and every clustered commit landed
    ceil(rows / cluster_file_rows) files."""
    rng = random.Random(20)
    schema = "k bigint, v bigint, s string"
    file_rows = 40
    model = {k: (k, k * 3, f"s{k % 7}") for k in range(100)}
    t = BTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(list(model.values()), schema),
        cluster_by=["k"],
        cluster_file_rows=file_rows,
        row_tracking=row_tracking,
    )
    _check_last_commit(t, file_rows)
    nxt = 100
    ops = ["dv", "merge", "append", "delete", "dv", "delete", "merge",
           "append", "merge", "delete"]
    for step, op in enumerate(ops):
        if op == "dv":
            ks = rng.sample(sorted(model), 3)
            t.delete(
                spark, f"k IN ({', '.join(map(str, ks))})",
                mode="merge_on_read",
            )
            assert t.snapshot().dvs
            for k in ks:
                del model[k]
        elif op == "merge":
            # hits in DV'd files, DV-deleted keys and fresh keys
            ks = rng.sample(range(nxt + 10), 15)
            src = [(k, -step, f"m{step}") for k in ks]
            t.merge(spark, spark.createDataFrame(src, schema), on="k")
            model.update((r[0], r) for r in src)
            nxt = max(nxt, max(ks) + 1)
        elif op == "append":
            src = [(nxt + i, step, "a") for i in range(rng.randint(5, 60))]
            t.append(spark, spark.createDataFrame(src, schema))
            model.update((r[0], r) for r in src)
            nxt += len(src)
        else:
            lo = rng.randrange(nxt)
            hi = lo + rng.randint(1, 12)
            t.delete(spark, f"k >= {lo} AND k < {hi}")
            model = {k: r for k, r in model.items() if not lo <= k < hi}
        _check_last_commit(t, file_rows)
    got = sorted(tuple(r) for r in t.read(spark).collect())
    assert got == sorted(model.values())
    assert t.count_rows() == len(model)
    if row_tracking:
        ids = [r._row_id for r in t.read(spark, with_row_ids=True).collect()]
        assert len(set(ids)) == len(ids) == len(model)


def _sort_rows(rows):
    return sorted(rows, key=lambda r: (r[0] is None, r[0] or 0, r[1], r[2]))


@pytest.mark.parametrize("row_tracking", [False, True])
@pytest.mark.parametrize("when_not_matched", ["insert", "ignore"])
@pytest.mark.parametrize("when_matched", ["update", "delete"])
def test_merge_mode_matrix_matches_model(
    spark, tmp_path, when_matched, when_not_matched, row_tracking
):
    """Every when_matched x when_not_matched combination against a
    Python model, with null keys on both sides (a null key never
    matches: a null-key target row stays, a null-key source row is an
    insert)."""
    schema = "k bigint, v bigint, s string"
    target = [(k, k * 10, f"t{k}") for k in range(60)] + [(None, -1, "tn")]
    source = [
        (3, 1, "u3"), (25, 2, "u25"), (26, 3, "u26"),  # two files hit
        (100, 4, "n100"), (-5, 5, "n-5"),  # no target match
        (None, 6, "sn1"), (None, 7, "sn2"),  # null keys
    ]
    t = BTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(target[:20], schema).coalesce(1),
        row_tracking=row_tracking,
    )
    for lo, hi in ((20, 40), (40, 61)):
        t.append(spark, spark.createDataFrame(target[lo:hi], schema).coalesce(1))
    hit_files = set(t.snapshot(1).files)  # keys 0..39: 3, 25, 26 match
    (missed,) = set(t.snapshot().files) - hit_files
    t.merge(
        spark,
        spark.createDataFrame(source, schema),
        on="k",
        when_matched=when_matched,
        when_not_matched=when_not_matched,
    )
    by_key = {r[0]: r for r in source if r[0] is not None}
    want = [
        by_key.get(r[0], r) if when_matched == "update" else r
        for r in target
        if when_matched == "update" or r[0] not in by_key
    ]
    if when_not_matched == "insert":
        keys = {r[0] for r in target}
        want += [r for r in source if r[0] is None or r[0] not in keys]
    got = [tuple(r) for r in t.read(spark).collect()]
    assert _sort_rows(got) == _sort_rows(want)
    assert t.count_rows() == len(want)
    files = set(t.snapshot().files)
    assert missed in files and not hit_files & files, "rewrote a missed file"
    if row_tracking:
        ids = [r._row_id for r in t.read(spark, with_row_ids=True).collect()]
        assert len(set(ids)) == len(ids)
