"""btable bloom-filter file skipping (the Delta bloom-filter-index
idea): per-file bloom sidecars on declared string/integral columns let
equality/IN point lookups prune files whose min/max stats overlap every
probe — the high-cardinality-id case clustering can't help with.

Hashing parity is by construction, not reimplementation: the build path
(JVM md5 expressions) and the probe path (hashlib md5) hash the SAME
canonical string bytes, the cross-engine idiom the llm_minhash ops
established.  All doubt (float literals, unparseable clauses, missing
sidecars, unknown columns) must-scans: pruning is never a filter."""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from biggie_spark.tablefmt import (
    BTable,
    _bloom_contains,
    _bloom_pos_sql,
    _bloom_pos_py,
    _read_log,
)


def _md5(v) -> str:
    return hashlib.md5(str(v).encode()).hexdigest()


def _grid(spark, tmp_path, files=4, per=25, **kw):
    """files single-file commits; k is range-clustered per file while
    doc (md5 of k) and uid (k*7919 mod 1000) scatter across every file,
    so min/max stats cannot prune point lookups on them."""
    t = None
    for i in range(files):
        df = (
            spark.range(i * per, (i + 1) * per)
            .coalesce(1)
            .select(
                F.col("id").alias("k"),
                F.md5(F.col("id").cast("string")).alias("doc"),
                F.pmod(F.col("id") * 7919, F.lit(1000)).alias("uid"),
            )
        )
        if t is None:
            t = BTable.create(
                spark,
                str(tmp_path / "t"),
                df,
                bloom_cols=["doc", "uid"],
                bloom_bits=4096,
                bloom_k=7,
                **kw,
            )
        else:
            t.append(spark, df)
    return t


ABSENT = _md5(424242)


# ------------------------------------------------------------ build/parity


def test_jvm_and_python_positions_agree(spark):
    vals = ["", "a", "hello world", "7", "-12", _md5(1), "Ünïcode ☃"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    for seed in (0, 3, 6):
        got = [
            r[0]
            for r in df.select(F.expr(_bloom_pos_sql("s", seed, 4096))).collect()
        ]
        want = [_bloom_pos_py(v, seed, 4096) for v in vals]
        assert got == want, seed


def test_integral_positions_agree(spark):
    df = spark.createDataFrame(
        [(0,), (7,), (-42,), (2**62,)], "v long"
    )
    got = [r[0] for r in df.select(F.expr(_bloom_pos_sql("v", 1, 1024))).collect()]
    want = [_bloom_pos_py(str(v), 1, 1024) for v in (0, 7, -42, 2**62)]
    assert got == want


def test_sidecars_written_per_file(spark, tmp_path):
    t = _grid(spark, tmp_path)
    snap = t.snapshot()
    assert len(snap.files) == 4
    for add in snap.files.values():
        assert add["bloom"] == add["path"] + ".bloom.json"
        assert os.path.exists(os.path.join(t.path, add["bloom"]))
        sc = t._bloom_sidecar(add["bloom"])
        assert sc["bits"] == 4096 and sc["k"] == 7
        assert set(sc["cols"]) == {"doc", "uid"}
        assert all(len(w) == 4096 // 8 for w in sc["cols"].values())


# -------------------------------------------------------------- pruning


def test_point_lookup_prunes_to_true_hit(spark, tmp_path):
    t = _grid(spark, tmp_path)
    assert t.scan_file_count() == 4
    assert t.scan_file_count(f"doc == '{_md5(42)}'") == 1
    assert t.scan_file_count(f"doc == '{ABSENT}'") == 0
    assert t.read(spark, where=f"doc == '{ABSENT}'").count() == 0


def test_every_present_value_is_found(spark, tmp_path):
    """The correctness half of the contract: a bloom may false-POSITIVE
    (scan a file without the value) but never false-negative."""
    t = _grid(spark, tmp_path)
    rows = t.read(
        spark, where=" OR ".join(f"doc == '{_md5(k)}'" for k in range(100))
    )
    # (an OR clause never prunes — this is the row-filter correctness)
    assert rows.count() == 100
    for k in (0, 13, 42, 99):  # per-value pruned reads
        got = t.read(spark, where=f"doc == '{_md5(k)}'").collect()
        assert len(got) == 1 and got[0]["k"] == k


def test_in_list_prunes(spark, tmp_path):
    t = _grid(spark, tmp_path)
    assert t.scan_file_count(f"doc IN ('{ABSENT}', '{_md5(777777)}')") == 0
    # one present + one absent literal -> only the present value's file
    assert t.scan_file_count(f"doc IN ('{_md5(42)}', '{ABSENT}')") == 1
    got = t.read(
        spark, where=f"doc IN ('{_md5(42)}', '{_md5(77)}')"
    ).collect()
    assert sorted(r["k"] for r in got) == [42, 77]


def test_integral_column_and_literal_canonicalization(spark, tmp_path):
    t = _grid(spark, tmp_path)
    # uid(42) = 42*7919 % 1000 = 598; scattered so stats can't prune
    assert t.read(spark, where="uid == 598").collect()[0]["k"] == 42
    assert t.scan_file_count("uid == 598") <= 2  # bloom fp at most
    # Spark casts '0598' to 598 for the comparison; the bloom hashed "598"
    got = t.read(spark, where="uid == '0598'").collect()
    assert [r["k"] for r in got] == [42]
    assert t.scan_file_count("uid == '0598'") == t.scan_file_count(
        "uid == 598"
    )


def test_doubtful_literals_must_scan(spark, tmp_path):
    t = _grid(spark, tmp_path)
    assert t.scan_file_count("uid == 598.0") == 4  # float form: scan
    assert t.scan_file_count("uid == 'x'") == 4  # non-integer: scan
    assert t.scan_file_count(f"doc == 42") == 4  # unquoted on string
    assert t.scan_file_count("doc > 'a'") >= 1  # non-equality: stats only
    assert t.scan_file_count(f"k == 42 OR doc == '{ABSENT}'") == 4


def test_conjunct_composition_with_stats(spark, tmp_path):
    t = _grid(spark, tmp_path)
    # stats prune on k (clustered) AND bloom prune on doc compose
    assert t.scan_file_count(f"k >= 75 AND doc == '{_md5(42)}'") == 0
    assert t.scan_file_count(f"k <= 24 AND doc == '{_md5(13)}'") == 1


def test_all_null_column_file_prunes(spark, tmp_path):
    df = spark.range(10).coalesce(1).select(
        F.col("id").alias("k"), F.lit(None).cast("string").alias("doc")
    )
    t = BTable.create(
        spark, str(tmp_path / "t"), df, bloom_cols=["doc"], bloom_bits=256
    )
    # equality never matches NULL; the zero-filter file is prunable
    assert t.scan_file_count("doc == 'anything'") == 0
    assert t.read(spark, where="doc == 'anything'").count() == 0
    assert t.scan_file_count("doc IS NULL") == 1  # null-stats path keeps it


# ------------------------------------------------- lifecycle interplay


def test_set_bloom_index_applies_to_new_files_only(spark, tmp_path):
    def mk(lo, hi):
        # sentinel docs at the hex extremes pin every file's min/max to
        # the full range, so ONLY bloom state decides the scan counts
        return (
            spark.range(lo, hi)
            .coalesce(1)
            .select(
                F.col("id").alias("k"),
                F.when(F.col("id") == lo, F.lit("0" * 32))
                .when(F.col("id") == hi - 1, F.lit("f" * 32))
                .otherwise(F.md5(F.col("id").cast("string")))
                .alias("doc"),
            )
        )

    t = BTable.create(spark, str(tmp_path / "t"), mk(0, 25))
    t.append(spark, mk(25, 50))
    t.set_bloom_index(["doc"], bits=2048)
    t.append(spark, mk(50, 75))
    # old files lack sidecars -> must-scan; the new file blooms
    assert t.scan_file_count(f"doc == '{ABSENT}'") == 2
    assert t.scan_file_count(f"doc == '{_md5(60)}'") == 3
    # optimize() rewrites everything under the active config: backfilled
    t.optimize(spark)
    assert t.scan_file_count(f"doc == '{ABSENT}'") == 0
    assert t.read(spark, where=f"doc == '{_md5(60)}'").count() == 1


def test_config_validation(spark, tmp_path):
    df = spark.range(5).select(
        F.col("id").alias("k"), (F.col("id") * 0.5).alias("x")
    )
    with pytest.raises(ValueError, match="not in schema"):
        BTable.create(spark, str(tmp_path / "a"), df, bloom_cols=["nope"])
    with pytest.raises(ValueError, match="type 'double'"):
        BTable.create(spark, str(tmp_path / "b"), df, bloom_cols=["x"])
    with pytest.raises(ValueError, match="bloom_bits"):
        BTable.create(
            spark, str(tmp_path / "c"), df, bloom_cols=["k"], bloom_bits=8
        )


def test_rename_keeps_bloom_pruning(spark, tmp_path):
    t = _grid(spark, tmp_path)
    t.rename_column("doc", "fingerprint")
    # sidecar keys are PHYSICAL names; the probe resolves via colmap
    assert t.scan_file_count(f"fingerprint == '{ABSENT}'") == 0
    got = t.read(spark, where=f"fingerprint == '{_md5(42)}'").collect()
    assert [r["k"] for r in got] == [42]


def test_dv_delete_keeps_bloom_superset_safe(spark, tmp_path):
    t = _grid(spark, tmp_path)
    t.delete(spark, "k == 42", mode="merge_on_read")
    # the stale bloom still claims 42's doc may be present: scan, then
    # the DV filter wins — conservative, never wrong
    assert t.scan_file_count(f"doc == '{_md5(42)}'") == 1
    assert t.read(spark, where=f"doc == '{_md5(42)}'").count() == 0


def test_cow_delete_rewrite_inherits_blooms(spark, tmp_path):
    """A copy-on-write rewrite inherits the filter it replaces (no
    survivor is hashed again): the deleted key's bits go stale, which
    costs a scan but never a row, and OPTIMIZE drops them."""
    t = _grid(spark, tmp_path)
    t.delete(spark, "k == 42")
    assert t.read(spark).count() == 99
    snap = t.snapshot()
    assert all("bloom" in a for a in snap.files.values())
    t2 = BTable(t.path)  # fresh handle: no warm caches
    assert t2.scan_file_count(f"doc == '{_md5(42)}'") == 1
    assert t2.read(spark, where=f"doc == '{_md5(42)}'").count() == 0
    assert t2.scan_file_count(f"doc == '{_md5(43)}'") == 1
    assert t2.scan_file_count(f"doc == '{ABSENT}'") == 0
    t2.optimize(spark)
    assert t2.scan_file_count(f"doc == '{_md5(42)}'") == 0
    assert t2.scan_file_count(f"doc == '{_md5(43)}'") == 1


def test_missing_sidecar_degrades_to_scan(spark, tmp_path):
    t = _grid(spark, tmp_path)
    for add in t.snapshot().files.values():
        os.unlink(os.path.join(t.path, add["bloom"]))
    t2 = BTable(t.path)
    assert t2.scan_file_count(f"doc == '{ABSENT}'") == 4  # never crash
    assert t2.read(spark, where=f"doc == '{_md5(42)}'").count() == 1


def test_vacuum_reaps_orphaned_sidecars(spark, tmp_path):
    t = _grid(spark, tmp_path, files=2)
    old = [a["bloom"] for a in t.snapshot().files.values()]
    t.optimize(spark)  # rewrites both (small) files
    deleted = t.vacuum(keep_versions=1, retention_seconds=0)
    assert any(p.endswith(".bloom.json") for p in deleted)
    for rel in old:
        assert not os.path.exists(os.path.join(t.path, rel))
    live = [a["bloom"] for a in t.snapshot().files.values()]
    for rel in live:
        assert os.path.exists(os.path.join(t.path, rel))
    assert t.read(spark).count() == 50


def test_no_bloom_config_no_sidecars(spark, tmp_path):
    df = spark.range(10).select(F.col("id").alias("k"))
    t = BTable.create(spark, str(tmp_path / "t"), df)
    for c in _read_log(t.path):
        assert "bloom_conf" not in c
        for add in c.get("add", []):
            assert "bloom" not in add


def test_time_travel_uses_old_sidecars(spark, tmp_path):
    t = _grid(spark, tmp_path, files=2)
    v0_files = t.scan_file_count()
    t.append(
        spark,
        spark.range(50, 75)
        .coalesce(1)
        .select(
            F.col("id").alias("k"),
            F.md5(F.col("id").cast("string")).alias("doc"),
            F.pmod(F.col("id") * 7919, F.lit(1000)).alias("uid"),
        ),
    )
    got = t.read(spark, version=1, where=f"doc == '{_md5(60)}'")
    assert got.count() == 0  # k=60 appended after v1
    assert t.read(spark, where=f"doc == '{_md5(60)}'").count() == 1
    assert v0_files == 2


def test_bloom_contains_roundtrip():
    words = bytearray(256 // 8)
    for seed in range(5):
        p = _bloom_pos_py("x", seed, 256)
        w, b = divmod(p, 64)
        cur = int.from_bytes(words[w * 8 : (w + 1) * 8], "little")
        words[w * 8 : (w + 1) * 8] = (cur | (1 << b)).to_bytes(8, "little")
    assert _bloom_contains(bytes(words), 256, 5, "x")
    assert not _bloom_contains(bytes(words), 256, 5, "y")


# ---------------------------------------------- inherited vs fresh sidecars


def _scratch_words(values, bits: int, k: int) -> bytes:
    """A from-scratch filter over ``values`` (canonical strings)."""
    w = 0
    for v in values:
        for seed in range(k):
            w |= 1 << _bloom_pos_py(v, seed, bits)
    return w.to_bytes(8 * -(-bits // 64), "little")


def _file_values(t, add, phys: str) -> list[str]:
    """Non-null values of a data file's physical column, as the
    canonical strings the filter hashes (integers print plainly)."""
    import pyarrow.parquet as pq

    col = pq.read_table(os.path.join(t.path, add["path"]), columns=[phys])
    return [str(v) for v in col.column(0).to_pylist() if v is not None]


def _sidecar(t, add) -> dict:
    import base64
    import json

    with open(os.path.join(t.path, add["bloom"])) as f:
        sc = json.load(f)
    return {c: base64.b64decode(w) for c, w in sc["cols"].items()}


def _assert_live_keys_probe(t, bits, k):
    """Every value of every live file probes positive in its sidecar."""
    for add in t.snapshot().files.values():
        for phys, words in _sidecar(t, add).items():
            for v in _file_values(t, add, phys):
                assert _bloom_contains(words, bits, k, v), (add["path"], v)


@pytest.mark.parametrize(
    "bits,k,row_tracking",
    [(64, 1, False), (1000, 7, True), (32768, 1, True), (65600, 7, False)],
)
def test_sidecars_superset_after_seeded_dml_mix(
    spark, tmp_path, bits, k, row_tracking
):
    """A seeded mix of 1- and 2-file merge rewrites, copy-on-write and
    DV-fallback deletes, appends and a renamed bloom column on a mapped
    table: every sidecar covers its file's keys; appends and OPTIMIZE
    build exact filters (byte-equal to a from-scratch build), and
    OPTIMIZE drops the stale bits the inherited filters carried."""
    import random

    rng = random.Random(bits + k)
    schema = ["k bigint, doc string, v bigint"]
    model = {i: (i, f"d{i * 7919 % 1009}", i % 5) for i in range(0, 240, 2)}
    t = BTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(sorted(model.values()), schema[0]),
        cluster_by=["k"],
        cluster_file_rows=50,
        row_tracking=row_tracking,
        bloom_cols=["k", "doc"],
        bloom_bits=bits,
        bloom_k=k,
    )
    assert len(t.snapshot().files) == 3
    fresh = []  # add actions whose filters must be exact

    def src(keys, tag):
        rows = [(x, None if x % 3 == 0 else f"{tag}{x}", -x) for x in keys]
        return rows, spark.createDataFrame(rows, schema[0])

    def files_holding(keys):
        snap = t.snapshot()
        return {
            rel
            for rel, a in snap.files.items()
            if any(a["stats"]["k"][0] <= x <= a["stats"]["k"][1] for x in keys)
        }

    # 1-file merge: updates and inserts inside the first file's range
    rows, df = src(rng.sample(range(0, 40), 12), "m1_")
    assert len(files_holding([r[0] for r in rows])) == 1
    t.merge(spark, df, on="k")
    model.update((r[0], r) for r in rows)
    # 2-file merge: keys on both sides of a file boundary
    rows, df = src(rng.sample(range(70, 130), 20), "m2_")
    assert len(files_holding([r[0] for r in rows])) == 2
    t.merge(spark, df, on="k")
    model.update((r[0], r) for r in rows)
    # append: a fresh single-file write
    rows, df = src(range(300, 330), "a_")
    t.append(spark, df)
    fresh += _read_log(t.path)[-1]["add"]
    model.update((r[0], r) for r in rows)
    # copy-on-write delete
    gone = rng.sample(sorted(model), 4)
    t.delete(spark, f"k IN ({', '.join(map(str, gone))})")
    for x in gone:
        del model[x]
    # DV-fallback rewrite: every other key fragments past one range
    lo = sorted(model)[10]
    doomed = [x for x in model if lo <= x < lo + 24 and x % 4 == 0]
    t.delete(
        spark,
        f"k >= {lo} AND k < {lo + 24} AND k % 4 = 0",
        mode="merge_on_read",
        max_dv_ranges_per_file=1,
    )
    assert "remove" in _read_log(t.path)[-1], "DV fallback did not rewrite"
    for x in doomed:
        del model[x]
    # rename the indexed string column (the table becomes mapped); a
    # merge after it hashes the source under the new logical name
    t.rename_column("doc", "fp")
    schema[0] = "k bigint, fp string, v bigint"
    rows, df = src(rng.sample(range(150, 260), 15), "r_")
    t.merge(spark, df, on="k")
    model.update((r[0], r) for r in rows)
    rows, df = src(range(400, 420), "a2_")
    t.append(spark, df)
    fresh += _read_log(t.path)[-1]["add"]
    model.update((r[0], r) for r in rows)

    got = sorted(tuple(r) for r in t.read(spark).collect())
    assert got == sorted(model.values())
    _assert_live_keys_probe(t, bits, k)
    stale = any(
        _sidecar(t, a)[p] != _scratch_words(_file_values(t, a, p), bits, k)
        for a in t.snapshot().files.values()
        for p in ("k", "doc")
    )
    t.optimize(spark)
    optimized = _read_log(t.path)[-1]["add"]
    assert len(optimized) > 1  # the per-file stats+bloom pass
    fresh += optimized
    for add in fresh:
        for phys, words in _sidecar(t, add).items():
            want = _scratch_words(_file_values(t, add, phys), bits, k)
            assert words == want, (add["path"], phys)
    _assert_live_keys_probe(t, bits, k)
    if bits >= 1000:
        assert stale, "the mix left no inherited stale bits to drop"
    for x in doomed[:3]:
        assert t.read(spark, where=f"k = {x}").count() == 0
    assert sorted(tuple(r) for r in t.read(spark).collect()) == got
