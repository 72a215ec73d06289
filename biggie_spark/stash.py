"""Stash — the reference's key-value façade, DataFrame-backed.

Semantic parity with the upstream kv surface (SURVEY.md §2.B — Stash.get /
add / remove / keys / __len__ / __contains__, reconstructed; the reference
mount was empty so no file:line cites exist, see SURVEY.md §0).  Every method
expands to a declarative DataFrame op so Catalyst keeps predicate pushdown,
column pruning ("lazy fields") and partition pruning in play:

* ``get(key)``        -> filter(key == v)            (parquet row-group skip)
* ``mget(keys)``      -> semi-join / IN-list
* ``keys()``          -> select(key).distinct()
* ``add(key, vals)``  -> anti-join old ∪ new, write  (upsert)
* ``remove(key)``     -> anti-join, write
* lazy field access   -> select(field) column pruning

At 100 TB the stash directory is written ``partitionBy``/bucketed on the key
column — the analog of the reference's hex-fanout group sharding.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from biggie_spark.io import save_parquet


class Stash:
    def __init__(self, spark: SparkSession, df: DataFrame, key: str, path: str | None = None):
        self.spark = spark
        self.df = df
        self.key = key
        self.path = path

    @classmethod
    def open(cls, spark: SparkSession, path: str, key: str) -> "Stash":
        return cls(spark, spark.read.parquet(path), key, path)

    # ---- read surface -----------------------------------------------------
    def get(self, key_value) -> DataFrame:
        return self.df.filter(F.col(self.key) == F.lit(key_value))

    def get_fields(self, key_value, fields: list[str]) -> DataFrame:
        """Lazy field read: only the projected columns are scanned."""
        return self.get(key_value).select(self.key, *fields)

    def mget(self, key_values: list) -> DataFrame:
        if len(key_values) > 1000:
            keys_df = self._keys_frame(key_values)
            return self.df.join(F.broadcast(keys_df), self.key, "left_semi")
        return self.df.filter(F.col(self.key).isin(key_values))

    def _keys_frame(self, key_values: list) -> DataFrame:
        """Probe keys as an Arrow-fed LocalRelation of the stash's key
        type.  ``createDataFrame`` over Python rows is a Python RDD, so
        every action over the join would start Python workers."""
        import pyarrow as pa

        key_type = self.df.schema[self.key].dataType
        return self.spark.createDataFrame(
            pa.table({self.key: list(key_values)})
        ).select(F.col(self.key).cast(key_type).alias(self.key))

    def keys(self) -> DataFrame:
        return self.df.select(self.key).distinct()

    def scan_prefix(self, prefix: str) -> DataFrame:
        return self.df.filter(F.col(self.key).cast("string").startswith(prefix))

    def scan_range(self, lo, hi) -> DataFrame:
        """Key range scan [lo, hi] — compiles to pushed min/max parquet
        predicates (row-group skip on sorted/bucketed stashes)."""
        return self.df.filter(F.col(self.key).between(lo, hi))

    def fields(self) -> list[str]:
        """The stash's field set (the union schema; absent fields are null
        per-entity — SURVEY.md §1.2)."""
        return [c for c in self.df.columns if c != self.key]

    def __len__(self) -> int:
        return self.df.count()

    def __contains__(self, key_value) -> bool:
        return not self.get(key_value).isEmpty()

    # ---- write surface ----------------------------------------------------
    def add(self, rows: DataFrame) -> "Stash":
        """Upsert: incoming rows replace existing rows with the same key."""
        merged = self.df.join(
            rows.select(self.key), self.key, "left_anti"
        ).unionByName(rows, allowMissingColumns=True)
        return Stash(self.spark, merged, self.key, self.path)

    def merge(self, other: "Stash") -> "Stash":
        """Merge two stashes, newest-wins: on key conflict ``other``'s
        entity replaces this one's.  Field sets union (absent fields are
        null per-entity — the union-schema model, SURVEY.md §1.2).  Plan
        shape = one anti-join on the key ∪ append; with a broadcastable
        ``other`` the big side never shuffles, and on a bucketed layout the
        anti-join is co-partitioned."""
        if other.key != self.key:
            raise ValueError(f"key mismatch: {self.key!r} vs {other.key!r}")
        merged = self.df.join(
            other.df.select(self.key), self.key, "left_anti"
        ).unionByName(other.df, allowMissingColumns=True)
        return Stash(self.spark, merged, self.key, self.path)

    def diff(self, other: "Stash", value_cols: list[str] | None = None) -> DataFrame:
        """Snapshot diff vs ``other`` (the newer snapshot): one row per key
        that was added, removed, or changed, tagged with ``change``.
        Change detection hashes the requested value columns (default: all
        shared non-key columns) with md5 over a canonical concat.  Plan
        shape = ONE full outer join on the key — hash-partitioned both
        sides, no broadcast needed, linear at any stash size; on a bucketed
        layout it is co-partitioned and shuffle-free."""
        if other.key != self.key:
            raise ValueError(f"key mismatch: {self.key!r} vs {other.key!r}")
        if value_cols is None:
            shared = [c for c in self.df.columns if c != self.key]
            value_cols = [c for c in shared if c in other.df.columns]

        def fp(df: DataFrame) -> DataFrame:
            h = F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in value_cols]))
            return df.select(F.col(self.key), h.alias("_fp"))

        a = fp(self.df).withColumnRenamed("_fp", "_fp_a")
        b = fp(other.df).withColumnRenamed("_fp", "_fp_b")
        j = a.join(b, self.key, "full_outer")
        return j.select(
            self.key,
            F.when(F.col("_fp_a").isNull(), F.lit("added"))
            .when(F.col("_fp_b").isNull(), F.lit("removed"))
            .when(F.col("_fp_a") != F.col("_fp_b"), F.lit("changed"))
            .otherwise(F.lit("unchanged"))
            .alias("change"),
        ).filter(F.col("change") != "unchanged")

    def update_field(self, key_value, field: str, value) -> "Stash":
        """Set one field of one entity.  A pure map-side projection
        (conditional withColumn) — no shuffle, no join, scans stay pruned.
        A field this stash has never seen is created (null for every other
        entity — the union-schema entity model, SURVEY.md §1.2)."""
        prev = F.col(field) if field in self.df.columns else F.lit(None)
        updated = self.df.withColumn(
            field,
            F.when(F.col(self.key) == F.lit(key_value), F.lit(value)).otherwise(prev),
        )
        return Stash(self.spark, updated, self.key, self.path)

    def remove(self, key_values: list) -> "Stash":
        if not key_values:  # removing nothing is a no-op, not a crash
            return self
        keys_df = self._keys_frame(key_values)
        survived = self.df.join(F.broadcast(keys_df), self.key, "left_anti")
        return Stash(self.spark, survived, self.key, self.path)

    def persist_to(self, path: str, n_buckets: int | None = None) -> "Stash":
        """Write the stash; at scale, hash-sharded on key (hex-fanout analog).
        Writing back to the stash's OWN path (the natural upsert-and-save
        flow) must materialize first — mode('overwrite') on a directory the
        lazy plan is still reading either errors or destroys the source."""
        df = self.df
        if n_buckets:
            df = df.repartition(n_buckets, self.key)
        if self.path and os.path.abspath(path) == os.path.abspath(self.path):
            df = df.localCheckpoint()
        save_parquet(df, path)
        return Stash.open(self.spark, path, self.key)

    def compact(self, out_path: str, target_file_bytes: int = 128 << 20) -> "Stash":
        """Rewrite this stash's backing files at ~target size each (the
        small-files cure for long upsert histories; see io.compact_parquet).
        Only valid for a path-backed stash."""
        from biggie_spark.io import compact_parquet

        if not self.path:
            raise ValueError("compact() needs a path-backed stash")
        compact_parquet(self.spark, self.path, out_path, target_file_bytes)
        return Stash.open(self.spark, out_path, self.key)
