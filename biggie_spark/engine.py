"""Engine — the user-facing façade tying the three entry points together
(SURVEY.md §3): fluent DataFrames, SQL strings, and the kv/LLM surface.

    eng = Engine.connect(sf_dir="/root/testdata/sf0.01")
    eng.table("lineitem").groupBy(...) ...          # §3.2 DataFrame chain
    eng.sql("SELECT ... FROM lineitem ...")         # §3.3 SQL entry
    eng.stash("documents").get(42)                  # §3.4 kv façade
    eng.knn(probe_ids=[1, 2], k=5)                  # §3.4 LLM façade
    eng.explain(df)                                 # Catalyst plan dump

All three converge on the same Catalyst lifecycle: lazy logical plan ->
Analyzer -> Optimizer -> physical plan -> AQE.  The façade adds no execution
machinery of its own — every method expands to the §2 DataFrame rewrites.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from biggie_spark.io import TABLES, load_table, register_views
from biggie_spark.session import get_spark
from biggie_spark.stash import Stash


class Engine:
    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir

    @classmethod
    def connect(cls, sf_dir: str, spark: SparkSession | None = None) -> "Engine":
        eng = cls(spark or get_spark(), sf_dir)
        register_views(eng.spark, sf_dir)
        return eng

    # ---- entry point 1: fluent DataFrame ---------------------------------
    def table(self, name: str) -> DataFrame:
        if name not in TABLES:
            raise KeyError(f"unknown table {name!r}; have {TABLES}")
        return load_table(self.spark, self.sf_dir, name)

    # ---- entry point 2: SQL string ---------------------------------------
    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    # ---- entry point 2b: any registered operator by name ------------------
    def op(self, name: str) -> DataFrame:
        """Run ANY registered operator (the full SURVEY.md §2 inventory plus
        every extension) against this engine's corpus — the complete
        surface; the named methods below exist only where an op takes
        parameters or hides a format.  `Engine.ops()` lists what's
        available."""
        from biggie_spark.registry import QUERIES, load_all_ops

        load_all_ops()
        if name not in QUERIES:
            import difflib

            near = difflib.get_close_matches(name, QUERIES, n=3)
            raise KeyError(f"unknown operator {name!r}; did you mean {near}?")
        return QUERIES[name](self.spark, self.sf_dir)

    @staticmethod
    def ops() -> list[str]:
        """Sorted names of every registered operator."""
        from biggie_spark.registry import QUERIES, load_all_ops

        load_all_ops()
        return sorted(QUERIES)

    # ---- entry point 3: kv / LLM façade ----------------------------------
    _STASH_KEYS = {"documents": "doc_id", "embeddings": "vec_id", "events": "event_id"}

    def stash(self, name: str, key: str | None = None) -> Stash:
        key = key or self._STASH_KEYS.get(name)
        if key is None:
            raise KeyError(f"no default key for {name!r}; pass key=")
        return Stash(self.spark, self.table(name), key)

    def btable(self, path: str):
        """Handle on an ACID btable (biggie_spark/tablefmt.py): snapshot
        reads, time travel, MERGE/DELETE, OPTIMIZE/VACUUM — the
        transactional writer surface next to the read-only `table()`."""
        from biggie_spark.tablefmt import BTable

        return BTable(path)

    def btable_create(self, path: str, df: DataFrame, **kw):
        """``**kw`` passes through create options: cluster_by /
        cluster_file_rows (liquid clustering), row_tracking (stable row
        ids), bloom_cols / bloom_bits / bloom_k (point-lookup file
        skipping)."""
        from biggie_spark.tablefmt import BTable

        return BTable.create(self.spark, path, df, **kw)

    def btable_changes_stream(self, path: str, starting_version: int = -1):
        """The btable change feed as a live Structured Streaming frame
        (format('btable_changes'), biggie_spark/btable_stream.py):
        commit-version offsets, checkpoint-exact resume.  Pair with
        ``.writeStream`` + a checkpointLocation for an incremental
        consumer; the batch equivalent is ``btable(path).changes(...)``."""
        from biggie_spark.btable_stream import register_btable_source

        register_btable_source(self.spark)
        return (
            self.spark.readStream.format("btable_changes")
            .option("startingVersion", starting_version)
            .load(path)
        )

    def knn(self, probe_ids: list[int], k: int = 5) -> DataFrame:
        """Exact cosine top-k for the given probe vectors (shared kernel
        with the llm_knn_cosine operator)."""
        from biggie_spark.util import knn_exact

        return knn_exact(self.table("embeddings"), probe_ids, k)

    def knn_approx(self, k: int = 5, n_probes: int = 10) -> DataFrame:
        """Approximate cosine top-k via the default ANN path (IVF index,
        recall@5 >= 0.9 gated in tests/test_ann.py).  For corpora dominated
        by true near-duplicates (cos >= 0.9) the SimHash tables
        (`llm_knn_lsh`) may be preferable — see ops/ann.py."""
        from biggie_spark.ops.ann import llm_knn_ann

        return llm_knn_ann(self.spark, self.sf_dir, k=k, n_probes=n_probes)

    def sample(self, pct: int = 10) -> DataFrame:
        """Deterministic content-hash sampling (the blessed sampling path,
        `fn_sample_hash` semantics): stable across engines, reruns and
        repartitioning."""
        from pyspark.sql import functions as F

        e = self.table("events")
        bucket = F.conv(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        return e.filter(bucket % (100 // pct) == 0)

    def neardup(self, strategy: str = "auto") -> DataFrame:
        """Near-duplicate detection — the default ('auto') is the
        scale-safe shingle strategy (candidate volume measured linear in
        corpus size, SCALE.md round-5/6); pass strategy='token' for
        word-order-insensitive token-set semantics (candidate volume
        tracks true-duplicate density — quadratic on dup-dense corpora)."""
        from biggie_spark.ops.dedup_index import llm_neardup

        return llm_neardup(self.spark, self.sf_dir, strategy=strategy)

    def dedup_candidates(self, threshold: float = 0.95) -> DataFrame:
        """MinHash/LSH near-duplicate pairs over documents at the given
        Jaccard threshold (token-set semantics; see `neardup()` for the
        default scale-safe entry point)."""
        from biggie_spark.ops.llm import llm_neardup_pairs

        return llm_neardup_pairs(self.spark, self.sf_dir, threshold=threshold)

    # ---- introspection ----------------------------------------------------
    def explain(self, df: DataFrame, mode: str = "formatted") -> str:
        return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), mode
        )
