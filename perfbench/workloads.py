"""One benchmark run of one workload, in a process of its own.

``run.py`` starts this module with a private work directory as the
current directory and reads the result back from ``--out``.  The run:

1. generates the input tables from the seed in a process of its own (not
   timed);
2. sets up (``setup_s``): imports the engine, starts the Spark session,
   registers the tables three times and creates what the workload needs;
3. checks correctness outside the timed region (DuckDB oracles for the
   analytic and ingest operators, a Python model for every key-value read);
4. runs a closed loop with one client for ``--seconds``, in whole rounds;
5. with ``--trace 1``, every other execution of each operation kind is
   traced and the run reports per-layer metrics instead of end-to-end ones.
"""

from __future__ import annotations

import argparse
import datetime
import importlib.util
import json
import os
import pickle
import resource
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np

from perfbench import datagen, stats
from perfbench.trace import (
    SparkCounters,
    Tracer,
    catalyst_phases,
    install,
    scan_output_rows,
)

# The nine headline operators of BASELINE.md (bench.py HEADLINE).
HEADLINE = [
    "agg_groupby",
    "join_multiway_star",
    "join_topk_revenue",
    "win_topk_per_group",
    "stream_tumbling",
    "llm_text_stats",
    "llm_knn_cosine",
    "fn_json",
    "llm_dedup_exact",
]
INGEST = "llm_ingest_pipeline_persisted"
# The op modules that register them; bench.py imports the same list.
# Importing any of them runs biggie_spark/ops/__init__.py, which imports
# every op module, so today this loads as much as load_all_ops() does.
HEADLINE_MODULES = (
    "biggie_spark.ops.aggs",
    "biggie_spark.ops.joins",
    "biggie_spark.ops.windows",
    "biggie_spark.ops.streaming",
    "biggie_spark.ops.llm",
    "biggie_spark.ops.scalars",
)
INGEST_MODULES = ("biggie_spark.ops.ingest",)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPEATS = 3
MIN_ROUNDS = 3
INGEST_WARM_CALLS = 2  # untimed calls after the cold one
KV_WRITES = ("merge", "append", "delete")
# Reads by kind per kv_mixed cycle, in seeded order, with one merge, one
# append and one delete spread evenly between them.  The read mix, the
# hot-key skew and the absent-key share are assumed, not taken from any
# observed traffic; the write sizes are those of the measured calls in
# perfbench/README.md ("Sizes").
KV_READS = {"get": 5, "contains": 3, "read": 4, "mget": 1}
KV_HOT = 64  # hot keys per key space
KV_HOT_SHARE = 0.8  # share of lookups that go to a hot key
KV_ABSENT_SHARE = 0.25  # share of contains calls on an absent key
KV_MERGE_ROWS = 200  # distinct keys per merge, from one 2000-key window
KV_MERGE_WINDOW = 2000
KV_APPEND_ROWS = 500
KV_MGET_KEYS = 20
BTABLE_FILE_ROWS = 25_000  # orders lands in 6 clustered files

END_TO_END = ("setup_s", "peak_rss_mb", "query_total_s", "ops_per_s")
_RATIOS = ("skip_ratio", "space_amp", "bytes_written_per_user_byte")


def unit(name: str) -> str:
    """Unit of a metric, from its name."""
    if name == "ops_per_s":
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(_RATIOS):
        return "ratio"
    return "count"


def _load_compare():
    """tests/compare.py, the oracle-comparison rule the test suite uses."""
    spec = importlib.util.spec_from_file_location(
        "biggie_compare", os.path.join(ROOT, "tests", "compare.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class _Precomputed:
    """Stands in for a DuckDB connection whose oracle result is already
    fetched, so ``compare`` runs unchanged on it."""

    def __init__(self, frame):
        self.frame = frame

    def execute(self, _sql):
        return self

    def fetchdf(self):
        return self.frame.copy()


class Oracles:
    """DuckDB oracle results, computed by ``perfbench.oracles`` in a process
    of its own while Spark runs the untimed cold pass; collected before the
    timed region starts."""

    def __init__(self, data_dir: str, names: list[str], sql: dict[str, str]):
        job = os.path.abspath("oracle_job.json")
        self.out = os.path.abspath("oracle_frames.pkl")
        tables = sorted(
            f[: -len(".parquet")] for f in os.listdir(data_dir) if f.endswith(".parquet")
        )
        with open(job, "w") as f:
            json.dump(
                {"data": data_dir, "tables": tables, "sql": {n: sql[n] for n in names}}, f
            )
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.oracles", job, self.out]
        )
        self.frames: dict = {}
        self.error: str | None = None

    def join(self) -> None:
        rc = self.proc.wait()
        if rc != 0:
            self.error = f"oracle process exit code {rc}"
            return
        with open(self.out, "rb") as f:
            self.frames = pickle.load(f)


class Run:
    """State of one run: session, samples, checks and trace records."""

    def __init__(self, args) -> None:
        self.args = args
        self.rng = np.random.default_rng(args.seed)
        self.tracer = Tracer()
        self.samples: dict[str, list[tuple[float, bool]]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.op_ctx: list[dict] = []  # per traced op: counters, phases
        self.extra: dict[str, float] = {}
        self.detail: dict = {}

    # ------------------------------------------------------------ checks
    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)

    # ------------------------------------------------------------- setup
    def setup(self, op_modules: tuple, tables: list[str] | None, create=None) -> None:
        """Time the engine's set-up: the first import of ``biggie_spark``
        and of ``op_modules``, starting the session,
        registering ``tables`` (None: all) and then ``create(spark,
        data_dir)``, the workload's own one-time step.  The registering is
        repeated on fresh copies of the input, so every repeat is cold in
        the engine's table cache, and its median counts."""
        t0 = time.perf_counter()
        import biggie_spark  # noqa: F401

        t1a = time.perf_counter()
        if self.args.trace:
            install(self.tracer)  # before any op module binds the targets
        t1 = time.perf_counter()
        for mod in op_modules:
            importlib.import_module(mod)
        t2 = time.perf_counter()
        from biggie_spark.io import TABLES, register_views
        from biggie_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench")
        t3 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        # AQE pinned off, as bench.py pins it for the headline queries.
        self.spark.conf.set("spark.sql.adaptive.enabled", "false")
        if self.args.trace:
            self.counters = SparkCounters(self.spark)
        reps = []
        for i in range(SETUP_REPEATS):
            d = self.data_copy(i)
            r0 = time.perf_counter()
            register_views(self.spark, d, tables or list(TABLES))
            reps.append(time.perf_counter() - r0)
        self.data_dir = d
        t4 = time.perf_counter()
        if create is not None:
            create(self.spark, d)
        t5 = time.perf_counter()
        self.extra["registry.import_s"] = (t1a - t0) + (t2 - t1)
        self.extra["session.get_spark_s"] = t3 - t2
        self.extra["io.register_s"] = statistics.median(reps)
        self.setup_s = (
            self.extra["registry.import_s"]
            + self.extra["session.get_spark_s"]
            + self.extra["io.register_s"]
            + (t5 - t4)
        )

    def data_copy(self, i: int) -> str:
        """Directory ``i`` holding the run's tables (hard links to one
        generated copy, so each repeat reads a path the engine has not
        cached)."""
        d = os.path.abspath(f"data{i}")
        if i == 0:
            return d
        os.makedirs(d, exist_ok=True)
        for f in os.listdir(self.data0):
            src, dst = os.path.join(self.data0, f), os.path.join(d, f)
            try:
                os.link(src, dst)
            except OSError:
                shutil.copyfile(src, dst)
        return d

    # ----------------------------------------------------------- the loop
    def loop(self, round_fn) -> None:
        """Closed loop: start rounds until ``--seconds`` have passed and at
        least MIN_ROUNDS have run, so every kind's median has a middle."""
        self.loop_t0 = time.perf_counter()
        self.rounds = 0
        while (
            self.rounds < MIN_ROUNDS
            or time.perf_counter() - self.loop_t0 < self.args.seconds
        ):
            round_fn()
            self.rounds += 1
        self.loop_s = time.perf_counter() - self.loop_t0
        self.ops_done = sum(len(v) for v in self.samples.values())
        # before any final check, so the harness's own end-of-run work
        # sets no high-water mark
        self.peak_rss = self.peak_rss_mb()

    def op(self, kind: str, fn, post=None):
        """Time one operation; returns fn's result.  With tracing on,
        every other execution of a kind is traced, and ``post(ctx)`` then
        reads extra per-layer facts after the timing has stopped."""
        seen = self.samples.setdefault(kind, [])
        traced = bool(self.args.trace) and len(seen) % 2 == 0
        ctx: dict = {"kind": kind}
        if traced:
            before = self.counters.read()
            self.tracer.enabled = True
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}", layer="unattributed"):
                out = fn(ctx)
        finally:
            dt = time.perf_counter() - t0
            self.tracer.enabled = False
        seen.append((dt, traced))
        if traced:
            after = self.counters.read()
            ctx.update(SparkCounters.delta(before, after))
            ctx["storage_mb"] = after["storage_mb"]
            ctx["wall"] = dt
            if ctx.get("df") is not None:
                ctx["phases"] = catalyst_phases(ctx["df"])
            if post is not None:
                post(ctx)
            self.op_ctx.append(ctx)
        ctx.pop("df", None)
        return out

    def build(self, ctx: dict, name: str, sf: str):
        """``QUERIES[name](spark, sf)`` inside an ``ops.build`` span; the
        span records how many Spark jobs the build itself launched."""
        from biggie_spark.registry import QUERIES

        if not self.tracer.enabled:
            return QUERIES[name](self.spark, sf)
        with self.tracer.span("ops.build") as rec:
            j0 = self.counters.read()["jobs"]
            df = QUERIES[name](self.spark, sf)
            rec["jobs"] = self.counters.read()["jobs"] - j0
        return df

    def action(self, df):
        with self.tracer.span("exec.action"):
            return df.collect()

    # ----------------------------------------------------------- results
    def kind_medians(self, traced: bool | None = None) -> dict[str, float]:
        out = {}
        for k, v in self.samples.items():
            xs = [dt for dt, t in v if traced is None or t == traced]
            if xs:
                out[k] = statistics.median(xs)
        return out

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this process plus the JVM it started
        (each process's high-water mark)."""
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        if proc is not None:
            with open(f"/proc/{proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        return (py_kb + jvm_kb) / 1024.0

    def end_to_end(self) -> dict[str, float]:
        med = self.kind_medians()
        if self.args.trace:  # kinds with an untraced sample use only those
            med.update(self.kind_medians(False))
        return {
            "setup_s": self.setup_s,
            "peak_rss_mb": self.peak_rss,
            "query_total_s": sum(med.values()),
            # operations completed per second of the timed loop
            "ops_per_s": self.ops_done / self.loop_s,
        }


# --------------------------------------------------------------- analytic
def analytic_read(run: Run, compare) -> None:
    run.setup(HEADLINE_MODULES, None)
    from biggie_spark.registry import ORACLES, QUERIES

    sf = run.data_dir
    oracles = Oracles(sf, HEADLINE, ORACLES)
    # cold pass, outside the timed region: each op once, kept for the
    # oracle comparison
    cold, expect_rows = {}, {}
    for name in HEADLINE:
        cold[name] = QUERIES[name](run.spark, sf).toPandas()
        expect_rows[name] = len(cold[name])
    oracles.join()
    for name in HEADLINE:
        run.check(_oracle_ok(compare, run, oracles, name, cold[name]), f"oracle {name}")
    del cold
    # one untimed warm round: the first warm executions are still faster
    # each time (JIT, codegen caches), which would tilt the medians
    for name in HEADLINE:
        QUERIES[name](run.spark, sf).collect()

    order = list(HEADLINE)

    def one_round():
        run.rng.shuffle(order)
        for name in order:
            def q(ctx, name=name):
                df = run.build(ctx, name, sf)
                ctx["df"] = df
                return run.action(df)

            rows = run.op(name, q)
            run.check(len(rows) == expect_rows[name], f"{name} row count")

    run.loop(one_round)


def _oracle_ok(compare, run: Run, oracles: Oracles, name: str, pdf) -> bool:
    if oracles.error is not None or name not in oracles.frames:
        run.errors.append(f"oracle {name}: {oracles.error!r}")
        return False
    try:
        compare.compare(_Frame(pdf), _Precomputed(oracles.frames[name]), "")
        return True
    except AssertionError as exc:
        run.errors.append(f"oracle {name}: {str(exc)[:300]}")
        return False


class _Frame:
    """A collected Spark result that ``compare`` can call toPandas on."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf.copy()


# ----------------------------------------------------------------- ingest
def llm_ingest(run: Run, compare) -> None:
    run.setup(INGEST_MODULES, ["documents"])
    from biggie_spark.registry import ORACLES, QUERIES

    sf = run.data_dir
    oracles = Oracles(sf, [INGEST], ORACLES)
    cold = QUERIES[INGEST](run.spark, sf).toPandas()
    oracles.join()
    run.check(_oracle_ok(compare, run, oracles, INGEST, cold), f"oracle {INGEST}")
    expect = compare.normalize_rows(
        [tuple(r) for r in cold.itertuples(index=False, name=None)], list(cold.columns)
    )

    def checked(df, rows):
        got = compare.normalize_rows([tuple(r) for r in rows], df.columns)
        run.check(got == expect, "ingest result differs from its oracle-checked cold run")

    # untimed warm calls: the first warm calls are still getting faster
    # (JIT, caches), which would tilt the median
    for _ in range(INGEST_WARM_CALLS):
        df = QUERIES[INGEST](run.spark, sf)
        checked(df, df.collect())

    def one_round():
        def call(ctx):
            df = run.build(ctx, INGEST, sf)
            ctx["df"] = df
            return df, run.action(df)

        checked(*run.op("ingest", call))

    run.loop(one_round)
    run.detail["ingest_s"] = statistics.median([dt for dt, _ in run.samples["ingest"]])


# --------------------------------------------------------------------- kv
class KvModel:
    """What the acknowledged writes say the btable holds, and the stash's
    fixed contents.  The generated ``orders`` stay columnar (row ``k``
    holds key ``k``) and only the written keys are kept as Python rows,
    so the model adds little to the process's memory during the loop."""

    def __init__(self, orders, documents) -> None:
        keys = orders.column("o_orderkey").to_numpy()
        assert (keys == np.arange(len(keys))).all(), "orders keys must be 0..n-1"
        self.base = orders
        self.changed: dict[int, tuple | None] = {}  # None: deleted
        self.next_key = len(keys)
        self.docs = dict(
            zip(documents.column("doc_id").to_pylist(), documents.column("text").to_pylist())
        )

    def row(self, k: int) -> tuple | None:
        if k in self.changed:
            return self.changed[k]
        if 0 <= k < len(self.base):
            return tuple(col[k].as_py() for col in self.base.columns)
        return None

    def put(self, row: tuple) -> None:
        self.changed[row[0]] = row

    def delete(self, k: int) -> None:
        self.changed[k] = None

    def live(self) -> dict[int, tuple]:
        rows = {r[0]: r for r in zip(*[c.to_pylist() for c in self.base.columns])}
        for k, r in self.changed.items():
            if r is None:
                rows.pop(k, None)
            else:
                rows[k] = r
        return rows


def kv_mixed(run: Run, compare) -> None:
    import pyarrow.parquet as pq

    model = KvModel(
        pq.read_table(os.path.join(run.data0, "orders.parquet")),
        pq.read_table(os.path.join(run.data0, "documents.parquet")),
    )
    state: dict = {}

    def create(spark, d):
        from biggie_spark.io import load_table
        from biggie_spark.stash import Stash
        from biggie_spark.tablefmt import BTable

        state["stash"] = Stash(spark, load_table(spark, d, "documents"), "doc_id")
        state["bt"] = BTable.create(
            spark,
            os.path.abspath("btable"),
            load_table(spark, d, "orders"),
            cluster_by=["o_orderkey"],
            cluster_file_rows=BTABLE_FILE_ROWS,
            bloom_cols=["o_orderkey"],
        )

    run.setup((), ["documents", "orders"], create)
    from biggie_spark.io import load_table
    from biggie_spark.tablefmt import BTable

    spark, stash, bt = run.spark, state["stash"], state["bt"]
    schema = load_table(spark, run.data_dir, "orders").schema
    rng = run.rng
    hot_orders = rng.choice(model.next_key, KV_HOT, replace=False).tolist()
    hot_docs = rng.choice(len(model.docs), KV_HOT, replace=False).tolist()
    n_docs = len(model.docs)
    row_bytes = stats.dir_bytes(os.path.join(bt.path, "data")) / len(model.base)

    def order_key() -> int:
        if rng.random() < KV_HOT_SHARE:
            return int(hot_orders[rng.integers(len(hot_orders))])
        return int(rng.integers(model.next_key))

    def doc_key(absent_share: float = 0.0) -> int:
        if rng.random() < absent_share:
            return int(n_docs + rng.integers(n_docs))
        if rng.random() < KV_HOT_SHARE:
            return int(hot_docs[rng.integers(len(hot_docs))])
        return int(rng.integers(n_docs))

    def new_row(key: int) -> tuple:
        day = datetime.datetime(1995, 1, 1) + datetime.timedelta(days=int(rng.integers(0, 2400)))
        return (
            key,
            int(rng.integers(0, 15_000)),
            ["F", "O", "P"][int(rng.integers(3))],
            round(float(rng.uniform(1000.0, 500000.0)), 2),
            day,
            datagen.PRIORITIES[int(rng.integers(5))],
        )

    def do_get(ctx):
        k = doc_key()
        df = stash.get(k)
        ctx["df"] = df
        rows = run.action(df)
        ctx["hit_rows"] = len(rows)
        return k, rows

    def do_read(ctx):
        k = order_key()
        df = bt.read(spark, where=f"o_orderkey = {k}")
        ctx["df"] = df
        ctx["where"] = f"o_orderkey = {k}"
        return k, run.action(df)

    def do_mget(ctx):
        keys = sorted({doc_key() for _ in range(KV_MGET_KEYS)})
        df = stash.mget(keys)
        ctx["df"] = df
        return keys, run.action(df)

    def do_contains(_ctx):
        k = doc_key(absent_share=KV_ABSENT_SHARE)
        return k, k in stash

    def do_merge(ctx):
        lo = max(0, min(order_key(), model.next_key - KV_MERGE_WINDOW))
        keys = sorted(
            set(rng.choice(KV_MERGE_WINDOW, KV_MERGE_ROWS, replace=False).tolist())
        )
        rows = [new_row(lo + int(k)) for k in keys]
        bt.merge(spark, spark.createDataFrame(rows, schema), on="o_orderkey")
        ctx["user_rows"] = len(rows)
        return rows

    def do_append(ctx):
        rows = [new_row(model.next_key + i) for i in range(KV_APPEND_ROWS)]
        bt.append(spark, spark.createDataFrame(rows, schema))
        ctx["user_rows"] = len(rows)
        return rows

    def do_delete(ctx):
        k = order_key()
        bt.delete(spark, f"o_orderkey = {k}")
        ctx["user_rows"] = 1
        return k

    def scanned(ctx):
        ctx["scanned"] = scan_output_rows(ctx["df"])

    def files(ctx):
        ctx["files"] = bt.scan_file_count(ctx["where"])
        ctx["total_files"] = bt.scan_file_count()

    def read_kind(kind: str) -> None:
        if kind == "get":
            k, rows = run.op("get", do_get, scanned)
            run.check(
                len(rows) == 1 and rows[0]["doc_id"] == k and rows[0]["text"] == model.docs[k],
                f"get {k}",
            )
        elif kind == "contains":
            k, found = run.op("contains", do_contains)
            run.check(found == (k in model.docs), f"contains {k}")
        elif kind == "mget":
            keys, rows = run.op("mget", do_mget)
            got = sorted((r["doc_id"], r["text"]) for r in rows)
            run.check(
                got == sorted((k, model.docs[k]) for k in keys if k in model.docs),
                "mget",
            )
        else:
            k, rows = run.op("read", do_read, files)
            row = model.row(k)
            want = [] if row is None else [row]
            run.check([tuple(r) for r in rows] == want, f"read {k}")

    def write_kind(kind: str) -> None:
        fn = {"merge": do_merge, "append": do_append, "delete": do_delete}[kind]
        try:
            out = run.op(kind, fn)
        except Exception as exc:
            run.check(False, f"{kind}: {exc!r}"[:300])
            return
        if kind == "delete":
            model.delete(out)
        else:
            for r in out:
                model.put(r)
            if kind == "append":
                model.next_key += len(out)
        run.check(True, kind)

    def cycle() -> list[str]:
        reads = [k for k, n in KV_READS.items() for _ in range(n)]
        rng.shuffle(reads)
        per = len(reads) // len(KV_WRITES)
        out = []
        for i, w in enumerate(KV_WRITES):
            out += reads[i * per : (i + 1) * per] + [w]
        return out + reads[len(KV_WRITES) * per :]

    def one_round(kinds):
        for kind in kinds:
            (write_kind if kind in KV_WRITES else read_kind)(kind)

    # untimed: each kind once, so no timed sample is a first call
    one_round(list(KV_READS) + list(KV_WRITES))
    run.samples.clear()
    run.op_ctx.clear()
    run.tracer.spans.clear()
    run.loop(lambda: one_round(cycle()))

    # the live set, through a fresh handle, must equal the model
    fresh = BTable(bt.path)
    live = {
        r[0]: r for r in fresh.read(spark).toPandas().itertuples(index=False, name=None)
    }
    run.check(live == model.live(), "final live set equals the model")
    snap = fresh.snapshot()
    live_bytes = sum(os.path.getsize(os.path.join(bt.path, rel)) for rel in snap.files)
    amp = stats.space_amp(stats.dir_bytes(bt.path), live_bytes)
    reads = sorted(dt for k in KV_READS for dt, _ in run.samples.get(k, []))
    ups = sorted(dt for k in KV_WRITES for dt, _ in run.samples.get(k, []))
    tail = stats.tail(reads)
    run.detail.update(
        {
            "get_p50_s": stats.percentile(reads, 50),
            "get_tail": None if tail is None else {"p": tail[0], "s": tail[1]},
            "upsert_p50_s": stats.percentile(ups, 50) if ups else None,
            "space_amp": amp,
            "reads": len(reads),
            "writes": len(ups),
        }
    )
    run.extra["tablefmt.space_amp"] = amp
    run.extra["tablefmt.log_versions"] = snap.version + 1
    run.extra["row_bytes"] = row_bytes


WORKLOADS = {"analytic_read": analytic_read, "kv_mixed": kv_mixed, "llm_ingest": llm_ingest}
# Tables each workload reads (None: all of them).
WORKLOAD_TABLES = {
    "analytic_read": None,
    "kv_mixed": ("documents", "orders"),
    "llm_ingest": ("documents",),
}


PER_LAYER = (
    "session.get_spark_s",
    "registry.import_s",
    "io.register_s",
    "ops.build_s",
    "ops.build_jobs",
    "io.load_table_s",
    "io.load_table_calls",
    "util.fan_out_s",
    "util.fan_out_calls",
    "util.fan_in_s",
    "util.fan_in_calls",
    "catalyst.analysis_s",
    "catalyst.optimization_s",
    "catalyst.planning_s",
    "exec.action_s",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.task_s",
    "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes",
    "exec.storage_mb",
    "exec.failed_tasks",
    "stash.get_s",
    "stash.mget_s",
    "stash.contains_s",
    "stash.rows_scanned_per_hit",
    "tablefmt.snapshot_s",
    "tablefmt.read_s",
    "tablefmt.files_per_lookup",
    "tablefmt.skip_ratio",
    "tablefmt.log_versions",
    "tablefmt.merge_s",
    "tablefmt.append_s",
    "tablefmt.delete_s",
    "tablefmt.commits",
    "tablefmt.commit_retries",
    "tablefmt.files_written_per_commit",
    "tablefmt.bytes_written_per_user_byte",
    "tablefmt.space_amp",
    "self.ops_s",
    "self.io_s",
    "self.util_s",
    "self.stash_s",
    "self.tablefmt_s",
    "self.exec_s",
    "self.unattributed_s",
    "trace.overhead_s",
    "trace.spans",
)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(run: Run) -> dict[str, float]:
    """Per-layer metrics from the traced executions.  ``_s`` metrics of a
    called function are seconds per call, ``_calls`` are calls per traced
    operation, ``exec.*`` and ``catalyst.*`` are per traced operation and
    ``self.*`` is each layer's self time per traced operation; zero where
    the workload does not reach the layer."""
    spans, ctxs = run.tracer.spans, run.op_ctx
    n = max(1, len(ctxs))
    by: dict[str, list[dict]] = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)

    def dur(name):
        return _mean(s["end"] - s["start"] for s in by.get(name, []))

    def calls(name):
        return len(by.get(name, [])) / n

    def kind_wall(kind):
        return _mean(c["wall"] for c in ctxs if c["kind"] == kind)

    m = {k: run.extra.get(k, 0.0) for k in PER_LAYER}
    m["ops.build_s"] = dur("ops.build")
    m["ops.build_jobs"] = _mean(s["jobs"] for s in by.get("ops.build", []))
    for name in ("io.load_table", "util.fan_out", "util.fan_in"):
        m[f"{name}_s"] = dur(name)
        m[f"{name}_calls"] = calls(name)
    phases = [c["phases"] for c in ctxs if "phases" in c]
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_s"] = _mean(p[ph] for p in phases)
    m["exec.action_s"] = dur("exec.action")
    for f in SparkCounters.FIELDS:
        m[f"exec.{f}"] = _mean(c[f] for c in ctxs)
    m["exec.storage_mb"] = max((c["storage_mb"] for c in ctxs), default=0.0)
    m["stash.get_s"] = kind_wall("get")
    m["stash.mget_s"] = kind_wall("mget")
    m["stash.contains_s"] = kind_wall("contains")
    m["stash.rows_scanned_per_hit"] = _mean(
        c["scanned"] / c["hit_rows"] for c in ctxs if c.get("hit_rows")
    )
    m["tablefmt.snapshot_s"] = dur("tablefmt.snapshot")
    m["tablefmt.read_s"] = kind_wall("read")
    reads = [c for c in ctxs if "files" in c]
    m["tablefmt.files_per_lookup"] = _mean(c["files"] for c in reads)
    m["tablefmt.skip_ratio"] = _mean(1 - c["files"] / c["total_files"] for c in reads)
    for kind in KV_WRITES:
        m[f"tablefmt.{kind}_s"] = kind_wall(kind)
    n_writes = sum(1 for c in ctxs if c["kind"] in KV_WRITES)
    commits = by.get("tablefmt.commit", [])
    ok = [s for s in commits if "error" not in s]
    written = by.get("tablefmt.write_files", [])
    user_bytes = run.extra.get("row_bytes", 0.0) * sum(c.get("user_rows", 0) for c in ctxs)
    if n_writes:
        m["tablefmt.commits"] = len(ok) / n_writes
        m["tablefmt.commit_retries"] = (len(commits) - len(ok)) / n_writes
    if ok:
        m["tablefmt.files_written_per_commit"] = sum(s.get("files", 0) for s in written) / len(ok)
    if user_bytes:
        m["tablefmt.bytes_written_per_user_byte"] = (
            sum(s.get("bytes", 0) for s in written) / user_bytes
        )
    own = stats.self_time_by_layer(spans)
    for layer in ("ops", "io", "util", "stash", "tablefmt", "exec", "unattributed"):
        m[f"self.{layer}_s"] = own.get(layer, 0.0) / n
    traced = run.kind_medians(True)
    untraced = run.kind_medians(False)
    both = [k for k in traced if k in untraced]
    m["trace.overhead_s"] = sum(traced[k] - untraced[k] for k in both)
    m["trace.spans"] = len(spans)
    return {k: m[k] for k in PER_LAYER}


def _stop(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    gw = spark.sparkContext._gateway
    spark.stop()
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans", default=None)
    args = ap.parse_args()
    load_start = os.getloadavg()[0]
    t0 = time.perf_counter()
    run = Run(args)
    # in a process of its own, so generating the tables sets no part of
    # this process's peak RSS
    run.data0 = os.path.abspath("data0")
    subprocess.run(
        [sys.executable, "-m", "perfbench.datagen", str(args.seed), run.data0]
        + list(WORKLOAD_TABLES[args.workload] or ()),
        check=True,
    )
    gen_s = time.perf_counter() - t0
    import pyspark.sql  # noqa: F401  (a dependency; not part of set-up)

    compare = _load_compare()
    try:
        WORKLOADS[args.workload](run, compare)
        metrics = per_layer(run) if args.trace else run.end_to_end()
    finally:
        if hasattr(run, "spark"):
            _stop(run.spark)
    if args.trace and args.spans:
        run.tracer.dump(args.spans)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg()[0],
        "datagen_s": gen_s,
        "rounds": run.rounds,
        "loop_s": run.loop_s,
        "samples_s": {k: [round(dt, 4) for dt, _ in v] for k, v in run.samples.items()},
        "kind_median_s": run.kind_medians(),
        "query_max_s": max(run.kind_medians().values()),
        "errors": run.errors,
        **run.detail,
    }
    if args.trace:
        detail["end_to_end_untraced_half"] = run.end_to_end()
    with open(args.out, "w") as f:
        json.dump(
            {
                "detail": detail,
                "result": {
                    "correct": run.failed == 0,
                    "attempted": run.attempted,
                    "failed": run.failed,
                    "metrics": {
                        k: {"value": v, "unit": unit(k)} for k, v in metrics.items()
                    },
                },
            },
            f,
        )


if __name__ == "__main__":
    main()
