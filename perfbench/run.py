"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload of BENCHMARK.json in a child process (its own session
and process group, with a private work directory under the checkout) and
prints, as the last line of standard output, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  A line before it
carries the run's details (loadavg at start and end, per-kind medians,
rounds, errors).  Every process the run started is stopped and waited for
before this program exits.  The program exits non-zero without a result
when the engine's sources are missing, the child fails or the run exceeds
its time limit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("analytic_read", "kv_mixed", "llm_ingest")
TIME_LIMIT_S = 170
CORES = 4
JVM_HEAP = "1g"


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except ProcessLookupError:
        return False


def _reap(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the child's process group (the JVM and its
    Python workers) and wait until the group is gone."""
    pgid = proc.pid
    if proc.poll() is None:
        try:
            os.killpg(pgid, signal.SIGTERM)
            proc.wait(timeout=10)
        except (ProcessLookupError, subprocess.TimeoutExpired):
            pass
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 30
    while _group_alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.05)


def _child_env(work: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    submit = [
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.local.dir={os.path.join(work, 'spark-local')}",
    ]
    if trace:
        # keep every job in the status store, so counters can be read by
        # job id for the whole run
        submit += [
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
        ]
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        {
            "PYTHONPATH": ROOT,
            "PYTHONHASHSEED": "0",
            "TZ": "UTC",
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "SPARK_GRAFT_CPUS": str(CORES),
            "SPARK_GRAFT_DRIVER_MEM": JVM_HEAP,
            "PYSPARK_PYTHON": sys.executable,
            # every JVM (the launcher and the Spark JVM) keeps its temp files
            # in the work directory and writes no perf-data file
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
        }
    )
    # the engine's defaults, whatever the caller's shell exports
    env.pop("SPARK_GRAFT_SHUFFLE", None)
    env.pop("SPARK_GRAFT_CHECKPOINT", None)
    return env


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [
        p
        for p in ("biggie_spark/__init__.py", "tests/compare.py")
        if not os.path.isfile(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: engine sources missing: {missing}", file=sys.stderr)
        return 2

    t0 = time.monotonic()
    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    spans = os.path.join(
        ROOT, ".perfbench_out", f"spans-{args.workload}-{args.seed}.jsonl"
    )
    cmd = [
        sys.executable,
        "-m",
        "perfbench.workloads",
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--out", out,
        "--spans", spans,
    ]
    # the child's stdout goes to stderr: only this program's last line is
    # the result
    proc = subprocess.Popen(
        cmd,
        cwd=work,
        env=_child_env(work, bool(args.trace)),
        stdout=sys.stderr,
        start_new_session=True,
    )
    try:
        rc = proc.wait(timeout=TIME_LIMIT_S)
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        _reap(proc)
    try:
        if rc != 0 or not os.path.isfile(out):
            why = "time limit" if rc is None else f"exit code {rc}"
            print(f"perfbench: workload run failed ({why})", file=sys.stderr)
            return 1
        with open(out) as f:
            rec = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    rec["detail"]["run_wall_s"] = time.monotonic() - t0
    print(json.dumps(rec["detail"]))
    print(json.dumps(rec["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
