"""Compute DuckDB oracle results in a process of its own, so the oracle's
memory never counts towards the benchmarked process and its CPU time
overlaps only untimed work.

    python3 -m perfbench.oracles <job.json> <out.pkl>

``job.json`` holds ``{"data": dir, "tables": [...], "sql": {name: sql}}``;
the result is a pickled ``{name: pandas.DataFrame}``.
"""

from __future__ import annotations

import json
import os
import pickle
import sys

import duckdb


def main() -> None:
    job_path, out = sys.argv[1:3]
    with open(job_path) as f:
        job = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in job["tables"]:
        path = os.path.join(job["data"], f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    frames = {n: con.execute(sql).fetchdf() for n, sql in job["sql"].items()}
    con.close()
    tmp = out + ".tmp"
    with open(tmp, "wb") as f:
        pickle.dump(frames, f)
    os.replace(tmp, out)


if __name__ == "__main__":
    main()
