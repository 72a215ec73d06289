"""Refresh tools/driver_green.json from every CORRECTNESS_r*.json on disk.

Run it whenever a CORRECTNESS_r*.json lands: ordered_queries() puts ops
the ledger does not list first, and tests/test_registry.py
``test_ledger_is_fresh`` fails while the ledger lags the rows on disk.

* ``green``             — ops with a hash-green row in ANY round.
* ``no_oracle_by_design``  — no-oracle-by-design ops (sketches, RNG sampling,
  ANN) that DID receive a driver row (``err: no_oracle`` but
  ``spark_rows > 0`` recorded): the weaker rows-only signal exists and can
  never upgrade, so re-scoring it yields nothing.
* ``retired_no_signal`` — no-oracle-by-design ops with NO driver row of
  any kind (round-11 verdict "What's wrong" #2: the old ledger filed
  these under ``no_oracle_by_design``, claiming a scoring that never
  happened).  Retired for the same zero-signal reason, but the key is
  now honest.  Each has a fully-oracled deterministic twin that IS
  hash-green: ``agg_approx_quantile`` → ``agg_quantiles``,
  ``agg_hll_sketch_union`` → ``agg_hll_portable``.

An op with an oracle whose row failed (rows/schema/hash mismatch) stays
OUT of both lists so it moves to the front of the order until it greens.

Usage: python tools/refresh_ledger.py        # rewrite + print summary
       python tools/refresh_ledger.py --dry  # print what would change
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
LEDGER = ROOT / "tools" / "driver_green.json"
sys.path.insert(0, str(ROOT))

from biggie_spark.registry import ORACLES, QUERIES, load_all_ops  # noqa: E402


def fold(old: dict) -> dict:
    """The ledger implied by every CORRECTNESS_r*.json under ROOT, keeping
    ``old``'s notes and ``stale_before``."""
    load_all_ops()
    # Rows scored BEFORE an op's semantics changed must never re-green it:
    # stale_before[op] = first round whose CORRECTNESS rows describe the
    # CURRENT output (round-6 reworks: shingle graph edges, DECIMAL
    # checksum, Q22 recency predicate).  Without this, folding "any past
    # round" would silently revert a deliberate un-greening and the op
    # would ride a stale green row forever (round-6 review finding).
    stale_before: dict[str, int] = old.get("stale_before", {})
    green: set[str] = set()
    rows_only: set[str] = set()
    for path in sorted(ROOT.glob("CORRECTNESS_r*.json")):
        rnd = int(path.stem.rsplit("_r", 1)[1])
        rows = json.loads(path.read_text())
        for name, r in rows.items():
            if name not in QUERIES:
                continue  # renamed/removed op; let the order re-resolve it
            if rnd < stale_before.get(name, 0):
                continue  # row predates the op's current semantics
            if r.get("hash_match"):
                green.add(name)
            elif name not in ORACLES and r.get("rows_match") is not False:
                # no oracle by design and the driver recorded its rows-only
                # row (spark_rows > 0): permanently scored
                if (r.get("spark_rows") or 0) > 0:
                    rows_only.add(name)
    # Round-4 lesson (VERDICT r4 item 3): for an op with no oracle_sql()
    # entry a driver row yields zero UPGRADABLE signal, this round and
    # every round — so every registered no-oracle op is done.  Round-11
    # verdict fix: ops that never even got the weaker rows-only row go
    # under a separate, honest key instead of being filed as "scored".
    # Their verification lives in the internal gates (recall floors in
    # tests/test_ann.py etc.) and in hash-green deterministic twins
    # (agg_quantiles, agg_hll_portable, fn_sample_hash).
    rows_only -= green
    retired = {n for n in QUERIES if n not in ORACLES} - green - rows_only

    new = {
        "_": old["_"],
        "green": sorted(green),
        "no_oracle_by_design": sorted(rows_only),
        "retired_no_signal": sorted(retired),
    }
    if stale_before:
        new["_stale"] = old.get("_stale", "")
        new["stale_before"] = stale_before
    return new


def main() -> None:
    old = json.loads(LEDGER.read_text())
    new = fold(old)
    green, rows_only = set(new["green"]), set(new["no_oracle_by_design"])
    added_g = green - set(old.get("green", []))
    added_r = rows_only - set(old.get("no_oracle_by_design", []))
    print(
        f"green: {len(old.get('green', []))} -> {len(green)} (+{len(added_g)}); "
        f"rows_only: {len(old.get('no_oracle_by_design', []))} -> {len(rows_only)} "
        f"(+{len(added_r)}); retired_no_signal: {len(new['retired_no_signal'])}"
    )
    if added_g:
        print("new green:", ", ".join(sorted(added_g)))
    if added_r:
        print("new rows-only-scored:", ", ".join(sorted(added_r)))
    if "--dry" in sys.argv:
        return
    LEDGER.write_text(json.dumps(new, indent=1) + "\n")
    print(f"wrote {LEDGER}")


if __name__ == "__main__":
    main()
