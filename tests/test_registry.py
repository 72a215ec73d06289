"""Registry / driver-order contract tests (VERDICT r2 items 3 & 8,
ADVICE r2): the §2 contract file must stay consistent with the registered
ops, the green ledger must only name real ops and stay folded from every
CORRECTNESS_r*.json on disk, and ordered_queries() (what the driver scores
first) must be the one sort key — not-yet-done ops first, no-oracle ops
last, then by name — independent of module import order.  The value-level
check for every op is tests/test_correctness.py.
"""

from __future__ import annotations

import json
from pathlib import Path

from biggie_spark.registry import (
    GREEN_LEDGER,
    ORACLES,
    QUERIES,
    load_all_ops,
    ordered_queries,
)

load_all_ops()

ROOT = Path(__file__).resolve().parent.parent


def _done() -> set[str]:
    """Ledger union that counts as done: hash-green OR rows-only-scored (a
    no-oracle-by-design op whose rows-only row can never upgrade) OR
    retired-no-signal (no-oracle op with no row — same zero-signal math)."""
    ledger = json.loads(GREEN_LEDGER.read_text())
    return (
        set(ledger["green"])
        | set(ledger.get("no_oracle_by_design", []))
        | set(ledger.get("retired_no_signal", []))
    )


def test_sec2_contract_ids_all_registered():
    sec2 = json.loads((ROOT / "tools" / "sec2_contract.json").read_text())["sec2"]
    assert len(sec2) == len(set(sec2)), "duplicate ids in sec2 contract"
    missing = [n for n in sec2 if n not in QUERIES]
    assert not missing, f"contract ids with no registered op: {missing}"
    # SURVEY.md §2 pins the contract at 89 IDs; if ops are added to the
    # contract, update SURVEY.md §2 and this number together.
    assert len(sec2) == 89


def test_green_ledger_names_real_ops():
    green = json.loads(GREEN_LEDGER.read_text())["green"]
    unknown = [n for n in green if n not in QUERIES]
    assert not unknown, f"ledger names unregistered ops: {unknown}"


def test_ordered_queries_is_permutation():
    oq = ordered_queries()
    assert set(oq) == set(QUERIES)
    assert len(oq) == len(QUERIES)


def test_window_prioritizes_nongreen_contract_ops():
    """Every not-done op precedes every done op."""
    done = _done()
    flags = [n in done for n in ordered_queries()]
    assert flags == sorted(flags), "a done op precedes a not-done op"


def test_order_is_the_sort_key():
    done = _done()
    expect = sorted(QUERIES, key=lambda n: (n in done, n not in ORACLES, n))
    assert list(ordered_queries()) == expect


def test_order_ignores_registration_order(monkeypatch):
    """Regrouping op modules must not move the order: the same ops
    registered in reverse order give the same sequence."""
    import biggie_spark.registry as reg

    before = list(ordered_queries())
    monkeypatch.setattr(reg, "QUERIES", dict(reversed(list(QUERIES.items()))))
    assert list(reg.ordered_queries()) == before


def test_window_has_no_no_oracle_ops():
    """A no-oracle op can never earn an upgradable driver row, so none may
    take one of the first 50 slots the driver scores."""
    window = list(ordered_queries())[:50]
    bad = [n for n in window if n not in ORACLES]
    assert not bad, f"no-oracle ops in the top 50: {bad}"


def test_ledger_is_fresh():
    """The on-disk ledger is exactly the fold of every CORRECTNESS_r*.json,
    so a round's green rows can never again go unrecorded — run
    tools/refresh_ledger.py when this fails."""
    from tools.refresh_ledger import fold

    ledger = json.loads(GREEN_LEDGER.read_text())
    assert fold(ledger) == ledger


def test_no_oracle_by_design_ops_really_have_no_oracle():
    """Only no-oracle-by-design ops may ride the no_oracle_by_design tier —
    an oracle-bearing op parked there would silently skip its hash row."""
    ledger = json.loads(GREEN_LEDGER.read_text())
    bad = [n for n in ledger.get("no_oracle_by_design", []) if n in ORACLES]
    assert not bad, f"oracle-bearing ops in no_oracle_by_design: {bad}"


def test_retired_no_signal_key_is_honest():
    """Round-11 verdict 'What's wrong' #2: ops with NO driver row of any
    kind must not ride a key that claims a scoring happened.  The split:
    no_oracle_by_design = a rows-only driver row exists in some CORRECTNESS
    file; retired_no_signal = no row ever.  Both must be no-oracle ops."""
    import glob

    ledger = json.loads(GREEN_LEDGER.read_text())
    retired = set(ledger.get("retired_no_signal", []))
    rows_only = set(ledger.get("no_oracle_by_design", []))
    assert not (retired & rows_only), "op in both retired keys"
    bad = [n for n in retired if n in ORACLES]
    assert not bad, f"oracle-bearing ops in retired_no_signal: {bad}"
    # every name the driver EVER produced a row for
    scored: set[str] = set()
    root = Path(__file__).resolve().parent.parent
    for p in glob.glob(str(root / "CORRECTNESS_r*.json")):
        scored |= set(json.load(open(p)))
    lying = [n for n in retired if n in scored]
    assert not lying, f"retired_no_signal ops that DO have a driver row: {lying}"
    unscored_rows_only = [n for n in rows_only if n not in scored]
    assert not unscored_rows_only, (
        f"no_oracle_by_design ops with no driver row (belong in "
        f"retired_no_signal): {unscored_rows_only}"
    )


def test_window_ops_have_oracle_or_documented_weak():
    """Rows-only (no-oracle) ops are allowed but must be the documented
    exceptions, not accidents of registration."""
    ROWS_ONLY_OK = {
        "fn_sample",          # RNG not portable across engines (SURVEY §2.I)
        "llm_knn_ann",        # approximate by design; recall gated in tests
        "llm_knn_lsh",        # approximate by design (SimHash tables)
        "llm_knn_ivf",        # approximate by design
        "agg_approx_quantile",  # sketch, engine-specific
    }
    window = list(ordered_queries())[:50]
    bad = [n for n in window if n not in ORACLES and n not in ROWS_ONLY_OK]
    assert not bad, f"window ops missing oracle SQL: {bad}"


def test_ledgered_rows_only_ops_leave_the_window():
    """VERDICT r4 item 3: the driver records `err: no_oracle` with NO rows
    fallback for no-oracle ops, so once an op is ledger-`no_oracle_by_design`
    it must never re-enter the bounded scoring window — each occurrence
    burns a slot for zero driver signal."""
    import json

    from biggie_spark.registry import GREEN_LEDGER

    rows_only = set(json.loads(GREEN_LEDGER.read_text())["no_oracle_by_design"])
    window = list(ordered_queries())[:50]
    stuck = [n for n in window if n in rows_only]
    assert not stuck, f"ledgered rows-only ops burning window slots: {stuck}"


def test_coverage_ledger_matches_live_registry():
    """VERDICT r7 item 2: the 6 end-of-round training_data.py ops shipped
    without a COVERAGE.md regeneration, so the ledger under-reported the
    registry by 6 ops for a whole round.  Pin the generated inventory (row
    count AND the Totals line) to the live registry so end-of-round
    additions can't silently skew it again."""
    import re

    text = Path("COVERAGE.md").read_text()
    rows = re.findall(r"^\| `([a-z0-9_]+)` \|", text, flags=re.M)
    assert len(rows) == len(QUERIES), (
        f"COVERAGE.md has {len(rows)} operator rows but the registry has "
        f"{len(QUERIES)} — re-run tools/gen_coverage.py"
    )
    assert set(rows) == set(QUERIES)
    m = re.search(r"Totals: (\d+) operators, (\d+) with full value oracles", text)
    assert m, "COVERAGE.md Totals line missing"
    assert (int(m.group(1)), int(m.group(2))) == (len(QUERIES), len(ORACLES))


def test_survey_sec8_totals_match_registry():
    """Same skew guard for the hand-written SURVEY.md §8 totals sentence
    (was '372 operators total ... 366 full-oracle' while the registry held
    378/372)."""
    import re

    text = Path("SURVEY.md").read_text()
    m = re.search(r"(\d+) operators total \(incl\..*?(\d+) full-oracle", text, re.S)
    assert m, "SURVEY.md §8 totals sentence missing"
    assert (int(m.group(1)), int(m.group(2))) == (len(QUERIES), len(ORACLES))
