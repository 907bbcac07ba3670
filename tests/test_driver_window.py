"""Driver-window rotation discipline (no Spark needed).

The driver's correctness harness checks exactly the FIRST 50 registry
entries each round; rounds rotate the window so the UNION of per-round
windows covers every query. These guards make a bad rotation fail the
gate instead of silently shipping driver-unchecked queries:

- the window is exactly 50 unique, existing queries;
- every registry entry is either inside the current window or already has
  a driver CORRECTNESS row from a past round (union coverage);
- oracle-backed window entries precede rows-only ones (every checked slot
  is a full value-parity row where one exists).
"""

from __future__ import annotations

import glob
import json
from pathlib import Path

import __spark_entry__ as entrymod

QS = entrymod.queries()
OS = entrymod.oracle_sql()
WINDOW = list(QS)[:50]
ROOT = Path(__file__).resolve().parent.parent


def _past_driver_rows() -> set[str]:
    """Names with a GREEN past driver row: rows_match must be true and the
    row's err must be absent or the by-design 'no_oracle' — a query that
    FAILED in a past round does not count as covered and cannot rotate out
    of the window (ADVICE r4 #1)."""
    seen: set[str] = set()
    for path in glob.glob(str(ROOT / "CORRECTNESS_r*.json")):
        with open(path) as f:
            for name, row in json.load(f).items():
                if (row.get("rows_match") is True
                        and row.get("err") in (None, "no_oracle")):
                    seen.add(name)
    return seen


def test_window_is_50_unique_existing():
    assert len(WINDOW) == 50
    assert len(set(WINDOW)) == 50
    assert set(WINDOW) <= set(QS)


def test_union_coverage_no_never_checked_query():
    uncovered = set(QS) - set(WINDOW) - _past_driver_rows()
    assert not uncovered, (
        f"queries with no driver CORRECTNESS row and no window slot: "
        f"{sorted(uncovered)} — rotate them into the first-50 window")


def test_oracle_backed_before_rows_only_in_window():
    saw_rows_only = False
    for name in WINDOW:
        if name not in OS:
            saw_rows_only = True
        else:
            assert not saw_rows_only, (
                f"oracle-backed {name!r} sits after a rows-only entry in "
                f"the window — reorder so value-parity slots come first")
