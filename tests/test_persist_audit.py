"""Source-scan guard: every persist the package issues pays for itself.

No Spark: the test parses each module under ``training_etl_demo_2_spark/``
and finds every reference to ``tracked_persist`` / ``tracked_cache``
(a call, or the function handed to ``DataFrame.transform``), keyed by
file and enclosing function. Each must be either

* a site whose ``plans/persist_audit.jsonl`` row shows that removing it
  made the query slower (or changed its rows), one row per site, or
* one of the persists that correctness needs (``CORRECTNESS`` below).

A new persist, or one whose audit row says it does not pay, fails here.
Sites are matched on file plus enclosing function, not on line number,
so unrelated edits do not invalidate the audit.
"""

from __future__ import annotations

import ast
import json
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "training_etl_demo_2_spark"
AUDIT = ROOT / "plans" / "persist_audit.jsonl"
NAMES = {"tracked_persist", "tracked_cache"}
KEEP = {"slower", "rows differ"}

# (file, function) -> why the persist is needed for a correct result
CORRECTNESS = {
    # Spark refuses a raw CSV/JSON query that references only
    # _corrupt_record unless the parsed relation is cached
    ("io.py", "read_csv_with_quarantine"): 1,
    ("io.py", "read_jsonl_with_quarantine"): 1,
    # RangePartitioner samples its bounds on every execution: the
    # offsets and the ranks must come from one partitioning
    ("operators/distrank.py", "with_global_order"): 1,
}


def _persist_sites() -> Counter:
    """(file, enclosing function) -> persist references there."""
    sites: Counter = Counter()
    for path in sorted(PACKAGE.rglob("*.py")):
        if path.name == "cache.py":
            continue
        rel = path.relative_to(PACKAGE).as_posix()

        def visit(node, func):
            for child in ast.iter_child_nodes(node):
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    visit(child, child.name)
                    continue
                if isinstance(child, ast.Name) and child.id in NAMES:
                    sites[(rel, func)] += 1
                visit(child, func)

        visit(ast.parse(path.read_text()), None)
    return sites


def _audit_rows() -> list[dict]:
    return [json.loads(line) for line in AUDIT.read_text().splitlines() if line]


def _kept_sites() -> Counter:
    """(file, function) -> audited sites kept there. A site (its line at
    the audited commit) is kept when some consumer measured on it ran
    slower without the persist, or returned different rows, and none
    ran faster. A shared helper's site is measured on two consumers."""
    verdicts: dict[tuple, set] = {}
    for r in _audit_rows():
        verdicts.setdefault((r["file"], r["function"], r["line_at_audit"]), set()).add(
            r["verdict"]
        )
    return Counter(
        (f, fn) for (f, fn, _), v in verdicts.items() if v & KEEP and "faster" not in v
    )


def test_every_persist_is_audited_or_needed():
    kept = _kept_sites()
    allowed = kept + Counter(CORRECTNESS)
    found = _persist_sites()
    unpaid = {site: n for site, n in found.items() if n > allowed[site]}
    assert unpaid == {}, f"persists without a paying audit row: {unpaid}"
    stale = {site: n for site, n in allowed.items() if found[site] < n}
    assert stale == {}, f"audit rows or exemptions for persists now gone: {stale}"


def test_audit_rows_are_complete():
    fields = {"file", "function", "line_at_audit", "query", "verdict",
              "median_a", "median_b", "iqr_a", "b_wins", "calib_matmul_s"}
    verdicts = KEEP | {"faster", "no difference"}
    for row in _audit_rows():
        assert fields <= row.keys(), row
        assert row["verdict"] in verdicts, row
