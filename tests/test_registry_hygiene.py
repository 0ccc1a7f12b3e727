"""Registry-hygiene contract (r6/r7 verdict stretch item): every
registered query must carry (a) real documentation, (b) an oracle or
an ENUMERATED rows-only reason, and (c) a current plan-audit entry
with zero flags. A ratchet keeps per-query scale notes from
regressing.

Process note: (c) means PLAN_AUDIT.json must be refreshed
(`python tools/plan_audit.py`) whenever queries are added — which is
exactly the discipline the r7 verdict asked the gate to keep.
"""

from __future__ import annotations

import ast
import json
import re
from pathlib import Path

import patientdataintegration_spark.suite as suite

REPO = Path(__file__).resolve().parents[1]

SCALE_RE = re.compile(
    r"100\s?TB|[Ss]cale|[Ss]huffle|broadcast|map-side|partition|"
    r"[Ss]ketch|bounded|driver"
)

# Ratchet floor: count of queries whose OWN docstring argues its
# scale behavior (the rest inherit their suite module's stance).
# Raise this as docstrings improve; never lower it.
SCALE_NOTE_FLOOR = 185  # 190/240 as of r8; raise as docstrings improve


def test_every_query_documented():
    undocumented = [
        n
        for n, fn in suite._ALL_QUERIES.items()
        if len((fn.__doc__ or "").strip()) < 80
    ]
    assert undocumented == [], f"undocumented queries: {undocumented}"


def test_every_query_has_oracle_or_enumerated_reason():
    missing = [
        n
        for n in suite._ALL_QUERIES
        if n not in suite._ALL_ORACLES and n not in suite.ROWS_ONLY_REASONS
    ]
    assert missing == [], (
        f"queries with neither oracle nor ROWS_ONLY_REASONS entry: {missing}"
    )
    stale = [n for n in suite.ROWS_ONLY_REASONS if n not in suite._ALL_QUERIES]
    assert stale == [], f"ROWS_ONLY_REASONS names not registered: {stale}"
    both = [n for n in suite.ROWS_ONLY_REASONS if n in suite._ALL_ORACLES]
    assert both == [], f"ROWS_ONLY_REASONS entries that HAVE oracles: {both}"
    empty = [n for n, r in suite.ROWS_ONLY_REASONS.items() if len(r) < 40]
    assert empty == [], f"rows-only reasons too thin to audit: {empty}"


def test_every_query_plan_audited():
    audit = json.loads((REPO / "PLAN_AUDIT.json").read_text())
    assert audit["flags"] == [], f"plan audit flags outstanding: {audit['flags']}"
    unaudited = sorted(set(suite._ALL_QUERIES) - set(audit["report"]))
    assert unaudited == [], (
        f"queries missing from PLAN_AUDIT.json (run tools/plan_audit.py): "
        f"{unaudited}"
    )


def test_scale_note_ratchet():
    with_note = [
        n
        for n, fn in suite._ALL_QUERIES.items()
        if SCALE_RE.search(fn.__doc__ or "")
    ]
    assert len(with_note) >= SCALE_NOTE_FLOOR, (
        f"per-query scale notes regressed: {len(with_note)} < "
        f"{SCALE_NOTE_FLOOR}"
    )
    # and every suite module declares a blanket scale stance for the rest
    import importlib

    for mod_name in ("core", "ext", "ext2", "ext3", "ext4", "ext5", "ext6"):
        mod = importlib.import_module(
            f"patientdataintegration_spark.suite.{mod_name}"
        )
        assert re.search(r"100\s?TB|[Ss]cale", mod.__doc__ or ""), (
            f"suite.{mod_name} module docstring lacks a scale stance"
        )


def test_priority_window_shape():
    """The driver checks a 50-name prefix; every name must be
    registered and hash-checkable (rows-only lanes stay out of the
    window per the r6 verdict)."""
    assert len(suite.PRIORITY) == 50
    assert len(set(suite.PRIORITY)) == 50
    unregistered = [n for n in suite.PRIORITY if n not in suite._ALL_QUERIES]
    assert unregistered == []
    rows_only_in_window = [
        n for n in suite.PRIORITY if n in suite.ROWS_ONLY_REASONS
    ]
    assert rows_only_in_window == []


def _streaming_imports():
    """(file, line, sibling module, imported names, inside a function?)
    for every import of one `streaming/` module by another."""
    pkg = REPO / "patientdataintegration_spark" / "streaming"
    siblings = {p.stem for p in pkg.glob("*.py")} - {"__init__"}
    prefix = "patientdataintegration_spark.streaming."
    found = []
    for path in sorted(pkg.glob("*.py")):
        tree = ast.parse(path.read_text())
        in_func = {
            id(node)
            for fn in ast.walk(tree)
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
            for node in ast.walk(fn)
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                mod = node.module or ""
                if node.level:
                    mod = prefix + mod
                targets = [(mod, [a.name for a in node.names])]
            elif isinstance(node, ast.Import):
                targets = [(a.name, []) for a in node.names]
            else:
                continue
            for mod, names in targets:
                sib = mod[len(prefix):] if mod.startswith(prefix) else None
                if sib in siblings:
                    found.append(
                        (path.name, node.lineno, sib, names, id(node) in in_func)
                    )
    return found


def test_streaming_modules_import_siblings_publicly_at_top_level():
    """The store and serving-layout rules each live in one module
    (`streaming/store.py`, `streaming/serving.py`); the streams are
    clients of their public names. A private name imported from a
    sibling, or a sibling imported inside a function body (the usual
    way round an import cycle), means a rule has leaked back into the
    wrong module."""
    imports = _streaming_imports()
    private = [
        (f, line, sib, n)
        for f, line, sib, names, _ in imports
        for n in names
        if n.startswith("_")
    ]
    assert private == [], f"private names imported across streaming/: {private}"
    nested = [(f, line, sib) for f, line, sib, _, inner in imports if inner]
    assert nested == [], f"streaming/ siblings imported in a function: {nested}"
