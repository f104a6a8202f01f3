"""Public package defs reached only from tests stay on an explicit allowlist.

No Spark: a pure AST scan.  A top-level public function or class in
``re_data_pipeline_spark`` counts as referenced when its name occurs, outside
its own body, in any ``.py`` file of the repo that is not under
``tests/``: as an identifier, an attribute, an imported name, or a word in a
string literal (registries and ``getattr`` look names up by string, and
docstrings cross-reference the API).  Comments do not count.

A def that fails the scan is kept only when SURVEY.md maps it to a reference
task or a test compares the engine against it as an oracle.  A new test-only
def fails here until it gains a caller or joins the allowlist with a reason.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "re_data_pipeline_spark"

ALLOWLIST = {
    "functions/cleaning.py:try_numeric": "SURVEY P17 (numeric coercion)",
    "functions/cleaning.py:day_of_iso": "SURVEY F7 (day from ISO string)",
    "functions/geo.py:point_in_multipolygon_udf": "test oracle (PIP kernels)",
    "operators/upsert.py:retain_active": "SURVEY K4/J4 (archival delete)",
    "plans/fixtures.py:raw_av_listings": "test oracle (listings ingest)",
    "plans/fixtures.py:raw_omada_listings": "test oracle (listings ingest)",
    "plans/fixtures.py:raw_royal_park_listings": "test oracle (listings ingest)",
    "plans/reit.py:reit_metrics_from_pdf_dir": "SURVEY S10 (REIT PDF scan)",
    "sources/geojson.py:read_geojson": "SURVEY S9 (GeoJSON scan)",
    "streaming/stream_ops.py:dedup_stream": "SURVEY I1 (natural-key dedup)",
    "streaming/stream_ops.py:windowed_counts": "SURVEY I4 (lookback windows)",
    "streaming/stream_ops.py:anti_join_seen": "SURVEY I3 (already-seen skip)",
    "streaming/stream_ops.py:run_available_now": "SURVEY I5 (staging/commit)",
}


def _names(*nodes: ast.AST) -> Counter:
    """Every name ``nodes`` mention: identifiers, attributes, imported
    names, and the words of string literals."""
    out: Counter = Counter()
    for n in (sub for node in nodes for sub in ast.walk(node)):
        if isinstance(n, ast.Name):
            out[n.id] += 1
        elif isinstance(n, ast.Attribute):
            out[n.attr] += 1
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.update(re.findall(r"\w+", n.value))
    return out


def _non_test_sources() -> list[Path]:
    return [
        p
        for p in ROOT.rglob("*.py")
        if not any(part.startswith(".") for part in p.relative_to(ROOT).parts)
        and p.relative_to(ROOT).parts[0] != "tests"
    ]


def test_only_public_defs():
    refs: Counter = Counter()
    defs = []
    for path in _non_test_sources():
        tree = ast.parse(path.read_text(), filename=str(path))
        refs.update(_names(tree))
        if PACKAGE in path.parents:
            defs += [
                (path.relative_to(PACKAGE).as_posix(), n)
                for n in tree.body
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not n.name.startswith("_")
            ]
    test_only = {
        f"{module}:{node.name}"
        for module, node in defs
        # a registering decorator counts; the def's own body does not
        if refs[node.name] - _names(*node.body)[node.name] <= 0
    }
    assert test_only == set(ALLOWLIST), (
        f"new test-only defs: {sorted(test_only - set(ALLOWLIST))}; "
        f"allowlisted but now referenced or gone: {sorted(set(ALLOWLIST) - test_only)}"
    )
