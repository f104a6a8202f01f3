"""Public package defs, and the boolean options of public functions, that
only tests reach stay on explicit allowlists.

No Spark: pure AST scans.  A top-level public function or class in
``re_data_pipeline_spark`` counts as referenced when its name occurs, outside
its own body, in any ``.py`` file of the repo that is not under
``tests/``: as an identifier, an attribute, an imported name, or a word in a
string literal (registries and ``getattr`` look names up by string, and
docstrings cross-reference the API).  Comments do not count.

A def that fails the scan is kept only when SURVEY.md maps it to a reference
task or a test compares the engine against it as an oracle.  A new test-only
def fails here until it gains a caller or joins the allowlist with a reason.

A ``True``/``False`` default of a public top-level function counts as used
when some call outside ``tests/`` (matched by the callee's name) passes that
parameter, by keyword or by position, anything but its default; an
expression counts, since its value is chosen at run time.  An option every
caller leaves at its default is a constant with a second code path behind
it: delete it, or allowlist it with the measured reason it stays.

Every ``.persist()``, ``.cache()`` and ``.localCheckpoint()`` call in the
package sits inside a ``pin(...)`` or ``hold(...)`` call, so the
``ids.pinning`` boundary owns the storage it makes on every exit.
"""

from __future__ import annotations

import ast
import re
from collections import Counter, defaultdict
from functools import cache
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "re_data_pipeline_spark"

ALLOWLIST = {
    "functions/cleaning.py:try_numeric": "SURVEY P17 (numeric coercion)",
    "functions/cleaning.py:day_of_iso": "SURVEY F7 (day from ISO string)",
    "functions/geo.py:point_in_multipolygon_udf": "test oracle (PIP kernels)",
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

FLAG_ALLOWLIST = {
    "operators/lm.py:ngram_lm_nll(broadcast_model)":
        "SCALING.md: 0.58× at sf1, CCNet-faithful scoring",
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


@cache
def _non_test_trees() -> tuple[tuple[Path, ast.Module], ...]:
    return tuple(
        (p, ast.parse(p.read_text(), filename=str(p)))
        for p in ROOT.rglob("*.py")
        if not any(part.startswith(".") for part in p.relative_to(ROOT).parts)
        and p.relative_to(ROOT).parts[0] != "tests"
    )


def _public_defs(*kinds: type) -> list[tuple[str, ast.AST]]:
    """``(module path, node)`` of each public top-level def in the package."""
    return [
        (path.relative_to(PACKAGE).as_posix(), n)
        for path, tree in _non_test_trees()
        if PACKAGE in path.parents
        for n in tree.body
        if isinstance(n, kinds) and not n.name.startswith("_")
    ]


def test_only_public_defs():
    refs: Counter = Counter()
    for _, tree in _non_test_trees():
        refs.update(_names(tree))
    defs = _public_defs(ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
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


def _bool_params(fn: ast.FunctionDef) -> list[tuple[int | None, str, bool]]:
    """``(position or None, name, default)`` of each True/False default."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    params = [(first + i, p, d) for i, (p, d) in enumerate(zip(pos[first:], a.defaults))]
    params += [(None, p, d) for p, d in zip(a.kwonlyargs, a.kw_defaults)]
    return [
        (i, p.arg, d.value)
        for i, p, d in params
        if isinstance(d, ast.Constant) and isinstance(d.value, bool)
    ]


def _flips(call: ast.Call, index: int | None, name: str, default: bool) -> bool:
    """Whether ``call`` passes ``name`` anything but ``default``."""
    given = [k.value for k in call.keywords if k.arg == name]
    if index is not None and index < len(call.args) and not any(
        isinstance(a, ast.Starred) for a in call.args[: index + 1]
    ):
        given.append(call.args[index])
    return any(not (isinstance(v, ast.Constant) and v.value is default) for v in given)


def test_bool_defaults_are_flipped_by_a_caller():
    calls: defaultdict[str, list[ast.Call]] = defaultdict(list)
    for _, tree in _non_test_trees():
        for n in ast.walk(tree):
            if isinstance(n, ast.Call):
                f = n.func
                name = getattr(f, "id", None) or getattr(f, "attr", None)
                calls[name].append(n)
    never_flipped = {
        f"{module}:{fn.name}({name})"
        for module, fn in _public_defs(ast.FunctionDef, ast.AsyncFunctionDef)
        for index, name, default in _bool_params(fn)
        if not any(_flips(c, index, name, default) for c in calls[fn.name])
    }
    assert never_flipped == set(FLAG_ALLOWLIST), (
        f"options no caller outside tests/ flips: {sorted(never_flipped)}; "
        f"not allowlisted: {sorted(never_flipped - set(FLAG_ALLOWLIST))}; "
        f"allowlisted but now flipped or gone: "
        f"{sorted(set(FLAG_ALLOWLIST) - never_flipped)}"
    )


def test_storage_calls_are_pinned_or_held():
    unowned = []
    for path, tree in _non_test_trees():
        if PACKAGE not in path.parents:
            continue
        parent = {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}
        for n in ast.walk(tree):
            if not (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr in ("persist", "cache", "localCheckpoint")
            ):
                continue
            up = parent.get(n)
            while up is not None and not (
                isinstance(up, ast.Call) and getattr(up.func, "id", None) in ("pin", "hold")
            ):
                up = parent.get(up)
            if up is None:
                unowned.append(f"{path.relative_to(PACKAGE).as_posix()}:{n.lineno}")
    assert not unowned, f"storage calls outside pin(...)/hold(...): {unowned}"
