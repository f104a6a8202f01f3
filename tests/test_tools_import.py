"""Every measuring script loads by path without starting Spark and exposes
a callable ``main``: the tools import their harness from ``bench.py``, so a
helper moved out from under one of them fails here instead of at its next
run."""

from __future__ import annotations

import glob
import importlib.util
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = [os.path.join(ROOT, "bench.py")] + sorted(
    glob.glob(os.path.join(ROOT, "tools", "*.py"))
)


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: os.path.relpath(p, ROOT))
def test_script_loads_with_callable_main(path):
    from pyspark import SparkContext

    active = SparkContext._active_spark_context
    stem = os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(f"_script_{stem}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert callable(getattr(mod, "main", None)), f"{path} has no callable main"
    assert SparkContext._active_spark_context is active, f"{path} started Spark"
