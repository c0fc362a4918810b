"""The benchmark under ``perfbench/`` imports ftidx names directly.
Importing its modules here makes a rename of any of those names fail
the test suite instead of a benchmark run."""

from __future__ import annotations

import importlib

import pytest


@pytest.mark.parametrize("module", ["perfbench.layers", "perfbench.workloads"])
def test_bench_modules_import(module):
    importlib.import_module(module)
