"""The library's environment surface is pinned: every ``os.environ.get``,
``os.environ[...]`` read and ``os.getenv`` in ``ftidx/`` names one of a
fixed set of keys, so a new knob has to be a deliberate edit here."""

from __future__ import annotations

import ast
from pathlib import Path

FTIDX = Path(__file__).resolve().parent.parent / "ftidx"

ALLOWED_ENV_KEYS = {"SPARK_GRAFT_CPUS", "FTIDX_DRIVER_MEM"}


def _is_environ(node: ast.AST) -> bool:
    # os.environ, or any module alias of os (``import os as _os``)
    return isinstance(node, ast.Attribute) and node.attr == "environ"


def _key(node: ast.AST) -> str:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return f"<non-literal: {ast.unparse(node)}>"


def _env_reads(tree: ast.AST):
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            if (f.attr == "get" and _is_environ(f.value)) or f.attr == "getenv":
                yield _key(node.args[0]) if node.args else "<no key>"
        elif (isinstance(node, ast.Subscript) and _is_environ(node.value)
              and isinstance(node.ctx, ast.Load)):
            yield _key(node.slice)


def test_env_keys_read_by_library_are_pinned():
    found: dict[str, list[str]] = {}
    for py in sorted(FTIDX.glob("*.py")):
        for key in _env_reads(ast.parse(py.read_text(), filename=str(py))):
            found.setdefault(key, []).append(py.name)
    assert set(found) == ALLOWED_ENV_KEYS, found
