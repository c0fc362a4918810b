"""The index has one segment writer: only the codec and the two kernel
modules call the posting and position encoders. Build, micro-batches,
compaction and tier merges all go through ``index.py``'s and
``positions.py``'s kernels, so a second per-row re-encoder elsewhere
has to be a deliberate edit here."""

from __future__ import annotations

import ast
from pathlib import Path

FTIDX = Path(__file__).resolve().parent.parent / "ftidx"

ENCODERS = {"encode_postings", "encode_many", "encode_positions_row",
            "_encode_segments", "_encode_positions"}
WRITER_MODULES = {"codec.py", "index.py", "positions.py"}


def _called_names(tree: ast.AST):
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            if isinstance(f, ast.Name):
                yield f.id
            elif isinstance(f, ast.Attribute):
                yield f.attr


def test_only_the_writer_modules_call_the_encoders():
    found: dict[str, list[str]] = {}
    for py in sorted(FTIDX.glob("*.py")):
        if py.name in WRITER_MODULES:
            continue
        tree = ast.parse(py.read_text(), filename=str(py))
        for name in _called_names(tree):
            if name in ENCODERS:
                found.setdefault(py.name, []).append(name)
    assert found == {}
