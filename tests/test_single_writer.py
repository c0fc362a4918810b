"""The index has one segment writer: only the codec and the two kernel
modules call the posting and position encoders. Build, micro-batches,
compaction and tier merges all go through ``index.py``'s and
``positions.py``'s kernels, so a second per-row re-encoder elsewhere
has to be a deliberate edit here. The build kernel's transport rows
(doc lengths and docs metadata, tagged by field) are known only to
that writer, which routes them to their own tables: no reader filters
them out of postings, because no stored table holds one."""

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


TRANSPORT_TAGS = {"DOCS_FIELD", "DOCLEN_FIELD_PREFIX", "PSEUDO_PREFIX"}
TRANSPORT_LITERALS = {"__dl__", "__docs__", "__"}
# the kernel that emits the transport rows and the two functions that
# route them into the doclen and docs tables
TAG_WRITERS = {"_bucket_local_encode", "_explode_doclen", "_segment_pass"}


def _is_tag_definition(node: ast.stmt) -> bool:
    return isinstance(node, ast.Assign) and all(
        isinstance(t, ast.Name) and t.id in TRANSPORT_TAGS for t in node.targets)


def test_only_the_writer_knows_the_transport_tags():
    found: list[str] = []
    for py in sorted(FTIDX.glob("*.py")):
        tree = ast.parse(py.read_text(), filename=str(py))
        for top in tree.body:
            if py.name == "index.py" and (
                    _is_tag_definition(top)
                    or isinstance(top, ast.FunctionDef) and top.name in TAG_WRITERS):
                continue
            for node in ast.walk(top):
                if isinstance(node, ast.Name):
                    name = node.id
                elif isinstance(node, ast.Attribute):
                    name = node.attr
                elif isinstance(node, ast.alias):
                    name = node.name
                elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                    name = node.value if node.value in TRANSPORT_LITERALS else None
                else:
                    continue
                if name in TRANSPORT_TAGS | TRANSPORT_LITERALS:
                    found.append(f"{py.name}:{getattr(node, 'lineno', '?')} {name}")
    assert found == []


# One scoring evaluator: BM25 contributions are computed and summed only
# inside wand.py (run_plan and the kernels it shares), so no caller can
# combine them in an order of its own. FtIndex.explain reports a single
# doc's per-term contributions and is the one caller that computes them.
SCORING_INTERNALS = {"_scatter_add", "bm25_contrib"}
SCORING_EXCEPTIONS = {("index.py", "explain")}


def _walk_with_scope(node: ast.AST, scope: tuple = ()):
    """Every node with the names of the functions enclosing it."""
    for child in ast.iter_child_nodes(node):
        yield child, scope
        inner = scope + (child.name,) if isinstance(
            child, (ast.FunctionDef, ast.AsyncFunctionDef)) else scope
        yield from _walk_with_scope(child, inner)


def _referenced(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.alias):
        return node.name
    return None


def test_only_wand_combines_bm25_contributions():
    found = []
    for py in sorted(FTIDX.glob("*.py")):
        if py.name == "wand.py":
            continue
        tree = ast.parse(py.read_text(), filename=str(py))
        for node, scope in _walk_with_scope(tree):
            if _referenced(node) in SCORING_INTERNALS and not (
                    scope and (py.name, scope[0]) in SCORING_EXCEPTIONS):
                found.append(f"{py.name}:{node.lineno} {'.'.join(scope)}")
    assert found == []


def test_one_executor_closure_builds_term_lists():
    """A function nested in another runs inside executors (a
    mapInPandas / applyInPandas body); the per-bucket plan runner is the
    only one that builds TermLists, so bucket scoring cannot fork."""
    builders = set()
    for py in sorted(FTIDX.glob("*.py")):
        tree = ast.parse(py.read_text(), filename=str(py))
        for node, scope in _walk_with_scope(tree):
            if (len(scope) >= 2 and isinstance(node, ast.Call)
                    and _referenced(node.func) == "TermList"):
                builders.add(f"{py.name}:{scope[-2]}")
    assert builders == {"index.py:_plan_df"}


# One reader: every Spark read of an index table goes through
# schema.read_table, which hands the reader the table's declared schema
# (a reader left to infer one runs a Spark job per read) and reads an
# absent table as an empty frame. The sites below read tables that are
# not the index's: source tables, their schema peeks, a caller's vector
# table and an export's own output.
READ_SITES = {
    ("schema.py", "read_table"),
    ("sources.py", "read_source"),
    ("sources.py", "read_incremental"),
    ("streaming.py", "windowed_ingest_counts"),
    ("streaming.py", "repo_totals_updates"),
    ("streaming.py", "dedup_stream"),
    ("streaming.py", "trending_terms"),
    ("streaming.py", "session_counts"),
    ("index.py", "attach_vectors"),
    ("index.py", "export_matches"),
}


def _is_spark_read(node: ast.AST) -> bool:
    """``spark.read`` or ``<expr>.spark.read``."""
    if not (isinstance(node, ast.Attribute) and node.attr == "read"):
        return False
    v = node.value
    return (isinstance(v, ast.Name) and v.id == "spark"
            or isinstance(v, ast.Attribute) and v.attr == "spark")


def test_only_read_table_reads_index_tables():
    sites = set()
    for py in sorted(FTIDX.glob("*.py")):
        tree = ast.parse(py.read_text(), filename=str(py))
        for node, scope in _walk_with_scope(tree):
            if _is_spark_read(node):
                sites.add((py.name, scope[-1] if scope else "<module>"))
    assert sites == READ_SITES


# One phrase verifier: positions are checked against a phrase or a
# window only where a plan executor resolves a plan's PHRASE and NEAR
# sets — the driver's, from its positions fetch, and the per-bucket
# one, from the bucket's own positions rows — so no surface can mask a
# page with a verification of its own.
VERIFIERS = {"phrase_docs", "near_docs"}


def test_only_the_plan_executors_verify_phrases():
    callers = set()
    for py in sorted(FTIDX.glob("*.py")):
        tree = ast.parse(py.read_text(), filename=str(py))
        for node, scope in _walk_with_scope(tree):
            if isinstance(node, ast.Call) and _referenced(node.func) in VERIFIERS:
                callers.add(f"{py.name}:{'.'.join(scope)}")
    assert callers == {"index.py:_run_plan", "index.py:_plan_df.score_bucket"}


# One driver reader: postings reach the driver's term cache only through
# the driver executor (FtIndex._plan_lists → _term_lists →
# _fetch_term_rows), which reads only plans the df probe keeps on the
# driver, so no surface collects a fat term's postings there.
def test_only_the_driver_executor_reads_the_term_cache():
    calls = set()
    for py in sorted(FTIDX.glob("*.py")):
        tree = ast.parse(py.read_text(), filename=str(py))
        for node, scope in _walk_with_scope(tree):
            if isinstance(node, ast.Call) and _referenced(node.func) in (
                    "_term_lists", "_fetch_term_rows"):
                calls.add((py.name, scope[-1] if scope else "<module>",
                           _referenced(node.func)))
    assert calls == {("index.py", "_plan_lists", "_term_lists"),
                     ("index.py", "_term_lists", "_fetch_term_rows")}
