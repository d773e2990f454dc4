"""The bounded-stream lifecycle.

A streaming query starts in one of the four sink functions of
``streaming``, each through ``streaming._start``; a bounded run goes
through ``streaming.drain``, the one caller of ``run_until_drained``;
only ``drain`` (the checkpoint root of a drain) and
``idempotent_foreach_batch`` (the checkpoint beside its ledger) choose
a checkpoint; and only ``_start`` and ``drain`` set the shuffle width,
besides ``session.get_spark``'s batch default. These tests pin that
over the package's source, as ``test_boundary`` pins the core's
imports.
"""

from __future__ import annotations

import ast
import os

PKG = "ue_big_data_project_spark"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STREAMING = f"{PKG}.streaming"

SINKS = ("to_console", "to_memory", "foreach_batch", "idempotent_foreach_batch")


def _modules():
    """Yield ``(dotted module name, parsed source)`` for the package."""
    for dirpath, _, files in os.walk(os.path.join(ROOT, PKG)):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, name), ROOT)[:-3]
            parts = rel.split(os.sep)
            if parts[-1] == "__init__":
                parts.pop()
            with open(os.path.join(dirpath, name)) as f:
                yield ".".join(parts), ast.parse(f.read())


def _docstrings(tree: ast.AST) -> set[int]:
    """Ids of the docstring constants in ``tree``: prose, not code."""
    return {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        )
        and ast.get_docstring(node) is not None
    }


def _sites(match) -> set[tuple[str, str]]:
    """``(module, top-level function)`` of every AST node ``match``
    accepts; code outside any function counts as ``<module>``."""
    out = set()
    for module, tree in _modules():
        skip = _docstrings(tree)
        scopes = [(tree, "<module>")]
        while scopes:
            node, fn = scopes.pop()
            for child in ast.iter_child_nodes(node):
                inner = fn
                if fn == "<module>" and isinstance(
                    child, (ast.FunctionDef, ast.AsyncFunctionDef)
                ):
                    inner = child.name
                if id(child) not in skip and match(child):
                    out.add((module, inner))
                scopes.append((child, inner))
    return out


def _calls(*names: str):
    def match(node) -> bool:
        if not isinstance(node, ast.Call):
            return False
        f = node.func
        return (isinstance(f, ast.Name) and f.id in names) or (
            isinstance(f, ast.Attribute) and f.attr in names
        )

    return match


def test_write_stream_only_in_the_four_sinks():
    got = _sites(
        lambda n: isinstance(n, ast.Attribute) and n.attr == "writeStream"
    )
    assert got == {(STREAMING, f) for f in SINKS}


def test_only_drain_runs_a_stream_to_completion():
    assert _sites(_calls("run_until_drained")) == {(STREAMING, "drain")}
    assert _sites(_calls("processAllAvailable")) == {
        (STREAMING, "run_until_drained")
    }


def test_checkpoint_set_only_by_drain_and_the_ledgered_sink():
    got = _sites(
        lambda n: isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and "checkpointLocation" in n.value
    )
    assert got == {(STREAMING, "drain"), (STREAMING, "idempotent_foreach_batch")}


def test_queries_start_only_through_start():
    started = _sites(
        lambda n: isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "start"
    )
    assert {site for site in started if site[0] == STREAMING} == {
        (STREAMING, "_start")
    }
    assert _sites(_calls("_start")) == {(STREAMING, f) for f in SINKS}


def test_shuffle_width_set_only_by_start_and_drain():
    """Every use of the width's key that is not a ``.get`` read: the two
    stream pins, the ``foreachBatch`` callbacks' batch width and
    ``get_spark``'s builder default."""
    key = "spark.sql.shuffle.partitions"

    def uses_key(node) -> bool:
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            if node.func.attr == "get":
                return False
        return any(
            isinstance(c, ast.Constant) and c.value == key
            for c in ast.iter_child_nodes(node)
        )

    assert _sites(uses_key) == {
        (STREAMING, "_start"),
        (STREAMING, "drain"),
        (STREAMING, "_at_batch_width"),
        (f"{PKG}.session", "get_spark"),
    }
