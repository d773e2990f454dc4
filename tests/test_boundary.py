"""The transit system's boundary.

The system is the reference's four transit queries plus the wind
pipeline. It is built from the closed set of modules in ``CORE``;
everything else in the package (``layout``, ``quality``,
``streaming.ingest``, the other operators and registry queries) is an
extension built on top of it. These tests pin the boundary: a core
module imports nothing outside the core, at module level or inside a
function, and the names that moved out of the core are not re-exported
from their old homes.
"""

from __future__ import annotations

import ast
import importlib
import json
import os
import subprocess
import sys

import pytest

PKG = "ue_big_data_project_spark"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CORE = tuple(
    f"{PKG}.{m}"
    for m in (
        "fs",
        "functions",
        "observability",
        "operators.asof",
        "operators.geo",
        "queries.reference",
        "schemas",
        "session",
        "sources",
        "streaming",
    )
)
# Parent packages that importing a core module runs. Only their
# module-level imports count: the registry's function-level imports in
# ``queries/__init__.py`` run when the registry is asked for, not when
# ``queries.reference`` is imported.
PARENTS = (PKG, f"{PKG}.operators", f"{PKG}.queries")

# numpy and pandas stay out of the core.
HEAVY = ("numpy", "pandas")

# Names that left the core, by old module: (new module, names).
MOVED = {
    f"{PKG}.streaming": (
        f"{PKG}.streaming.ingest",
        (
            "incremental_windowed_rollup",
            "read_rollup",
            "_parallel_batch_writes",
            "_read_partitioned_index",
            "dedup_ingest_stream",
            "cluster_ingest_stream",
            "winnow_ingest_stream",
            "fp_ingest_stream",
            "video_sig_ingest_stream",
            "ivf_ingest_stream",
            "bm25_ingest_stream",
            "constraints_ingest_stream",
            "hll_ingest_stream",
            "read_hll_rollup",
            "qhist_ingest_stream",
            "read_qhist_rollup",
            "cms_ingest_stream",
            "read_cms_rollup",
            "dsir_score_stream",
            "read_dsir_scores",
            "_ledger_state",
            "_latest_committed",
            "_last_committed_before",
            "_is_committed",
            "_committed_tail",
            "_committed_batch_ids",
            "merge_ingest_stream",
            "read_merged_snapshot",
            "bucketed_merge_ingest_stream",
            "read_bucketed_merged_snapshot",
        ),
    ),
    f"{PKG}.sources": (
        f"{PKG}.layout",
        (
            "write_partitioned",
            "write_bucketed",
            "write_range_sorted",
            "zorder_key",
            "write_zordered",
            "compact_small_files",
            "parquet_file_stats",
            "prune_parquet_files",
            "read_stat_pruned",
            "write_bloom_sidecar",
            "read_bloom_pruned",
            "expire_batches",
        ),
    ),
    f"{PKG}.session": (f"{PKG}.queries.tables", ("load_tables",)),
    f"{PKG}.operators.asof": (
        f"{PKG}.queries.events",
        ("asof_join_stream", "ASOF_STREAM_SCHEMA"),
    ),
    f"{PKG}.observability": (
        f"{PKG}.quality",
        (
            "Constraint",
            "c_row_count",
            "c_completeness",
            "c_distinct_ratio",
            "c_min",
            "c_max",
            "c_mean",
            "c_in_set",
            "c_matches",
            "check_constraints",
            "profile_columns",
        ),
    ),
}


def _path(module: str) -> str:
    rel = os.path.join(*module.split("."))
    pkg_init = os.path.join(ROOT, rel, "__init__.py")
    return pkg_init if os.path.exists(pkg_init) else os.path.join(ROOT, rel + ".py")


def _is_module(module: str) -> bool:
    return os.path.exists(_path(module))


def _imports(module: str, top_level_only: bool = False):
    """Yield ``(imported module, enclosing function or None)`` once per
    module each import statement in ``module``'s source names."""
    with open(_path(module)) as f:
        tree = ast.parse(f.read())
    scopes = [(tree, None)]
    while scopes:
        node, fn = scopes.pop()
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if not top_level_only:
                    scopes.append((child, fn or child.name))
                continue
            if isinstance(child, ast.Import):
                for a in child.names:
                    yield a.name, fn
            elif isinstance(child, ast.ImportFrom) and child.level == 0:
                subs = {f"{child.module}.{a.name}" for a in child.names}
                for name in sorted(
                    {s if _is_module(s) else child.module for s in subs}
                ):
                    yield name, fn
            scopes.append((child, fn))


def _violations(module: str, top_level_only: bool = False) -> list[str]:
    out = []
    for name, fn in _imports(module, top_level_only):
        head = name.split(".")[0]
        if head == PKG and name not in CORE + PARENTS:
            out.append(f"{module} ({fn or 'module level'}) imports {name}")
        if head in HEAVY:
            out.append(f"{module} ({fn or 'module level'}) imports {name}")
    return out


def test_core_imports_stay_inside_the_core():
    bad = [v for m in CORE for v in _violations(m)]
    bad += [v for m in PARENTS for v in _violations(m, top_level_only=True)]
    assert not bad, f"{len(bad)} imports cross the core's boundary:\n" + "\n".join(bad)


def test_fresh_interpreter_loads_only_core_modules():
    code = (
        "import importlib, json, sys\n"
        f"for m in {list(CORE)!r}:\n"
        "    importlib.import_module(m)\n"
        "print(json.dumps(sorted(sys.modules)))\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    loaded = json.loads(proc.stdout.splitlines()[-1])
    ours = sorted(m for m in loaded if m.split(".")[0] == PKG)
    assert set(ours) == set(CORE + PARENTS), (
        "importing the core loaded package modules outside it: "
        f"{sorted(set(ours) - set(CORE + PARENTS))}"
    )
    assert "pandas" not in loaded, "importing the core loaded pandas"


@pytest.mark.parametrize("old", sorted(MOVED))
def test_moved_names_left_their_old_module(old):
    new, names = MOVED[old]
    old_mod = importlib.import_module(old)
    new_mod = importlib.import_module(new)
    assert [n for n in names if hasattr(old_mod, n)] == [], f"{old} still exports moved names"
    assert [n for n in names if not hasattr(new_mod, n)] == [], f"{new} lacks moved names"


def test_removed_wrappers_are_gone():
    sources = importlib.import_module(f"{PKG}.sources")
    assert not hasattr(sources, "parquet_file")
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module(f"{PKG}.operators.topk")
