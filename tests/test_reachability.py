"""Every top-level package def is reachable from code that runs.

A top-level ``def`` or ``class`` in ``data_frame_spark/`` must be
referenced from another package module, from its own module outside
its own body, or from ``bench.py``, ``__spark_entry__.py``, ``tools/``
or ``perfbench/``. Inside its own module a reference is a name, an
attribute, an import alias or a string literal equal to the def's
name; from anywhere else only the last three count, because a bare
name there is a local binding (a parameter, a variable) that merely
shares the spelling. Docstrings do not count. A def decorated with
``@query`` is a registry row, reached through ``QUERIES``. Tests are
not roots: code that only tests call is dead weight unless ``KEPT``
names it with a reason.

Every module-level import in a package module (``__init__.py``
aside, which re-exports) must bind a name its module uses.

Pure ``ast``: no Spark session, runs in about a second.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "data_frame_spark"

KEPT = {
    # Reference-API mirrors (SURVEY.md §2 rows).
    "operators.core:count_na": "df-count-na, SURVEY §2.4",
    "operators.core:has_na": "df-has-na?, SURVEY §2.4",
    "operators.core:has_non_na": "df-has-non-na?, SURVEY §2.4",
    "operators.window:map_with_prev": "df-map with a (prev current) fn, SURVEY §2.5",
    "operators.window:cumulative": "df-fold running accumulation, SURVEY §2.4",
    "operators.stats:unweighted_stats": "df-statistics without weights, SURVEY §2.4",
    "sources.csv:csv_string": "df-write/csv to a port, SURVEY §2.1",
    "operators.rdp:rdp_simplify_arrays": "rdp-simplify #:keep-positions, SURVEY §2.9",
    "operators.fit:linear_fit_df": "df-least-squares-fit 'linear, SURVEY §2.9",
    "operators.fit:slr_df": "simple-linear-regression, SURVEY §2.9",
    "sources.sql:read_sql": "df-read/sql, SURVEY §2.1",
    "operators.scatter:group_samples_factor": "group-samples/factor, SURVEY §2.9",
    # Reference implementations the batched kernels are tested against.
    "operators.similarity:_argmax_dot_matrix": "reference for the batched codebook assignment",
    "operators.similarity:_argmin_centroid": "reference for the batched IVF cell assignment",
    "operators.similarity:_argmin_l2_micro": "reference for the batched PQ code assignment",
    "operators.text:_gram_run_stats": "reference for the batched gram-repetition masses",
    # Plan-inspection helpers for plan-shape tests.
    "plans.checks:count_shuffles": "plan-inspection helper",
    "plans.checks:data_sized_broadcasts": "plan-inspection helper",
    "plans.checks:has_pushed_filter": "plan-inspection helper",
    "plans.checks:read_schema_columns": "plan-inspection helper",
    # Streaming source and driver for the stream==batch tests.
    "streaming.windows:stream_events": "streaming source for the stream==batch parity tests",
    "streaming.windows:run_to_memory": "drives a streaming query to a batch result",
    # Pipeline stage.
    "operators.dedup:exact_dedup_keys": "the exact-dedup stage of tests/test_pipeline.py",
}

_SCOPES = (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _docstrings(tree: ast.AST) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, _SCOPES) and node.body:
            first = node.body[0]
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant):
                out.add(id(first.value))
    return out


def _refs(
    nodes: list[ast.AST], docstrings: set[int], names: bool = True
) -> set[str]:
    """Attributes, import aliases, non-docstring string literals and,
    with ``names``, bare names anywhere under ``nodes``."""
    out: set[str] = set()
    stack = list(nodes)
    while stack:
        node = stack.pop()
        if isinstance(node, ast.Name):
            if names:
                out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            out.update((node.name.rsplit(".", 1)[-1], node.asname or node.name))
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if id(node) not in docstrings:
                out.add(node.value)
        stack.extend(ast.iter_child_nodes(node))
    return out


def _is_registry_row(d: ast.AST) -> bool:
    for dec in d.decorator_list:
        fn = dec.func if isinstance(dec, ast.Call) else dec
        if isinstance(fn, ast.Name) and fn.id == "query":
            return True
    return False


@pytest.fixture(scope="module")
def unreachable() -> dict[str, int]:
    """``module:name`` -> line, for every top-level package def that
    nothing outside its own body references."""
    trees = {p: ast.parse(p.read_text()) for p in sorted(PKG.rglob("*.py"))}
    refs_of = {p: _refs([t], _docstrings(t), names=False) for p, t in trees.items()}
    outside = [ROOT / "bench.py", ROOT / "__spark_entry__.py",
               *sorted((ROOT / "tools").rglob("*.py")),
               *sorted((ROOT / "perfbench").rglob("*.py"))]
    external: set[str] = set()
    for p in outside:
        t = ast.parse(p.read_text())
        external |= _refs([t], _docstrings(t), names=False)
    out = {}
    for p, tree in trees.items():
        others = external.union(*(r for q, r in refs_of.items() if q != p))
        docstrings = _docstrings(tree)
        mod = ".".join(p.relative_to(PKG).with_suffix("").parts)
        for d in tree.body:
            if not isinstance(d, _DEFS) or _is_registry_row(d):
                continue
            rest = [s for s in tree.body if s is not d] + d.decorator_list
            if d.name not in others and d.name not in _refs(rest, docstrings):
                out[f"{mod}:{d.name}"] = d.lineno
    return out


def test_every_package_def_is_reachable(unreachable):
    stray = sorted(k for k in unreachable if k not in KEPT)
    assert not stray, (
        "package defs that no package module, tool or benchmark reaches "
        f"(delete them, or add them to KEPT with a reason): {stray}"
    )


def test_kept_entries_are_current(unreachable):
    stale = sorted(k for k in KEPT if k not in unreachable)
    assert not stale, (
        "KEPT entries that are now reachable or no longer exist "
        f"(drop them from KEPT): {stale}"
    )


def _module_imports(tree: ast.Module):
    """(bound name, line) for every import statement at module level,
    including those under a module-level ``if`` or ``try``."""
    stack = list(tree.body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            for a in node.names:
                yield a.asname or a.name.split(".")[0], node.lineno
        elif isinstance(node, (ast.If, ast.Try)):
            for field in ("body", "orelse", "finalbody", "handlers"):
                stack.extend(getattr(node, field, []))
        elif isinstance(node, ast.ExceptHandler):
            stack.extend(node.body)


def test_every_module_import_is_used():
    unused = []
    for p in sorted(PKG.rglob("*.py")):
        if p.name == "__init__.py":
            continue
        tree = ast.parse(p.read_text())
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        mod = ".".join(p.relative_to(PKG).with_suffix("").parts)
        unused += [f"{mod}:{name} (line {line})"
                   for name, line in _module_imports(tree) if name not in used]
    assert not unused, f"module-level imports their module never uses: {sorted(unused)}"
