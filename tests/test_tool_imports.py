"""Every import in ``tools/*.py`` and ``perfbench/*.py`` resolves, and
every query name the tools list is registered.

The tools and the benchmark are scripts: an import of a deleted module
breaks them only when they run, and no other test runs most of them.
This walks each file's AST, function-local imports included, and
resolves every imported module with the search path those scripts set
up for themselves (repo root, ``tools/``, ``perfbench/``). An import in
the body of a ``try`` that catches ``ImportError`` is optional by
design and is skipped. No Spark needed (the query-list test imports
the tools and the registry, which start no session)."""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SCRIPTS = sorted((REPO / "tools").glob("*.py")) + sorted((REPO / "perfbench").glob("*.py"))
_OPTIONAL = {"ImportError", "ModuleNotFoundError"}


def _catches_import_error(node: ast.Try) -> bool:
    for handler in node.handlers:
        types = handler.type.elts if isinstance(handler.type, ast.Tuple) else [handler.type]
        if any(isinstance(t, ast.Name) and t.id in _OPTIONAL for t in types):
            return True
    return False


def _required_imports(tree: ast.AST):
    """Yield (lineno, module) for every import outside an optional
    ``try`` body."""
    optional = {
        id(n)
        for t in ast.walk(tree)
        if isinstance(t, ast.Try) and _catches_import_error(t)
        for stmt in t.body
        for n in ast.walk(stmt)
    }
    for node in ast.walk(tree):
        if id(node) in optional:
            continue
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield node.lineno, alias.name
        elif isinstance(node, ast.ImportFrom):
            assert node.level == 0, f"relative import at line {node.lineno}"
            yield node.lineno, node.module


def _resolves(module: str) -> bool:
    try:
        return importlib.util.find_spec(module) is not None
    except ModuleNotFoundError:  # a missing parent package
        return False


@pytest.fixture
def script_path(monkeypatch):
    for d in (REPO / "perfbench", REPO / "tools", REPO):
        monkeypatch.syspath_prepend(str(d))


@pytest.mark.parametrize("script", SCRIPTS, ids=lambda p: f"{p.parent.name}/{p.name}")
def test_every_import_resolves(script, script_path):
    tree = ast.parse(script.read_text(), filename=str(script))
    missing = [
        f"line {lineno}: {module}"
        for lineno, module in _required_imports(tree)
        if not _resolves(module)
    ]
    assert not missing, f"{script.name} imports modules that do not exist: {missing}"


def test_perfbench_imports_the_oracle_normalizer(script_path):
    """perfbench/workloads.py loads ``normalize`` from
    tools/check_oracles.py through ``sys.path``; the benchmark fails
    before printing a metric if that name moves or stops being
    callable."""
    workloads = importlib.import_module("workloads")
    assert callable(workloads.normalize_fn())


def test_tool_query_lists_name_registered_queries(script_path):
    """Every query name the tools list is registered. A deleted or
    renamed query otherwise leaves these lists stale, and nothing fails
    until the tool itself runs."""
    from mapreducegcp_spark.registry import all_queries

    bp, sw, cv, wa = (
        importlib.import_module(m)
        for m in ("blowup_probe", "sweep100", "crossverify100", "windows_audit")
    )
    lists = {
        "blowup_probe.RATIO_QUERIES": bp.RATIO_QUERIES,
        "blowup_probe.VERIFY_100X": bp.VERIFY_100X,
        "blowup_probe.SKEW_QUERIES": bp.SKEW_QUERIES,
        "blowup_probe.SKEW_VERIFY": bp.SKEW_VERIFY,
        "blowup_probe.EXCLUDE": [n for per in bp.EXCLUDE.values() for n in per],
        "sweep100.PRE_EXCLUDED": sw.PRE_EXCLUDED,
        "sweep100.ENGINE_AGREEMENT": sw.ENGINE_AGREEMENT,
        "sweep100.RESTRICTION_CHECKED": sw.RESTRICTION_CHECKED,
        "crossverify100.EXCLUDED": cv.EXCLUDED,
        "windows_audit.ALLOWLIST": [name for name, _ in wa.ALLOWLIST],
        **{
            f"{m}.QUERIES": importlib.import_module(m).QUERIES
            for m in ("retry_probe", "spill_probe", "fetchfail_probe")
        },
    }
    registered = set(all_queries())
    stale = {k: sorted(set(v) - registered) for k, v in lists.items() if set(v) - registered}
    assert not stale, f"tool query lists name unregistered queries: {stale}"
