"""Static contract between the runnable scripts and the package API.

Every ``scripts/*.py`` and the repo-root benches are parsed with ``ast``
(imports nested inside functions included); nothing is executed and no
SparkSession starts.  For each file:

- every ``from cl_readability_spark... import name`` and every
  ``from tests... import name`` (``bench.py`` times a twin that lives in
  ``tests/local_twins.py``) resolves to a module attribute or a submodule;
- every literal keyword passed to a call of an imported package callable
  is a parameter of that callable's ``inspect.signature``, unless the
  callable takes ``**kwargs``.

So removing or renaming a package option fails here, not at the next
``spark-submit`` of a script that still passes it.

Not checked: ``**dict`` splats (the keys are runtime values), methods on
objects a package callable returned (``sink.run(...)``), and callables
reached through any name other than the one a ``from ... import`` bound
(``import cl_readability_spark...`` and ``module.func(...)``; no checked
file uses either).
"""

from __future__ import annotations

import ast
import importlib
import inspect
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
CHECKED_ROOTS = ("cl_readability_spark", "tests")
ROOT_BENCHES = ("bench.py", "scaling_bench.py", "skew_bench.py", "dedup_scaling_bench.py")
FILES = sorted(p.relative_to(ROOT).as_posix() for p in (ROOT / "scripts").glob("*.py"))
FILES += list(ROOT_BENCHES)

_MISSING = object()
_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _resolve(module: str, name: str):
    """The object ``from module import name`` binds."""
    try:
        mod = importlib.import_module(module)
    except ModuleNotFoundError:
        return _MISSING
    obj = getattr(mod, name, _MISSING)
    if obj is _MISSING:
        try:
            obj = importlib.import_module(f"{module}.{name}")
        except ModuleNotFoundError:
            pass
    return obj


def _own_nodes(scope: ast.AST):
    """Nodes of ``scope`` that are not inside a nested def or class; the
    nested def/class nodes themselves are yielded so callers can recurse."""
    stack = list(ast.iter_child_nodes(scope))
    while stack:
        node = stack.pop()
        yield node
        if not isinstance(node, _SCOPES):
            stack.extend(ast.iter_child_nodes(node))


def _package_imports(node: ast.AST):
    """(bound name, module, attribute, line) per ``from <package> import``
    or ``from tests... import``."""
    if isinstance(node, ast.ImportFrom) and node.level == 0 and (
        (node.module or "").split(".")[0] in CHECKED_ROOTS
    ):
        for alias in node.names:
            yield alias.asname or alias.name, node.module, alias.name, node.lineno


def check_source(source: str, filename: str = "<source>") -> tuple[list[str], list[str]]:
    """(unresolved imports, unknown keywords) found in ``source``."""
    unresolved: list[str] = []
    unknown: list[str] = []

    def visit(scope: ast.AST, inherited: dict) -> None:
        nodes = list(_own_nodes(scope))
        bound = dict(inherited)
        for node in nodes:
            for name, module, attr, line in _package_imports(node):
                obj = _resolve(module, attr)
                if obj is _MISSING:
                    unresolved.append(f"{filename}:{line}: {module}.{attr}")
                else:
                    bound[name] = obj
        for node in nodes:
            if isinstance(node, _SCOPES):
                visit(node, bound)
            elif isinstance(node, ast.Call) and isinstance(node.func, ast.Name):
                obj = bound.get(node.func.id, _MISSING)
                if obj is _MISSING or not callable(obj):
                    continue
                try:
                    params = inspect.signature(obj).parameters
                except (TypeError, ValueError):
                    continue
                if any(p.kind is p.VAR_KEYWORD for p in params.values()):
                    continue
                for kw in node.keywords:
                    if kw.arg is not None and kw.arg not in params:
                        unknown.append(f"{filename}:{node.lineno}: {node.func.id}({kw.arg}=)")

    visit(ast.parse(source, filename=filename), {})
    return unresolved, unknown


@pytest.mark.parametrize("path", FILES)
def test_package_imports_resolve(path):
    unresolved, _ = check_source((ROOT / path).read_text(), path)
    assert not unresolved, unresolved


@pytest.mark.parametrize("path", FILES)
def test_package_call_keywords_exist(path):
    _, unknown = check_source((ROOT / path).read_text(), path)
    assert not unknown, unknown


def test_checker_flags_removed_option_and_missing_name():
    source = (
        "def main(df):\n"
        "    from cl_readability_spark.functions.curation import curate, no_such_op\n"
        "    from tests.local_twins import no_such_twin\n"
        "    return curate(df, minhash_carry='arrays', **{'anything': 1})\n"
    )
    unresolved, unknown = check_source(source)
    assert sorted(unresolved) == [
        "<source>:2: cl_readability_spark.functions.curation.no_such_op",
        "<source>:3: tests.local_twins.no_such_twin",
    ]
    assert unknown == ["<source>:4: curate(minhash_carry=)"]
