"""What the shipped package holds, checked with ``ast`` alone.

- Reachability: every package module is imported, directly or through
  other package modules, by a production entry (``scripts/*.py``,
  ``__spark_entry__.py``, ``bench.py``, ``perfbench/workloads.py``),
  imports nested inside functions and relative imports included.  The
  only exceptions are in ``ALLOWLIST``, each naming the LOCAL twin in
  ``tests/local_twins.py`` that exercises the module.
- The oracle module ``functions/sqltwins.py`` (the DuckDB-twin registry
  behind ``__spark_entry__.queries()``) is imported by no other package
  module; the ``--py-files`` zip leaves it out, and every other reachable
  module imports from that zip alone.

No SparkSession starts; the import checks run in fresh interpreters.
"""

from __future__ import annotations

import ast
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "cl_readability_spark"
ORACLE = f"{PACKAGE}.functions.sqltwins"
ENTRIES = [
    *sorted((ROOT / "scripts").glob("*.py")),
    ROOT / "__spark_entry__.py",
    ROOT / "bench.py",
    ROOT / "perfbench" / "workloads.py",
]

#: package modules no production entry imports, each kept for the LOCAL
#: twin (a key of ``tests/local_twins.py:LOCAL_TWINS``) that runs it
ALLOWLIST = {
    f"{PACKAGE}.pipeline.ingest": "ingest_planted",
    f"{PACKAGE}.functions.bpe": "bpe_word_counts",
    f"{PACKAGE}.functions.keywords": "tfidf_topk",
}


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


MODULES = {_module_name(p): p for p in sorted((ROOT / PACKAGE).rglob("*.py"))}


def _imports(tree: ast.AST, importer: str, is_package: bool) -> set[str]:
    """Package modules that ``tree`` imports anywhere (function bodies
    too), with the parent packages each import executes.  ``importer``
    is the module's dotted name, which resolves relative imports."""
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = importer.split(".")[: None if is_package else -1]
                parts = parts[: len(parts) - node.level + 1]
                base = ".".join([*parts, *([node.module] if node.module else [])])
            names.add(base)
            names.update(f"{base}.{alias.name}" for alias in node.names)
    found = set()
    for name in names:
        parts = name.split(".")
        found.update(
            prefix
            for i in range(1, len(parts) + 1)
            if (prefix := ".".join(parts[:i])) in MODULES
        )
    return found


def _module_imports(name: str) -> set[str]:
    path = MODULES[name]
    return _imports(ast.parse(path.read_text()), name, path.name == "__init__.py")


def _reachable() -> set[str]:
    todo = [
        m
        for entry in ENTRIES
        for m in _imports(ast.parse(entry.read_text()), "__main__", False)
    ]
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo.extend(_module_imports(name))
    return seen


def _local_twin_imports() -> dict[str, set[str]]:
    """LOCAL_TWINS key → package modules its query function imports,
    read from ``tests/local_twins.py`` without importing it."""
    tree = ast.parse((ROOT / "tests" / "local_twins.py").read_text())
    functions = {
        node.name: node for node in tree.body if isinstance(node, ast.FunctionDef)
    }
    registry = next(
        node.value
        for node in tree.body
        if isinstance(node, ast.AnnAssign)
        and isinstance(node.target, ast.Name)
        and node.target.id == "LOCAL_TWINS"
    )
    return {
        key.value: _imports(functions[value.elts[0].id], "tests.local_twins", False)
        for key, value in zip(registry.keys, registry.values)
    }


def test_every_package_module_is_reachable_or_twinned():
    unreachable = set(MODULES) - _reachable()
    assert sorted(unreachable - set(ALLOWLIST)) == []
    assert len(ALLOWLIST) <= 3
    twins = _local_twin_imports()
    for module, twin in ALLOWLIST.items():
        assert module in unreachable, f"{module} is reachable: drop it from ALLOWLIST"
        assert twin in twins, f"{twin} is not a LOCAL_TWINS key"
        assert module in twins[twin], f"LOCAL twin {twin} does not import {module}"


def test_no_package_module_imports_sqltwins():
    importers = [
        name for name in MODULES if name != ORACLE and ORACLE in _module_imports(name)
    ]
    assert importers == []


def test_importing_production_modules_leaves_sqltwins_unloaded():
    production = sorted(name for name in MODULES if name != ORACLE)
    code = (
        "import importlib, sys\n"
        f"for name in {production!r}:\n"
        "    importlib.import_module(name)\n"
        f"print({ORACLE!r} in sys.modules)\n"
    )
    run = subprocess.run(
        [sys.executable, "-c", code],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert run.returncode == 0, run.stderr
    assert run.stdout.strip() == "False"


def test_py_files_zip_without_sqltwins_imports_every_reachable_module(tmp_path):
    # the README's `zip -qr ... cl_readability_spark -x <sqltwins>`
    archive = tmp_path / "clrs.zip"
    with zipfile.ZipFile(archive, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, path in MODULES.items():
            if name != ORACLE:
                zf.write(path, path.relative_to(ROOT).as_posix())
    reachable = sorted(_reachable() - {ORACLE})
    code = (
        "import importlib, sys\n"
        f"sys.path.insert(0, {str(archive)!r})\n"
        f"for name in {reachable!r}:\n"
        "    module = importlib.import_module(name)\n"
        f"    assert module.__file__.startswith({str(archive)!r}), module.__file__\n"
        f"print({ORACLE!r} in sys.modules)\n"
    )
    # -I: no cwd, script dir or PYTHONPATH on sys.path — the zip is the
    # only source of the package
    run = subprocess.run(
        [sys.executable, "-I", "-c", code],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert run.returncode == 0, run.stderr
    assert run.stdout.strip() == "False"
