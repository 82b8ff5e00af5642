"""What the shipped package holds, checked with ``ast`` alone.

- Reachability: every package module is imported, directly or through
  other package modules, by a production entry (``scripts/*.py``,
  ``__spark_entry__.py``, ``bench.py``, ``perfbench/workloads.py``),
  imports nested inside functions and relative imports included.  The
  only exceptions are in ``ALLOWLIST``, each naming the LOCAL twin in
  ``tests/local_twins.py`` that exercises the module.
- Def-level reachability: every public top-level package function is
  named (an ``ast`` name, attribute or import; a docstring mention does
  not count) by a production file — the package itself or an entry
  above — or is in ``DEF_ALLOWLIST`` with the reason it stays.
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


#: public top-level package functions no production file names, each
#: with the reason it stays and where it is exercised
DEF_ALLOWLIST = {
    "append_exact_catalog": "incremental catalog append; tests/test_incremental.py",
    "append_url_catalog": "incremental catalog append; tests/test_incremental.py",
    "write_exact_catalog": "catalog bootstrap; LOCAL twin ingest_planted",
    "write_minhash_catalog": "catalog bootstrap; tests/test_ingest.py",
    "write_url_catalog": "catalog bootstrap; tests/test_ingest.py",
    "ingest_batch": "the ingest loop; LOCAL twin ingest_planted",
    "compact_exact_catalog": "ingest catalog compaction; tests/test_ingest.py",
    "bpe_fit": "tokenizer training; tests/test_bpe.py, test_packing.py",
    "bpe_encode": "tokenizer; tests/test_bpe.py, test_packing.py, test_sft.py",
    "bpe_decode_tokens": "tokenizer round trip; tests/test_bpe.py",
    "token_chunks": "training-shard chunking; tests/test_packing.py",
    "write_epoch_shards": "shard writer; tests/test_assembly.py",
    "ppl_partition": "perplexity split; LOCAL twin, tests/test_assembly.py",
    "tfidf_topk": "keywords; LOCAL twin tfidf_topk",
    "semantic_decontam": "embedding decontamination; LOCAL twin",
    "brute_force_topk": "exact baseline of the LSH search; tests/test_similarity.py",
    "ivf_train": "IVF index build; tests/test_similarity.py",
    "near_dup_params": "LSH sizing helper; tests/test_similarity.py",
    "fit_gram_cms": "count-min sketch build; tests/test_ngrams.py",
    "cms_estimate": "count-min sketch query; tests/test_ngrams.py",
    "make_toy_pdf": "toy PDF payload writer; tests/test_pdf_layout.py",
    "pins_outstanding": "pin-leak probe for callers; tests/test_curation.py",
    "release_all_pins": "pin-leak recovery for callers; tests/test_curation.py",
    "metrics_rollup": "per-status rollup of an extracted frame (the resume "
    "report observes the same tallies on its write); "
    "tests/test_spark_pipeline.py",
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


def test_every_public_package_def_is_named_by_production_code():
    names: set[str] = set()
    for path in [*MODULES.values(), *ENTRIES]:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.add(node.name.rpartition(".")[2])
    unnamed = {
        node.name
        for path in MODULES.values()
        for node in ast.parse(path.read_text()).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and not node.name.startswith("_")
        and node.name not in names
    }
    assert sorted(unnamed - set(DEF_ALLOWLIST)) == []
    assert sorted(set(DEF_ALLOWLIST) - unnamed) == [], "named now: drop from DEF_ALLOWLIST"


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
