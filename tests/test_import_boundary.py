"""The shipped package does not depend on its oracle module.

``functions/sqltwins.py`` holds the DuckDB-twin registry behind
``__spark_entry__.queries()``, which no production path needs.  Every
package module is parsed with ``ast`` (imports nested inside functions
included) and none but ``sqltwins`` may import it; importing every other
module in a fresh interpreter must then leave ``sqltwins`` unloaded.  No
SparkSession starts.
"""

from __future__ import annotations

import ast
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ORACLE = "cl_readability_spark.functions.sqltwins"


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


MODULES = {
    _module_name(p): p for p in sorted((ROOT / "cl_readability_spark").rglob("*.py"))
}


def _imports_oracle(path: Path) -> bool:
    """Whether any import in ``path`` names the ``sqltwins`` module:
    absolute, relative (``from .sqltwins import x``, ``from . import
    sqltwins``) or as a dotted ``import``."""
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            names = [alias.name for alias in node.names]
        elif isinstance(node, ast.ImportFrom):
            names = [f"{node.module or ''}.{alias.name}" for alias in node.names]
        else:
            continue
        if any("sqltwins" in name.split(".") for name in names):
            return True
    return False


def test_no_package_module_imports_sqltwins():
    importers = [
        name for name, path in MODULES.items() if name != ORACLE and _imports_oracle(path)
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
