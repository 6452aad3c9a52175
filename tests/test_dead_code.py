"""Dead-code guard: every module-level function and class in the package is
referenced somewhere in the checkout besides its own ``def`` line.

Spark-free: it only parses source files. A name that nothing mentions is
code no caller reaches; delete it instead of keeping it "for later".
"""

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "hive_json_spark"
WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _sources() -> list[Path]:
    dirs = ("hive_json_spark", "tests", "tools", "perfbench")
    files = [p for d in dirs for p in (ROOT / d).rglob("*.py")]
    return files + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]


def test_every_module_level_definition_is_referenced():
    words: Counter = Counter()
    lines: dict[Path, list[str]] = {}
    for path in _sources():
        text = path.read_text()
        lines[path] = text.splitlines()
        words.update(WORD.findall(text))

    unreferenced = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            own_line = lines[path][node.lineno - 1]
            if words[node.name] - WORD.findall(own_line).count(node.name) == 0:
                unreferenced.append(f"{path.relative_to(ROOT)}::{node.name}")
    assert not unreferenced, f"defined but never referenced: {unreferenced}"


def _names_used(tree: ast.Module) -> set[str]:
    """Names a module loads: bare names, plus the names inside string
    constants that parse as expressions (quoted annotations, ``__all__``)."""
    used = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            try:
                expr = ast.parse(node.value, mode="eval")
            except SyntaxError:
                continue
            used.update(n.id for n in ast.walk(expr) if isinstance(n, ast.Name))
    return used


def test_every_module_level_import_is_used():
    # __init__.py imports are the package's re-exports
    unused = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path.name == "__init__.py":
            continue
        tree = ast.parse(path.read_text())
        used = _names_used(tree)
        for node in tree.body:
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            for alias in node.names:
                name = alias.asname or alias.name.split(".")[0]
                if name not in used:
                    unused.append(f"{path.relative_to(ROOT)}::{name}")
    assert not unused, f"imported but never used: {unused}"
