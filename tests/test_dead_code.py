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
