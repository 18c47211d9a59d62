"""Every top-level function and class in the package must be referenced
somewhere other than its own definition: in the package, the contract
entry point, the tests, the scripts, the benchmark or ``bench.py``.
A name nobody mentions is code nothing runs; delete it rather than keep
a second, untested copy of a behaviour. Reads files only, no Spark."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "juniper_syslog_filter_spark"
SEARCHED = [PKG, ROOT / "tests", ROOT / "scripts", ROOT / "perfbench"]
SEARCHED_FILES = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
WORD = re.compile(r"\w+")


def _sources() -> dict[Path, str]:
    paths = [p for d in SEARCHED for p in d.rglob("*.py")] + SEARCHED_FILES
    return {p: p.read_text(encoding="utf-8") for p in paths if p.exists()}


def unreferenced_names() -> list[str]:
    sources = _sources()
    total = Counter()
    for text in sources.values():
        total.update(WORD.findall(text))
    dead = []
    for path, text in sources.items():
        if not path.is_relative_to(PKG):
            continue
        lines = text.splitlines()
        for node in ast.parse(text).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            own = "\n".join(lines[first - 1 : node.end_lineno])
            if total[node.name] == WORD.findall(own).count(node.name):
                dead.append(f"{path.relative_to(ROOT)}:{node.lineno} {node.name}")
    return sorted(dead)


def test_every_package_definition_is_referenced():
    dead = unreferenced_names()
    assert not dead, "defined but never referenced:\n" + "\n".join(dead)
