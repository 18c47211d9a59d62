"""Every top-level function, class and module constant in the package
must be referenced somewhere other than its own definition: in the
package, the contract entry point, the tests, the scripts, the benchmark
or ``bench.py``. A ``@query(...)`` decorator counts as the reference,
since registering the query is what runs it; dunders such as
``__version__`` are exempt. A name nobody mentions is code nothing runs;
delete it rather than keep a second, untested copy of a behaviour.

Likewise every defaulted package parameter that an ``if``, ternary or
``and``/``or`` test of its function reads must be passed by some call
site there: an option nobody sets keeps a branch nothing runs. Reads
files only, no Spark."""

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


def _defined_names(node: ast.stmt) -> list[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        if any(
            isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
            for d in node.decorator_list
        ):
            return []
        return [node.name]
    if isinstance(node, (ast.Assign, ast.AnnAssign)):
        targets = node.targets if isinstance(node, ast.Assign) else [node.target]
        return [
            t.id
            for t in targets
            if isinstance(t, ast.Name)
            and not (t.id.startswith("__") and t.id.endswith("__"))
        ]
    return []


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
            decorators = getattr(node, "decorator_list", [])
            first = min([node.lineno] + [d.lineno for d in decorators])
            own = WORD.findall("\n".join(lines[first - 1 : node.end_lineno]))
            for name in _defined_names(node):
                if total[name] == own.count(name):
                    dead.append(f"{path.relative_to(ROOT)}:{node.lineno} {name}")
    return sorted(dead)


def test_every_package_definition_is_referenced():
    dead = unreferenced_names()
    assert not dead, "defined but never referenced:\n" + "\n".join(dead)


def _branch_tests(fn: ast.AST) -> list[ast.expr]:
    """The expressions that choose a branch inside ``fn``: ``if`` and
    ternary tests, and the operands of ``and``/``or``."""
    out: list[ast.expr] = []
    for node in ast.walk(fn):
        if isinstance(node, (ast.If, ast.IfExp)):
            out.append(node.test)
        elif isinstance(node, ast.BoolOp):
            out.extend(node.values)
    return out


def _branching_defaults(fn: ast.FunctionDef) -> list[str]:
    """Defaulted parameters of ``fn`` that a branch test of ``fn`` reads."""
    a = fn.args
    positional = a.posonlyargs + a.args
    defaulted = [p.arg for p in positional[len(positional) - len(a.defaults) :]]
    defaulted += [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    read = {
        n.id
        for t in _branch_tests(fn)
        for n in ast.walk(t)
        if isinstance(n, ast.Name)
    }
    return [p for p in defaulted if p in read]


def _passed(call: ast.Call, fn: ast.FunctionDef, param: str) -> bool:
    if any(k.arg in (param, None) for k in call.keywords):  # None: **kwargs
        return True
    if any(isinstance(x, ast.Starred) for x in call.args):
        return True
    positional = [p.arg for p in fn.args.posonlyargs + fn.args.args]
    return param in positional and len(call.args) > positional.index(param)


def unset_options() -> list[str]:
    """Defaulted package parameters that select a branch of their own
    function but that no call site anywhere passes. Call sites match by
    function name, so a name shared by two functions counts the calls of
    both."""
    trees = {p: ast.parse(t) for p, t in _sources().items()}
    calls: dict[str, list[ast.Call]] = {}
    for tree in trees.values():
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                name = getattr(node.func, "id", None) or getattr(node.func, "attr", None)
                calls.setdefault(name, []).append(node)
    unset = []
    for path, tree in trees.items():
        if not path.is_relative_to(PKG):
            continue
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for param in _branching_defaults(fn):
                if not any(_passed(c, fn, param) for c in calls.get(fn.name, [])):
                    unset.append(f"{path.relative_to(ROOT)}:{fn.lineno} {fn.name}({param})")
    return sorted(unset)


def test_every_branch_selecting_option_has_a_caller():
    """An option that picks a branch but that no caller sets keeps a
    second code path that nothing runs: keep the value in use and delete
    the parameter."""
    unset = unset_options()
    assert not unset, "options no call site passes:\n" + "\n".join(unset)
