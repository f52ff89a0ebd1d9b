"""Every keyword option of a package function, and of a helper in
__spark_entry__.py, is set by some call in the repository. An option that
no call sets is a configuration that nothing runs: it belongs in a module
constant, which an oracle then reads instead of copying the default.

Calls match definitions by name. A call sets an option when it passes it
by keyword, or passes at least as many positional arguments as reach it;
a ``**kwargs`` (or ``*args``) forward counts as setting every option."""

from __future__ import annotations

import ast
import pathlib
from collections import defaultdict

from entry_files import PACKAGE, ROOT, entry_files


def _options(tree: ast.AST):
    """(name, option, positional index or None, line) for every
    defaulted parameter of every function; a class's ``__init__`` is
    called by the class name, and methods skip ``self``."""
    out = []

    def visit(node, cls=None):
        for ch in ast.iter_child_nodes(node):
            if isinstance(ch, ast.ClassDef):
                visit(ch, ch.name)
            elif isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = ch.args
                name = cls if ch.name == "__init__" else ch.name
                static = any(
                    isinstance(d, ast.Name) and d.id == "staticmethod"
                    for d in ch.decorator_list
                )
                shift = 1 if cls and not static else 0
                pos = a.posonlyargs + a.args
                first = len(pos) - len(a.defaults)
                for i, p in enumerate(pos[first:], first):
                    out.append((name, p.arg, i - shift, ch.lineno))
                for p, d in zip(a.kwonlyargs, a.kw_defaults):
                    if d is not None:
                        out.append((name, p.arg, None, ch.lineno))
                visit(ch)
            else:
                visit(ch, cls)

    visit(tree)
    return out


def _calls(files):
    calls = defaultdict(list)
    for path in files:
        for n in ast.walk(ast.parse(path.read_text())):
            if isinstance(n, ast.Call):
                f = n.func
                name = getattr(f, "id", None) or getattr(f, "attr", None)
                if name:
                    calls[name].append(n)
    return calls


def _is_set(calls, name, option, idx) -> bool:
    for c in calls.get(name, ()):
        if any(k.arg in (None, option) for k in c.keywords):
            return True
        if idx is not None and (
            len(c.args) > idx or any(isinstance(a, ast.Starred) for a in c.args)
        ):
            return True
    return False


def unset_options(root: pathlib.Path) -> dict[str, tuple[int, list[str]]]:
    """{'package': (n_options, unset), 'entry helpers': (...)} for the
    tree at ``root``; unset entries read ``path:line: func(option=)``."""
    pkg = sorted((root / PACKAGE).rglob("*.py"))
    entry = root / "__spark_entry__.py"
    callers = pkg + entry_files(root) + sorted((root / "tests").glob("*.py"))
    calls = _calls(callers)
    out = {}
    for label, files in (("package", pkg), ("entry helpers", [entry])):
        total, unset = 0, []
        for path in files:
            for name, option, idx, line in _options(ast.parse(path.read_text())):
                total += 1
                if not _is_set(calls, name, option, idx):
                    rel = path.relative_to(root).as_posix()
                    unset.append(f"{rel}:{line}: {name}({option}=)")
        out[label] = (total, unset)
    return out


def test_scan_finds_a_planted_unset_option():
    tree = ast.parse(
        "def f(df, k=3, col='text'):\n    pass\n"
        "class C:\n    def __init__(self, n=1):\n        pass\n"
    )
    calls = _calls([])
    found = {(n, o) for n, o, i, _ in _options(tree) if not _is_set(calls, n, o, i)}
    assert found == {("f", "k"), ("f", "col"), ("C", "n")}
    calls["f"] = [ast.parse("f(d, 5)").body[0].value]
    calls["C"] = [ast.parse("C(**kw)").body[0].value]
    found = {(n, o) for n, o, i, _ in _options(tree) if not _is_set(calls, n, o, i)}
    assert found == {("f", "col")}


def test_every_keyword_option_is_set_by_some_call():
    counts = unset_options(ROOT)
    for label, (total, unset) in counts.items():
        print(f"{label}: {total} keyword options, {len(unset)} unset")
    hits = [u for _, unset in counts.values() for u in unset]
    assert not hits, (
        "keyword options no call sets (make each a module constant):\n"
        + "\n".join(hits)
    )
