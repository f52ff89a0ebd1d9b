"""Every keyword option of a package function, and of a helper in
__spark_entry__.py, is set by some call outside the tests. An option that
only a test sets is a configuration that no workload runs: it belongs in a
module constant, which an oracle then reads instead of copying the
default. ``KEEP`` lists the exceptions, each with its reason.

Calls match definitions by name. A call sets an option when it passes it
by keyword, or passes at least as many positional arguments as reach it;
a ``**kwargs`` (or ``*args``) forward counts as setting every option.

The same scan checks the other direction: every keyword a call passes to
a package function names one of that function's parameters."""

from __future__ import annotations

import ast
import pathlib
from collections import defaultdict

from entry_files import PACKAGE, ROOT, entry_files

KEEP = {
    ("main", "argv"): "the CLI's input; the console script passes none",
    ("run_extraction", "run_id"): "names the run in the lineage manifest",
    ("run_extraction", "num_partitions"):
        "the lineage tests vary it to prove the manifests do not depend "
        "on partitioning",
    ("get_spark", "shuffle_partitions"): "session sizing of a deployment",
    ("dup_clusters", "max_iter"):
        "the only way to reach the non-convergence warning",
}


def _defs(tree: ast.AST):
    """(name, FunctionDef, shift) for every function; a class's
    ``__init__`` is called by the class name, and methods skip ``self``
    (``shift`` is 1 for them)."""
    out = []

    def visit(node, cls=None):
        for ch in ast.iter_child_nodes(node):
            if isinstance(ch, ast.ClassDef):
                visit(ch, ch.name)
            elif isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = cls if ch.name == "__init__" else ch.name
                static = any(
                    isinstance(d, ast.Name) and d.id == "staticmethod"
                    for d in ch.decorator_list
                )
                out.append((name, ch, 1 if cls and not static else 0))
                visit(ch)
            else:
                visit(ch, cls)

    visit(tree)
    return out


def _options(tree: ast.AST):
    """(name, option, positional index or None, line) for every
    defaulted parameter of every function."""
    out = []
    for name, fn, shift in _defs(tree):
        a = fn.args
        pos = a.posonlyargs + a.args
        first = len(pos) - len(a.defaults)
        for i, p in enumerate(pos[first:], first):
            out.append((name, p.arg, i - shift, fn.lineno))
        for p, d in zip(a.kwonlyargs, a.kw_defaults):
            if d is not None:
                out.append((name, p.arg, None, fn.lineno))
    return out


def _call_name(call: ast.Call) -> str | None:
    f = call.func
    return getattr(f, "id", None) or getattr(f, "attr", None)


def _calls(files):
    calls = defaultdict(list)
    for path in files:
        for n in ast.walk(ast.parse(path.read_text())):
            if isinstance(n, ast.Call) and _call_name(n):
                calls[_call_name(n)].append(n)
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


def _package(root: pathlib.Path) -> list[pathlib.Path]:
    return sorted((root / PACKAGE).rglob("*.py"))


def unset_options(root: pathlib.Path, keep=KEEP):
    """{'package': (n_options, unset, kept), 'entry helpers': (...)} for
    the tree at ``root``. An option is unset when no call in the package
    or the entry files sets it; tests do not count. Unset entries read
    ``path:line: func(option=)``; ``kept`` holds the ``keep`` keys that
    were unset."""
    pkg = _package(root)
    entry = root / "__spark_entry__.py"
    calls = _calls(pkg + entry_files(root))
    out = {}
    for label, files in (("package", pkg), ("entry helpers", [entry])):
        total, unset, kept = 0, [], set()
        for path in files:
            for name, option, idx, line in _options(ast.parse(path.read_text())):
                total += 1
                if _is_set(calls, name, option, idx):
                    continue
                if (name, option) in keep:
                    kept.add((name, option))
                    continue
                rel = path.relative_to(root).as_posix()
                unset.append(f"{rel}:{line}: {name}({option}=)")
        out[label] = (total, unset, kept)
    return out


def unbound_keywords(root: pathlib.Path) -> list[str]:
    """``path:line: func(kw=)`` for each keyword a call passes to a
    package function that has no parameter of that name. Calls match
    definitions by name, only for names defined once in the package,
    and defs that take ``**kwargs`` accept everything."""
    defs = defaultdict(list)
    for path in _package(root):
        for name, fn, _ in _defs(ast.parse(path.read_text())):
            defs[name].append(fn)
    params = {}
    for name, fns in defs.items():
        if len(fns) == 1 and fns[0].args.kwarg is None:
            a = fns[0].args
            params[name] = {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}
    files = _package(root) + entry_files(root) + sorted((root / "tests").glob("*.py"))
    hits = []
    for path in files:
        for n in ast.walk(ast.parse(path.read_text())):
            if not isinstance(n, ast.Call) or _call_name(n) not in params:
                continue
            for k in n.keywords:
                if k.arg is not None and k.arg not in params[_call_name(n)]:
                    rel = path.relative_to(root).as_posix()
                    hits.append(f"{rel}:{n.lineno}: {_call_name(n)}({k.arg}=)")
    return hits


_PLANTED = (
    "def f(df, k=3, col='text'):\n    pass\n"
    "class C:\n    def __init__(self, n=1):\n        pass\n"
)


def test_scan_finds_a_planted_unset_option():
    tree = ast.parse(_PLANTED)
    calls = _calls([])
    found = {(n, o) for n, o, i, _ in _options(tree) if not _is_set(calls, n, o, i)}
    assert found == {("f", "k"), ("f", "col"), ("C", "n")}
    calls["f"] = [ast.parse("f(d, 5)").body[0].value]
    calls["C"] = [ast.parse("C(**kw)").body[0].value]
    found = {(n, o) for n, o, i, _ in _options(tree) if not _is_set(calls, n, o, i)}
    assert found == {("f", "col")}


def _tree(tmp_path: pathlib.Path, files: dict[str, str]) -> pathlib.Path:
    for rel, src in {"bench.py": "", **files}.items():
        p = tmp_path / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(src)
    return tmp_path


def test_scan_does_not_count_tests_as_callers(tmp_path):
    root = _tree(tmp_path, {
        f"{PACKAGE}/ops.py": _PLANTED,
        "__spark_entry__.py": "f(d, 5)\n",
        "tests/test_ops.py": "f(d, 5, col='x')\nC(n=2)\n",
    })
    _, unset, _ = unset_options(root, keep={})["package"]
    assert unset == [
        f"{PACKAGE}/ops.py:1: f(col=)", f"{PACKAGE}/ops.py:4: C(n=)"
    ]
    _, unset, kept = unset_options(root, keep={("C", "n"): "why"})["package"]
    assert unset == [f"{PACKAGE}/ops.py:1: f(col=)"] and kept == {("C", "n")}


def test_scan_finds_a_keyword_no_parameter_takes(tmp_path):
    root = _tree(tmp_path, {
        f"{PACKAGE}/ops.py": _PLANTED + "def g(**kw):\n    pass\n",
        "__spark_entry__.py": "f(d, k=1, text_col='t')\nC(n=1)\ng(anything=1)\n",
        "tests/test_ops.py": "C(m=2)\n",
    })
    assert unbound_keywords(root) == [
        "__spark_entry__.py:1: f(text_col=)", "tests/test_ops.py:1: C(m=)"
    ]


def test_every_keyword_option_is_set_by_some_call():
    counts = unset_options(ROOT)
    for label, (total, unset, kept) in counts.items():
        print(f"{label}: {total} keyword options, {len(unset) + len(kept)} "
              f"set only by tests, {len(kept)} of them in KEEP")
    hits = [u for _, unset, _ in counts.values() for u in unset]
    assert not hits, (
        "keyword options only tests set (make each a module constant, "
        "or add it to KEEP with a reason):\n" + "\n".join(hits)
    )


def test_keep_names_only_options_no_program_sets():
    kept = set().union(*(k for _, _, k in unset_options(ROOT).values()))
    options = {
        (name, option)
        for path in _package(ROOT) + [ROOT / "__spark_entry__.py"]
        for name, option, _, _ in _options(ast.parse(path.read_text()))
    }
    stale = [f"{k}: not an option" for k in KEEP if k not in options]
    stale += [
        f"{k}: has a caller outside the tests"
        for k in KEEP if k in options and k not in kept
    ]
    assert not stale, "drop these from KEEP:\n" + "\n".join(stale)


def test_every_keyword_names_a_parameter():
    hits = unbound_keywords(ROOT)
    assert not hits, (
        "calls pass a keyword the package function does not take:\n"
        + "\n".join(hits)
    )

