"""Every top-level def, class and constant of the package is reached from
an entry point, and every package module is imported from one. Code that
no entry point runs is a second design the suite has to keep green for
nothing; it goes, or it sits on ``KEEP`` with the reason it stays.

The scan starts from every statement in the entry files
(``entry_files.py`` plus ``cli.py``) and follows name references
transitively: a ``Name``, an ``Attribute`` or an imported name reaches
every top-level definition of that name in an imported module, whose
body is then followed in turn. A module is imported when a followed
statement imports it, or when an imported module imports it at top level;
``from pkg import name`` follows the package ``__init__``'s re-export of
``name`` to the module that defines it. Strings in ``__all__`` and the
re-exports of a package ``__init__`` reach nothing by themselves."""

from __future__ import annotations

import ast
import pathlib
from collections import defaultdict

from entry_files import CLI, PACKAGE, ROOT, entry_files

KEEP = {
    ("ocr_pipeline_spark.sources.warc", "write_warc_bytes"):
        "the WARC fixture writer the ingestion tests build their input with",
    ("ocr_pipeline_spark", "__version__"): "package metadata",
    ("ocr_pipeline_spark", "EXTRACTOR_VERSION"):
        "the kernel-semantics version the goldens are pinned to",
}

_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_IMPORT = (ast.Import, ast.ImportFrom)


class Package:
    """The modules of one package: ``{dotted name: (path, tree)}``."""

    def __init__(self, modules: dict[str, tuple[str, ast.Module]]):
        self.modules = modules
        self.defs = defaultdict(list)  # name -> [(module, statement)]
        self.reexports = {}  # (package, name) -> defining module
        for mod, (path, tree) in modules.items():
            for s in tree.body:
                for name in _defined(s):
                    self.defs[name].append((mod, s))
                if self.is_package(mod) and isinstance(s, ast.ImportFrom):
                    src = self.resolve(mod, s.module, s.level)
                    for a in s.names:
                        self.reexports[(mod, a.asname or a.name)] = src

    @classmethod
    def load(cls, root: pathlib.Path, package: str = PACKAGE) -> Package:
        modules = {}
        for p in sorted((root / package).rglob("*.py")):
            parts = p.relative_to(root).with_suffix("").parts
            if parts[-1] == "__init__":
                parts = parts[:-1]
            rel = p.relative_to(root).as_posix()
            modules[".".join(parts)] = (rel, ast.parse(p.read_text()))
        return cls(modules)

    def is_package(self, mod: str) -> bool:
        return self.modules[mod][0].endswith("__init__.py")

    def resolve(self, mod: str | None, name: str | None, level: int) -> str:
        if not level:
            return name or ""
        base = mod.split(".")
        if not self.is_package(mod):
            base = base[:-1]
        base = base[: len(base) - level + 1]
        return ".".join(base + ([name] if name else []))


def _defined(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, _DEF):
        return [stmt.name]
    if isinstance(stmt, (ast.Assign, ast.AnnAssign)):
        targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
        return [
            n.id for t in targets for n in ast.walk(t)
            if isinstance(n, ast.Name) and n.id != "__all__"
        ]
    return []


def reach(pkg: Package, entries, keep=()):
    """(reached {(module, name)}, imported {module}) from every statement
    of ``entries`` (``(module or None, tree)`` pairs; a module names an
    entry file inside the package) and, as extra roots, the ``keep``
    definitions."""
    refs: set[str] = set()
    imported: set[str] = set()
    reached: set[tuple[str, str]] = set()

    def import_module(mod: str) -> None:
        parts = mod.split(".")
        for i in range(1, len(parts) + 1):
            m = ".".join(parts[:i])
            if m in pkg.modules and m not in imported:
                imported.add(m)
                if not pkg.is_package(m):
                    for s in pkg.modules[m][1].body:
                        if isinstance(s, _IMPORT):
                            follow(m, s, import_only=True)
                        elif not _defined(s):
                            follow(m, s)

    def follow(mod: str | None, node: ast.AST, import_only: bool = False) -> None:
        """Collect the names ``node`` uses and import the package modules
        it imports; a module's own top-level imports (``import_only``)
        load modules but use no name."""
        for n in ast.walk(node):
            if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
                refs.add(n.id)
            elif isinstance(n, ast.Attribute):
                refs.add(n.attr)
            elif isinstance(n, ast.Import):
                for a in n.names:
                    import_module(a.name)
            elif isinstance(n, ast.ImportFrom):
                base = pkg.resolve(mod, n.module, n.level)
                for a in n.names:
                    sub = f"{base}.{a.name}"
                    if sub in pkg.modules:
                        import_module(sub)
                        continue
                    import_module(pkg.reexports.get((base, a.name), base))
                    if not import_only:
                        refs.add(a.name)

    for mod, tree in entries:
        if mod:
            import_module(mod)
        follow(mod, tree)
    for mod, name in keep:
        import_module(mod)
        reached.add((mod, name))
        for m, s in pkg.defs.get(name, ()):
            if m == mod:
                follow(m, s)
    while True:
        todo = [
            (m, name, s)
            for name in list(refs)
            for m, s in pkg.defs.get(name, ())
            if m in imported and (m, name) not in reached
        ]
        if not todo:
            return reached, imported
        for m, name, s in todo:
            reached.add((m, name))
            follow(m, s)


def unreached(pkg: Package, entries, keep=()) -> list[str]:
    """``path:line: name`` for each unreached definition and
    ``path: not imported`` for each module no entry point imports."""
    reached, imported = reach(pkg, entries, keep)
    hits = [
        (path, 0, "not imported")
        for mod, (path, _) in pkg.modules.items() if mod not in imported
    ]
    hits += [
        (pkg.modules[mod][0], s.lineno, name)
        for name, sites in pkg.defs.items()
        for mod, s in sites if (mod, name) not in reached
    ]
    return [
        f"{path}:{line}: {what}" if line else f"{path}: {what}"
        for path, line, what in sorted(hits)
    ]


def _entries(root: pathlib.Path):
    cli = ".".join(CLI.with_suffix("").parts)
    return [(None, ast.parse(p.read_text())) for p in entry_files(root)] + [
        (cli, ast.parse((root / CLI).read_text()))
    ]


def test_scan_finds_planted_dead_code():
    src = {
        "pkg": ("pkg/__init__.py", "from .dead import gone\nfrom .a import used\n"),
        "pkg.a": ("pkg/a.py",
                  "from .b import helper\nX = 1\n"
                  "def used():\n    return helper(X)\n"
                  "def unused():\n    pass\n"),
        "pkg.b": ("pkg/b.py", "def helper(x):\n    return x\n"),
        "pkg.dead": ("pkg/dead.py",
                     "def gone():\n    pass\ndef read_table():\n    pass\n"),
    }
    pkg = Package({m: (p, ast.parse(s)) for m, (p, s) in src.items()})
    entry = ast.parse(
        "import pyarrow.parquet as pq\nfrom pkg import used\n"
        "__all__ = ['unused', 'gone']\nused()\npq.read_table('x')\n"
    )
    assert unreached(pkg, [(None, entry)]) == [
        "pkg/a.py:5: unused",
        "pkg/dead.py: not imported",
        "pkg/dead.py:1: gone",
        "pkg/dead.py:3: read_table",
    ]
    assert unreached(pkg, [(None, entry)], keep=[("pkg.a", "unused")]) == [
        "pkg/dead.py: not imported",
        "pkg/dead.py:1: gone",
        "pkg/dead.py:3: read_table",
    ]


def test_every_definition_is_reached_from_an_entry_point():
    pkg = Package.load(ROOT)
    hits = unreached(pkg, _entries(ROOT), keep=KEEP)
    assert not hits, (
        "package code no entry point runs (delete it, or add it to KEEP "
        "with a reason):\n" + "\n".join(hits)
    )


def test_keep_list_names_only_unreached_definitions():
    pkg = Package.load(ROOT)
    reached, _ = reach(pkg, _entries(ROOT))
    for mod, name in KEEP:
        assert any(m == mod for m, _ in pkg.defs.get(name, ())), (mod, name)
        assert (mod, name) not in reached, f"{mod}.{name} is reached; drop it from KEEP"
