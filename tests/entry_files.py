"""The files that run the package, written once for the source-scan tests
(test_options.py, test_reachable.py): the query registry
(``__spark_entry__.py``), the bench harnesses and the tools. ``cli.py``
is an entry point as well, but it lives inside the package, so each scan
adds it where it needs it."""

from __future__ import annotations

import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = "ocr_pipeline_spark"
CLI = pathlib.Path(PACKAGE, "cli.py")


def entry_files(root: pathlib.Path = ROOT) -> list[pathlib.Path]:
    return [root / "__spark_entry__.py", root / "bench.py"] + [
        p for d in ("perfbench", "tools") for p in sorted((root / d).glob("*.py"))
    ]
