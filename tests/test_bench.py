"""bench.py's output contract: the full result goes to a file and stdout
ends with one short headline line, so a log cut to its tail still parses."""

from __future__ import annotations

import json
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

import bench


def test_last_stdout_line_is_a_short_headline(tmp_path, capsys):
    out = {
        "metric": "headline query suite wall time",
        "value": 42.125,
        "unit": "sec",
        "queries": {f"q{i}": 1.5 for i in range(200)},
        "extended": {f"x{i}": 0.25 for i in range(200)},
        "sf": 0.1,
    }
    path = tmp_path / "result.json"
    bench.emit(out, str(path))
    last = capsys.readouterr().out.splitlines()[-1]
    assert last.startswith('{"value"')
    assert len(last) < 200
    assert json.loads(last)["value"] == 42.125
    assert json.loads(path.read_text()) == out
