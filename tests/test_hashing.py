"""The md5 key recipe: every Column form agrees with hashlib and
the Python twin, and no other module spells the recipe itself."""

from __future__ import annotations

import hashlib
import pathlib
import re

from pyspark.sql import functions as F

from ocr_pipeline_spark.operators.hashing import (
    hex_int,
    md5_hex,
    md5_int,
    md5_int_py,
)

# ASCII, multi-byte UTF-8 (2-, 3- and 4-byte sequences), empty, NULL
SAMPLES = ["spark shuffles", "café — 日本語 🚀", "", None]
N_HEX = (12, 15, 16, 32)
INT_N_HEX = (12, 15)


def _hex(s: str, n: int) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()[:n]


def test_forms_match_hashlib_and_python_twin(spark):
    df = spark.createDataFrame([(i, s) for i, s in enumerate(SAMPLES)], "i int, s string")
    cols = []
    for n in N_HEX:
        cols.append(md5_hex(F.col("s"), n).alias(f"hex_{n}"))
    cols.append(md5_int(F.col("s")).alias("int"))
    for n in INT_N_HEX:
        cols.append(hex_int(md5_hex(F.col("s")), n).alias(f"hexint_{n}"))
    rows = {r["i"]: r for r in df.select("i", *cols).collect()}
    for i, s in enumerate(SAMPLES):
        r = rows[i]
        for n in N_HEX:
            want = None if s is None else _hex(s, n)
            assert r[f"hex_{n}"] == want, (s, n)
            if s is not None:
                assert md5_int_py(s, n) == int(want, 16), (s, n)
        for n in INT_N_HEX:
            want = None if s is None else md5_int_py(s, n)
            assert r[f"hexint_{n}"] == want, (s, n)
        assert r["int"] == (None if s is None else md5_int_py(s)), s


# media_dedup hashes raw binary payloads, not text: no encode, no recipe
_ALLOWED = {("operators/multimodal.py", 'F.md5(F.col("payload")).alias("fingerprint"),')}
_INLINE_MD5 = re.compile(r"F\.md5\(|hashlib\.md5\(|md5\(encode\(")


def test_no_module_inlines_the_recipe():
    pkg = pathlib.Path(__file__).resolve().parent.parent / "ocr_pipeline_spark"
    hits = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == "operators/hashing.py":
            continue
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if _INLINE_MD5.search(line) and (rel, line.strip()) not in _ALLOWED:
                hits.append(f"{rel}:{no}: {line.strip()}")
    assert not hits, "md5 recipe inlined outside operators/hashing.py:\n" + "\n".join(hits)
