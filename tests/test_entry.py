"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same parquet
tables, compare row count + column names + order-insensitive values.

Runs at sf0.001 for speed (the driver uses sf0.01 — same data generator,
larger scale). Value normalization is strict: exact equality after
Decimal→float and datetime→str coercion; float columns must match to the
last bit because the queries are engineered for exact cross-engine math.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
import pathlib
import sys

import duckdb
import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod

SF_DIR = os.environ.get("ENTRY_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _norm_val(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return str(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return tuple(_norm_val(x) for x in v)
    return v


def _normalize(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(_norm_val(r[i]) for i in idx) for r in rows
    )


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0 and len(df.columns) > 0


def test_every_oracle_key_has_query():
    assert set(ORACLES) <= set(QUERIES)


def test_synth_pages_prefix_property():
    # _x_overlay_oracle slices the cached 150-page kernel pass to its
    # first 30 rows — valid only while synth_pages is sequentially
    # seeded so pages(30) is an exact prefix of pages(150)
    from ocr_pipeline_spark.sources.synth_pages import synth_pages

    a, b = synth_pages(150, seed=42), synth_pages(30, seed=42)
    assert list(b.url) == list(a.url[:30])
    assert [bytes(x) for x in b.html] == [bytes(x) for x in a.html[:30]]


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    sdf = QUERIES[name](spark, SF_DIR)
    srows = sdf.collect()
    scols = list(sdf.columns)

    if name not in ORACLES:
        # rows-only check (extraction queries: oracle is the pytest
        # golden suite instead)
        assert len(srows) >= 0
        return

    ores = duck.execute(ORACLES[name])
    ocols = [d[0] for d in ores.description]
    orows = ores.fetchall()

    assert sorted(scols) == sorted(ocols), f"{name}: column names differ"
    assert len(srows) == len(orows), f"{name}: row count {len(srows)} vs {len(orows)}"
    s_norm = _normalize([tuple(r) for r in srows], scols)
    o_norm = _normalize(orows, ocols)
    if s_norm != o_norm:
        diff = [
            (a, b) for a, b in zip(s_norm, o_norm) if a != b
        ][:5]
        pytest.fail(f"{name}: value mismatch, first diffs: {diff}")


# Driver-hash-safe DuckDB output dtypes. HUGEINT (bare integer sum, or
# `//` over one), DECIMAL, and UHUGEINT hash differently from Spark's
# bigint/double in the driver's value comparison even when every value
# is identical — the exact bug class that cost five red CORRECTNESS_r03
# rows. The local gate can't catch it (_norm_val coerces Decimal before
# comparing), so the contract is pinned at the type level here.
_ALLOWED_ORACLE_DTYPES = {
    "VARCHAR", "INTEGER", "BIGINT", "DOUBLE", "BOOLEAN", "DATE",
    "TIMESTAMP",
}


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_output_dtypes(duck, name):
    """Every oracle output column must be a driver-hash-safe dtype.
    DESCRIBE plans the query without executing it, so this covers all
    88 oracles in seconds. If an aggregate legitimately needs a wider
    intermediate, cast the OUTPUT column (bigint for counts/integral
    division, double for money via the lossless decimal(18,2) recipe).
    """
    for cname, ctype, *_ in duck.execute(f"DESCRIBE {ORACLES[name]}").fetchall():
        # NO list/array dtypes either: the driver canonicalizer
        # sort_values-es every output column and lists are unhashable
        # there (TypeError) — the r4 ix_postings/sim_rp_reduce bug
        # class. Pack arrays to a canonical joined string on BOTH
        # sides (CLAUDE.md parity recipes).
        assert ctype in _ALLOWED_ORACLE_DTYPES, (
            f"{name}.{cname} is {ctype} — HUGEINT/DECIMAL/array/etc. "
            f"breaks the driver hash; cast or pack the output column "
            f"(CLAUDE.md parity recipes)"
        )


def test_every_query_is_oracled():
    """Pin full oracle coverage: a new queries() entry cannot silently
    ship without its DuckDB value check (rows-only queries would need
    an explicit exemption list here, with a reason)."""
    assert set(QUERIES) == set(ORACLES)


def test_a1_explode_tokens_null_parity(spark, tmp_path):
    """NULL texts tokenize like '' on both engines: with 20+ NULL rows
    the '' token reaches the count threshold on both sides or neither."""
    import pandas as pd

    texts = [None] * 24 + ["the cat sat"] * 21 + ["Dog  and cat"] * 3
    pd.DataFrame({"doc_id": range(len(texts)), "text": texts}).to_parquet(
        tmp_path / "documents.parquet"
    )
    sdf = QUERIES["a1_explode_tokens"](spark, str(tmp_path))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    ores = con.execute(ORACLES["a1_explode_tokens"])
    ocols = [d[0] for d in ores.description]
    got = _normalize([tuple(r) for r in sdf.collect()], list(sdf.columns))
    assert got == _normalize(ores.fetchall(), ocols)
    assert ("", 24) in {(r[1], r[0]) for r in got}
