"""Z-order layout: cross-engine z-value parity, wide spans and plan
shape."""

from __future__ import annotations

import duckdb
import pytest

from ocr_pipeline_spark.operators.layout import (
    ZBITS,
    with_zvalue,
    zvalue_sql,
)


def _morton_ref(vals: list[int], bits: int) -> int:
    """Independent pure-Python Morton reference (bit-by-bit, no shared
    code with the operator's term enumeration)."""
    k = len(vals)
    z = 0
    for c, v in enumerate(vals):
        for i in range(bits):
            if (v >> i) & 1:
                z |= 1 << (i * k + c)
    return z


def _quant_ref(v: int, lo: int, hi: int, bits: int) -> int:
    return ((v - lo) * ((1 << bits) - 1)) // max(hi - lo, 1)


@pytest.fixture(scope="module")
def grid_df(spark):
    rows = [(i, (i * 37) % 101, (i * 53) % 211) for i in range(400)]
    return spark.createDataFrame(rows, "id long, a long, b long")


def test_zvalue_matches_python_reference(grid_df):
    got = {
        r["id"]: r["zval"]
        for r in with_zvalue(grid_df, ["a", "b"]).collect()
    }
    rows = grid_df.collect()
    alo, ahi = min(r.a for r in rows), max(r.a for r in rows)
    blo, bhi = min(r.b for r in rows), max(r.b for r in rows)
    for r in rows:
        want = _morton_ref(
            [_quant_ref(r.a, alo, ahi, ZBITS), _quant_ref(r.b, blo, bhi, ZBITS)],
            ZBITS,
        )
        assert got[r.id] == want


def test_zvalue_matches_duckdb_sql(grid_df):
    """The generated DuckDB interleave over the same quantization must
    be bit-identical to the Spark column — the sp_zorder oracle
    contract."""
    pdf = grid_df.toPandas()
    con = duckdb.connect()
    con.register("t", pdf)
    zsql = zvalue_sql(["_q0", "_q1"])
    mask = (1 << ZBITS) - 1
    oracle = {
        int(i): int(z)
        for i, z in con.execute(
            f"""
            WITH b AS (SELECT min(a) lo0, max(a) hi0,
                              min(b) lo1, max(b) hi1 FROM t),
            q AS (SELECT id,
                   cast((a - lo0) * {mask} // greatest(hi0 - lo0, 1)
                        as bigint) AS _q0,
                   cast((b - lo1) * {mask} // greatest(hi1 - lo1, 1)
                        as bigint) AS _q1
                  FROM t, b)
            SELECT id, ({zsql}) AS zval FROM q
            """
        ).fetchall()
    }
    got = {
        r["id"]: r["zval"] for r in with_zvalue(grid_df, ["a", "b"]).collect()
    }
    assert got == oracle


def test_bounds_are_one_scalar_join(grid_df):
    """The min/max pre-scan joins back as exactly one scalar join."""
    df = with_zvalue(grid_df, ["a", "b"])
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join") == 1


def test_zvalue_sql_term_count():
    sql = zvalue_sql(["x", "y", "w"])
    assert sql.count("|") == 3 * ZBITS - 1


def test_width_guard(grid_df):
    """Spark shiftleft masks shifts mod 64 (silently wrong) where
    DuckDB raises — configs past 63 z-bits must fail loudly instead."""
    with pytest.raises(ValueError, match="63"):
        with_zvalue(grid_df, ["a", "b", "a", "b"])
    with pytest.raises(ValueError, match="63"):
        zvalue_sql(["q0", "q1", "q2", "q3"])


def test_wide_span_divide_first(spark):
    """Spans past 2^46 switch to the overflow-free divide-first form
    (ANSI mode would abort the multiply)."""
    lo, hi = 0, 1 << 55
    vals = [0, 1 << 40, 1 << 54, hi]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "id long, a long")
    step = ((hi - lo) // (1 << ZBITS)) + 1
    want = {i: _morton_ref([(v - lo) // step], ZBITS) for i, v in enumerate(vals)}
    got = {r["id"]: r["zval"] for r in with_zvalue(df, ["a"]).collect()}
    assert got == want


def test_internal_name_collision_checked(spark):
    df = spark.createDataFrame([(1, 2)], "_q0 long, a long")
    with pytest.raises(ValueError, match="_q0"):
        with_zvalue(df, ["a"])
    df2 = spark.createDataFrame([(1, 2)], "zval long, a long")
    with pytest.raises(ValueError, match="zval"):
        with_zvalue(df2, ["a"])
