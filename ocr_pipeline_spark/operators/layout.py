"""Z-order (Morton-interleaved) clustered layout for data-skipping writes.

Why this exists at 100 TB: parquet row-group / file min-max statistics
only prune scans when values are CLUSTERED within files. Range
partitioning on one column clusters only that column; Z-ordering
interleaves the bits of k quantized key columns so every output file
covers a tight hyper-rectangle in all k dimensions at once — selective
predicates on ANY of the keys then skip most files at planning time.
Reference analogue: the reference serves per-request result lookups from
its store (pipeline/app.py result fetch); at corpus scale the same need
— selective reads over a huge result table — is served by physical
layout, not an index server.

Cross-engine contract: z-values are pure bigint arithmetic — quantize is
subtract-min, scale by (2^ZBITS − 1), integral ``div`` by the span;
interleave is a shift/mask/or fold. Both the Spark Column builder and
the DuckDB SQL builder consume ONE shared term enumeration
(:func:`_zterms`), so the engines compute bit-identical z-values
(driver query ``sp_zorder``; unit parity in tests/test_layout.py).

Scale notes:
- :func:`with_zvalue` costs ONE extra bounds scan (min/max aggregate,
  broadcast back as a 1-row scalar join — no collect).
- a clustered write range-partitions on the z-value, so file count is
  an explicit dial: at 100 TB pick ``n_files = bytes / target_file_size``
  (e.g. 1 GiB targets). Only the z-long and the row payload move in that
  one exchange; quantization is scan-local.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "zvalue",
    "zvalue_sql",
    "quantize_case_sql",
    "with_zvalue",
    "ZBITS",
]

# Bits per quantized key column.
ZBITS = 16
_MASK = (1 << ZBITS) - 1


def _zterms(k: int) -> list[tuple[int, int, int]]:
    """Shared (col_idx, bit_idx, out_shift) enumeration — the single
    source of truth for both engines' interleave expressions."""
    return [(c, i, i * k + c) for c in range(k) for i in range(ZBITS)]


def _check_width(k: int) -> None:
    # k*ZBITS must fit the POSITIVE range of an int64: Spark's shiftleft
    # silently masks shift amounts mod 64 (Java semantics) while DuckDB
    # raises, so too many columns would give garbage on one engine and
    # an error on the other; and bit 63 would make z negative, breaking
    # Morton ordering. Fail loudly instead.
    if k * ZBITS > 63:
        raise ValueError(
            f"{k} cols × {ZBITS} bits = {k * ZBITS} z-bits; max is 63"
        )


def zvalue(qcols: list[Column]) -> Column:
    """Morton interleave of ALREADY-quantized long columns (each in
    [0, 2^ZBITS)). Plain shift/mask/or fold — whole-stage codegen, no
    Python. Callers must pass staged column REFERENCES (each input is
    referenced ``ZBITS`` times; Catalyst has no logical CSE, but a
    col-ref re-read is free)."""
    _check_width(len(qcols))
    z: Column | None = None
    for c, i, shift in _zterms(len(qcols)):
        term = F.shiftleft(F.shiftright(qcols[c], i).bitwiseAND(F.lit(1)), shift)
        z = term if z is None else z.bitwiseOR(term)
    assert z is not None
    return z


def zvalue_sql(qnames: list[str]) -> str:
    """DuckDB expression computing the same z-value over bigint columns
    named ``qnames`` — generated from the same :func:`_zterms`
    enumeration as :func:`zvalue`."""
    _check_width(len(qnames))
    terms = [
        f"((({qnames[c]} >> {i}) & 1) << {shift})"
        for c, i, shift in _zterms(len(qnames))
    ]
    return " | ".join(terms)


def quantize_case_sql(c: str, lo: str, hi: str, div: str = "div") -> str:
    """Shared quantize expression (SQL text) — multiply-first for spans
    where (span · mask) fits int64, divide-first (overflow-free,
    ~2^ZBITS buckets) beyond. One generator for both engines: Spark
    consumes it with ``div='div'``, the DuckDB oracle with ``div='//'``
    — same literals, same branch predicate."""
    mul_max = (1 << 62) // _MASK
    span = f"greatest({hi} - {lo}, 1)"
    return (
        f"CASE WHEN {span} <= {mul_max} "
        f"THEN (cast({c} as bigint) - {lo}) * {_MASK} {div} {span} "
        f"ELSE (cast({c} as bigint) - {lo}) {div} "
        f"({span} {div} {_MASK + 1} + 1) END"
    )


def with_zvalue(df: DataFrame, cols: list[str]) -> DataFrame:
    """Append a ``zval`` column interleaving the quantized ``cols``
    (integer-valued column NAMES — stage derived keys, e.g. a
    day-number, with ``withColumn`` first so the DuckDB mirror can name
    the same columns).

    quantized_c = ((c − lo_c) · (2^ZBITS − 1)) div max(hi_c − lo_c, 1),
    all bigint (integral ``div``, never float — a 53-bit mantissa can
    flip a boundary value; same rule as splits.pack_sequences). Spans
    wider than 2^62 div mask would overflow that multiply (ANSI mode
    aborts the job), so wide domains — snowflake ids, epoch-micros —
    switch to the divide-first form (c − lo) div ceil-step, which is
    overflow-free and still yields ~2^ZBITS balanced buckets. The
    bounds come from a min/max pre-scan broadcast back as a 1-row
    scalar join; true min/max bounds keep every quantized value in
    [0, mask], so no clamp is needed."""
    _check_width(len(cols))
    reserved = {"zval"} | {
        n for i in range(len(cols)) for n in (f"_q{i}", f"_lo{i}", f"_hi{i}")
    }
    clash = sorted(reserved & set(df.columns))
    if clash:
        raise ValueError(f"input columns collide with internal names: {clash}")
    aggs = []
    for i, c in enumerate(cols):
        aggs.append(F.min(c).cast("bigint").alias(f"_lo{i}"))
        aggs.append(F.max(c).cast("bigint").alias(f"_hi{i}"))
    j = df.crossJoin(F.broadcast(df.agg(*aggs)))
    qexprs = [
        F.expr(quantize_case_sql(c, f"_lo{i}", f"_hi{i}")).alias(f"_q{i}")
        for i, c in enumerate(cols)
    ]
    staged = j.select(*[df[c2] for c2 in df.columns], *qexprs)
    qrefs = [F.col(f"_q{i}") for i in range(len(cols))]
    return staged.select(*df.columns, zvalue(qrefs).cast("long").alias("zval"))
