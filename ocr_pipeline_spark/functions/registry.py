"""SQL function registry — the engine's API for ``spark.sql`` users.

Two tiers:

- ``register_sql_functions``: SQL UDFs (``CREATE TEMPORARY FUNCTION …
  RETURN <expr>``, Spark 4). These are macro-expanded into the plan and
  run JVM-side under codegen — the zero-overhead way to ship the
  engine's text semantics (normalization, token counts, fingerprints,
  cosine similarity) to SQL, identical to the DataFrame operators
  because the bodies are built from the same recipes
  (``textstats.norm_text_sql``, the ``hashing`` SQL fragments).

- ``register_udtfs``: Python UDTFs for the 1→N shapes SQL can't macro —
  per-document block segmentation as a LATERAL table function. This is
  the *convenience* surface (ad-hoc SQL, notebooks); it runs one Python
  call per row, so the bulk path remains the Arrow-batched
  ``operators.extraction`` mapInPandas kernels.

The reference exposed its operators over HTTP endpoints
(pipeline/app.py); a Spark engine's equivalent API surface is SQL.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..operators.hashing import md5_hex_sql, md5_int_sql
from ..operators.textstats import ROLL_MOD, norm_text_sql

_SQL_FUNCTIONS: dict[str, str] = {
    # normalization / tokenization
    "norm_text": (
        "(s STRING) RETURNS STRING RETURN " + norm_text_sql("s")
    ),
    "ws_token_count": (
        "(s STRING) RETURNS INT RETURN size(split("
        + norm_text_sql("s")
        + ", ' '))"
    ),
    "word_count": (
        "(s STRING) RETURNS INT RETURN "
        "size(regexp_extract_all(coalesce(s, ''), '[A-Za-z0-9]+', 0))"
    ),
    # fingerprints (identical to operators.textstats)
    "fingerprint16": (
        "(s STRING) RETURNS STRING RETURN "
        + md5_hex_sql(norm_text_sql("s"), 16)
    ),
    "rolling_hash31": (
        "(s STRING) RETURNS BIGINT RETURN "
        "aggregate(split(" + norm_text_sql("s") + ", ' '), "
        "cast(0 as bigint), (acc, t) -> (acc * 31 + "
        + md5_int_sql("t")
        + f") % {ROLL_MOD})"
    ),
    # similarity (sequential fold — same op order as operators.similarity)
    "cos_sim": (
        "(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) RETURNS DOUBLE RETURN "
        "aggregate(zip_with(a, b, (x, y) -> x * y), cast(0.0 as double), "
        "(acc, x) -> acc + x) / "
        "(sqrt(aggregate(zip_with(a, a, (x, y) -> x * y), cast(0.0 as double), "
        "(acc, x) -> acc + x)) * "
        "sqrt(aggregate(zip_with(b, b, (x, y) -> x * y), cast(0.0 as double), "
        "(acc, x) -> acc + x)))"
    ),
}


def register_sql_functions(spark: SparkSession) -> list[str]:
    """Register all SQL UDFs (idempotent: OR REPLACE). Returns names."""
    for name, signature in _SQL_FUNCTIONS.items():
        spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{signature}")
    return sorted(_SQL_FUNCTIONS)


def register_udtfs(spark: SparkSession) -> list[str]:
    """Register table functions: ``extract_blocks(html BINARY)``."""
    from pyspark.sql.functions import udtf

    @udtf(
        returnType=(
            "block_idx int, span_start long, span_end long, block_text string, "
            "is_content boolean, text_density double, link_density double"
        )
    )
    class ExtractBlocks:
        """LATERAL-join segmentation: one row per candidate block of one
        document payload. Convenience surface — bulk jobs use the
        Arrow-batched operators.extraction kernels."""

        def eval(self, payload):  # noqa: ANN001 — UDTF signature
            from ocr_pipeline_spark.kernels.extract import extract_document

            if payload is None:
                return
            r = extract_document(bytes(payload))
            if r.error is not None:
                return
            for b, keep in zip(r.blocks, r.flags):
                yield (
                    b.block_idx,
                    b.span_start,
                    b.span_end,
                    b.text,
                    keep,
                    b.text_density,
                    b.link_density,
                )

    spark.udtf.register("extract_blocks", ExtractBlocks)
    return ["extract_blocks"]
