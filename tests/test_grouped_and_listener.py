"""Streaming throughput listener."""

from __future__ import annotations

import time

from ocr_pipeline_spark.streaming import ThroughputListener, start_extract_stream


def test_throughput_listener_records_batches(spark, pages_df, tmp_path, capfd):
    src = str(tmp_path / "src")
    pages_df.limit(40).write.parquet(src)
    listener = ThroughputListener().attach(spark)
    try:
        q = start_extract_stream(
            spark,
            src,
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
            available_now=True,
        )
        q.awaitTermination(120)
        # listener callbacks are async — allow them to drain
        deadline = time.time() + 30
        while time.time() < deadline and listener.total_rows() < 40:
            time.sleep(0.5)
    finally:
        listener.detach(spark)
    assert listener.total_rows() == 40
    assert any(b["rows_per_sec"] >= 0 for b in listener.batches)
    assert '"stage": "stream"' in capfd.readouterr().out
