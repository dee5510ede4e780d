"""ensure_min_parallelism's fallbacks: each one is logged, none raises."""

from __future__ import annotations

import logging

from duplicate_image_detector_spark.partitioning import ensure_min_parallelism


def test_streaming_input_falls_back_with_warnings(spark, caplog):
    """A streaming DataFrame has neither plan statistics nor an RDD: the
    guard hands it back unchanged and logs both fallbacks."""
    df = spark.readStream.format("rate").load()
    with caplog.at_level(logging.WARNING):
        assert ensure_min_parallelism(df) is df
    msgs = [r.getMessage() for r in caplog.records]
    assert any(
        "no plan size estimate" in m and "core count" in m for m in msgs
    ), msgs
    assert any(
        "no partition count" in m and "not repartitioned" in m for m in msgs
    ), msgs
