"""Marker-walk edge cases the parity pins cannot hold, because the
decoders before the shared marker walk rejected them."""

from __future__ import annotations

import numpy as np

from mergermetrics_lakehouse_pipeline_spark.operators.jpeg import (
    jpeg_color_decode,
    jpeg_color_encode,
)
from mergermetrics_lakehouse_pipeline_spark.operators.jpeg_progressive import (
    jpeg_progressive_decode,
    jpeg_progressive_encode,
)


def test_fill_bytes_before_eoi():
    """0xFF fill bytes may precede EOI too (T.81 B.1.1.2): the marker
    walk skips them at the very end of a stream, where fewer than four
    bytes follow the first fill byte."""
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, size=(17, 33, 3), dtype=np.uint8)
    for payload, decode in (
        (jpeg_progressive_encode(img, "422"), jpeg_progressive_decode),
        (jpeg_color_encode(img, "420", restart_interval=3), jpeg_color_decode),
    ):
        padded = payload[:-2] + b"\xff\xff" + payload[-2:]
        assert np.array_equal(decode(padded)[2], decode(payload)[2])
