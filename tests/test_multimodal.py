"""Netpbm codec: roundtrip-pinned encode/decode and the truncated-header
error path."""

import numpy as np
import pytest

from go_data_publisher_spark.functions import netpbm as M


def test_pgm_roundtrip():
    px = np.arange(48, dtype=np.uint8).reshape(6, 8)
    w, h, got = M.decode_netpbm(M.encode_pgm(px))
    assert (w, h) == (8, 6)
    assert np.array_equal(got, px)


def test_ppm_luma():
    rgb = np.zeros((2, 2, 3), dtype=np.uint8)
    rgb[0, 0] = (30, 60, 90)  # luma = 60
    w, h, luma = M.decode_netpbm(M.encode_ppm(rgb))
    assert (w, h) == (2, 2)
    assert luma[0, 0] == 60 and luma[1, 1] == 0


def test_truncated_netpbm_raises_not_hangs():
    for bad in (b"P5\n10 10\n255", b"P5\n10", b"P6\n#comment", b"P5\n"):
        with pytest.raises(ValueError):
            M.decode_netpbm(bad)
