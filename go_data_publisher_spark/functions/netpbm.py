"""Binary netpbm codec: P5 (8-bit grayscale) and P6 (8-bit RGB), numpy only."""

import re

import numpy as np

# magic, then width, height and maxval separated by whitespace or `#`
# comments, then exactly one whitespace byte before the raster
_SEP = rb"(?:\s|#[^\n]*\n)+"
_HEADER = re.compile(rb"(P[56])" + (_SEP + rb"(\d+)") * 3 + rb"\s")


def encode_pgm(px: np.ndarray) -> bytes:
    h, w = px.shape
    return b"P5\n%d %d\n255\n" % (w, h) + px.astype(np.uint8).tobytes()


def encode_ppm(px: np.ndarray) -> bytes:
    """`px` has shape (h, w, 3)."""
    h, w, _ = px.shape
    return b"P6\n%d %d\n255\n" % (w, h) + px.astype(np.uint8).tobytes()


def decode_netpbm(payload: bytes) -> tuple[int, int, np.ndarray]:
    """P5/P6 → (width, height, luma uint8 matrix); P6 luma is the channel
    mean.  A foreign or truncated payload raises ValueError."""
    m = _HEADER.match(payload)
    if m is None:
        raise ValueError("not a binary netpbm payload or truncated header")
    w, h, maxval = (int(t) for t in m.group(2, 3, 4))
    if maxval != 255:
        raise ValueError(f"unsupported netpbm maxval {maxval}")
    depth = 1 if m.group(1) == b"P5" else 3
    px = np.frombuffer(payload, dtype=np.uint8, count=w * h * depth,
                       offset=m.end())
    if depth == 1:
        return w, h, px.reshape(h, w)
    return w, h, px.reshape(h, w, 3).mean(axis=2).astype(np.uint8)
