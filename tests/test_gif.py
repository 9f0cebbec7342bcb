"""GIF codec (functions/gif.py): LZW + container roundtrips, interlace,
animation and malformed-input behavior."""

import numpy as np
import pytest

from biomedical_entity_linking_spark.functions.gif import (
    _lzw_decode,
    _lzw_encode,
    decode_gif,
    decode_gif_frames,
    encode_gif,
)


@pytest.mark.parametrize("mcs", [2, 4, 8])
@pytest.mark.parametrize("n", [1, 7, 255, 4096, 20000])
def test_lzw_roundtrip(mcs, n):
    """Crosses every code-width boundary and (at n=20000, mcs=2) the
    4095-entry table reset."""
    rng = np.random.RandomState(mcs * 100_003 + n)
    data = rng.randint(0, 1 << mcs, size=n).astype(np.uint8).tobytes()
    assert _lzw_decode(_lzw_encode(data, mcs), mcs, n) == data


@pytest.mark.parametrize(
    "h,w,ncol", [(1, 1, 1), (7, 5, 4), (16, 16, 256), (33, 17, 200)]
)
@pytest.mark.parametrize("interlace", [False, True])
def test_image_roundtrip(h, w, ncol, interlace):
    rng = np.random.RandomState(h * 1000 + w * 10 + ncol)
    pal = rng.randint(0, 256, size=(ncol, 3), dtype=np.uint8)
    img = pal[rng.randint(0, ncol, size=(h, w))]
    got = decode_gif(encode_gif(img, interlace=interlace))
    assert got.shape == (h, w, 3)
    assert (got == img).all()


def test_runs_compress_and_roundtrip():
    """Long runs (LZW's best case) must shrink AND stay exact."""
    g = np.repeat(np.arange(256, dtype=np.uint8), 16).reshape(64, 64)
    img = np.stack([g, g, g], axis=-1)
    payload = encode_gif(img)
    assert len(payload) < img.nbytes // 3
    assert (decode_gif(payload) == img).all()


def test_animation_frames_and_first_frame():
    rng = np.random.RandomState(9)
    pal = rng.randint(0, 256, size=(16, 3), dtype=np.uint8)
    a = pal[rng.randint(0, 16, size=(8, 8))]
    b = pal[rng.randint(0, 16, size=(8, 8))]
    payload = encode_gif(a, extra_frames=[b])
    assert (decode_gif(payload) == a).all()  # first frame wins
    frames = [f for _, _, f in decode_gif_frames(payload)]
    assert len(frames) == 2
    assert (frames[0] == a).all() and (frames[1] == b).all()


def test_malformed_inputs_raise():
    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, size=(4, 4, 3), dtype=np.uint8)
    # (a 4x4 random image may exceed 256 colors only if >256 px; safe)
    payload = encode_gif(img)
    with pytest.raises(ValueError, match="signature"):
        decode_gif(b"NOTGIF" + payload[6:])
    with pytest.raises(ValueError):
        decode_gif(payload[:20])  # truncated mid-structure
    # no frame before trailer
    with pytest.raises(ValueError, match="no image frame"):
        decode_gif(payload[:13] + b"\x3b")
    # >256 distinct colors is an encoder error, not silent quantization
    k = np.arange(32 * 32, dtype=np.int64)
    big = np.stack([k >> 8, k & 255, np.zeros_like(k)], axis=-1)
    with pytest.raises(ValueError, match="256"):
        encode_gif(big.reshape(32, 32, 3).astype(np.uint8))
