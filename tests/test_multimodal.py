"""Standalone binary-payload codecs in operators/multimodal.py: WAV/BMP
roundtrips and rejections, nearest-neighbour resize, magic-byte sniffing,
and the PNG codec (every filter, 8/16-bit depth, Adam7 interlace,
palette, corrupt input)."""

import numpy as np
import pytest

from biomedical_entity_linking_spark.operators.multimodal import (
    decode_bmp,
    decode_wav,
    encode_bmp,
    encode_wav,
    resize_nearest,
)


class TestCodecs:
    def test_wav_roundtrip(self):
        samples = (np.sin(np.arange(800) / 10) * 20000).astype(np.int16)
        rate, wave = decode_wav(encode_wav(samples, 8000))
        assert rate == 8000
        np.testing.assert_allclose(wave * 32768.0, samples, atol=0.5)

    def test_wav_rejects_non_pcm16(self):
        payload = bytearray(encode_wav(np.zeros(4, dtype=np.int16), 8000))
        payload[20] = 3  # audio_format = IEEE float
        with pytest.raises(NotImplementedError):
            decode_wav(bytes(payload))

    def test_bmp_roundtrip_with_row_padding(self):
        # width 5 → 15-byte rows padded to 16: the classic decode bug trap
        rgb = np.arange(5 * 3 * 3, dtype=np.uint8).reshape(3, 5, 3)
        out = decode_bmp(encode_bmp(rgb))
        np.testing.assert_array_equal(out, rgb)

    def test_bmp_rejects_other_depths(self):
        payload = bytearray(encode_bmp(np.zeros((2, 2, 3), dtype=np.uint8)))
        payload[28] = 8  # bpp
        with pytest.raises(NotImplementedError):
            decode_bmp(bytes(payload))

    def test_resize_nearest(self):
        img = np.array([[1, 2], [3, 4]])
        out = resize_nearest(img, 4, 4)
        assert out.shape == (4, 4)
        np.testing.assert_array_equal(
            out, [[1, 1, 2, 2], [1, 1, 2, 2], [3, 3, 4, 4], [3, 3, 4, 4]]
        )


class TestPluggableImageCodec:
    """Magic-byte format sniffing for image payloads."""

    JPEG_MAGIC = b"\xff\xd8\xff\xe0" + b"\x00" * 64
    PNG_MAGIC = b"\x89PNG\r\n\x1a\n" + b"\x00" * 64

    def test_sniff(self):
        from biomedical_entity_linking_spark.operators.multimodal import (
            encode_bmp,
            sniff_image_format,
        )
        import numpy as np

        assert sniff_image_format(self.JPEG_MAGIC) == "jpeg"
        assert sniff_image_format(self.PNG_MAGIC) == "png"
        bmp = encode_bmp(np.zeros((2, 2, 3), dtype=np.uint8))
        assert sniff_image_format(bmp) == "bmp"
        assert sniff_image_format(b"garbage!") is None
        assert sniff_image_format(None) is None


class TestPngCodec:
    """Built-in PNG codec (stdlib zlib + numpy): a COMPRESSED image format
    that decodes for real with no optional dependency."""

    def _rgb(self, h, w, seed=7):
        rng = np.random.RandomState(seed)
        return rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)

    @pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
    def test_rgb_roundtrip_every_filter(self, filter_type):
        from biomedical_entity_linking_spark.operators.multimodal import (
            decode_png,
            encode_png,
            sniff_image_format,
        )

        rgb = self._rgb(5, 7, seed=filter_type)
        payload = encode_png(rgb, filter_type=filter_type)
        assert sniff_image_format(payload) == "png"
        np.testing.assert_array_equal(decode_png(payload), rgb)

    def test_gray_and_rgba(self):
        from biomedical_entity_linking_spark.operators.multimodal import (
            decode_png,
            encode_png,
        )

        gray = np.arange(12, dtype=np.uint8).reshape(3, 4)
        out = decode_png(encode_png(gray, filter_type=4))
        np.testing.assert_array_equal(out, np.repeat(gray[:, :, None], 3, 2))
        rgba = np.dstack([self._rgb(4, 3), np.full((4, 3), 128, np.uint8)])
        out = decode_png(encode_png(rgba, filter_type=2))
        np.testing.assert_array_equal(out, rgba[:, :, :3])  # alpha dropped

    def test_crc_mismatch_raises(self):
        from biomedical_entity_linking_spark.operators.multimodal import (
            decode_png,
            encode_png,
        )

        payload = bytearray(encode_png(self._rgb(3, 3)))
        payload[20] ^= 0xFF  # flip a byte inside IHDR → CRC fails
        with pytest.raises(ValueError, match="CRC"):
            decode_png(bytes(payload))

    def test_corrupt_idat_raises_valueerror(self):
        from biomedical_entity_linking_spark.operators.multimodal import (
            _png_chunk,
            _PNG_SIG,
            decode_png,
        )
        import struct as _s

        ihdr = _s.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
        bad = (
            _PNG_SIG
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", b"\x00not-zlib")
            + _png_chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="IDAT"):
            decode_png(bad)

    def test_16bit_decodes_builtin(self):
        """Round 5 moved 16-bit depth into the built-in codec: a
        hand-built 2x2 16-bit RGB file decodes (high-byte readback)
        instead of routing to the pluggable Pillow path."""
        from biomedical_entity_linking_spark.operators.multimodal import (
            _png_chunk,
            _PNG_SIG,
            decode_png,
        )
        import struct as _s

        ihdr = _s.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
        deep = (
            _PNG_SIG
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", __import__("zlib").compress(b"\x00" * 26))
            + _png_chunk(b"IEND", b"")
        )
        out = decode_png(deep)
        assert out.shape == (2, 2, 3)
        assert (out == 0).all()

    def test_palette_decode(self):
        from biomedical_entity_linking_spark.operators.multimodal import (
            _png_chunk,
            _PNG_SIG,
            decode_png,
        )
        import struct as _s
        import zlib as _z

        plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # R, G, B entries
        ihdr = _s.pack(">IIBBBBB", 3, 2, 8, 3, 0, 0, 0)
        scan = b"\x00" + bytes([0, 1, 2]) + b"\x00" + bytes([2, 1, 0])
        payload = (
            _PNG_SIG
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"PLTE", plte)
            + _png_chunk(b"IDAT", _z.compress(scan))
            + _png_chunk(b"IEND", b"")
        )
        out = decode_png(payload)
        np.testing.assert_array_equal(out[0], [[255, 0, 0], [0, 255, 0], [0, 0, 255]])
        np.testing.assert_array_equal(out[1], [[0, 0, 255], [0, 255, 0], [255, 0, 0]])


class TestPng16BitAndInterlace:
    """Round-5 PNG codec extensions: 16-bit depth (big-endian high-byte
    readback) and Adam7 interlace (seven independently-filtered
    sub-images) — every (filter x depth x interlace x color-type) cell
    must reconstruct the same pixels as the plain 8-bit encoding."""

    @pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
    def test_matrix_roundtrip(self, filter_type):
        from biomedical_entity_linking_spark.operators.multimodal import (
            decode_png,
            encode_png,
        )

        rng = np.random.RandomState(17 + filter_type)
        for shape in [(13, 17, 3), (8, 8), (5, 9, 4), (1, 1, 3)]:
            img = rng.randint(0, 256, shape).astype(np.uint8)
            want = decode_png(encode_png(img))
            for depth in (8, 16):
                for interlace in (False, True):
                    got = decode_png(
                        encode_png(
                            img, filter_type, depth=depth, interlace=interlace
                        )
                    )
                    np.testing.assert_array_equal(got, want)

    def test_subbyte_depth_still_raises(self):
        import struct
        import zlib

        from biomedical_entity_linking_spark.operators.multimodal import (
            _PNG_SIG,
            _png_chunk,
            decode_png,
        )

        # hand-build a 1-bit grayscale header: the declared residue
        ihdr = struct.pack(">IIBBBBB", 4, 1, 1, 0, 0, 0, 0)
        payload = (
            _PNG_SIG
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(b"\x00\xf0"))
            + _png_chunk(b"IEND", b"")
        )
        with pytest.raises(NotImplementedError, match="depth=1"):
            decode_png(payload)
