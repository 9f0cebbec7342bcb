"""Binary-payload columns: the oracle-checked ``media_bytes_stats`` query
plus standalone pure-numpy codecs for PCM16 WAV, 24-bpp BMP and PNG
(8/16-bit, Adam7 interlace), magic-byte sniffing and a nearest-neighbour
resize. No registered query or pipeline stage calls the codecs;
``media_bytes_stats`` only measures payload lengths and decodes nothing."""

from __future__ import annotations

import struct
import zlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# real codecs: PCM16 WAV + 24bpp BMP (pure struct/numpy, no external libs)
# ---------------------------------------------------------------------------


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """int16 mono samples → canonical RIFF/WAVE PCM16 bytes (fixture
    encoder; also documents the exact layout ``decode_wav`` parses)."""
    data = np.asarray(samples, dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    chunks = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """RIFF/WAVE PCM16 → (sample_rate, float64 mono waveform in [-1, 1]).

    Real decode: RIFF chunk walk (word-aligned), fmt/data extraction,
    ``np.frombuffer`` sample view, channel mean for multi-channel.
    Non-PCM16 raises ``NotImplementedError`` (compressed WAV needs a codec
    library)."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = data = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        sz = struct.unpack("<I", payload[pos + 4 : pos + 8])[0]
        body = payload[pos + 8 : pos + 8 + sz]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, n_ch, rate, _, _, bits = struct.unpack("<HHIIHH", fmt[:16])
    if audio_format != 1 or bits != 16:
        raise NotImplementedError(
            f"WAV format {audio_format}/{bits}bit needs an external codec"
        )
    samples = np.frombuffer(data[: len(data) - len(data) % (2 * n_ch)], "<i2")
    wave = samples.astype(np.float64) / 32768.0
    if n_ch > 1:
        wave = wave.reshape(-1, n_ch).mean(axis=1)
    return rate, wave


def encode_bmp(rgb: np.ndarray) -> bytes:
    """uint8 (h, w, 3) RGB → 24bpp bottom-up BMP bytes with 4-byte row
    padding (fixture encoder)."""
    h, w, _ = rgb.shape
    row_size = (w * 3 + 3) & ~3
    px = np.zeros((h, row_size), dtype=np.uint8)
    px[:, : w * 3] = rgb[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up, BGR
    data = px.tobytes()
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(data), 0, 0, 14 + 40)
    return header + info + data


def decode_bmp(payload: bytes) -> np.ndarray:
    """24bpp uncompressed BMP → uint8 (h, w, 3) RGB array.

    Real decode: header parse, padded bottom-up (or top-down, negative
    height) row layout, BGR→RGB. Other bit depths / compressions raise
    ``NotImplementedError``."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_offset = struct.unpack("<I", payload[10:14])[0]
    w, h_raw = struct.unpack("<ii", payload[18:26])
    bpp = struct.unpack("<H", payload[28:30])[0]
    compression = struct.unpack("<I", payload[30:34])[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"BMP bpp={bpp} compression={compression} needs an external codec"
        )
    h = abs(h_raw)
    row_size = (w * 3 + 3) & ~3
    raw = np.frombuffer(
        payload[data_offset : data_offset + row_size * h], dtype=np.uint8
    ).reshape(h, row_size)
    img = raw[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR → RGB
    if h_raw > 0:
        img = img[::-1]  # bottom-up storage
    return img


# ---------------------------------------------------------------------------
# real compressed-image codec: PNG (stdlib zlib + numpy, no external libs)
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}  # color_type → samples/px


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
    return struct.pack(">I", len(body)) + ctype + body + struct.pack(">I", crc)


# Adam7 interlace pass grid: (x0, y0, dx, dy) per pass (PNG spec §8.2)
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _filter_image_bytes(
    rows: np.ndarray, bpp: int, filter_type: int
) -> bytearray:
    """Filter a (n_rows, stride)-byte image per PNG §9: one filter-type
    byte then the filtered row. ``bpp`` = bytes per pixel (filters always
    operate on BYTES — the same code serves 8- and 16-bit depths)."""
    n, stride = rows.shape
    raw = rows.astype(np.int16)
    prior = np.zeros(stride, dtype=np.int16)
    out = bytearray()
    for y in range(n):
        cur = raw[y]
        left = np.zeros(stride, dtype=np.int16)
        left[bpp:] = cur[:-bpp]
        up_left = np.zeros(stride, dtype=np.int16)
        up_left[bpp:] = prior[:-bpp]
        if filter_type == 0:
            filt = cur
        elif filter_type == 1:
            filt = cur - left
        elif filter_type == 2:
            filt = cur - prior
        elif filter_type == 3:
            filt = cur - (left + prior) // 2
        elif filter_type == 4:
            filt = cur - _paeth(left, prior, up_left)
        else:
            raise ValueError(f"bad filter type {filter_type}")
        out.append(filter_type)
        out += (filt & 0xFF).astype(np.uint8).tobytes()
        prior = cur
    return out


def encode_png(
    img: np.ndarray,
    filter_type: int = 0,
    depth: int = 8,
    interlace: bool = False,
) -> bytes:
    """uint8 image → PNG bytes (fixture encoder; also documents the layout
    ``decode_png`` parses). Shape (h, w) → grayscale, (h, w, 3) → RGB,
    (h, w, 4) → RGBA. ``filter_type`` (0..4) is applied to EVERY row so
    round-trip tests exercise each unfilter branch of the decoder;
    ``depth=16`` scales samples by 257 (v*257 keeps the high byte == v, so
    the 8-bit readback is exact); ``interlace=True`` emits Adam7 passes."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        color_type, ch = 0, 1
        px = img[:, :, None]
    elif img.shape[2] == 3:
        color_type, ch = 2, 3
        px = img
    elif img.shape[2] == 4:
        color_type, ch = 6, 4
        px = img
    else:
        raise ValueError(f"unsupported channel count {img.shape[2]}")
    h, w = img.shape[:2]
    if depth == 8:
        data = px
        bps = 1
    elif depth == 16:
        wide = (px.astype(np.uint16) * 257).astype(">u2")
        data = wide.view(np.uint8).reshape(h, w, ch * 2)
        bps = 2
    else:
        raise ValueError(f"fixture encoder supports depth 8/16, not {depth}")
    bpp = ch * bps
    out = bytearray()
    if not interlace:
        out += _filter_image_bytes(data.reshape(h, w * bpp), bpp, filter_type)
    else:
        for x0, y0, dx, dy in _ADAM7:
            sub = data[y0::dy, x0::dx]
            if sub.size == 0:
                continue
            ph, pw = sub.shape[:2]
            out += _filter_image_bytes(
                sub.reshape(ph, pw * bpp), bpp, filter_type
            )
    ihdr = struct.pack(
        ">IIBBBBB", w, h, depth, color_type, 0, 0, 1 if interlace else 0
    )
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out), 6))
        + _png_chunk(b"IEND", b"")
    )


def _paeth(left: np.ndarray, up: np.ndarray, up_left: np.ndarray) -> np.ndarray:
    """Vectorized Paeth predictor (PNG spec §9.4) over int16 arrays."""
    p = left + up - up_left
    pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - up_left)
    return np.where(
        (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, up_left)
    )


def _unfilter_rows(raw: np.ndarray, bpp: int) -> np.ndarray:
    """Unfilter (n_rows, stride+1) PNG-filtered bytes into (n_rows,
    stride) reconstructed bytes. ``bpp`` = bytes per pixel; the
    Sub/Average/Paeth recurrences run per-pixel, vectorized across the
    pixel's bytes (the same code serves 8- and 16-bit depths and every
    Adam7 pass)."""
    n, stride1 = raw.shape
    stride = stride1 - 1
    recon = np.zeros((n, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.int32)
    for y in range(n):
        ftype = raw[y, 0]
        cur = raw[y, 1:].astype(np.int32)
        if ftype == 0:
            line = cur
        elif ftype == 2:
            line = (cur + prior) & 0xFF
        elif ftype in (1, 3, 4):
            line = cur  # in-place recurrence along x, vectorized over bpp
            for x in range(0, stride, bpp):
                left = line[x - bpp : x] if x else np.zeros(bpp, dtype=np.int32)
                up = prior[x : x + bpp]
                if ftype == 1:
                    line[x : x + bpp] = (line[x : x + bpp] + left) & 0xFF
                elif ftype == 3:
                    line[x : x + bpp] = (
                        line[x : x + bpp] + (left + up) // 2
                    ) & 0xFF
                else:
                    up_left = (
                        prior[x - bpp : x]
                        if x
                        else np.zeros(bpp, dtype=np.int32)
                    )
                    line[x : x + bpp] = (
                        line[x : x + bpp] + _paeth(left, up, up_left)
                    ) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        recon[y] = line
        prior = line.astype(np.int32)
    return recon


def decode_png(payload: bytes) -> np.ndarray:
    """REAL PNG decode → uint8 (h, w, 3) RGB, pure stdlib-zlib + numpy.

    Full chunk walk with CRC verification, multi-IDAT concatenation, zlib
    inflate, and per-row unfiltering (all five filter types — None/Sub/Up/
    Average/Paeth — with the sequential Sub/Average/Paeth recurrences run
    per-pixel but vectorized across the pixel's bytes). Supported: 8- AND
    16-bit depths (16-bit keeps the big-endian high byte, Pillow
    ``convert("RGB")`` semantics), Adam7 INTERLACED and non-interlaced
    layouts (seven independently-filtered sub-images scattered back),
    color types 0 (gray), 2 (RGB), 3 (palette via PLTE), 4 (gray+alpha),
    6 (RGBA); alpha is dropped, gray broadcast to 3 channels. Sub-byte
    depths (1/2/4-bit) raise ``NotImplementedError``."""
    if len(payload) < 8 or payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = 8
    ihdr = None
    plte = None
    idat = bytearray()
    while pos + 12 <= len(payload):
        (clen,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + clen]
        if len(body) != clen:
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack(">I", payload[pos + 8 + clen : pos + 12 + clen])
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + clen
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    w, h, depth, color_type, compression, filter_method, interlace = ihdr
    if color_type not in _PNG_CHANNELS or compression != 0 or filter_method != 0:
        raise ValueError(f"bad PNG header (color_type={color_type})")
    if depth not in (8, 16) or interlace not in (0, 1):
        raise NotImplementedError(
            f"PNG depth={depth} interlace={interlace} is not supported "
            "(8/16-bit, interlace 0/1 decode built-in)"
        )
    if depth == 16 and color_type == 3:
        raise ValueError("palette PNG cannot be 16-bit")
    ch = _PNG_CHANNELS[color_type]
    bps = depth // 8
    bpp = ch * bps
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise ValueError(f"corrupt PNG IDAT stream: {e}") from e
    if interlace == 0:
        stride = w * bpp
        if len(raw) != h * (stride + 1):
            raise ValueError("PNG pixel data length mismatch")
        rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
        recon = _unfilter_rows(rows, bpp)
    else:  # Adam7: 7 independently-filtered sub-images, scattered back
        recon = np.zeros((h, w * bpp), dtype=np.uint8)
        recon3 = recon.reshape(h, w, bpp)
        pos2 = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = max(0, -(-(w - x0) // dx))
            ph = max(0, -(-(h - y0) // dy))
            if pw == 0 or ph == 0:
                continue
            stride = pw * bpp
            need = ph * (stride + 1)
            if pos2 + need > len(raw):
                raise ValueError("PNG pixel data length mismatch")
            rows = np.frombuffer(
                raw[pos2 : pos2 + need], dtype=np.uint8
            ).reshape(ph, stride + 1)
            recon3[y0::dy, x0::dx] = _unfilter_rows(rows, bpp).reshape(
                ph, pw, bpp
            )
            pos2 += need
        if pos2 != len(raw):
            raise ValueError("PNG pixel data length mismatch")
    if depth == 16:
        # big-endian 16-bit samples: keep the high byte (Pillow semantics)
        recon = np.ascontiguousarray(recon.reshape(h, w * ch, 2)[:, :, 0])
    px = recon.reshape(h, w, ch)
    if color_type == 3:
        if plte is None:
            raise ValueError("palette PNG without PLTE chunk")
        return plte[px[:, :, 0]]
    if color_type == 0:
        return np.repeat(px, 3, axis=2)
    if color_type == 4:
        return np.repeat(px[:, :, :1], 3, axis=2)
    return px[:, :, :3]  # RGB / RGBA (alpha dropped)


def sniff_image_format(payload: bytes) -> str | None:
    """Magic-byte sniff: 'bmp' | 'jpeg' | 'png' | 'gif' | None."""
    if payload is None or len(payload) < 8:
        return None
    if payload[:2] == b"BM":
        return "bmp"
    if payload[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    return None


def resize_nearest(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize via index arithmetic (pure numpy, exact
    and deterministic)."""
    h, w = img.shape[:2]
    rows = (np.arange(out_h) * h) // out_h
    cols = (np.arange(out_w) * w) // out_w
    return img[rows[:, None], cols[None, :]]


def media_bytes_stats(spark, sf_dir: str) -> DataFrame:
    """Oracle-checked multimodal-column query: treat each document's utf-8
    bytes as an opaque binary payload (the media analog over real testdata),
    tag a deterministic kind, and aggregate typed metadata per kind —
    count, total/max payload bytes. The payload is only length-inspected;
    nothing decodes it."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    payload = F.encode(F.col("text"), "UTF-8")
    return (
        docs.select(kind.alias("kind"), F.octet_length(payload).alias("nbytes"))
        .groupBy("kind")
        .agg(
            F.count("*").alias("n_media"),
            F.sum("nbytes").alias("total_bytes"),
            F.max("nbytes").alias("max_bytes"),
        )
        .orderBy("kind")
    )


MEDIA_BYTES_STATS_SQL = """
SELECT kind,
       count(*) AS n_media,
       CAST(sum(nbytes) AS BIGINT) AS total_bytes,
       max(nbytes) AS max_bytes
FROM (
  SELECT (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
         octet_length(encode(text)) AS nbytes
  FROM documents
)
GROUP BY kind
ORDER BY kind
"""
