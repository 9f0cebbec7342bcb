"""From-scratch GIF codec (GIF87a/89a): LZW + palettes + interlace,
pure numpy/stdlib — no Pillow, no native deps.

Written from the public specification (GIF89a spec, CompuServe 1990;
the LZW variant is the 12-bit variable-width code described there). No
registered query or pipeline stage calls it. It covers:

* logical screen descriptor + global/local color tables;
* image descriptors, including per-frame palettes and the 4-pass
  interlace (rows 0::8, 4::8, 2::4, 1::2);
* extension blocks (graphic control / comment / application) parsed and
  skipped — transparency is deliberately IGNORED when converting to
  RGB, matching what ``PIL.Image.convert("RGB")`` does on a P-mode
  frame;
* LZW with LSB-first bit packing, variable code width 3..12 bits,
  clear/EOI codes, and the "deferred clear" case (a full 4095-entry
  table with no clear code keeps emitting 12-bit codes);
* animation: every frame decodes; ``decode_gif`` returns the FIRST
  frame composited onto the logical screen (Pillow's default frame),
  ``decode_gif_frames`` yields all of them.

The encoder exists to make the decoder testable without fixtures from
an external tool: real LZW compression (greedy longest-match against a
growing table, reset on overflow), optional interlace, optional extra
frames — roundtrip identity is asserted in tests, and the encoder
deliberately emits a graphic-control extension so the skip path is
always exercised.
"""

from __future__ import annotations

import struct

import numpy as np

_MAX_CODE_WIDTH = 12
_TABLE_CAP = 1 << _MAX_CODE_WIDTH


# ---------------------------------------------------------------------------
# LZW
# ---------------------------------------------------------------------------

def _lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> bytes:
    """GIF-variant LZW: LSB-first bitstream → index bytes."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    # bit reader state
    acc = 0
    nbits = 0
    pos = 0
    width = min_code_size + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    prev: int | None = None
    while True:
        while nbits < width:
            if pos >= len(data):
                # truncated stream: tolerate (some encoders omit EOI)
                return bytes(out[:n_pixels])
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("gif: first LZW code out of range")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = table[prev] + table[prev][:1]
        else:
            raise ValueError("gif: LZW code out of range")
        out += entry
        if prev is not None and len(table) < _TABLE_CAP:
            table.append(table[prev] + entry[:1])
            # width grows when the table reaches the current code space —
            # capped at 12 bits (deferred clear: stay at 12)
            if len(table) == (1 << width) and width < _MAX_CODE_WIDTH:
                width += 1
        prev = code
        if len(out) >= n_pixels:
            break
    return bytes(out[:n_pixels])


def _lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """Greedy longest-match LZW, table reset on overflow."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    def fresh() -> dict[bytes, int]:
        return {bytes([i]): i for i in range(clear)}

    table = fresh()
    next_code = eoi + 1
    width = min_code_size + 1
    emit(clear, width)
    run = b""
    for b in indices:
        cand = run + bytes([b])
        if cand in table:
            run = cand
            continue
        emit(table[run], width)
        if next_code < _TABLE_CAP:
            table[cand] = next_code
            # widen once the table holds 1<<width entries (mirror of the
            # decoder's post-append len(table) == 1<<width check): the
            # next emit/read may carry a code needing width+1 bits
            if next_code == (1 << width) and width < _MAX_CODE_WIDTH:
                width += 1
            next_code += 1
        else:
            emit(clear, width)
            table = fresh()
            next_code = eoi + 1
            width = min_code_size + 1
        run = bytes([b])
    if run:
        emit(table[run], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


# ---------------------------------------------------------------------------
# container
# ---------------------------------------------------------------------------

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _deinterlace_rows(h: int) -> np.ndarray:
    order = []
    for start, step in _INTERLACE_PASSES:
        order.extend(range(start, h, step))
    inv = np.empty(h, dtype=np.int64)
    inv[np.asarray(order, dtype=np.int64)] = np.arange(h)
    return inv


def _read_subblocks(buf: bytes, pos: int) -> tuple[bytes, int]:
    chunks = []
    while True:
        if pos >= len(buf):
            raise ValueError("gif: truncated sub-block chain")
        n = buf[pos]
        pos += 1
        if n == 0:
            return b"".join(chunks), pos
        chunks.append(buf[pos : pos + n])
        pos += n


def decode_gif_frames(payload: bytes):
    """Yield (top, left, rgb uint8 (h, w, 3)) per frame, palette-mapped.

    Transparency and disposal are ignored (RGB conversion semantics —
    see module docstring); callers wanting the usual single-image view
    use ``decode_gif``.
    """
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("gif: bad signature")
    sw, sh, packed, _bg, _aspect = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(payload, np.uint8, 3 * n, pos).reshape(n, 3)
        pos += 3 * n
    if sw == 0 or sh == 0:
        raise ValueError("gif: zero logical screen")
    while pos < len(payload):
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer
            return
        if block == 0x21:  # extension: label + sub-blocks, skip
            pos += 1
            _, pos = _read_subblocks(payload, pos)
            continue
        if block != 0x2C:
            raise ValueError(f"gif: unknown block 0x{block:02x}")
        left, top, w, h, ipacked = struct.unpack_from("<HHHHB", payload, pos)
        pos += 9
        pal = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            pal = np.frombuffer(payload, np.uint8, 3 * n, pos).reshape(n, 3)
            pos += 3 * n
        if pal is None:
            raise ValueError("gif: frame without any color table")
        min_code_size = payload[pos]
        pos += 1
        if not 2 <= min_code_size <= 11:
            raise ValueError("gif: bad LZW min code size")
        data, pos = _read_subblocks(payload, pos)
        idx = np.frombuffer(
            _lzw_decode(data, min_code_size, w * h), np.uint8
        )
        if len(idx) < w * h:
            raise ValueError("gif: pixel data underrun")
        if idx.max(initial=0) >= len(pal):
            raise ValueError("gif: palette index out of range")
        rows = idx.reshape(h, w)
        if ipacked & 0x40:
            rows = rows[_deinterlace_rows(h)]
        yield top, left, pal[rows]


def decode_gif(payload: bytes) -> np.ndarray:
    """payload → first frame as uint8 (screen_h, screen_w, 3) RGB."""
    sw, sh = struct.unpack_from("<HH", payload, 6)
    screen = np.zeros((sh, sw, 3), dtype=np.uint8)
    for top, left, rgb in decode_gif_frames(payload):
        h, w = rgb.shape[:2]
        screen[top : top + h, left : left + w] = rgb[
            : max(0, sh - top), : max(0, sw - left)
        ]
        return screen
    raise ValueError("gif: no image frame before trailer")


def _palettize(rgb: np.ndarray) -> tuple[bytes, np.ndarray]:
    flat = rgb.reshape(-1, 3)
    pal, inv = np.unique(flat, axis=0, return_inverse=True)
    if len(pal) > 256:
        raise ValueError("gif encoder: more than 256 distinct colors")
    size = 2
    while size < max(len(pal), 2):
        size *= 2
    pad = np.zeros((size - len(pal), 3), dtype=np.uint8)
    return np.vstack([pal, pad]), inv.astype(np.uint8)


def _to_subblocks(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def encode_gif(
    rgb: np.ndarray,
    interlace: bool = False,
    extra_frames: list[np.ndarray] | None = None,
) -> bytes:
    """uint8 (h, w, 3) → GIF89a bytes (≤256 distinct colors per frame).

    ``extra_frames`` appends full-screen frames (an animation); every
    frame gets its own local color table so palettes are per-frame
    exact."""
    h, w = rgb.shape[:2]
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x00, 0, 0)  # no global table
    # graphic-control extension (fixed benign payload): exercises the
    # extension-skip path in every decode
    out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    for frame in [rgb] + list(extra_frames or []):
        if frame.shape[:2] != (h, w):
            raise ValueError("gif encoder: frame size mismatch")
        pal, idx = _palettize(frame)
        pal_bits = max(1, int(np.log2(len(pal))))
        ipacked = 0x80 | (0x40 if interlace else 0) | (pal_bits - 1)
        out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, ipacked)
        out += pal.tobytes()
        rows = idx.reshape(h, w)
        if interlace:
            order = [
                r
                for start, step in _INTERLACE_PASSES
                for r in range(start, h, step)
            ]
            rows = rows[np.asarray(order, dtype=np.int64)]
        min_code_size = max(2, pal_bits)
        out.append(min_code_size)
        out += _to_subblocks(_lzw_encode(rows.tobytes(), min_code_size))
    out.append(0x3B)
    return bytes(out)
