"""Baseline TIFF codec in pure numpy + struct — the scanned-document
format: digitization pipelines (books, forms, archival corpora) still
deliver uncompressed or lightly-wrapped TIFF in volume. Scope is
TIFF 6.0 baseline, uncompressed (Compression=1), PackBits
(32773, the RLE virtually every scanner emits), or LZW (5, TIFF 6.0
section 13 — MSB-first codes with the EarlyChange width rule, a
DIFFERENT dialect than GIF's LZW in operators/gif.py): 8-bit grayscale
(both photometric polarities — WhiteIsZero scans are common), 8-bit
RGB, and palette-color, with multi-strip layouts and BOTH byte orders
('II' little / 'MM' big endian). JPEG-in-TIFF and the
exotic compressions stay error ROWS (the codec-family contract).

Format facts (public: the Adobe TIFF 6.0 specification): an 8-byte
header (byte order, magic 42, first IFD offset); each IFD is a
count-prefixed array of 12-byte entries (tag, type, count,
value-or-offset — values <= 4 bytes are stored INLINE, a real-world
parsing trap covered by tests); pixel data lives in strips located by
StripOffsets/StripByteCounts with RowsPerStrip rows each.

Scale shape: decode is row-local inside ``mapInPandas`` over pruned
(id, blob) columns, zero exchanges; malformed blobs are error rows;
the 64 MP pixel budget is enforced from the IFD before any strip is
touched.

Reference parity: beyond-reference multimodal toolkit (the
png/jpeg/gif/avi/bmp family); the reference engine never decodes
media.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from atiesh_spark.session import widen_for_python_stage

__all__ = ["encode_tiff", "decode_tiff"]

MAX_PIXELS = 64_000_000  # shared budget (jpeg/png/bmp rationale)


def _packbits_encode(data: bytes) -> bytes:
    """Apple PackBits (TIFF compression 32773): repeat runs of 2-128
    as (257-n, byte), literal runs of 1-128 as (n-1, bytes)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        # find a repeat run
        j = i
        while j + 1 < n and data[j + 1] == data[j] and j - i < 127:
            j += 1
        if j > i:  # run of j-i+1 identical bytes
            out.append(257 - (j - i + 1))
            out.append(data[i])
            i = j + 1
            continue
        # literal run: until the next >=3 repeat or 128 bytes
        j = i
        while (
            j < n and j - i < 128
            and not (j + 2 < n and data[j + 1] == data[j]
                     and data[j + 2] == data[j])
        ):
            j += 1
        out.append(j - i - 1)
        out += data[i:j]
        i = j
    return bytes(out)


def _packbits_decode(data: bytes, expected: int) -> bytes:
    """Inverse of :func:`_packbits_encode`, bounded at ``expected``
    output bytes (a crafted strip must not balloon)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n and len(out) < expected:
        b = data[i]
        i += 1
        if b == 128:  # noop per spec
            continue
        if b < 128:  # literal of b+1 bytes
            if i + b + 1 > n:
                raise ValueError("packbits literal truncated")
            out += data[i : i + b + 1]
            i += b + 1
        else:  # repeat next byte 257-b times
            if i >= n:
                raise ValueError("packbits run truncated")
            out += bytes([data[i]]) * (257 - b)
            i += 1
    if len(out) != expected:
        raise ValueError(
            f"packbits strip decoded {len(out)} bytes, expected {expected}"
        )
    return bytes(out)

def _lzw_encode_tiff(data: bytes) -> bytes:
    """TIFF-variant LZW (compression 5; TIFF 6.0 section 13): unlike
    GIF's, codes pack MSB-FIRST, the table starts at 9 bits with
    ClearCode=256 / EOI=257, and the width bumps one code EARLY
    (the spec's "EarlyChange": at table size 510/1022/2046, not
    511/1023/2047)."""
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
        acc &= (1 << nbits) - 1

    CLEAR, EOI = 256, 257
    width = 9
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    emit(CLEAR, width)
    buf = b""
    for b in data:
        cand = buf + bytes([b])
        if cand in table:
            buf = cand
            continue
        emit(table[buf], width)
        table[cand] = next_code
        next_code += 1
        # EarlyChange sync: the decoder (one table entry behind, per
        # the spec's "when NextCode equals 511, switch to 10 bits")
        # bumps at next_assignable == 2^w - 1, which maps to the
        # encoder's next_code == 2^w
        if next_code == (1 << width) and width < 12:
            width += 1
        if next_code == 4094:  # table nearly full: reset
            emit(CLEAR, width)
            width = 9
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
        buf = bytes([b])
    if buf:
        emit(table[buf], width)
    emit(EOI, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _lzw_decode_tiff(data: bytes, expected: int) -> bytes:
    """Inverse of :func:`_lzw_encode_tiff`, bounded at ``expected``
    output bytes."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    acc = 0
    nbits = 0
    pos = 0
    width = 9
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    prev: bytes | None = None

    while True:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("LZW stream truncated (no EOI)")
            acc = (acc << 8) | data[pos]
            nbits += 8
            pos += 1
        code = (acc >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        acc &= (1 << nbits) - 1
        if code == CLEAR:
            width = 9
            table = table[:258]
            prev = None
            continue
        if code == EOI:
            break
        if prev is None:
            if code >= 256:
                raise ValueError("first LZW code not a literal")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError(f"LZW code {code} out of range")
        out += entry
        if len(out) > expected:
            raise ValueError("LZW output exceeds declared strip size")
        if prev is not None:
            table.append(prev + entry[:1])
        prev = entry
        # decoder mirrors EarlyChange: bump when the table is one
        # short of the width's capacity
        if len(table) == (1 << width) - 1 and width < 12:
            width += 1
    if len(out) != expected:
        raise ValueError(
            f"LZW decoded {len(out)} bytes, expected {expected}"
        )
    return bytes(out)


_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}  # BYTE ASCII SHORT LONG RATIONAL


def encode_tiff(
    px: np.ndarray,
    palette: np.ndarray | None = None,
    rows_per_strip: int | None = None,
    big_endian: bool = False,
    white_is_zero: bool = False,
    packbits: bool = False,
    lzw: bool = False,
) -> bytes:
    """Writer side (tests + synthetic media): (h, w) uint8 grayscale,
    (h, w, 3) uint8 RGB, or 2-D palette indices + ``palette``
    ((n<=256, 3) uint8). ``rows_per_strip`` splits the image into
    multiple strips; ``big_endian`` writes 'MM' order;
    ``white_is_zero`` stores grayscale with inverted polarity
    (photometric 0) so the decoder's normalization is testable."""
    px = np.asarray(px, dtype=np.uint8)
    e = ">" if big_endian else "<"
    if palette is not None:
        if px.ndim != 2:
            raise ValueError("palette image must be 2-D indices")
        pal = np.asarray(palette, dtype=np.uint8)
        if pal.ndim != 2 or pal.shape[1] != 3 or not 0 < len(pal) <= 256:
            raise ValueError("palette must be (n<=256, 3) uint8")
        if int(px.max(initial=0)) >= len(pal):
            raise ValueError("palette index out of range")
        photometric, spp = 3, 1
        data_px = px
    elif px.ndim == 2:
        photometric, spp = (0 if white_is_zero else 1), 1
        data_px = (255 - px) if white_is_zero else px
    elif px.ndim == 3 and px.shape[2] == 3:
        if white_is_zero:
            raise ValueError("white_is_zero applies to grayscale only")
        photometric, spp = 2, 3
        data_px = px
    else:
        raise ValueError("unsupported pixel shape")
    h, w = px.shape[:2]
    rps = rows_per_strip or h
    strips = [
        data_px[y : y + rps].tobytes() for y in range(0, h, rps)
    ]
    if packbits and lzw:
        raise ValueError("pick one compression")
    if packbits:
        strips = [_packbits_encode(st) for st in strips]
    elif lzw:
        strips = [_lzw_encode_tiff(st) for st in strips]

    def entry(tag: int, typ: int, count: int, value) -> tuple[bytes, bytes]:
        """(12-byte IFD entry, out-of-line payload or b'')."""
        size = _TYPE_SIZES[typ] * count
        fmt = {3: "H", 4: "I", 1: "B"}[typ]
        packed = struct.pack(f"{e}{count}{fmt}", *(
            value if isinstance(value, (list, tuple)) else [value]
        ))
        if size <= 4:
            return (
                struct.pack(f"{e}HHI", tag, typ, count)
                + packed + b"\x00" * (4 - size),
                b"",
            )
        return struct.pack(f"{e}HHI", tag, typ, count), packed

    # layout: header(8) + IFD + out-of-line values + strips
    tags: list[tuple[int, int, int, object]] = [
        (256, 4, 1, w), (257, 4, 1, h),
        (258, 3, spp, [8] * spp),
        (259, 3, 1, 32773 if packbits else (5 if lzw else 1)),
        (262, 3, 1, photometric),
        (277, 3, 1, spp),
        (278, 4, 1, rps),
    ]
    if palette is not None:
        n = len(pal)
        cmap: list[int] = []
        for c in range(3):  # TIFF colormap: all reds, all greens, blues
            cmap.extend(int(v) << 8 for v in pal[:, c])
        tags.append((320, 3, 3 * n, cmap))
    # strip tags appended after we know the layout; reserve them now
    n_strips = len(strips)
    tags.append((273, 4, n_strips, [0] * n_strips))  # offsets (patched)
    tags.append((279, 4, n_strips, [len(s) for s in strips]))
    tags.sort(key=lambda t: t[0])

    n_entries = len(tags)
    ifd_size = 2 + 12 * n_entries + 4
    pos_extra = 8 + ifd_size
    entries: list[bytes] = []
    extra_offsets: dict[int, int] = {}
    # first pass: compute out-of-line sizes to place strips
    off = pos_extra
    for tag, typ, count, value in tags:
        if _TYPE_SIZES[typ] * count > 4:
            extra_offsets[tag] = off
            off += _TYPE_SIZES[typ] * count
            off += off & 1  # keep word alignment
    strip_start = off
    strip_offsets = []
    for s in strips:
        strip_offsets.append(strip_start)
        strip_start += len(s)
    # second pass: emit with real values
    for tag, typ, count, value in tags:
        if tag == 273:
            value = strip_offsets if n_strips > 1 else strip_offsets[0]
            count = n_strips
        ent, extra = entry(tag, typ, count, value)
        if extra:
            ent = ent[:8] + struct.pack(f"{e}I", extra_offsets[tag])
        entries.append(ent)
        # extras must be emitted in offset order; collect aligned
    out = bytearray()
    out += (b"MM" if big_endian else b"II") + struct.pack(f"{e}H", 42)
    out += struct.pack(f"{e}I", 8)
    out += struct.pack(f"{e}H", n_entries)
    out += b"".join(entries)
    out += struct.pack(f"{e}I", 0)  # no next IFD
    for tag, typ, count, value in tags:
        if tag in extra_offsets:
            if tag == 273:
                value = strip_offsets
            packed = struct.pack(
                f"{e}{count}{ {3: 'H', 4: 'I', 1: 'B'}[typ] }",
                *(value if isinstance(value, (list, tuple)) else [value]),
            )
            while len(out) < extra_offsets[tag]:
                out += b"\x00"
            out += packed
    while len(out) < strip_offsets[0] if strip_offsets else False:
        out += b"\x00"
    for s in strips:
        out += s
    return bytes(out)


def _read_ifd_value(blob, e, typ, count, raw):
    size = _TYPE_SIZES.get(typ)
    if size is None:
        raise ValueError(f"unsupported IFD type {typ}")
    fmt = {1: "B", 3: "H", 4: "I"}.get(typ)
    if fmt is None:
        raise ValueError(f"unsupported IFD value type {typ}")
    total = size * count
    if total <= 4:
        data = raw[:total]
    else:
        (off,) = struct.unpack(f"{e}I", raw)
        if off + total > len(blob):
            raise ValueError("IFD value overruns blob")
        data = blob[off : off + total]
    return list(struct.unpack(f"{e}{count}{fmt}", data))


def _parse_tiff(blob: bytes) -> tuple[int, int, int, np.ndarray]:
    """(width, height, n_channels, pixels) — (h, w) uint8 grayscale
    or (h, w, 3) RGB (palette expanded). Raises ValueError on
    malformed or non-baseline-uncompressed input."""
    if len(blob) < 8:
        raise ValueError("not a TIFF (too short)")
    if blob[:2] == b"II":
        e = "<"
    elif blob[:2] == b"MM":
        e = ">"
    else:
        raise ValueError("not a TIFF (bad byte order mark)")
    (magic,) = struct.unpack(f"{e}H", blob[2:4])
    if magic != 42:
        raise ValueError(f"not a TIFF (magic {magic})")
    (ifd_off,) = struct.unpack(f"{e}I", blob[4:8])
    if ifd_off + 2 > len(blob):
        raise ValueError("IFD offset out of range")
    (n_entries,) = struct.unpack(f"{e}H", blob[ifd_off : ifd_off + 2])
    if n_entries == 0 or ifd_off + 2 + 12 * n_entries + 4 > len(blob):
        raise ValueError("IFD truncated")
    tags: dict[int, list[int]] = {}
    for i in range(n_entries):
        p = ifd_off + 2 + 12 * i
        tag, typ, count = struct.unpack(f"{e}HHI", blob[p : p + 8])
        if tag in (256, 257, 258, 259, 262, 273, 277, 278, 279, 320):
            tags[tag] = _read_ifd_value(blob, e, typ, count, blob[p + 8 : p + 12])
    for req in (256, 257, 273, 279):
        if req not in tags:
            raise ValueError(f"missing required tag {req}")
    w, h = tags[256][0], tags[257][0]
    comp = tags.get(259, [1])[0]
    photometric = tags.get(262, [1])[0]
    spp = tags.get(277, [1])[0]
    bits = tags.get(258, [8])
    if comp not in (1, 5, 32773):
        raise ValueError(
            f"only uncompressed/LZW/PackBits TIFF supported, got {comp}"
        )
    if any(b != 8 for b in bits) or len(bits) != spp:
        raise ValueError(f"only 8-bit samples supported, got {bits}")
    if spp not in (1, 3):
        raise ValueError(f"unsupported samples/pixel {spp}")
    if photometric not in (0, 1, 2, 3):
        raise ValueError(f"unsupported photometric {photometric}")
    if (photometric == 2) != (spp == 3):
        raise ValueError("photometric/samples mismatch")
    if w <= 0 or h <= 0:
        raise ValueError("bad dimensions")
    if w * h > MAX_PIXELS:
        raise ValueError(f"frame {w}x{h} exceeds pixel budget {MAX_PIXELS}")
    offsets, counts = tags[273], tags[279]
    if len(offsets) != len(counts):
        raise ValueError("strip offset/count length mismatch")
    rps = tags.get(278, [h])[0] or h
    row_bytes = w * spp
    parts = []
    for si, (off, cnt) in enumerate(zip(offsets, counts)):
        if off + cnt > len(blob):
            raise ValueError("strip overruns blob")
        part = blob[off : off + cnt]
        if comp in (5, 32773):
            n_rows = min(rps, h - si * rps)
            if n_rows <= 0:
                raise ValueError("more strips than rows")
            expected_strip = n_rows * row_bytes
            part = (
                _packbits_decode(part, expected_strip)
                if comp == 32773
                else _lzw_decode_tiff(part, expected_strip)
            )
        parts.append(part)
    raw = b"".join(parts)
    need = w * h * spp
    if len(raw) != need:
        raise ValueError(f"strip bytes {len(raw)} != expected {need}")
    arr = np.frombuffer(raw, dtype=np.uint8)
    if photometric == 3:
        cmap = tags.get(320)
        if cmap is None or len(cmap) % 3:
            raise ValueError("palette image without a valid ColorMap")
        n = len(cmap) // 3
        if int(arr.max(initial=0)) >= n:
            raise ValueError("palette index out of range")
        pal = (np.array(cmap, dtype=np.uint16).reshape(3, n).T >> 8).astype(
            np.uint8
        )
        return w, h, 3, pal[arr].reshape(h, w, 3)
    if spp == 1:
        img = arr.reshape(h, w)
        if photometric == 0:  # WhiteIsZero: invert to the usual polarity
            img = 255 - img
        return w, h, 1, img
    return w, h, 3, arr.reshape(h, w, 3)


TIFF_DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("mean_r", FloatType()),
        StructField("mean_g", FloatType()),
        StructField("mean_b", FloatType()),
        StructField("error", StringType()),
    ]
)


def decode_tiff(df: DataFrame, id_col: str, blob_col: str) -> DataFrame:
    """REAL scanned-document decode for baseline uncompressed TIFF:
    IFD walk (inline vs offset values, both byte orders) + strip
    assembly + photometric normalization + palette expansion, one
    Arrow batch at a time through ``mapInPandas``. Malformed or
    compressed blobs yield ``error`` rows (the q161/q194/q237
    contract). Grayscale reports its channel in all three means."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, blob in zip(pdf[id_col], pdf[blob_col]):
                try:
                    if blob is None:
                        raise ValueError("NULL blob")
                    w, h, nc, px = _parse_tiff(bytes(blob))
                    if nc == 1:
                        m = round(float(px.mean()), 4)
                        means = [m, m, m]
                    else:
                        means = [
                            round(float(px[:, :, c].mean()), 4)
                            for c in range(3)
                        ]
                    out.append((mid, "TIFF", w, h, nc, *means, None))
                except (ValueError, struct.error, IndexError,
                        OverflowError) as exc:
                    out.append((mid, None, None, None, None,
                                None, None, None, str(exc)))
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "format", "width", "height", "n_channels",
                    "mean_r", "mean_g", "mean_b", "error",
                ],
            )

    return widen_for_python_stage(
        df.select(F.col(id_col), F.col(blob_col))
    ).mapInPandas(gen, schema=TIFF_DECODED_SCHEMA)
