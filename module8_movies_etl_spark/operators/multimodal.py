"""Multimodal (binary) column plumbing (SURVEY.md §2.13).

Image/audio/video payloads are opaque ``binary`` columns traveling
with typed metadata — the engine treats decode as a pluggable
Arrow-batched stage (``mapInPandas``): the Spark-side contract
(schema, batching, partition flow) is real and tested; the codec is
the caller's per-row ``decoder`` (``extract_media_features``) or
``sampler`` (``sample_frames``). This module's codecs are real and
pure Python, one per compression family: ``decode_bmp`` /
``decode_wav`` (header-parsed), ``decode_gif`` (LZW), ``decode_png``
(DEFLATE), ``decode_jpeg`` (baseline DCT/Huffman) and
``decode_avi_video`` (motion-JPEG AVI). Inter-frame video codecs
(H.264/VP9/AV1) need a library such as ffmpeg, bound through the
same slot.

Scale notes: binary payloads make wide rows — keep them OUT of
shuffles (attach features first, shuffle features only), size
``spark.sql.files.maxPartitionBytes`` so a partition of blobs fits in
executor memory, and never collect payloads to the driver.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
    ]
)


def attach_payload_meta(
    df: DataFrame, payload_col: str, mime: str = "application/octet-stream"
) -> DataFrame:
    """Attach the typed metadata struct every downstream stage keys on
    (size, content hash, mime) — computed JVM-side, payload untouched."""
    p = F.col(payload_col)
    return df.withColumn(
        "media_meta",
        F.struct(
            F.lit(mime).alias("mime"),
            F.octet_length(p).cast("long").alias("n_bytes"),
            F.sha2(p, 256).alias("content_sha"),
        ),
    )


def make_bmp(doc_id: int) -> bytes:
    """Deterministic REAL 24-bpp uncompressed BMP: standard
    BITMAPFILEHEADER + BITMAPINFOHEADER + bottom-up rows with 4-byte
    stride padding — any image viewer opens it. Dimensions and the
    two alternating channel-byte values derive from ``doc_id`` alone,
    so an oracle can state the decoded features in closed form while
    the decoder still has to parse genuine headers and skip genuine
    row padding. Width 4–16 sweeps every ``3·w mod 4`` padding class.
    """
    import struct

    w = 4 + doc_id % 13
    h = 3 + doc_id % 7
    v1 = doc_id % 256
    v2 = (doc_id * 7 + 13) % 256
    stride = (3 * w + 3) // 4 * 4
    rows = bytearray()
    j = 0
    for _r in range(h):
        for _k in range(3 * w):
            rows.append(v1 if j % 2 == 0 else v2)
            j += 1
        rows += b"\x00" * (stride - 3 * w)
    img_size = stride * h
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + img_size, 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    return header + info + bytes(rows)


def decode_bmp(payload: bytes) -> dict[str, Any]:
    """REAL BMP decoder (pure Python, no media library): validates the
    'BM' magic, reads the pixel-array offset from the file header and
    (width, height, bpp, compression) from the info header, walks the
    4-byte-aligned rows skipping stride padding, and reports mean
    channel intensity. Handles top-down (negative height) bitmaps.
    Only 24-bpp uncompressed is supported — the format every paint
    tool exports — anything else raises rather than guessing.

    ``mean_luma`` is the raw IEEE division of the exact byte sum —
    bit-identical to an oracle's closed form. It is not rounded: a
    Python ``round`` (half-even) and SQL ``round`` (half-away) would
    diverge on ties."""
    import struct

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload (missing 'BM' magic)")
    (offset,) = struct.unpack_from("<I", payload, 10)
    _hdr, w, h = struct.unpack_from("<Iii", payload, 14)
    bpp, = struct.unpack_from("<H", payload, 28)
    compression, = struct.unpack_from("<I", payload, 30)
    if bpp != 24 or compression != 0:
        raise ValueError(
            f"decode_bmp supports 24-bpp uncompressed only "
            f"(got bpp={bpp}, compression={compression})"
        )
    h_abs = -h if h < 0 else h
    stride = (3 * w + 3) // 4 * 4
    total = 0
    for r in range(h_abs):
        start = offset + r * stride
        total += sum(payload[start : start + 3 * w])
    return {
        "width": w,
        "height": h_abs,
        "n_channels": 3,
        "mean_luma": total / (3 * w * h_abs * 255.0),
    }


def resize_bmp_half(payload: bytes) -> dict[str, Any]:
    """REAL image RESIZE on genuine container bytes: decode the 24-bpp
    BMP (same header/stride/orientation handling as ``decode_bmp``),
    then 2×2 BOX-DOWNSAMPLE in display orientation — each output
    channel byte is ``floor(sum of the 4 source bytes / 4)``, the
    textbook area-average used by every thumbnailer; odd trailing
    row/column are cropped (out dims = ⌊w/2⌋ × ⌊h/2⌋). Emits the
    output dims, the exact integer checksum of ALL downsampled
    channel bytes, and the downsampled mean luma (one raw IEEE
    division — bit-identical to a closed-form oracle).

    This is the transform slot of the decode → RESIZE → feature
    pipeline a production build binds PIL's ``Image.resize`` into;
    here the pixel arithmetic itself is real and oracle-checkable.
    """
    import struct

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload (missing 'BM' magic)")
    (offset,) = struct.unpack_from("<I", payload, 10)
    _hdr, w, h = struct.unpack_from("<Iii", payload, 14)
    bpp, = struct.unpack_from("<H", payload, 28)
    compression, = struct.unpack_from("<I", payload, 30)
    if bpp != 24 or compression != 0:
        raise ValueError("resize_bmp_half supports 24-bpp uncompressed only")
    top_down = h < 0
    h_abs = -h if top_down else h
    stride = (3 * w + 3) // 4 * 4
    # rows in DISPLAY order (top row first), padding stripped
    rows = []
    for disp_r in range(h_abs):
        stored_r = disp_r if top_down else h_abs - 1 - disp_r
        start = offset + stored_r * stride
        rows.append(payload[start : start + 3 * w])
    out_w, out_h = w // 2, h_abs // 2
    checksum = 0
    for br in range(out_h):
        top, bot = rows[2 * br], rows[2 * br + 1]
        for bc in range(out_w):
            for ch in range(3):
                k = 6 * bc + ch  # left pixel's channel byte
                s = top[k] + top[k + 3] + bot[k] + bot[k + 3]
                checksum += s // 4
    n_out = 3 * out_w * out_h
    return {
        "out_width": out_w,
        "out_height": out_h,
        "ds_checksum": checksum,
        "ds_mean_luma": checksum / (n_out * 255.0) if n_out else None,
    }


def make_png(doc_id: int) -> bytes:
    """Deterministic REAL PNG (pure stdlib): 8-byte signature, IHDR
    (8-bit RGB, color type 2), one zlib-compressed IDAT, IEND — every
    chunk with a genuine CRC32; any image viewer opens it. Dimensions
    and the alternating channel-byte pattern derive from ``doc_id``
    exactly like ``make_bmp`` (same closed-form byte sum), and each
    scanline's filter byte CYCLES through all five PNG filter types
    (None/Sub/Up/Average/Paeth by row index), so a decoder cannot
    pass without implementing genuine INFLATE plus every unfilter
    recurrence — this is the COMPRESSED-codec member of the media
    suite, beside the header-parsed BMP/WAV."""
    import struct
    import zlib

    w = 4 + doc_id % 13
    h = 3 + doc_id % 7
    v1 = doc_id % 256
    v2 = (doc_id * 7 + 13) % 256
    rowbytes = 3 * w
    raws = []
    j = 0
    for _r in range(h):
        row = bytearray()
        for _k in range(rowbytes):
            row.append(v1 if j % 2 == 0 else v2)
            j += 1
        raws.append(bytes(row))

    def paeth(a: int, b: int, c: int) -> int:
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    stream = bytearray()
    prior = bytes(rowbytes)
    for r, raw in enumerate(raws):
        ft = r % 5
        stream.append(ft)
        for i in range(rowbytes):
            left = raw[i - 3] if i >= 3 else 0
            up = prior[i]
            ul = prior[i - 3] if i >= 3 else 0
            if ft == 0:
                enc = raw[i]
            elif ft == 1:
                enc = raw[i] - left
            elif ft == 2:
                enc = raw[i] - up
            elif ft == 3:
                enc = raw[i] - (left + up) // 2
            else:
                enc = raw[i] - paeth(left, up, ul)
            stream.append(enc & 0xFF)
        prior = raw

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(stream)))
        + chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> dict[str, Any]:
    """REAL PNG decoder (pure stdlib, no media library): validates
    the signature, walks the chunk stream verifying every CRC32,
    parses IHDR (8-bit RGB non-interlaced only — anything else raises
    rather than guessing), concatenates IDAT, zlib-INFLATES, and
    inverts all five scanline filters (None/Sub/Up/Average/Paeth with
    the spec's integer recurrences) to recover raw pixel bytes.
    Returns the same feature dict as ``decode_bmp`` — ``mean_luma``
    is the raw IEEE division of the exact recovered byte sum, so a
    closed-form oracle can pin inflate + unfiltering end to end."""
    import struct
    import zlib

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload (bad signature)")
    pos = 8
    ihdr = None
    idat = bytearray()
    while pos < len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, ctype_n, comp, filt, interlace = ihdr
    if (depth, ctype_n, comp, filt, interlace) != (8, 2, 0, 0, 0):
        raise ValueError(
            "decode_png supports 8-bit RGB non-interlaced only "
            f"(got depth={depth}, color={ctype_n}, interlace={interlace})"
        )
    stream = zlib.decompress(bytes(idat))
    rowbytes = 3 * w
    if len(stream) != h * (rowbytes + 1):
        raise ValueError("PNG pixel stream length mismatch")

    def paeth(a: int, b: int, c: int) -> int:
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    total = 0
    prior = bytes(rowbytes)
    for r in range(h):
        base = r * (rowbytes + 1)
        ft = stream[base]
        if ft > 4:
            raise ValueError(f"PNG row {r}: unknown filter type {ft}")
        row = bytearray(rowbytes)
        for i in range(rowbytes):
            x = stream[base + 1 + i]
            left = row[i - 3] if i >= 3 else 0
            up = prior[i]
            ul = prior[i - 3] if i >= 3 else 0
            if ft == 1:
                x += left
            elif ft == 2:
                x += up
            elif ft == 3:
                x += (left + up) // 2
            elif ft == 4:
                x += paeth(left, up, ul)
            row[i] = x & 0xFF
        total += sum(row)
        prior = bytes(row)
    return {
        "width": w,
        "height": h,
        "n_channels": 3,
        "mean_luma": total / (3 * w * h * 255.0),
    }


def _jpeg_zigzag() -> list[int]:
    """The spec's zigzag scan order as natural (row*8+col) positions —
    generated by the walk, not transcribed, so it cannot typo."""
    order, r, c = [], 0, 0
    for _ in range(64):
        order.append(r * 8 + c)
        if (r + c) % 2 == 0:  # moving up-right
            if c == 7:
                r += 1
            elif r == 0:
                c += 1
            else:
                r -= 1
                c += 1
        else:  # moving down-left
            if r == 7:
                c += 1
            elif c == 0:
                r += 1
            else:
                r += 1
                c -= 1
    return order


_JPEG_ZZ = _jpeg_zigzag()

# Canonical Huffman tables the generator emits via DHT (compact but
# fully standard: the decoder builds its decode structures from the
# DHT segment, exactly as for any third-party baseline JPEG). BITS is
# the spec's 16-entry codes-per-length array; HUFFVAL the symbols in
# canonical order. None of these tables assigns an all-ones codeword.
_JPEG_DC_LUMA = (
    [0, 3, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0],
    [0, 1, 2, 3, 4, 5, 6],  # DC categories 0..6 (diffs to ±63)
)
_JPEG_AC_LUMA = (
    [0, 1, 1, 0, 9, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0],
    # EOB, ZRL, then the (run<<4)|size symbols the generator's
    # coefficient patterns produce (runs 6/8/13, sizes 1..3)
    [0x00, 0xF0, 0x61, 0x62, 0x63, 0x81, 0x82, 0x83, 0xD1, 0xD2, 0xD3],
)
_JPEG_DC_CHROMA = (
    [1, 0, 3, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0],
    [0, 1, 2, 3, 4],  # chroma DC diffs are small (categories 0..4)
)
_JPEG_AC_CHROMA = (
    [1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0],
    [0x00],  # chroma blocks are DC-only: EOB immediately
)


def _jpeg_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (codeword, length) via the spec's canonical
    assignment (Annex C code-generation procedure)."""
    out, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


def _jpeg_decode_table(
    bits: list[int], vals: list[int]
) -> dict[tuple[int, int], int]:
    """(length, codeword) -> symbol, the inverse of ``_jpeg_codes``."""
    out, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[(ln, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


def _jpeg_cat(v: int) -> tuple[int, int]:
    """JPEG magnitude category + value bits (one's-complement form
    for negatives) for a DC diff or AC coefficient."""
    if v == 0:
        return 0, 0
    s = abs(v).bit_length()
    return s, (v if v > 0 else v + (1 << s) - 1)


def _jpeg_block_coefs(
    doc_id: int, bx: int, by: int, w: int
) -> tuple[int, int, int]:
    """The generator's quantized luma coefficients for block (bx, by):
    (dc, ac at zigzag 14 = basis (0,4), ac at zigzag 39 = basis
    (4,4)). Both AC bases are ±√2/2 cosine columns whose product
    with the flat Q=16 dequant is EXACTLY ±2·coef per pixel, and both
    sum to zero over every full-width row — so the image's byte sum
    has a closed form in doc_id while the decoder still has to run
    genuine Huffman/DPCM/run-length/IDCT to get any pixel right.
    Right-edge partial blocks carry DC only (a cropped row would
    break the ± balance); the AC shape cycles (14-only / 39-only /
    both) so EOB-after-run, double-ZRL, and single-ZRL paths all
    occur."""
    dc = ((doc_id * 3 + 5 * bx + 7 * by) % 33) - 16
    if (bx + 1) * 8 > w:  # partial-width block: DC only
        return dc, 0, 0
    shape = (doc_id + bx + by) % 3
    ac14 = ((doc_id + bx + by) % 5) + 1 if shape in (0, 2) else 0
    ac39 = ((doc_id * 5 + bx + 3 * by) % 4) + 1 if shape in (1, 2) else 0
    return dc, ac14, ac39


def make_jpeg(doc_id: int) -> bytes:
    """Deterministic REAL baseline JFIF/JPEG (pure stdlib): SOI, APP0,
    DQT (flat Q=16 luma+chroma), SOF0 (8-bit, 3 components, 1×1×1 —
    no subsampling), four DHT canonical Huffman tables, SOS, entropy-
    coded scan with 0xFF byte stuffing, EOI — a standards-compliant
    file any JPEG decoder opens. Per-block luma DC levels DPCM-chain
    across the MCU raster; full-width blocks cycle through three AC
    coefficient shapes (zigzag 14, zigzag 39 behind two ZRLs, both)
    exercising run-length and ZRL codes; chroma carries a per-document
    DC offset so the YCbCr→RGB stage is non-trivial. The quantized
    coefficients derive from ``doc_id`` alone and every AC basis
    cancels over full rows, so the decoded RGB byte sum has a closed
    form an oracle can state — but only a decoder that really
    implements inflate-free entropy decoding, dequantization, the 8×8
    IDCT, and color conversion reproduces it."""
    import struct

    w = 9 + doc_id % 16
    h = 9 + doc_id % 8
    crq = (doc_id % 4) * 4 - 4
    cbq = ((doc_id // 4) % 4) * 4 - 4
    bw = (w + 7) // 8
    bh = (h + 7) // 8

    out = bytearray(b"\xff\xd8")  # SOI
    app0 = b"JFIF\x00" + bytes([1, 1, 0]) + struct.pack(">HHBB", 1, 1, 0, 0)
    out += b"\xff\xe0" + struct.pack(">H", 2 + len(app0)) + app0
    dqt = bytes([0]) + bytes([16] * 64) + bytes([1]) + bytes([16] * 64)
    out += b"\xff\xdb" + struct.pack(">H", 2 + len(dqt)) + dqt
    sof = struct.pack(">BHHB", 8, h, w, 3) + bytes(
        [1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]
    )
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof

    def dht(cls: int, tid: int, spec: tuple[list[int], list[int]]) -> bytes:
        bits, vals = spec
        body = bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals)
        return b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body

    out += dht(0, 0, _JPEG_DC_LUMA) + dht(1, 0, _JPEG_AC_LUMA)
    out += dht(0, 1, _JPEG_DC_CHROMA) + dht(1, 1, _JPEG_AC_CHROMA)
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    dc_l = _jpeg_codes(*_JPEG_DC_LUMA)
    ac_l = _jpeg_codes(*_JPEG_AC_LUMA)
    dc_c = _jpeg_codes(*_JPEG_DC_CHROMA)
    ac_c = _jpeg_codes(*_JPEG_AC_CHROMA)

    acc = 0
    nbits = 0

    def put(code: int, length: int) -> None:
        nonlocal acc, nbits
        if length == 0:
            return
        acc = (acc << length) | (code & ((1 << length) - 1))
        nbits += length
        while nbits >= 8:
            nbits -= 8
            b = (acc >> nbits) & 0xFF
            out.append(b)
            if b == 0xFF:
                out.append(0x00)  # byte stuffing
        acc &= (1 << nbits) - 1

    pred = {"y": 0, "cb": 0, "cr": 0}
    for by in range(bh):
        for bx in range(bw):
            dc, ac14, ac39 = _jpeg_block_coefs(doc_id, bx, by, w)
            s, vb = _jpeg_cat(dc - pred["y"])
            pred["y"] = dc
            put(*dc_l[s])
            put(vb, s)
            if ac14:
                s2, vb2 = _jpeg_cat(ac14)
                put(*ac_l[(13 << 4) | s2])  # 13 zeros, then zigzag 14
                put(vb2, s2)
            if ac39:
                run = 39 - (15 if ac14 else 1)  # zeros before zigzag 39
                while run >= 16:
                    put(*ac_l[0xF0])  # ZRL
                    run -= 16
                s2, vb2 = _jpeg_cat(ac39)
                put(*ac_l[(run << 4) | s2])
                put(vb2, s2)
            put(*ac_l[0x00])  # EOB (last nonzero index is always < 63)
            for comp, q in (("cb", cbq), ("cr", crq)):
                s, vb = _jpeg_cat(q - pred[comp])
                pred[comp] = q
                put(*dc_c[s])
                put(vb, s)
                put(*ac_c[0x00])
    if nbits:
        put((1 << (8 - nbits)) - 1, 8 - nbits)  # pad final byte with 1s
    out += b"\xff\xd9"  # EOI
    return bytes(out)


_JPEG_IDCT_BASIS = None


def _jpeg_idct(coefs: "np.ndarray") -> "np.ndarray":
    """8×8 type-III DCT (the JPEG IDCT): f = A·F·Aᵀ with
    A[x,u] = c(u)/2 · cos((2x+1)uπ/16), c(0)=1/√2 — two small
    matmuls per block (numpy), exact to ~1e-13 for integer-valued
    outputs like the generator's rational-basis patterns."""
    global _JPEG_IDCT_BASIS
    import math

    import numpy as np

    if _JPEG_IDCT_BASIS is None:
        a = np.empty((8, 8))
        for x in range(8):
            for u in range(8):
                c = (1.0 / math.sqrt(2.0)) if u == 0 else 1.0
                a[x, u] = 0.5 * c * math.cos((2 * x + 1) * u * math.pi / 16)
        _JPEG_IDCT_BASIS = a
    a = _JPEG_IDCT_BASIS
    return a @ coefs @ a.T


class _JpegBitReader:
    """MSB-first bit reader over the entropy-coded segment, removing
    0xFF00 byte stuffing; any bare marker mid-stream is an error
    (the generator never emits restart intervals)."""

    def __init__(self, buf: bytes, pos: int):
        self.buf = buf
        self.pos = pos
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            b = self.buf[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.buf[self.pos]
                self.pos += 1
                if nxt != 0x00:
                    raise ValueError(
                        f"unexpected marker 0xff{nxt:02x} in entropy data"
                    )
            self.acc = b
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def receive_extend(self, s: int) -> int:
        if s == 0:
            return 0
        v = 0
        for _ in range(s):
            v = (v << 1) | self.bit()
        if v < (1 << (s - 1)):  # negative branch of the spec's EXTEND
            v -= (1 << s) - 1
        return v

    def decode_symbol(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | self.bit()
            sym = table.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in entropy data")


def _parse_jpeg(payload: bytes) -> tuple[int, int, list["np.ndarray"]]:
    """Full baseline JPEG decode (pure stdlib + numpy arithmetic):
    marker walk (APPn/COM skipped, DQT/DHT/SOF0/SOS parsed,
    progressive/extended SOFs and restart intervals rejected rather
    than guessed), canonical Huffman decode from the file's own DHT
    segments, DC DPCM + AC run-length/ZRL/EOB entropy decode,
    dequantization in zigzag order, 8×8 IDCT, +128 level shift and
    clamp. Returns (width, height, [per-component pixel planes
    cropped to width×height]) — color conversion happens in
    ``decode_jpeg`` so tests can pin raw component pixels."""
    import struct

    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qt: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    sof = None
    scomp = None
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at byte {pos}")
        m = payload[pos + 1]
        pos += 2
        if m == 0x01 or 0xD0 <= m <= 0xD9:
            continue  # standalone markers carry no segment
        (seglen,) = struct.unpack_from(">H", payload, pos)
        data = payload[pos + 2 : pos + seglen]
        pos += seglen
        if m == 0xDB:  # DQT (may hold several tables)
            i = 0
            while i < len(data):
                if data[i] >> 4 != 0:
                    raise ValueError("16-bit quant tables unsupported")
                qt[data[i] & 0xF] = list(data[i + 1 : i + 65])
                i += 65
        elif m == 0xC4:  # DHT (may hold several tables)
            i = 0
            while i < len(data):
                tc, th = data[i] >> 4, data[i] & 0xF
                bits = list(data[i + 1 : i + 17])
                n = sum(bits)
                huff[(tc, th)] = _jpeg_decode_table(
                    bits, list(data[i + 17 : i + 17 + n])
                )
                i += 17 + n
        elif m == 0xC0:  # SOF0 baseline sequential
            _prec, hh, ww, nc = struct.unpack_from(">BHHB", data, 0)
            comps = []
            for k in range(nc):
                cid, hv, tq = data[6 + 3 * k : 9 + 3 * k]
                if hv != 0x11:
                    raise ValueError(
                        "chroma subsampling unsupported (1x1 components only)"
                    )
                comps.append((cid, tq))
            sof = (ww, hh, comps)
        elif m in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                   0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "only baseline sequential (SOF0) JPEG is supported"
            )
        elif m == 0xDD:
            raise ValueError("restart intervals (DRI) unsupported")
        elif m == 0xDA:  # SOS — entropy data follows
            ns = data[0]
            scomp = [
                (data[1 + 2 * k], data[2 + 2 * k] >> 4, data[2 + 2 * k] & 0xF)
                for k in range(ns)
            ]
            break
        # APPn / COM / anything else: skipped by length
    if sof is None or scomp is None:
        raise ValueError("JPEG missing SOF0/SOS")
    w, h, comps = sof
    if [cid for cid, _, _ in scomp] != [cid for cid, _ in comps]:
        raise ValueError("scan component order differs from frame order")

    bw, bh = (w + 7) // 8, (h + 7) // 8
    planes = [np.zeros((bh * 8, bw * 8)) for _ in comps]
    rd = _JpegBitReader(payload, pos)
    pred = [0] * len(comps)
    for by in range(bh):
        for bx in range(bw):
            for ci, ((_cid, tq), (_cs, td, ta)) in enumerate(
                zip(comps, scomp)
            ):
                q = qt[tq]
                coef = np.zeros(64)
                s = rd.decode_symbol(huff[(0, td)])
                pred[ci] += rd.receive_extend(s)
                coef[0] = pred[ci] * q[0]
                k = 1
                while k <= 63:
                    rs = rd.decode_symbol(huff[(1, ta)])
                    r, s = rs >> 4, rs & 0xF
                    if s == 0:
                        if r == 15:  # ZRL: 16 zeros
                            k += 16
                            continue
                        break  # EOB
                    k += r
                    if k > 63:
                        raise ValueError("AC run overflows the block")
                    coef[_JPEG_ZZ[k]] = rd.receive_extend(s) * q[k]
                    k += 1
                block = _jpeg_idct(coef.reshape(8, 8))
                planes[ci][
                    by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8
                ] = block
    cropped = [
        np.clip(np.floor(p[:h, :w] + 128.5), 0, 255) for p in planes
    ]
    return w, h, cropped


def decode_jpeg(payload: bytes) -> dict[str, Any]:
    """REAL baseline JPEG decoder (pure stdlib + numpy arithmetic —
    no media library): ``_parse_jpeg`` recovers the per-component
    pixel planes, then the JFIF YCbCr→RGB conversion
    (R = Y + 1.402·(Cr−128), G = Y − 0.344136·(Cb−128) −
    0.714136·(Cr−128), B = Y + 1.772·(Cb−128), each floor(x+0.5)
    rounded and clamped) yields the channel bytes. Emits the exact
    integer sum of all RGB bytes plus its raw IEEE mean — both stated
    in closed form by the catalog oracle, so a decoder that misreads
    a Huffman table, drops a ZRL, dequantizes in natural order, or
    botches a cosine basis hash-mismatches. Grayscale (1-component)
    baseline files decode with R=G=B=Y."""
    import numpy as np

    w, h, planes = _parse_jpeg(payload)
    if len(planes) == 3:
        y, cb, cr = planes
        cbv, crv = cb - 128.0, cr - 128.0
        r = np.clip(np.floor(y + 1.402 * crv + 0.5), 0, 255)
        g = np.clip(
            np.floor(y + (-0.344136 * cbv) + (-0.714136 * crv) + 0.5), 0, 255
        )
        b = np.clip(np.floor(y + 1.772 * cbv + 0.5), 0, 255)
    elif len(planes) == 1:
        r = g = b = planes[0]
    else:
        raise ValueError(f"unsupported component count {len(planes)}")
    rgb_sum = int(r.sum() + g.sum() + b.sum())
    return {
        "width": w,
        "height": h,
        "n_channels": len(planes),
        "rgb_sum": rgb_sum,
        "mean_luma": rgb_sum / (3 * w * h * 255.0),
    }


JPEG_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("rgb_sum", T.LongType()),
        T.StructField("mean_luma", T.DoubleType()),
    ]
)


def _gif_palette(doc_id: int, n_colors: int) -> list[tuple[int, int, int]]:
    """The generator's palette — every channel byte derives from
    (doc_id, color index) alone so an oracle can state it."""
    return [
        (
            (doc_id * 3 + c * 29) % 256,
            (doc_id * 5 + c * 83) % 256,
            (doc_id * 7 + c * 131) % 256,
        )
        for c in range(n_colors)
    ]


def _gif_pixel_index(doc_id: int, p: int, n_colors: int) -> int:
    """PRNG-quality palette index for pixel ``p`` (splitmix-style
    multiply → xorshift → multiply over 32 bits, top bits taken) —
    deterministic in (doc_id, p) and replayable in plain SQL."""
    x = (p * 2654435761 + doc_id * 97) % 4294967296
    x ^= x >> 15
    x = (x * 2246822519) % 4294967296
    return x // (4294967296 // n_colors)


def _gif_lzw_encode(
    indices: "list[int]", min_code: int
) -> tuple[bytearray, int]:
    """Variable-width GIF LZW encode of a palette-index stream:
    dictionary of index strings, code width grows as entries fill
    (min_code+1 → 12 bits), clear code first, explicit EOI. Per the
    spec's DEFERRED-CLEAR behavior, no new table entries are defined
    once ``next_code`` reaches 4096 (codes are at most 12 bits wide);
    the encoder keeps emitting from the frozen table rather than
    resetting — ``decode_gif`` mirrors the same freeze. Returns
    (packed byte payload WITHOUT sub-block framing, final next_code —
    the latter so tests can assert a stream genuinely exercised the
    4096 freeze)."""
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    acc = 0
    nbits = 0
    payload = bytearray()

    def put(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits  # GIF packs LSB-first
        nbits += width
        while nbits >= 8:
            payload.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    n_base = 1 << min_code
    table: dict[tuple[int, ...], int] = {(c,): c for c in range(n_base)}
    next_code = eoi + 1
    width = min_code + 1
    put(clear, width)
    seq: tuple[int, ...] = ()
    for idx in indices:
        trial = seq + (idx,)
        if trial in table:
            seq = trial
            continue
        put(table[seq], width)
        if next_code < 4096:  # deferred clear: table freezes at 12 bits
            table[trial] = next_code
            next_code += 1
            # width grows when the NEXT code to assign no longer fits
            if next_code > (1 << width) and width < 12:
                width += 1
        seq = (idx,)
    if seq:
        put(table[seq], width)
        # the decoder defines ONE more entry after reading this final
        # data code and grows its width if that entry fills the
        # current power of two — EOI must be written at the width the
        # decoder will READ it with, or a boundary-sized image ends
        # with a misaligned EOI
        if next_code >= (1 << width) and width < 12:
            width += 1
    put(eoi, width)
    if nbits:
        payload.append(acc & 0xFF)
    return payload, next_code


def make_gif(doc_id: int) -> bytes:
    """Deterministic REAL GIF87a (pure stdlib): header, logical
    screen descriptor, global color table (4/8/16 colors by doc_id),
    image descriptor, and a genuinely LZW-COMPRESSED index stream —
    real dictionary build, variable code width that GROWS as entries
    fill (3→…→ up to 12 bits), clear code first, explicit
    end-of-information code, 255-byte sub-block framing, trailer —
    any image viewer opens it. Pixel indices come from
    ``_gif_pixel_index`` — a splitmix-style multiply → xorshift →
    multiply integer hash of (doc_id, p) bucketed into n_colors —
    and the palette derives from doc_id alone, so the decoded RGB
    byte sum has a closed form an oracle replays with the same
    integer ops; the dictionary-coded rung of the codec suite beside
    DEFLATE (PNG) and DCT/entropy (JPEG)."""
    import struct

    w = 16 + doc_id % 17
    h = 12 + doc_id % 11
    k = 1 + doc_id % 3  # GCT size field: 2^(k+1) = 4/8/16 colors
    nc = 1 << (k + 1)
    palette = _gif_palette(doc_id, nc)

    out = bytearray(b"GIF87a")
    # logical screen descriptor: GCT present, color res k, size k
    out += struct.pack("<HHBBB", w, h, 0x80 | (k << 4) | k, 0, 0)
    for r, g, b in palette:
        out += bytes((r, g, b))
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)  # image desc
    min_code = k + 1  # bits for a palette index (>= 2 per spec: k>=1)
    out.append(min_code)

    # Hash-mixed index pattern: any POLYNOMIAL of p mod a power-of-two
    # palette size is periodic with a tiny period, and even a
    # golden-ratio rotation's top bits form a Sturmian (linear-
    # complexity) sequence — both collapse to ~120-byte files where
    # neither multi-sub-block framing nor deep code-width growth is
    # ever exercised. A multiply → xorshift → multiply finalizer
    # (splitmix-style) gives PRNG-quality indices, so the dictionary
    # genuinely fills, streams span several 255-byte sub-blocks, and
    # the width climbs — while each index stays a pure integer
    # function of (p, doc_id) an oracle replays with a range join.
    indices = [_gif_pixel_index(doc_id, p, nc) for p in range(w * h)]
    payload, _ = _gif_lzw_encode(indices, min_code)

    for i in range(0, len(payload), 255):
        block = payload[i : i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


def decode_gif(payload: bytes) -> dict[str, Any]:
    """REAL GIF decoder (pure stdlib — no media library): validates
    the GIF87a/89a signature, reads the logical screen descriptor and
    global color table, skips 0x21 extension blocks by sub-block
    framing, parses the image descriptor (interlace rejected rather
    than guessed; a local color table overrides the global one), and
    runs a genuine variable-width LZW decode — clear-code dictionary
    resets, the KwKwK first-use case, width growth at each dictionary
    power of two, end-of-information — then maps indices through the
    palette. Emits (width, height, n_colors, rgb_sum, mean_rgb) with
    the byte sum exact, so the catalog oracle pins the dictionary
    decode end to end: an implementation that grows the code width
    one code early/late, mishandles KwKwK, or misframes sub-blocks
    hash-mismatches."""
    import struct

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload (bad signature)")
    w_s, h_s, flags, _bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    palette: list[tuple[int, int, int]] | None = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        palette = [
            tuple(payload[pos + 3 * i : pos + 3 * i + 3]) for i in range(n)
        ]
        pos += 3 * n
    while pos < len(payload):
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer
            raise ValueError("GIF contains no image data")
        if block == 0x21:  # extension: label + sub-blocks
            pos += 1
            while payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if block == 0x2C:  # image descriptor
            _l, _t, w, h, iflags = struct.unpack_from("<HHHHB", payload, pos)
            pos += 9
            if iflags & 0x40:
                raise ValueError("interlaced GIF unsupported")
            if iflags & 0x80:  # local color table overrides
                n = 2 << (iflags & 0x07)
                palette = [
                    tuple(payload[pos + 3 * i : pos + 3 * i + 3])
                    for i in range(n)
                ]
                pos += 3 * n
            break
        raise ValueError(f"unexpected GIF block 0x{block:02x}")
    else:
        raise ValueError("GIF truncated before image descriptor")
    if palette is None:
        raise ValueError("GIF image has no color table")

    min_code = payload[pos]
    pos += 1
    data = bytearray()
    while True:
        if pos >= len(payload):
            raise ValueError("GIF truncated inside sub-block stream")
        n = payload[pos]
        if n == 0:
            break
        data += payload[pos + 1 : pos + 1 + n]
        pos += 1 + n

    clear, eoi = 1 << min_code, (1 << min_code) + 1
    acc = 0
    nbits = 0
    dpos = 0

    def get(width: int) -> int:
        nonlocal acc, nbits, dpos
        while nbits < width:
            if dpos >= len(data):
                raise ValueError("GIF LZW stream truncated")
            acc |= data[dpos] << nbits
            dpos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        return code

    def fresh() -> tuple[dict[int, tuple[int, ...]], int, int]:
        return (
            {c: (c,) for c in range(1 << min_code)},
            eoi + 1,
            min_code + 1,
        )

    table, next_code, width = fresh()
    out_idx: list[int] = []
    prev: tuple[int, ...] | None = None
    while True:
        code = get(width)
        if code == clear:
            table, next_code, width = fresh()
            prev = None
            continue
        if code == eoi:
            break
        if code in table:
            entry = table[code]
        elif code == next_code and prev is not None:
            entry = prev + (prev[0],)  # the KwKwK case
        else:
            raise ValueError(f"invalid LZW code {code}")
        out_idx.extend(entry)
        # deferred-clear freeze: codes are at most 12 bits, so a
        # conforming stream defines no entry past 4095 — an encoder
        # that keeps compressing after the table fills simply emits
        # existing codes until it chooses to send a clear. Defining
        # past 4096 here would desynchronize this decoder from every
        # real encoder on exactly those streams.
        if prev is not None and next_code < 4096:
            table[next_code] = prev + (entry[0],)
            next_code += 1
            if next_code >= (1 << width) and width < 12:
                width += 1
        prev = entry
    if len(out_idx) < w * h:
        raise ValueError(
            f"GIF decoded {len(out_idx)} indices for {w * h} pixels"
        )

    rgb_sum = 0
    for idx in out_idx[: w * h]:
        if idx >= len(palette):
            raise ValueError(f"palette index {idx} out of range")
        r, g, b = palette[idx]
        rgb_sum += r + g + b
    return {
        "width": w,
        "height": h,
        "n_colors": len(palette),
        "rgb_sum": rgb_sum,
        "mean_rgb": rgb_sum / (3 * w * h * 255.0),
    }


GIF_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_colors", T.IntegerType()),
        T.StructField("rgb_sum", T.LongType()),
        T.StructField("mean_rgb", T.DoubleType()),
    ]
)


_SAMPLE_RATES = (8000, 16000, 22050, 44100)


def make_wav(doc_id: int) -> bytes:
    """Deterministic REAL RIFF/WAVE file: canonical 44-byte header
    (PCM fmt chunk + data chunk) followed by mono 16-bit
    little-endian samples — any audio player opens it. Sample rate,
    frame count, and the two alternating sample amplitudes (+a on
    even frames, −b on odd) derive from ``doc_id`` alone, giving the
    decoded (rate, n, duration, rms) a closed form."""
    import struct

    rate = _SAMPLE_RATES[doc_id % 4]
    n = 100 + doc_id % 157
    a = doc_id % 900 + 1
    b = doc_id % 700 + 2
    frames = struct.pack(
        f"<{n}h", *[a if k % 2 == 0 else -b for k in range(n)]
    )
    fmt_chunk = b"fmt " + struct.pack(
        "<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16
    )
    data_chunk = b"data" + struct.pack("<I", len(frames)) + frames
    body = b"WAVE" + fmt_chunk + data_chunk
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(payload: bytes) -> dict[str, Any]:
    """REAL WAV decoder (pure Python): validates the RIFF/WAVE
    container, walks the chunk list (honoring the spec's odd-size pad
    byte) to find ``fmt `` and ``data``, reads (format, channels,
    rate, bits) from the fmt chunk, and computes frame count,
    duration, and RMS from the actual int16 sample bytes. PCM-16 only
    — a compressed codec raises ``ValueError``; it needs its own
    decoder.

    ``duration_s``/``rms`` are raw IEEE divisions over exact integer
    sums, bit-identical to an oracle's closed form."""
    import math
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        if cid == b"fmt ":
            fmt = payload[pos + 8 : pos + 8 + size]
        elif cid == b"data":
            data = payload[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_fmt, channels, rate = struct.unpack_from("<HHI", fmt, 0)
    (bits,) = struct.unpack_from("<H", fmt, 14)
    if audio_fmt != 1 or bits != 16:
        raise ValueError(
            f"decode_wav supports PCM-16 only (got fmt={audio_fmt}, "
            f"bits={bits})"
        )
    n = len(data) // (2 * channels)
    samples = struct.unpack_from(f"<{n * channels}h", data)
    sumsq = 0
    for s in samples:
        sumsq += s * s
    return {
        "sample_rate": rate,
        "n_samples": n,
        "duration_s": n / rate,
        "rms": math.sqrt(sumsq / (n * channels)) / 32768.0,
    }


def make_wav_tone(doc_id: int, n: int = 256) -> bytes:
    """Deterministic REAL RIFF/WAVE carrying a SQUARE tone at an
    exact DFT bin: sample t is ``+A`` when sin(2π·k·t/n) ≥ 0 else
    ``−A``, decided by INTEGER arithmetic (``(2·k·t) mod 2n < n``,
    boundaries to +A) — no trig, no float, so every sample is exactly
    ±A and the total power is exactly ``n·A²``. The square wave's DFT
    concentrates at bin k with harmonics at 1/3, 1/5, … of the
    fundamental (aliased copies included), so the spectral argmax is
    bin k with a 3× margin — a closed form the oracle can state while
    the decoder still has to run a genuine FFT to find it."""
    import struct

    rate = _SAMPLE_RATES[doc_id % 4]
    k = 1 + doc_id % (n // 2 - 2)
    a = 1000 + (doc_id % 200) * 93
    samples = [
        a if (2 * k * t) % (2 * n) < n else -a for t in range(n)
    ]
    frames = struct.pack(f"<{n}h", *samples)
    fmt_chunk = b"fmt " + struct.pack(
        "<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16
    )
    data_chunk = b"data" + struct.pack("<I", len(frames)) + frames
    body = b"WAVE" + fmt_chunk + data_chunk
    return b"RIFF" + struct.pack("<I", len(body)) + body


def spectral_wav_features(payload: bytes) -> dict[str, Any]:
    """REAL spectral analysis (stdlib + numpy — the DSP stage a
    production build binds librosa/scipy into): walk the RIFF chunk
    list exactly as ``decode_wav``, then run a genuine FFT
    (``numpy.fft.rfft``) over the mono int16 samples and report the
    dominant non-DC bin, its frequency in Hz, the exact integer total
    power (Σ s², computed from the samples, not the spectrum), and
    the frame count. On ``make_wav_tone`` blobs the closed forms are
    bin = k, hz = k·rate/n, power = n·A² — an implementation that
    windows away the fundamental, misindexes rfft's output, or drops
    the DC exclusion hash-mismatches. PCM-16 mono only."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        if cid == b"fmt ":
            fmt = payload[pos + 8 : pos + 8 + size]
        elif cid == b"data":
            data = payload[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size & 1)
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_fmt, channels, rate = struct.unpack_from("<HHI", fmt, 0)
    (bits,) = struct.unpack_from("<H", fmt, 14)
    if audio_fmt != 1 or bits != 16 or channels != 1:
        raise ValueError("spectral_wav_features supports mono PCM-16 only")
    n = len(data) // 2
    samples = np.frombuffer(data, dtype="<i2", count=n).astype(np.int64)
    power = int((samples * samples).sum())
    spectrum = np.abs(np.fft.rfft(samples.astype(np.float64)))
    dominant = int(spectrum[1:].argmax()) + 1  # bin 0 is DC
    return {
        "sample_rate": rate,
        "n_samples": n,
        "dominant_bin": dominant,
        "dominant_hz": dominant * rate / n,
        "power": power,
    }


SPECTRAL_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("dominant_bin", T.IntegerType()),
        T.StructField("dominant_hz", T.DoubleType()),
        T.StructField("power", T.LongType()),
    ]
)


def downsample_wav_half(payload: bytes) -> dict[str, Any]:
    """REAL audio RESAMPLE on genuine container bytes: walk the RIFF
    chunk list exactly as ``decode_wav`` does, then 2× DECIMATE the
    mono int16 stream with a pair-average box filter — output sample
    ``k`` is ``floor((s[2k] + s[2k+1]) / 2)`` (floor division, so
    negative sums round toward −∞ like every fixed-point DSP
    decimator); an odd trailing frame is cropped and the output rate
    is halved. Emits the new rate, frame count, the exact integer sum
    of all output samples, and the output RMS (one sqrt over an exact
    integer mean — bit-identical to a closed-form oracle).

    This is the transform slot of the decode → RESAMPLE → feature
    pipeline a production build binds scipy/librosa into; here the
    sample arithmetic itself is real and oracle-checkable. PCM-16
    MONO only — anything else raises ``ValueError``.
    """
    import math
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        if cid == b"fmt ":
            fmt = payload[pos + 8 : pos + 8 + size]
        elif cid == b"data":
            data = payload[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_fmt, channels, rate = struct.unpack_from("<HHI", fmt, 0)
    (bits,) = struct.unpack_from("<H", fmt, 14)
    if audio_fmt != 1 or bits != 16 or channels != 1:
        raise ValueError(
            "downsample_wav_half supports mono PCM-16 only "
            f"(got fmt={audio_fmt}, bits={bits}, channels={channels})"
        )
    n = len(data) // 2
    samples = struct.unpack_from(f"<{n}h", data)
    out_n = n // 2
    total = 0
    sumsq = 0
    for k in range(out_n):
        m = (samples[2 * k] + samples[2 * k + 1]) // 2
        total += m
        sumsq += m * m
    return {
        "out_rate": rate // 2,
        "out_n": out_n,
        "ds_sum": total,
        "ds_rms": (
            math.sqrt(sumsq / out_n) / 32768.0 if out_n else None
        ),
    }


def make_avi_mjpeg(doc_id: int) -> bytes:
    """Deterministic REAL AVI/MJPEG video (pure stdlib): a RIFF
    'AVI ' container — LIST hdrl (56-byte 'avih' main header, LIST
    strl with a 56-byte 'vids'/'MJPG' stream header and a 40-byte
    BITMAPINFOHEADER 'strf'), a 'JUNK' alignment chunk, LIST movi
    with one even-padded '00dc' chunk per frame, and a trailing
    'idx1' index — the classic pre-OpenDML AVI any player opens.
    Every frame is a REAL baseline JPEG from ``make_jpeg`` with
    effective id ``doc_id + 128·frame``: 128 is a multiple of the
    generator's dimension (mod 16/8) and chroma (mod 4, //4 mod 4)
    cycles, so all frames share the video's WIDTH/HEIGHT and chroma
    offsets while the luma DC pattern genuinely changes per frame
    (128·3 ≡ 21 mod 33) — a fake demux that decodes frame 0 and
    extrapolates, or returns frames out of order, cannot reproduce
    the order-weighted oracle sum. Frame count cycles 2–5 by doc_id
    and is declared in BOTH avih.dwTotalFrames and strh.dwLength, so
    a demux that miscounts '00dc' chunks trips the cross-check."""
    import struct

    n_frames = 2 + doc_id % 4
    w = 9 + doc_id % 16
    h = 9 + doc_id % 8
    frames = [make_jpeg(doc_id + 128 * f) for f in range(n_frames)]
    bufsize = max(len(f) for f in frames)

    def chunk(fourcc: bytes, data: bytes) -> bytes:
        # RIFF chunks are word-aligned: odd-sized data carries one
        # pad byte NOT counted in the declared size
        pad = b"\x00" if len(data) % 2 else b""
        return fourcc + struct.pack("<I", len(data)) + data + pad

    def lst(list_type: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", list_type + data)

    avih = struct.pack(
        "<14I",
        100000,  # dwMicroSecPerFrame (10 fps)
        bufsize * 10,  # dwMaxBytesPerSec
        0,  # dwPaddingGranularity
        0x10,  # dwFlags: AVIF_HASINDEX
        n_frames,  # dwTotalFrames
        0,  # dwInitialFrames
        1,  # dwStreams
        bufsize,  # dwSuggestedBufferSize
        w,
        h,
        0, 0, 0, 0,  # dwReserved
    )
    strh = (
        b"vidsMJPG"
        + struct.pack(
            "<IHHIIIIIIII",
            0,  # dwFlags
            0,  # wPriority
            0,  # wLanguage
            0,  # dwInitialFrames
            1,  # dwScale
            10,  # dwRate (10 fps)
            0,  # dwStart
            n_frames,  # dwLength
            bufsize,  # dwSuggestedBufferSize
            0,  # dwQuality
            0,  # dwSampleSize (0: variable-size frames)
        )
        + struct.pack("<4h", 0, 0, w, h)  # rcFrame
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40,  # biSize
        w,
        h,
        1,  # biPlanes
        24,  # biBitCount
        b"MJPG",  # biCompression
        w * h * 3,  # biSizeImage
        0, 0, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    junk = chunk(b"JUNK", b"\x00" * (16 + doc_id % 3))  # odd sizes too
    movi_frames = b"".join(chunk(b"00dc", f) for f in frames)
    movi = lst(b"movi", movi_frames)
    # idx1: one 16-byte entry per frame; offsets are relative to the
    # first byte AFTER the 'movi' list-type fourcc (the common
    # convention), each pointing at its '00dc' fourcc
    idx = bytearray()
    off = 4
    for f in frames:
        idx += b"00dc" + struct.pack("<III", 0x10, off, len(f))
        off += 8 + len(f) + (len(f) % 2)
    body = b"AVI " + hdrl + junk + movi + chunk(b"idx1", bytes(idx))
    return b"RIFF" + struct.pack("<I", len(body)) + body


def demux_avi_mjpeg(payload: bytes) -> dict[str, Any]:
    """REAL AVI demuxer (pure stdlib — no media library): validates
    the RIFF/'AVI ' signature, walks the chunk tree honoring RIFF
    word alignment (odd-sized chunks carry an uncounted pad byte),
    reads the main header from LIST hdrl ('avih': declared frame
    count, dims) and the stream headers from LIST strl ('strh'
    fccType/fccHandler/dwLength, 'strf' BITMAPINFOHEADER), skips
    'JUNK'/'idx1'/extension chunks by size, and collects every
    '00dc'/'00db' video chunk from LIST movi in stream order.

    Cross-checks, so a fake demux can't pass: exactly one 'vids'
    stream with an MJPEG handler; the collected frame count must
    equal BOTH avih.dwTotalFrames and strh.dwLength; dims must agree
    between avih and strf. Returns {width, height, n_frames, fps,
    handler, frames: list[bytes]} — each frame a complete baseline
    JPEG for ``decode_jpeg``. Inter-frame codecs (H.264 & co) are
    the part that genuinely needs ffmpeg; a motion-JPEG AVI is plain
    struct parsing around per-frame JPEGs."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF":
        raise ValueError("not a RIFF payload")
    (riff_size,) = struct.unpack_from("<I", payload, 4)
    if payload[8:12] != b"AVI ":
        raise ValueError(f"not an AVI RIFF form: {payload[8:12]!r}")
    end = 8 + riff_size
    if end > len(payload):
        raise ValueError("AVI truncated: RIFF size exceeds payload")

    avih_info: dict[str, int] | None = None
    streams: list[dict[str, Any]] = []
    frames: list[bytes] = []

    def walk(pos: int, stop: int, in_list: bytes | None) -> None:
        nonlocal avih_info
        while pos + 8 <= stop:
            fourcc = payload[pos : pos + 4]
            (size,) = struct.unpack_from("<I", payload, pos + 4)
            data_start = pos + 8
            data_end = data_start + size
            if data_end > stop:
                raise ValueError(
                    f"AVI chunk {fourcc!r} overruns its parent"
                )
            if fourcc == b"LIST":
                list_type = payload[data_start : data_start + 4]
                walk(data_start + 4, data_end, list_type)
            elif fourcc == b"avih":
                if size < 40:
                    raise ValueError("avih header too short")
                vals = struct.unpack_from("<10I", payload, data_start)
                avih_info = {
                    "total_frames": vals[4],
                    "streams": vals[6],
                    "width": vals[8],
                    "height": vals[9],
                }
            elif fourcc == b"strh":
                if size < 48:
                    raise ValueError("strh header too short")
                fcc_type = payload[data_start : data_start + 4]
                handler = payload[data_start + 4 : data_start + 8]
                scale, rate, _start, length = struct.unpack_from(
                    "<4I", payload, data_start + 20
                )
                streams.append(
                    {
                        "type": fcc_type,
                        "handler": handler,
                        "scale": scale,
                        "rate": rate,
                        "length": length,
                        "strf": None,
                    }
                )
            elif fourcc == b"strf":
                if not streams or streams[-1]["strf"] is not None:
                    raise ValueError("strf without a preceding strh")
                if streams[-1]["type"] == b"vids":
                    if size < 40:
                        raise ValueError("video strf too short")
                    biw, bih, _planes, _bits, compression = (
                        struct.unpack_from("<iiHH4s", payload, data_start + 4)
                    )
                    streams[-1]["strf"] = {
                        "width": biw,
                        "height": bih,
                        "compression": compression,
                    }
                else:
                    streams[-1]["strf"] = {}
            elif in_list == b"movi" and fourcc[2:4] in (b"dc", b"db"):
                frames.append(bytes(payload[data_start:data_end]))
            # anything else ('JUNK', 'idx1', audio chunks, unknown
            # extensions) is skipped by its declared size
            pos = data_end + (size % 2)  # word alignment

    walk(12, end, None)

    if avih_info is None:
        raise ValueError("AVI has no avih main header")
    vids = [s for s in streams if s["type"] == b"vids"]
    if len(vids) != 1:
        raise ValueError(f"expected exactly one video stream, got {len(vids)}")
    v = vids[0]
    if v["handler"] not in (b"MJPG", b"mjpg"):
        raise ValueError(
            f"not an MJPEG video stream: handler {v['handler']!r} "
            "(inter-frame codecs need ffmpeg)"
        )
    if v["strf"] is None:
        raise ValueError("video stream has no strf format header")
    if (
        v["strf"]["width"] != avih_info["width"]
        or abs(v["strf"]["height"]) != avih_info["height"]
    ):
        raise ValueError(
            "avih and strf disagree on frame dimensions: "
            f"{avih_info['width']}x{avih_info['height']} vs "
            f"{v['strf']['width']}x{v['strf']['height']}"
        )
    if len(frames) != avih_info["total_frames"] or len(frames) != v["length"]:
        raise ValueError(
            f"frame count mismatch: movi has {len(frames)} chunks, avih "
            f"declares {avih_info['total_frames']}, strh {v['length']}"
        )
    if not frames:
        raise ValueError("AVI contains no video frames")
    return {
        "width": avih_info["width"],
        "height": avih_info["height"],
        "n_frames": len(frames),
        "fps": v["rate"] / v["scale"] if v["scale"] else 0.0,
        "handler": v["handler"].decode("ascii"),
        "frames": frames,
    }


def avi_frame_sampler(payload: bytes) -> "list[bytes]":
    """REAL frame sampler for MJPEG-in-AVI payloads, for the
    ``sample_frames(sampler=...)`` slot: each returned element is a
    complete baseline JPEG."""
    return demux_avi_mjpeg(payload)["frames"]


def decode_avi_video(payload: bytes) -> dict[str, Any]:
    """REAL video decode: ``demux_avi_mjpeg`` then ``decode_jpeg`` on
    EVERY frame — the whole pure-stdlib codec ladder composed
    (container walk → per-frame Huffman/DPCM/IDCT/YCbCr). Each
    decoded frame's dimensions are verified against the container's
    declared dims (an MJPEG stream whose frames disagree with its
    header is corrupt). Emits per-video aggregates: total RGB byte
    sum across frames, the ORDER-WEIGHTED sum Σ (f+1)·rgb_sum_f
    (pins frame order end to end — a demux returning the right
    frames in the wrong order mismatches), and the mean luma over
    all frames."""
    info = demux_avi_mjpeg(payload)
    w, h, nf = info["width"], info["height"], info["n_frames"]
    total = 0
    ordered = 0
    for i, frame in enumerate(info["frames"]):
        feats = decode_jpeg(frame)
        if feats["width"] != w or feats["height"] != h:
            raise ValueError(
                f"frame {i} is {feats['width']}x{feats['height']}, "
                f"container declares {w}x{h}"
            )
        total += feats["rgb_sum"]
        ordered += (i + 1) * feats["rgb_sum"]
    return {
        "n_frames": nf,
        "width": w,
        "height": h,
        "rgb_sum_total": total,
        "rgb_sum_ordered": ordered,
        "mean_luma": total / ((nf * 3 * w * h) * 255.0),
    }


VIDEO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("rgb_sum_total", T.LongType()),
        T.StructField("rgb_sum_ordered", T.LongType()),
        T.StructField("mean_luma", T.DoubleType()),
    ]
)


def synthesize_media_payloads(
    df: DataFrame,
    id_col: str = "doc_id",
    maker: Callable[[int], bytes] = make_bmp,
) -> DataFrame:
    """Encode stage: (id) → (id, payload) via an Arrow-batched
    ``mapInPandas`` — the inverse shape of ``extract_media_features``
    and the stand-in for 'payloads arrive from a blob store'. The
    maker is deterministic in the id, so downstream decode stages are
    oracle-checkable against closed forms while operating on REAL
    container bytes (BMP/WAV headers, padding, chunk layout).

    The id column is REPARTITIONED before encoding: the input is
    often a single small file (one scan split), which would serialize
    the Python codec work onto one core — and the pre-encode shuffle
    moves only the 8-byte ids, never payloads. Wide rows are born
    spread and stay put."""
    import pandas as pd

    sess = df.sparkSession
    n_part = int(sess.conf.get("spark.sql.shuffle.partitions", "32"))
    src = df.select(F.col(id_col).alias("doc_id")).repartition(n_part)

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "payload": [maker(int(i)) for i in pdf["doc_id"]],
                }
            )

    return src.mapInPandas(process, schema="doc_id long, payload binary")


RESIZE_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("out_width", T.IntegerType()),
        T.StructField("out_height", T.IntegerType()),
        T.StructField("ds_checksum", T.LongType()),
        T.StructField("ds_mean_luma", T.DoubleType()),
    ]
)

RESAMPLE_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("out_rate", T.IntegerType()),
        T.StructField("out_n", T.LongType()),
        T.StructField("ds_sum", T.LongType()),
        T.StructField("ds_rms", T.DoubleType()),
    ]
)

AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_sha", T.StringType()),
    ]
)


def fake_frame_sampler(payload: bytes) -> "list[bytes]":
    """Deterministic stand-in: 1–4 'frames', each the ASCII hex of a
    sha256 over the payload salted with the frame index — reproducible
    by any engine with sha256 (hex, not raw digest bytes, because SQL
    sha256 implementations typically take VARCHAR), which is what
    makes the frame-sample stage oracle-checkable end to end."""
    import hashlib

    n = 1 + hashlib.sha256(payload).digest()[0] % 4
    return [
        hashlib.sha256(payload + b":" + str(i).encode()).hexdigest().encode()
        for i in range(n)
    ]


def sample_frames(
    df: DataFrame,
    sampler: Callable[[bytes], "list[bytes]"],
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Frame-sampling stage: one row in, N rows out (doc_id,
    frame_idx, frame_sha) — the one-to-many ``mapInPandas`` shape for
    video → frames; ``sampler`` maps one payload to its frames. Emitting the frame HASH (not the frame bytes)
    keeps the wide binary out of every downstream shuffle; a pipeline
    that needs pixels joins the frames back by (doc_id, frame_idx) at
    the last narrow stage. A NULL payload yields zero frames (nothing
    to sample), not a task-killing ``bytes(None)`` TypeError.
    """
    import hashlib

    import pandas as pd

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col).alias("_p"))

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, shas = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["_p"]):
                if payload is None:
                    continue
                for i, frame in enumerate(sampler(bytes(payload))):
                    ids.append(doc_id)
                    idxs.append(i)
                    shas.append(hashlib.sha256(frame).hexdigest())
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_sha": shas}
            )

    return src.mapInPandas(process, schema=FRAME_SCHEMA)


def extract_media_features(
    df: DataFrame,
    decoder: Callable[[bytes], dict[str, Any]],
    id_col: str = "doc_id",
    payload_col: str = "payload",
    feature_schema: T.StructType = FEATURE_SCHEMA,
) -> DataFrame:
    """Decode/feature-extract stage: Arrow-batched ``mapInPandas`` over
    (id, payload) with a narrow typed output — the canonical shape for
    per-blob Python work at scale (no shuffle; the payload column is
    pruned immediately after this projection).

    ``decoder`` maps one payload to a dict of its features.
    ``feature_schema`` selects the modality's typed output (image
    ``FEATURE_SCHEMA``, audio ``AUDIO_FEATURE_SCHEMA``, ...); the
    stage itself is modality-agnostic.

    NULL payloads (e.g. docs left-joined to a blob store that missed)
    emit a row of NULL features under their doc_id instead of
    crashing the stage: ``bytes(None)`` inside a decoder would throw
    TypeError and fail the whole task, and silently dropping the row
    would hide undecodable blobs from the pipeline's observability.
    """
    import pandas as pd

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col).alias("_p"))
    feat_cols = [f.name for f in feature_schema.fields if f.name != "doc_id"]

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mask = pdf["_p"].notna()
            good = pdf[mask]
            if len(good):
                out = pd.DataFrame([decoder(bytes(b)) for b in good["_p"]])
                out.insert(0, "doc_id", good["doc_id"].values)
            else:
                out = pd.DataFrame(columns=["doc_id", *feat_cols])
            n_null = int((~mask).sum())
            if n_null:
                nulls = pd.DataFrame({"doc_id": pdf.loc[~mask, "doc_id"].values})
                for c in feat_cols:
                    nulls[c] = None
                out = pd.concat([out, nulls], ignore_index=True)
            yield out[[f.name for f in feature_schema.fields]]

    return src.mapInPandas(process, schema=feature_schema)
