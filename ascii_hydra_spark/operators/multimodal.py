"""Multimodal (binary) column plumbing (driver mandate, SURVEY.md §2.3).

Model: image/audio/video payloads are opaque `binary` columns travelling
next to typed metadata (modality, codec, width/height/duration, ...).
Spark-side everything is real — schemas, partition-friendly layout,
Arrow-batched mapInPandas pipelines, metadata extraction via built-ins.

Codec status (round 4): REAL in-repo codecs for 24bpp BMP, 16-bit PCM
WAV, 8-bit RGB PNG, AND baseline JPEG (:func:`decode_bmp` /
:func:`decode_wav` / :func:`decode_png` / :func:`decode_jpeg`, with
matching encoders for payload synthesis). PNG is lossless DEFLATE
(stdlib ``zlib`` + numpy reversal of all five scanline filters, so it
keeps the closed-form pixel oracle); JPEG is a full lossy ITU T.81
baseline pipeline — 8x8 orthonormal DCT, quantization, zigzag, DC
DPCM, run-length + canonical Huffman, JFIF markers with byte stuffing
— whose tables travel in the file's own DQT/DHT segments per spec
(rows-only driver check; the PSNR accuracy bound lives in
tests/test_multimodal.py because lossy output has no closed form).
Only h264 (and containerless pcm16) remain stubbed — a video codec
genuinely needs external libraries not in this container:
`decode_media` raises NotImplementedError for those, and the
deterministic byte-histogram stand-in keeps the full pipeline shape
testable end-to-end.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("modality", StringType(), False),  # image | audio | video | text
        StructField("codec", StringType(), True),      # jpeg | png | pcm16 | h264 | utf8
        StructField("payload", BinaryType(), True),
        StructField("meta_json", StringType(), True),  # sidecar metadata as JSON
    ]
)

# width of the stand-in byte-histogram features (_decode_batch)
_HIST_BINS = 16

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_bytes", LongType(), True),
        StructField("features", ArrayType(DoubleType()), True),
    ]
)


def documents_as_media(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Adapt the documents fixture into a media table (utf8 'payloads').

    Real deployments read payloads from object storage; the binary column +
    metadata shape is identical.
    """
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.lit("text").alias("modality"),
        F.lit("utf8").alias("codec"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.to_json(F.struct(F.col("lang"), F.col("source"))).alias("meta_json"),
    )


def payload_stats(media: DataFrame) -> DataFrame:
    """Metadata over binary payloads with built-ins only: byte length + md5.

    This is the cheap scan-side pass that runs *before* any decode at 100 TB
    (size filtering, exact-dup removal by checksum).
    """
    return media.select(
        "media_id",
        "modality",
        F.octet_length("payload").alias("n_bytes"),
        F.md5("payload").alias("checksum"),
    )


_REAL_CODECS = {"pcm16", "h264"}

# Codecs with a REAL in-repo decoder: bmp/wav are header + raw array;
# png is zlib-compressed scanlines (stdlib zlib + numpy filter reversal);
# jpeg is a full baseline T.81 implementation (DCT + quant + Huffman);
# gif is GIF89a with real variable-width LZW dictionary coding.
DECODABLE_CODECS = {"bmp", "wav", "png", "jpeg", "gif"}


def _check_codecs(codecs: pd.Series) -> None:
    real = codecs[codecs.isin(_REAL_CODECS)]
    if not real.empty:
        # STUB: real decoding needs PIL/ffmpeg etc., not in this container.
        raise NotImplementedError(
            f"codec {real.iloc[0]!r}: decode libraries not available; "
            "plug a decoder into decode_media(decoder=...)"
        )


# ------------------------------------------------------------------
# Pure-numpy codecs: uncompressed 24bpp BMP and 16-bit PCM WAV.
# Both are trivial header+array formats, so decode is real (bit-exact,
# no external deps) — the capability gate stays only on compressed
# codecs (jpeg/h264) where a real library is unavoidable.
# ------------------------------------------------------------------

def encode_bmp(pixels) -> bytes:
    """(h, w, 3) uint8 RGB array -> uncompressed 24bpp BI_RGB BMP bytes
    (bottom-up rows, BGR channel order, 4-byte row padding — the classic
    Windows V3 layout every viewer accepts)."""
    import struct

    import numpy as np

    arr = np.ascontiguousarray(np.asarray(pixels, dtype=np.uint8))
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError(f"expected (h, w, 3) RGB array, got shape {arr.shape}")
    h, w = arr.shape[:2]
    stride = (w * 3 + 3) & ~3
    pad = stride - w * 3
    img_size = stride * h
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    rows = arr[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up, BGR
    if pad:
        rows = np.concatenate([rows, np.zeros((h, pad), np.uint8)], axis=1)
    return header + info + np.ascontiguousarray(rows).tobytes()


def decode_bmp(payload: bytes):
    """Uncompressed 24bpp BI_RGB BMP bytes -> (h, w, 3) uint8 RGB array.
    Rejects anything it cannot decode exactly (compression, other depths,
    top-down images) rather than guessing."""
    import struct

    import numpy as np

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, w, h, _planes, bpp, compression = struct.unpack_from(
        "<IiiHHI", payload, 14
    )
    if hdr_size < 40 or bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP variant (bpp={bpp}, compression={compression})")
    if h <= 0 or w <= 0:
        raise ValueError("top-down or degenerate BMP not supported")
    stride = (w * 3 + 3) & ~3
    raw = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=data_offset)
    rows = raw.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    return rows[::-1, :, ::-1].copy()  # back to top-down RGB


def encode_wav(samples, sample_rate: int = 8000) -> bytes:
    """1-D int16 array -> mono 16-bit PCM RIFF/WAVE bytes."""
    import struct

    import numpy as np

    s = np.ascontiguousarray(np.asarray(samples, dtype="<i2"))
    data = s.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    out = (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )
    return out


def decode_wav(payload: bytes):
    """Mono 16-bit PCM RIFF/WAVE bytes -> (sample_rate, int16 array).
    Walks the chunk list (so extra chunks like LIST are tolerated);
    rejects compressed/float/multi-channel variants."""
    import struct

    import numpy as np

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos, rate, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, size = payload[pos : pos + 4], struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            audio_fmt, channels, rate = struct.unpack_from("<HHI", body, 0)
            bits = struct.unpack_from("<H", body, 14)[0]
            if audio_fmt != 1 or channels != 1 or bits != 16:
                raise ValueError(
                    f"unsupported WAV variant (fmt={audio_fmt}, ch={channels}, bits={bits})"
                )
        elif cid == b"data":
            data = np.frombuffer(body, dtype="<i2")
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    return rate, data


# ------------------------------------------------------------------
# GIF89a with real LZW compression (pure python/numpy).
#
# The third compression family in-repo (raw -> BMP/WAV, DEFLATE -> PNG,
# DCT+Huffman -> JPEG, dictionary coding -> GIF/LZW). Grayscale profile:
# a 256-entry (i,i,i) global color table so every 8-bit pixel value is
# its own palette index — which keeps the codec LOSSLESS and therefore
# closed-form oracle-able like PNG. The LZW stream is the real GIF
# variant: variable code width, clear/EOI codes, 4095-entry dictionary
# with reset, LSB-first bit packing, 255-byte sub-blocks.
# ------------------------------------------------------------------


def encode_gif(pixels) -> bytes:
    """(h, w) uint8 grayscale array -> GIF89a bytes (real LZW)."""
    import struct

    import numpy as np

    arr = np.ascontiguousarray(np.asarray(pixels, dtype=np.uint8))
    if arr.ndim != 2:
        raise ValueError(f"expected (h, w) grayscale array, got shape {arr.shape}")
    h, w = arr.shape
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)  # GCT present, 256 entries
    for i in range(256):  # grayscale palette
        out += bytes((i, i, i))
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)  # image descriptor
    mcs = 8  # min LZW code size for a 256-color image
    out.append(mcs)

    clear, eoi = 1 << mcs, (1 << mcs) + 1
    data = arr.reshape(-1)
    acc = 0
    nbits = 0
    packed = bytearray()

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits  # GIF packs LSB-first
        nbits += width
        while nbits >= 8:
            packed.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code, width = eoi + 1, mcs + 1
    emit(clear, width)
    prev = bytes([data[0]]) if data.size else b""
    for px in data[1:]:
        cur = prev + bytes([int(px)])
        if cur in table:
            prev = cur
            continue
        emit(table[prev], width)
        table[cur] = next_code
        next_code += 1
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
        if next_code >= 4096:
            emit(clear, width)
            table = {bytes([i]): i for i in range(256)}
            next_code, width = eoi + 1, mcs + 1
        prev = cur[-1:]
    if prev:
        emit(table[prev], width)
    emit(eoi, width)
    if nbits:
        packed.append(acc & 0xFF)
    for i in range(0, len(packed), 255):  # 255-byte sub-blocks
        chunk = packed[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


def decode_gif(payload: bytes):
    """GIF89a bytes -> (h, w) uint8 grayscale array. Requires the
    grayscale-palette profile this module writes (256-entry (i,i,i) GCT,
    single image, no interlace); anything else is rejected."""
    import struct

    import numpy as np

    if len(payload) < 13 or payload[:6] not in (b"GIF89a", b"GIF87a"):
        raise ValueError("not a GIF payload")
    w, h, flags, _bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
    if not flags & 0x80 or (flags & 0x07) != 7:
        raise ValueError("GIF without a 256-entry global color table unsupported")
    pos = 13
    palette = np.frombuffer(payload, np.uint8, 768, pos).reshape(256, 3)
    if not (palette[:, 0] == palette[:, 1]).all() or not (
        palette[:, 1] == palette[:, 2]
    ).all():
        raise ValueError("non-grayscale GIF palette unsupported")
    gray_map = palette[:, 0]
    pos += 768
    while pos < len(payload) and payload[pos] == 0x21:  # skip extensions
        pos += 2
        while payload[pos]:
            pos += 1 + payload[pos]
        pos += 1
    if pos >= len(payload) or payload[pos] != 0x2C:
        raise ValueError("GIF image descriptor not found")
    ix, iy, iw, ih, iflags = struct.unpack_from("<HHHHB", payload, pos + 1)
    if (ix, iy, iw, ih) != (0, 0, w, h) or iflags & 0xC0:
        raise ValueError("offset/interlaced/local-palette GIF unsupported")
    pos += 10
    mcs = payload[pos]
    pos += 1
    stream = bytearray()
    while payload[pos]:
        n = payload[pos]
        stream += payload[pos + 1 : pos + 1 + n]
        pos += 1 + n

    clear, eoi = 1 << mcs, (1 << mcs) + 1
    acc, nbits, spos = 0, 0, 0
    width = mcs + 1

    def read_code() -> int:
        nonlocal acc, nbits, spos
        while nbits < width:
            if spos >= len(stream):
                raise ValueError("GIF LZW stream truncated")
            acc |= stream[spos] << nbits
            spos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        return code

    table: list[bytes] = [bytes([i]) for i in range(1 << mcs)] + [b"", b""]
    out = bytearray()
    prev: bytes | None = None
    while True:
        code = read_code()
        if code == clear:
            table = table[: (1 << mcs) + 2]
            width, prev = mcs + 1, None
            continue
        if code == eoi:
            break
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # KwKwK case
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("invalid LZW code in GIF stream")
        out += entry
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    idx = np.frombuffer(bytes(out), np.uint8, h * w).reshape(h, w)
    return gray_map[idx]


def _gif_features(payload: bytes) -> list[float]:
    """[w, h, top-left, bottom-right, mean] over the grayscale image —
    closed-form oracle-able because the codec is lossless."""
    import numpy as np

    arr = decode_gif(payload)
    h, w = arr.shape
    return [
        float(w),
        float(h),
        float(arr[0, 0]),
        float(arr[h - 1, w - 1]),
        round(float(np.mean(arr.astype(np.float64))), 6),
    ]


# ------------------------------------------------------------------
# Baseline JPEG (ITU T.81 sequential DCT) in pure numpy + stdlib.
#
# A REAL lossy compressed codec: 8x8 orthonormal DCT, per-coefficient
# quantization, zigzag, DC DPCM, run-length + canonical Huffman entropy
# coding, JFIF marker stream with byte stuffing. The quantization and
# Huffman tables are CUSTOM but carried in the file's own DQT/DHT
# segments exactly as the spec requires, so any standard decoder reads
# these files — and this decoder reads the tables generically from the
# stream rather than assuming them. Supported profile: baseline SOF0,
# 8-bit, 3-component YCbCr or 1-component grayscale, no chroma
# subsampling (all Hi=Vi=1), no restart intervals; anything else is
# rejected with ValueError (honest gate, never a wrong decode).
# ------------------------------------------------------------------

_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _dct_matrix():
    import numpy as np

    k = np.arange(8)
    T = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16) / 2.0
    T[0, :] = 1.0 / (2.0 * np.sqrt(2.0))
    return T  # orthonormal: F = T @ B @ T.T is the JPEG 2-D DCT


def _quant_table(quality: int, chroma: bool):
    """Deterministic frequency-weighted table (coarser for chroma and for
    higher frequencies), scaled by the IJG quality convention. Custom by
    design — the file carries it in DQT, so conformance doesn't depend on
    reciting Annex K."""
    import numpy as np

    u, v = np.meshgrid(np.arange(8), np.arange(8), indexing="ij")
    base = 8 + (u + v) * (6 if chroma else 3)
    scale = 5000 / quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int32)


# Huffman alphabets: DC categories 0..11; AC (run<<4)|size plus EOB/ZRL.
_DC_SYMS = list(range(12))
_AC_SYMS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]


def _canonical_huffman(bits: list[int], syms: list[int]):
    """BITS/HUFFVAL -> {symbol: (code, length)} per T.81 Annex C."""
    codes, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[syms[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


# Fixed-length canonical layouts: 12 DC symbols at 4 bits (codes 0000..
# 1011 — the all-ones code the spec forbids is never reached), 162 AC
# symbols at 8 bits (codes 0x00..0xA1). Valid, prefix-free, embedded in
# DHT; not size-optimal, which is irrelevant to conformance.
_DC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 162, 0, 0, 0, 0, 0, 0, 0, 0]
_DC_CODES = _canonical_huffman(_DC_BITS, _DC_SYMS)
_AC_CODES = _canonical_huffman(_AC_BITS, _AC_SYMS)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.nbits -= 8
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s per spec
        return bytes(self.out)


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("JPEG entropy stream truncated")
        byte = self.data[self.pos]
        self.pos += 1
        if byte == 0xFF:
            if self.pos >= len(self.data) or self.data[self.pos] != 0x00:
                raise ValueError("unexpected marker inside entropy data")
            self.pos += 1  # skip stuffed zero
        self.acc = (self.acc << 8) | byte
        self.nbits += 8

    def read(self, length: int) -> int:
        while self.nbits < length:
            self._fill()
        self.nbits -= length
        val = (self.acc >> self.nbits) & ((1 << length) - 1)
        return val

    def read_huffman(self, decode_map: dict) -> int:
        code, length = 0, 0
        for _ in range(16):
            code = (code << 1) | self.read(1)
            length += 1
            sym = decode_map.get((code, length))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in JPEG stream")


def _category(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def encode_jpeg(pixels, quality: int = 90) -> bytes:
    """(h, w, 3) uint8 RGB -> baseline JFIF JPEG bytes (4:4:4, custom
    tables carried in DQT/DHT). Deterministic for a given input."""
    import struct

    import numpy as np

    arr = np.ascontiguousarray(np.asarray(pixels, dtype=np.uint8))
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError(f"expected (h, w, 3) RGB array, got shape {arr.shape}")
    h, w = arr.shape[:2]
    rgb = arr.astype(np.float64)
    y = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
    cb = -0.168736 * rgb[..., 0] - 0.331264 * rgb[..., 1] + 0.5 * rgb[..., 2] + 128.0
    cr = 0.5 * rgb[..., 0] - 0.418688 * rgb[..., 1] - 0.081312 * rgb[..., 2] + 128.0
    planes = [y, cb, cr]

    qt = [_quant_table(quality, False), _quant_table(quality, True)]
    T = _dct_matrix()
    hpad, wpad = -h % 8, -w % 8
    bw = _BitWriter()
    prev_dc = [0, 0, 0]
    blocks = []
    for comp, plane in enumerate(planes):
        p = np.pad(plane, ((0, hpad), (0, wpad)), mode="edge") - 128.0
        bh, bw_ = p.shape[0] // 8, p.shape[1] // 8
        view = p.reshape(bh, 8, bw_, 8).transpose(0, 2, 1, 3)
        coef = np.einsum("ij,xyjk,lk->xyil", T, view, T)
        q = qt[0 if comp == 0 else 1]
        blocks.append(np.round(coef / q).astype(np.int32))
    bh, bw_ = blocks[0].shape[:2]
    for by in range(bh):
        for bx in range(bw_):
            for comp in range(3):
                zz = blocks[comp][by, bx].reshape(64)[_ZIGZAG]
                diff = int(zz[0]) - prev_dc[comp]
                prev_dc[comp] = int(zz[0])
                s = _category(diff)
                code, length = _DC_CODES[s]
                bw.write(code, length)
                if s:
                    bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
                run = 0
                last_nz = max(
                    (i for i in range(1, 64) if zz[i]), default=0
                )
                for i in range(1, last_nz + 1):
                    v = int(zz[i])
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        c, ln = _AC_CODES[0xF0]
                        bw.write(c, ln)
                        run -= 16
                    s = _category(v)
                    c, ln = _AC_CODES[(run << 4) | s]
                    bw.write(c, ln)
                    bw.write(v if v >= 0 else v + (1 << s) - 1, s)
                    run = 0
                if last_nz < 63:
                    c, ln = _AC_CODES[0x00]
                    bw.write(c, ln)

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for tid, q in enumerate(qt):
        out += seg(0xFFDB, bytes([tid]) + bytes(int(q.reshape(64)[_ZIGZAG][i]) for i in range(64)))
    out += seg(
        0xFFC0,
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    for tc_th, bits, syms in (
        (0x00, _DC_BITS, _DC_SYMS),
        (0x10, _AC_BITS, _AC_SYMS),
        (0x01, _DC_BITS, _DC_SYMS),
        (0x11, _AC_BITS, _AC_SYMS),
    ):
        out += seg(0xFFC4, bytes([tc_th]) + bytes(bits) + bytes(syms))
    out += seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    out += bw.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def decode_jpeg(payload: bytes):
    """Baseline JFIF JPEG bytes -> (h, w, 3) uint8 RGB. Reads quant +
    Huffman tables from the stream (DQT/DHT), so it decodes any
    conforming baseline 4:4:4 file, not only this encoder's output.
    Rejects progressive/subsampled/restart-interval variants."""
    import struct

    import numpy as np

    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qts: dict[int, "np.ndarray"] = {}
    huff: dict[int, dict] = {}
    frame = None
    scan_comps = None
    data_start = None
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker sync lost")
        marker = (payload[pos] << 8) | payload[pos + 1]
        if marker == 0xFFD9:
            break
        size = struct.unpack_from(">H", payload, pos + 2)[0]
        if pos + 2 + size > len(payload):
            raise ValueError("JPEG segment truncated")
        body = payload[pos + 4 : pos + 2 + size]
        if marker == 0xFFDB:
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                tbl = np.zeros(64, np.int32)
                tbl[_ZIGZAG] = np.frombuffer(body[i + 1 : i + 65], np.uint8)
                qts[tq] = tbl.reshape(8, 8)
                i += 65
        elif marker == 0xFFC4:
            i = 0
            while i < len(body):
                tc_th = body[i]
                bits = list(body[i + 1 : i + 17])
                n = sum(bits)
                syms = list(body[i + 17 : i + 17 + n])
                if len(bits) < 16 or len(syms) < n:
                    raise ValueError("JPEG DHT segment truncated")
                codes = _canonical_huffman(bits, syms)
                huff[tc_th] = {(c, ln): s for s, (c, ln) in codes.items()}
                i += 17 + n
        elif marker == 0xFFC0:
            prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8 or nc not in (1, 3):
                raise ValueError(f"unsupported JPEG frame (prec={prec}, nc={nc})")
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                if hv != 0x11:
                    raise ValueError("chroma subsampling unsupported")
                comps.append((cid, tq))
            frame = (h, w, comps)
        elif marker in (0xFFC1, 0xFFC2, 0xFFC3, 0xFFC5, 0xFFC6, 0xFFC7,
                        0xFFC9, 0xFFCA, 0xFFCB, 0xFFCD, 0xFFCE, 0xFFCF):
            raise ValueError("only baseline sequential (SOF0) supported")
        elif marker == 0xFFDD:
            raise ValueError("restart intervals unsupported")
        elif marker == 0xFFDA:
            ns = body[0]
            scan_comps = [(body[1 + 2 * c], body[2 + 2 * c]) for c in range(ns)]
            data_start = pos + 2 + size
            break
        pos += 2 + size
    if frame is None or scan_comps is None:
        raise ValueError("JPEG missing SOF0/SOS")
    h, w, comps = frame
    # find EOI from the end (0xFFD9)
    end = payload.rfind(b"\xff\xd9")
    if end < data_start:
        raise ValueError("JPEG missing EOI")
    reader = _BitReader(payload[data_start:end])
    T = _dct_matrix()
    bh, bw_ = (h + 7) // 8, (w + 7) // 8
    planes = [np.zeros((bh * 8, bw_ * 8)) for _ in comps]
    prev_dc = [0] * len(comps)
    for by in range(bh):
        for bx in range(bw_):
            for ci, (cid, tq) in enumerate(comps):
                td, ta = scan_comps[ci][1] >> 4, scan_comps[ci][1] & 0xF
                dc_map, ac_map = huff[td], huff[0x10 | ta]
                zz = np.zeros(64, np.int32)
                s = reader.read_huffman(dc_map)
                diff = 0
                if s:
                    v = reader.read(s)
                    diff = v if v >= (1 << (s - 1)) else v - (1 << s) + 1
                prev_dc[ci] += diff
                zz[0] = prev_dc[ci]
                i = 1
                while i < 64:
                    sym = reader.read_huffman(ac_map)
                    if sym == 0x00:  # EOB
                        break
                    if sym == 0xF0:  # ZRL
                        i += 16
                        continue
                    run, size_ = sym >> 4, sym & 0xF
                    i += run
                    if i > 63:
                        raise ValueError("AC run past block end")
                    v = reader.read(size_)
                    zz[i] = v if v >= (1 << (size_ - 1)) else v - (1 << size_) + 1
                    i += 1
                blk = np.zeros(64, np.int32)
                blk[_ZIGZAG] = zz
                coef = blk.reshape(8, 8) * qts[tq]
                pix = T.T @ coef @ T + 128.0
                planes[ci][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = pix
    planes = [p[:h, :w] for p in planes]
    if len(planes) == 1:
        g = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return np.stack([g, g, g], axis=-1)
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


def _paeth(a, b, c):
    """Paeth predictor (PNG spec §9, filter type 4), vectorized over numpy
    int16 arrays: pick whichever of left/up/up-left is closest to
    p = left + up - upleft, with the spec's tie-break order (a, then b)."""
    import numpy as np

    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def encode_png(pixels) -> bytes:
    """(h, w, 3) uint8 RGB array -> 8-bit truecolor PNG bytes.

    Real DEFLATE compression via stdlib zlib (level 6). The scanline filter
    rotates through all five spec filter types (row r uses filter r % 5), so
    a decoder must implement every reversal path to round-trip the output —
    that is deliberate: it makes the in-repo decode_png round-trip test an
    actual test of the filter logic, not just of zlib.
    """
    import struct
    import zlib

    import numpy as np

    arr = np.ascontiguousarray(np.asarray(pixels, dtype=np.uint8))
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError(f"expected (h, w, 3) RGB array, got shape {arr.shape}")
    h, w = arr.shape[:2]
    rows = arr.reshape(h, w * 3).astype(np.int16)  # int16: filter math needs signed
    prev = np.zeros(w * 3, dtype=np.int16)
    out = bytearray()
    for r in range(h):
        cur = rows[r]
        left = np.concatenate([np.zeros(3, np.int16), cur[:-3]])
        upleft = np.concatenate([np.zeros(3, np.int16), prev[:-3]])
        ftype = r % 5
        if ftype == 0:
            filt = cur
        elif ftype == 1:
            filt = cur - left
        elif ftype == 2:
            filt = cur - prev
        elif ftype == 3:
            filt = cur - ((left + prev) >> 1)
        else:
            filt = cur - _paeth(left, prev, upleft)
        out.append(ftype)
        out += (filt % 256).astype(np.uint8).tobytes()
        prev = cur

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit, RGB, no interlace
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(out), 6))
        + chunk(b"IEND", b"")
    )


def decode_png(payload: bytes):
    """8-bit truecolor (color type 2) non-interlaced PNG -> (h, w, 3) uint8
    RGB array. Stdlib zlib inflates the concatenated IDAT stream; numpy
    reverses the per-scanline filters. Chunk CRCs are verified. Rejects
    anything it cannot decode exactly (palette/gray/alpha, 16-bit,
    interlaced) rather than guessing.

    Filter reversal strategy: None and Up are fully vectorized; Sub is a
    per-channel-lane cumulative sum (recon[x] = raw[x] + recon[x-3] mod 256
    is exactly cumsum mod 256 per lane); Average and Paeth are inherently
    sequential in x (the 'left' operand is the already-reconstructed byte),
    so those rows walk pixels left-to-right operating on 3-byte lanes.
    """
    import struct
    import zlib

    import numpy as np

    if len(payload) < 8 or payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos, w = 8, None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (size,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + size]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + size)
        if zlib.crc32(tag + body) != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            w, h, depth, ctype, comp, filt, interlace = struct.unpack(">IIBBBBB", body)
            if (depth, ctype, comp, filt, interlace) != (8, 2, 0, 0, 0):
                raise ValueError(
                    f"unsupported PNG variant (depth={depth}, color={ctype}, "
                    f"interlace={interlace})"
                )
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + size
    if w is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT chunk")
    stride = w * 3
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    if raw.size != h * (stride + 1):
        raise ValueError(f"PNG data size {raw.size} != {h * (stride + 1)}")
    raw = raw.reshape(h, stride + 1)
    ftypes, data = raw[:, 0], raw[:, 1:].astype(np.int16)
    recon = np.zeros((h, stride), dtype=np.int16)
    prev = np.zeros(stride, dtype=np.int16)
    for r in range(h):
        cur, ft = data[r], int(ftypes[r])
        if ft == 0:
            rec = cur
        elif ft == 1:  # Sub: cumsum mod 256 per 3-byte channel lane
            rec = cur.reshape(w, 3).cumsum(axis=0).reshape(stride) % 256
        elif ft == 2:  # Up
            rec = (cur + prev) % 256
        elif ft == 3:  # Average: sequential (left is reconstructed)
            rec = np.empty(stride, dtype=np.int16)
            left = np.zeros(3, dtype=np.int16)
            px = cur.reshape(w, 3)
            up = prev.reshape(w, 3)
            for x in range(w):
                left = (px[x] + ((left + up[x]) >> 1)) % 256
                rec[x * 3 : x * 3 + 3] = left
        elif ft == 4:  # Paeth: sequential
            rec = np.empty(stride, dtype=np.int16)
            left = np.zeros(3, dtype=np.int16)
            upleft = np.zeros(3, dtype=np.int16)
            px = cur.reshape(w, 3)
            up = prev.reshape(w, 3)
            for x in range(w):
                left = (px[x] + _paeth(left, up[x], upleft)) % 256
                upleft = up[x]
                rec[x * 3 : x * 3 + 3] = left
        else:
            raise ValueError(f"invalid PNG filter type {ft}")
        recon[r] = rec
        prev = rec
    return recon.astype(np.uint8).reshape(h, w, 3)


def _rgb_features(arr) -> list[float]:
    """REAL decode features of a decoded (h, w, 3) RGB image: [width,
    height, top-left R/G/B, bottom-right R/G/B, round(mean over all pixel
    bytes, 6)]. The corner pixels pin each decoder's layout transforms —
    BMP's bottom-up flip and BGR swap, PNG's filter reversals (a botched
    Sub/Up/Average/Paeth corrupts later rows and misses the bottom-right
    pixel) — which the mean alone would not catch. BMP and PNG are
    lossless, so one closed-form SQL oracle applies to both; JPEG is
    LOSSY, so its values are deterministic but not closed-form (its
    registry entry is rows-only and tests/test_multimodal.py bounds its
    PSNR against the source instead)."""
    import numpy as np

    h, w = arr.shape[:2]
    tl, br = arr[0, 0], arr[h - 1, w - 1]
    return [
        float(w),
        float(h),
        float(tl[0]),
        float(tl[1]),
        float(tl[2]),
        float(br[0]),
        float(br[1]),
        float(br[2]),
        round(float(np.mean(arr.astype(np.float64))), 6),
    ]


def _wav_features(payload: bytes) -> list[float]:
    """REAL decode features for a WAV payload: [sample_rate, n_samples,
    first, last, round(mean, 6)]."""
    import numpy as np

    rate, data = decode_wav(payload)
    n = int(data.size)
    return [
        float(rate),
        float(n),
        float(data[0]) if n else 0.0,
        float(data[-1]) if n else 0.0,
        round(float(np.mean(data.astype(np.float64))), 6) if n else 0.0,
    ]


def _decode_batch(batch: pd.DataFrame) -> pd.DataFrame:
    """Per-codec dispatch: bmp/png/jpeg/gif/wav rows get REAL pure-numpy
    decodes (:func:`_rgb_features`, :func:`_gif_features`,
    :func:`_wav_features`); everything else gets the vectorized deterministic stand-in — per-row normalized byte
    histograms of _HIST_BINS buckets, computed as ONE bincount over the
    whole Arrow batch (payloads concatenated; bucket = row_index *
    _HIST_BINS + byte % _HIST_BINS) —
    no per-row or per-byte Python in the stand-in hot path. (The real
    decodes are per-payload by nature; each is a handful of numpy slices.)"""
    import numpy as np

    _check_codecs(batch["codec"])
    decodable = batch["codec"].isin(DECODABLE_CODECS)
    if decodable.any():
        real = batch[decodable]
        decoders = {
            "bmp": lambda p: _rgb_features(decode_bmp(p)),
            "wav": _wav_features,
            "png": lambda p: _rgb_features(decode_png(p)),
            "jpeg": lambda p: _rgb_features(decode_jpeg(p)),
            "gif": _gif_features,
        }
        feats = [
            decoders[c](bytes(p)) for c, p in zip(real["codec"], real["payload"])
        ]
        out_real = pd.DataFrame(
            {
                "media_id": real["media_id"].to_numpy(),
                "n_bytes": [len(bytes(p)) for p in real["payload"]],
                "features": feats,
            },
            columns=["media_id", "n_bytes", "features"],
        )
        rest = batch[~decodable]
        if rest.empty:
            return out_real
        return pd.concat(
            [out_real, _decode_batch(rest)], ignore_index=True
        )
    payloads = [bytes(p) if p is not None else b"" for p in batch["payload"]]
    n = len(payloads)
    lens = np.fromiter((len(b) for b in payloads), dtype=np.int64, count=n)
    if n and lens.sum():
        allbytes = np.frombuffer(b"".join(payloads), dtype=np.uint8)
        row_idx = np.repeat(np.arange(n, dtype=np.int64), lens)
        hist = np.bincount(
            row_idx * _HIST_BINS + (allbytes % _HIST_BINS).astype(np.int64),
            minlength=n * _HIST_BINS,
        ).reshape(n, _HIST_BINS)
    else:
        hist = np.zeros((n, _HIST_BINS), dtype=np.int64)
    totals = np.maximum(lens, 1).astype(np.float64)
    feats = np.round(hist / totals[:, None], 6)
    return pd.DataFrame(
        {
            "media_id": batch["media_id"].to_numpy(),
            "n_bytes": lens,
            "features": list(feats),
        },
        columns=["media_id", "n_bytes", "features"],
    )


def decode_media(media: DataFrame) -> DataFrame:
    """Arrow-batched decode/feature-extract pipeline over binary payloads.

    mapInPandas keeps payloads off the driver and processes executor-local
    Arrow batches — the correct shape for multi-GB media partitions. Each
    batch goes through `_decode_batch`, which extracts deterministic
    byte-histogram features (real codecs raise, see module docstring).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            yield _decode_batch(batch)

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


def synthetic_media(
    docs: DataFrame,
    kind: str = "bmp",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic media payloads derived from ids, ENCODED with the real
    codecs: 8x4 images whose pixel byte i of doc d is (d*7 + i) % 256
    (row-major top-down RGB); 64-sample 8 kHz WAV clips whose sample i is
    ((d*13 + i*31) % 65536) - 32768. Because the content is a closed-form
    function of the id, the decoded features are oracle-checkable in plain
    SQL — the encode->decode round trip through the actual BMP/WAV/PNG byte
    layout is what the check exercises. For kind="png" the same pixel rule
    goes through DEFLATE + all five scanline filters, so the identical
    oracle also proves the compressed round trip."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for batch in batches:
            ids = batch[id_col].to_numpy()
            payloads = []
            for d in ids:
                if kind in ("bmp", "png", "jpeg"):
                    px = (int(d) * 7 + np.arange(8 * 4 * 3)) % 256
                    arr = px.astype(np.uint8).reshape(4, 8, 3)
                    enc = {"bmp": encode_bmp, "png": encode_png, "jpeg": encode_jpeg}
                    payloads.append(enc[kind](arr))
                elif kind == "gif":
                    px = (int(d) * 7 + np.arange(8 * 4)) % 256
                    payloads.append(encode_gif(px.astype(np.uint8).reshape(4, 8)))
                else:
                    s = (int(d) * 13 + np.arange(64) * 31) % 65536 - 32768
                    payloads.append(encode_wav(s.astype("<i2"), 8000))
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "modality": "audio" if kind == "wav" else "image",
                    "codec": kind,
                    "payload": payloads,
                    "meta_json": None,
                },
                columns=["media_id", "modality", "codec", "payload", "meta_json"],
            )

    # Spread the CPU-dense codecs across cores: a small local parquet is
    # one scan split -> one Python worker, which serializes the whole
    # pure-Python codec chain (measured at sf0.1: the JPEG encode+decode
    # query ran as ONE task, 7.7-9.8 s; spread it runs 1.7-1.8 s, ABAB
    # old>new in all 3 paired legs). Only the compressed codecs
    # (DCT/DEFLATE/LZW) pay enough per row to amortize the round-robin
    # exchange — for memcpy-level BMP/WAV the same spread was a measured
    # ~0.4-0.5 s LOSS per query (ABAB, 3 legs), so they keep the scan's
    # partitioning. No-op at scale where splits >= cores; payloads are a
    # pure function of the id, so partitioning is result-invariant.
    ids = docs.select(id_col)
    if kind in ("jpeg", "png", "gif"):
        from ascii_hydra_spark.operators.dedup import _ensure_min_parallelism

        ids = _ensure_min_parallelism(ids)
    return ids.mapInPandas(run, schema=MEDIA_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("payload", BinaryType(), True),
    ]
)


def resize_media(media: DataFrame, width: int = 32, height: int = 32) -> DataFrame:
    """Image-resize pipeline shape: Arrow-batched mapInPandas, binary in /
    binary out, target dims carried as metadata.

    STUB decode: real codecs raise (no PIL in this container); the utf8
    stand-in 'resizes' by deterministic byte truncation/padding to
    width*height bytes, preserving the exact schema/batching a real resizer
    would use.
    """
    target = width * height

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            _check_codecs(batch["codec"])
            # bytes slice/ljust are C-level; the column comprehension is the
            # only Python-level loop (one step per row, not per byte)
            resized = [
                bytes(p or b"")[:target].ljust(target, b"\0")
                for p in batch["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": batch["media_id"].to_numpy(),
                    "width": width,
                    "height": height,
                    "payload": resized,
                },
                columns=["media_id", "width", "height", "payload"],
            )

    return media.mapInPandas(run, schema=RESIZED_SCHEMA)


def frame_sample_plan(media: DataFrame) -> DataFrame:
    """Video frame-sampling *plan*: one output row per sampled frame index
    (every 10th frame).

    Generates (media_id, frame_idx) rows with sequence+explode so the
    expensive decode fans out across executors; the actual frame grab is the
    decode_media stub.
    """
    n_frames = F.coalesce(
        F.get_json_object("meta_json", "$.n_frames").cast("int"), F.lit(0)
    )
    idx = F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)), F.lit(10))
    return media.select("media_id", F.explode(idx).alias("frame_idx"))


AUDIO_FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_idx", LongType(), False),
        StructField("n_samples", LongType(), False),
        StructField("peak", LongType(), False),
        StructField("sum_sq", LongType(), False),
    ]
)


def audio_frame_energy(media: DataFrame) -> DataFrame:
    """Per-frame energy features from 16-bit PCM WAV payloads: one row
    per (clip, 16-sample frame) with the frame's peak |amplitude| and EXACT
    integer sum of squares — the framing pass in front of any audio
    feature extractor (VAD, loudness gates, silence trimming pick
    frames, not whole clips). RMS = sqrt(sum_sq / n) is left to the
    caller as a JVM-side expression so the only float op happens in one
    engine-portable place.

    Arrow-batched mapInPandas like decode_media: payload bytes stay
    executor-local, frames vectorize per clip (a reshape + reduce, no
    per-sample Python). Trailing partial frames are dropped (framing
    convention; documented). int64 sums are exact to ~2^33 samples per
    frame — far beyond any real frame size.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for batch in batches:
            out: dict[str, list] = {
                "media_id": [], "frame_idx": [], "n_samples": [],
                "peak": [], "sum_sq": [],
            }
            for mid, payload in zip(
                batch["media_id"].to_numpy(), batch["payload"]
            ):
                _rate, samples = decode_wav(bytes(payload))
                s = samples.astype(np.int64)
                nf = len(s) // 16
                if nf == 0:
                    continue
                frames = s[: nf * 16].reshape(nf, 16)
                peaks = np.abs(frames).max(axis=1)
                sums = (frames * frames).sum(axis=1)
                out["media_id"].extend([int(mid)] * nf)
                out["frame_idx"].extend(range(nf))
                out["n_samples"].extend([16] * nf)
                out["peak"].extend(int(p) for p in peaks)
                out["sum_sq"].extend(int(v) for v in sums)
            yield pd.DataFrame(out, columns=list(AUDIO_FRAME_SCHEMA.names))

    return media.mapInPandas(run, schema=AUDIO_FRAME_SCHEMA)


CHANNEL_STAT_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("channel", LongType(), False),
        StructField("n_px", LongType(), False),
        StructField("sum_v", LongType(), False),
        StructField("min_v", LongType(), False),
        StructField("max_v", LongType(), False),
    ]
)


def image_channel_stats(media: DataFrame) -> DataFrame:
    """Per-(image, RGB channel) pixel statistics from BMP payloads:
    exact integer count/sum/min/max per channel — the normalization
    pass (per-channel mean/std) every vision preprocessing pipeline
    runs before training. Means/ratios are left to the caller as
    JVM-side expressions (one float op, one place). Same Arrow-batched
    mapInPandas shape as decode_media.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for batch in batches:
            out: dict[str, list] = {
                "media_id": [], "channel": [], "n_px": [],
                "sum_v": [], "min_v": [], "max_v": [],
            }
            for mid, payload in zip(
                batch["media_id"].to_numpy(), batch["payload"]
            ):
                px = decode_bmp(bytes(payload)).astype(np.int64)
                for c in range(3):
                    ch = px[:, :, c]
                    out["media_id"].append(int(mid))
                    out["channel"].append(c)
                    out["n_px"].append(int(ch.size))
                    out["sum_v"].append(int(ch.sum()))
                    out["min_v"].append(int(ch.min()))
                    out["max_v"].append(int(ch.max()))
            yield pd.DataFrame(out, columns=list(CHANNEL_STAT_SCHEMA.names))

    return media.mapInPandas(run, schema=CHANNEL_STAT_SCHEMA)
