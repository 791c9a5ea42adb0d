"""Multimodal (image/audio/video) columns (SURVEY §2.11 L6, §2.1 S9).

Design: media is an opaque ``binary`` column plus a typed metadata
struct — the LLM-data-pipeline convention (WebDataset/LAION-style
rows: bytes + sidecar metadata). Everything Spark-side is real and
tested: the ``binaryFile`` scan, JVM-side container sniffing, binary
dedup, Arrow-batched header parsing, and the ``mapInPandas`` plumbing
(schema, batch shape, partitioning) for decode/resize/frame-sample.
Only the pixel/sample *decode* kernels are stubbed — the image/audio
libraries are not in this container — behind ``NotImplementedError``
with a documented deterministic fake for tests (task contract).

Scale notes (100 TB): media rows are large — keep ``content`` out of
every projection that doesn't need it (column pruning does this when
metadata lives in separate columns, which is why ``sniff``/header
fields are materialized as top-level columns, not recomputed); dedup
on ``sha2(content)`` shuffles 32-byte digests, never the bytes;
``maxPartitionBytes`` governs scan granularity; decode runs in
``mapInPandas`` with bounded Arrow batches so executor memory is
O(batch), not O(partition).
"""

from __future__ import annotations

import re
import struct
import zlib
from collections.abc import Callable, Iterator
from functools import partial

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: Magic-byte prefixes → mime, checked JVM-side (no Python in the scan).
_MAGIC = {
    "89504E470D0A1A0A": "image/png",
    "424D": "image/bmp",
    "FFD8FF": "image/jpeg",
    "474946383761": "image/gif",
    "474946383961": "image/gif",
    "52494646": "audio/wav",  # RIFF container (WAVE checked in header parse)
    "494433": "audio/mpeg",
    "000000186674797069736F6D": "video/mp4",
    "1A45DFA3": "video/webm",
}

HEADER_SCHEMA = (
    "path STRING, length BIGINT, content BINARY, mime STRING, "
    "width INT, height INT, channels INT, sample_rate INT, bit_depth INT"
)


def read_media_dir(spark: SparkSession, path: str, glob: str = "*") -> DataFrame:
    """S9: ``binaryFile`` scan → (path, modificationTime, length, content).

    ``pathGlobFilter`` prunes at listing time — at 100 TB the listing,
    not the read, is the first bottleneck, so keep media partitioned
    ``.../modality=image/date=.../`` and glob narrowly.
    """
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )


def sniff_mime(df: DataFrame, content: str = "content") -> DataFrame:
    """Magic-byte container detection as a pure Column expression.

    ``hex(substring(binary))`` comparisons stay inside whole-stage
    codegen; parquet only materializes the first 16 bytes when the
    source supports it (binaryFile does not, but a parquet re-land of
    the same schema does via column pruning of ``content``).
    """
    prefix = F.hex(F.substring(F.col(content), 1, 16))
    expr = F.lit(None).cast("string")
    # longest prefix first so RIFF doesn't shadow more specific types
    for magic, mime in sorted(_MAGIC.items(), key=lambda kv: -len(kv[0])):
        expr = F.when(prefix.startswith(magic), F.lit(mime)).otherwise(expr)
    return df.withColumn("mime", expr)


# ---------------------------------------------------------- header parse
# Real parsers for PNG IHDR and WAV fmt chunks — plain byte slicing, no
# media libraries, deterministic. Runs Arrow-batched via mapInPandas.


def _parse_one(content: bytes | None) -> tuple:
    if not content:
        return (None, None, None, None, None)
    if content[:8] == b"\x89PNG\r\n\x1a\n" and len(content) >= 26:
        w, h = struct.unpack(">II", content[16:24])
        depth = content[24]
        return (w, h, None, None, depth)
    if content[:2] == b"BM" and len(content) >= 30:
        w, h = struct.unpack("<ii", content[18:26])
        bits = struct.unpack("<H", content[28:30])[0]
        return (w, h, None, None, bits)
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE" and len(content) >= 36:
        channels, rate = struct.unpack("<HI", content[22:28])
        bits = struct.unpack("<H", content[34:36])[0]
        return (None, None, channels, rate, bits)
    if content[:6] in (b"GIF87a", b"GIF89a") and len(content) >= 11:
        # logical screen descriptor: u16-LE dims + packed flags byte
        w, h = struct.unpack("<HH", content[6:10])
        packed = content[10]
        depth = (packed & 0x07) + 1  # global color table bits/pixel
        return (w, h, None, None, depth)
    if content[:3] == b"\xff\xd8\xff":
        # JPEG: walk marker segments to the first SOF (start-of-frame)
        # — unlike PNG/BMP the dimensions are not at a fixed offset
        sof = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
               0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}
        pos = 2
        while pos + 4 <= len(content):
            if content[pos] != 0xFF:
                break
            marker = content[pos + 1]
            if marker in sof:
                if pos + 9 <= len(content):
                    precision = content[pos + 4]
                    h, w = struct.unpack(">HH", content[pos + 5:pos + 9])
                    return (w, h, None, None, precision)
                break
            seglen = struct.unpack(">H", content[pos + 2:pos + 4])[0]
            if seglen < 2:
                break
            pos += 2 + seglen
        return (None, None, None, None, None)
    return (None, None, None, None, None)


def parse_headers(df: DataFrame) -> DataFrame:
    """Extract typed media metadata (width/height/channels/rate/depth).

    mapInPandas keeps the whole row batch (bytes included) in one Arrow
    transfer; output schema is fixed so downstream plans are stable.
    """
    out_schema = HEADER_SCHEMA

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            parsed = [_parse_one(c) for c in pdf["content"]]
            cols = list(zip(*parsed)) if parsed else [[]] * 5
            for i, name in enumerate(
                ["width", "height", "channels", "sample_rate", "bit_depth"]
            ):
                pdf[name] = pd.array(cols[i], dtype="Int32")
            yield pdf[
                [
                    "path",
                    "length",
                    "content",
                    "mime",
                    "width",
                    "height",
                    "channels",
                    "sample_rate",
                    "bit_depth",
                ]
            ]

    base = df if "mime" in df.columns else sniff_mime(df)
    keep = base.select("path", "length", "content", "mime")
    return keep.mapInPandas(gen, out_schema)


def dedup_media(df: DataFrame, content: str = "content") -> DataFrame:
    """Exact media dedup on content digest (L1 over binary).

    Shuffles (digest, path) pairs only — never the media bytes; the
    surviving row per digest is re-joined (broadcast-eligible when the
    duplicate set is small) if callers need the bytes back.
    """
    digest = F.sha2(F.col(content), 256).alias("content_sha256")
    ranked = df.withColumn("content_sha256", digest).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("content_sha256").orderBy("path")
        ),
    )
    return ranked.filter(F.col("rn") == 1).drop("rn")


# ------------------------------------------------------------ decode stubs
# Pixel/sample decode needs PIL/ffmpeg — NOT in this container. The
# Spark plumbing below (signatures, schemas, batch iteration) is real
# and tested with fake=True, which produces a deterministic surrogate
# (documented) so pipelines exercise end-to-end.


def decode_image(df: DataFrame, *, size: tuple[int, int] = (64, 64), fake: bool = False) -> DataFrame:
    """Decode+resize image content → float32 pixel array (CHW flat).

    fake=True: surrogate "pixels" = first size[0]*size[1] bytes of the
    content repeated/truncated, scaled to [0,1] — deterministic, shape-
    correct, no media libs. Real GENERAL decode raises
    NotImplementedError until Pillow lands (STUB, task contract) —
    but note the library-free REAL decode paths that now exist for
    spec-simple formats: decode_png_blocks (8-bit RGB PNG, stdlib
    zlib + hand un-filtering), decode_ppm_blocks (binary PPM), and
    decode_wav_windows (PCM WAV).
    """
    n = size[0] * size[1]
    schema = "path STRING, mime STRING, pixels ARRAY<FLOAT>"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "general image decode requires Pillow/opencv (absent "
                    "in this container); run with fake=True for the "
                    "deterministic test surrogate, or use the REAL "
                    "library-free paths decode_png_blocks / "
                    "decode_ppm_blocks for those formats"
                )
            pix = []
            for c in pdf["content"]:
                b = (bytes(c or b"") * (n // max(1, len(c or b" ")) + 1))[:n]
                pix.append([x / 255.0 for x in b])
            yield pd.DataFrame(
                {"path": pdf["path"], "mime": pdf["mime"], "pixels": pix}
            )

    base = df if "mime" in df.columns else sniff_mime(df)
    return base.select("path", "mime", "content").mapInPandas(gen, schema)


def sample_frames(df: DataFrame, *, every_n_bytes: int = 4096, max_frames: int = 8, fake: bool = False) -> DataFrame:
    """Video frame sampling → one row per sampled frame (posexplode shape).

    fake=True: surrogate frames = max_frames evenly spaced 16-byte
    slices of content. Real demux raises NotImplementedError (STUB).
    """
    schema = "path STRING, frame_no INT, frame BINARY"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "video demux requires ffmpeg (absent in this container); "
                    "run with fake=True for the deterministic test surrogate"
                )
            paths, nos, frames = [], [], []
            for p, c in zip(pdf["path"], pdf["content"]):
                b = bytes(c or b"")
                for i in range(min(max_frames, max(1, len(b) // every_n_bytes))):
                    paths.append(p)
                    nos.append(i)
                    frames.append(b[i * every_n_bytes : i * every_n_bytes + 16])
            yield pd.DataFrame({"path": paths, "frame_no": nos, "frame": frames})

    return df.select("path", "content").mapInPandas(gen, schema)


def _tile_blocks(
    df: DataFrame,
    decode: Callable[[bytes, str], list[np.ndarray]],
    key_col: str,
    content_col: str,
    block: int,
) -> DataFrame:
    """The image decoders' shared tile pooler: ``decode(bytes, key)``
    returns the content's images as (H, W, 3) int64 RGB arrays, and
    each image becomes one row per ``block``×``block`` tile of
    (key, width, height, by, bx, n_px, sum_r, sum_g, sum_b)."""
    schema = (
        f"{key_col} string, width int, height int, by int, bx int, "
        "n_px long, sum_r long, sum_g long, sum_b long"
    )
    return df.select(key_col, content_col).mapInPandas(
        partial(_pool_tiles, decode=decode, key_col=key_col, content_col=content_col, block=block),
        schema,
    )


def _pool_tiles(
    batches: Iterator[pd.DataFrame],
    *,
    decode: Callable[[bytes, str], list[np.ndarray]],
    key_col: str,
    content_col: str,
    block: int,
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for key, content in zip(pdf[key_col], pdf[content_col]):
            for px in decode(bytes(content), key):
                h, w = px.shape[:2]
                for by in range(0, h, block):
                    for bx in range(0, w, block):
                        tile = px[by : by + block, bx : bx + block]
                        s = tile.sum(axis=(0, 1))
                        rows.append(
                            (
                                key, w, h, by // block, bx // block,
                                tile.shape[0] * tile.shape[1],
                                int(s[0]), int(s[1]), int(s[2]),
                            )
                        )
        yield pd.DataFrame(
            rows,
            columns=[
                key_col, "width", "height", "by", "bx",
                "n_px", "sum_r", "sum_g", "sum_b",
            ],
        )


_PPM_HEAD = re.compile(rb"^P6\s+(\d+)\s+(\d+)\s+(\d+)\s")


def _ppm_frames(b: bytes, key: str) -> list[np.ndarray]:
    m = _PPM_HEAD.match(b)
    if not m:
        raise ValueError(f"not a binary PPM (P6): {key!r}")
    w, h, maxval = (int(g) for g in m.groups())
    if maxval != 255:
        raise NotImplementedError(
            "only 8-bit-per-channel PPM supported"
        )
    raw = b[m.end():]
    if len(raw) < w * h * 3:
        raise ValueError(
            f"short pixel buffer for {key!r}: "
            f"{len(raw)} < {w * h * 3}"
        )
    px = np.frombuffer(raw[: w * h * 3], dtype=np.uint8)
    return [px.reshape(h, w, 3).astype(np.int64)]


def decode_ppm_blocks(
    df: DataFrame,
    key_col: str = "path",
    content_col: str = "content",
    block: int = 8,
) -> DataFrame:
    """REAL image decode with zero image libraries: binary PPM (P6) —
    the one raster format whose spec is small enough to implement
    directly (netpbm: ``P6 <ws> width <ws> height <ws> maxval <single
    ws> raw RGB bytes``) — parsed to an H×W×3 numpy array, then
    mean-pool features per ``block``×``block`` tile (integer channel
    SUMS + pixel count, so the caller controls the division/rounding).
    Upgrades the L6 decode path from header-parse-only to an actual
    bytes → pixels → features pipeline; PNG/JPEG stay honestly
    stubbed (zlib/DCT need the absent codec libs — operators/
    multimodal.decode_image).

    Output: (key, width, height, by, bx, n_px, sum_r, sum_g, sum_b),
    one row per tile. Arrow-batched mapInPandas; bytes never shuffle
    (tile sums leave the executor, pixels don't). Malformed headers
    or short pixel buffers raise loudly.
    """
    return _tile_blocks(df, _ppm_frames, key_col, content_col, block)


def decode_wav_windows(
    df: DataFrame,
    key_col: str = "path",
    content_col: str = "content",
    window: int = 160,
) -> DataFrame:
    """REAL audio decode with zero audio libraries: PCM WAV — RIFF
    container walking (chunk id + little-endian u32 size, skipping
    unknown chunks) to the ``fmt `` and ``data`` chunks, then
    numpy-decoding the int16 sample buffer and folding per-``window``
    energy features: exact integer sum of squares, peak |sample|, and
    sample count. The audio twin of decode_ppm_blocks — upgrades the
    L6 audio path from header-parse-only to bytes → samples →
    features. Only PCM (format 1) mono 16-bit is accepted; anything
    else raises loudly (compressed codecs need the absent libs).

    Output: (key, sample_rate, win, n_samples, ssq, peak); only the
    window aggregates shuffle, never sample buffers.
    """
    import struct as _struct

    import numpy as np
    import pandas as pd

    schema = (
        f"{key_col} string, sample_rate int, win int, n_samples long, "
        "ssq long, peak int"
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for key, content in zip(pdf[key_col], pdf[content_col]):
                b = bytes(content)
                if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
                    raise ValueError(f"not a RIFF/WAVE file: {key!r}")
                pos, fmt, data = 12, None, None
                while pos + 8 <= len(b):
                    cid = b[pos : pos + 4]
                    (size,) = _struct.unpack("<I", b[pos + 4 : pos + 8])
                    body = b[pos + 8 : pos + 8 + size]
                    if cid == b"fmt ":
                        fmt = _struct.unpack("<HHIIHH", body[:16])
                    elif cid == b"data":
                        data = body
                    pos += 8 + size + (size & 1)  # chunks are word-aligned
                if fmt is None or data is None:
                    raise ValueError(f"missing fmt/data chunk: {key!r}")
                afmt, channels, rate, _br, _ba, bits = fmt
                if (afmt, channels, bits) != (1, 1, 16):
                    raise NotImplementedError(
                        "only PCM mono 16-bit supported "
                        f"(got fmt={afmt} ch={channels} bits={bits})"
                    )
                x = np.frombuffer(
                    data[: len(data) // 2 * 2], dtype="<i2"
                ).astype(np.int64)
                for w0 in range(0, len(x), window):
                    seg = x[w0 : w0 + window]
                    rows.append(
                        (
                            key, rate, w0 // window, len(seg),
                            int((seg * seg).sum()),
                            int(np.abs(seg).max()) if len(seg) else 0,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    key_col, "sample_rate", "win", "n_samples",
                    "ssq", "peak",
                ],
            )

    return df.select(key_col, content_col).mapInPandas(gen, schema)


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (spec §9, Filter type 4): nearest of
    left/up/up-left to p = a + b - c, ties broken a, b, c."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _png_unfilter(raw: bytes, w: int, h: int, bpp: int = 3) -> bytearray:
    """Reverse PNG scanline filtering (spec §9): each row = 1 filter
    byte + w*bpp filtered bytes; filters None/Sub/Up/Average/Paeth
    reconstruct against the already-reconstructed left/up bytes."""
    stride = w * bpp
    out = bytearray(h * stride)
    pos = 0
    for y in range(h):
        ftype = raw[pos]
        pos += 1
        row = raw[pos : pos + stride]
        pos += stride
        base = y * stride
        prior = out[base - stride : base] if y else bytes(stride)
        if ftype == 0:
            out[base : base + stride] = row
        elif ftype == 1:  # Sub
            for i in range(stride):
                left = out[base + i - bpp] if i >= bpp else 0
                out[base + i] = (row[i] + left) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                out[base + i] = (row[i] + prior[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = out[base + i - bpp] if i >= bpp else 0
                out[base + i] = (row[i] + ((left + prior[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = out[base + i - bpp] if i >= bpp else 0
                ul = prior[i - bpp] if i >= bpp else 0
                out[base + i] = (row[i] + _paeth(left, prior[i], ul)) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
    return out


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_frames(b: bytes, key: str) -> list[np.ndarray]:
    if b[:8] != _PNG_SIG:
        raise ValueError(f"not a PNG: {key!r}")
    pos, ihdr, idat = 8, None, bytearray()
    while pos + 8 <= len(b):
        (clen,) = struct.unpack(">I", b[pos : pos + 4])
        ctype = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + clen]
        (crc,) = struct.unpack(
            ">I", b[pos + 8 + clen : pos + 12 + clen]
        )
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(
                f"PNG CRC mismatch in {ctype!r} of {key!r}"
            )
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + clen
    if ihdr is None:
        raise ValueError(f"PNG missing IHDR: {key!r}")
    w, h, depth, ctype_, comp, filt, interlace = ihdr
    if (depth, ctype_, comp, filt, interlace) != (8, 2, 0, 0, 0):
        raise NotImplementedError(
            "only 8-bit RGB non-interlaced PNG supported "
            f"(got depth={depth} color={ctype_} "
            f"interlace={interlace})"
        )
    raw = zlib.decompress(bytes(idat))
    if len(raw) != h * (1 + w * 3):
        raise ValueError(
            f"PNG scanline size mismatch for {key!r}"
        )
    return [
        np.frombuffer(bytes(_png_unfilter(raw, w, h)), dtype=np.uint8)
        .reshape(h, w, 3).astype(np.int64)
    ]


def decode_png_blocks(
    df: DataFrame,
    key_col: str = "path",
    content_col: str = "content",
    block: int = 8,
) -> DataFrame:
    """REAL PNG decode with the STDLIB only — the format the L6 stub
    declared env-blocked is actually decodable without Pillow for the
    8-bit-RGB non-interlaced subset, because PNG's compression is
    zlib (stdlib) and the five scanline filters are pure byte
    arithmetic (spec §9). Full pipeline: signature check → chunk walk
    with CRC-32 VERIFICATION on every chunk (zlib.crc32) → IHDR
    validation (bit depth 8, color type 2 RGB, no interlace; anything
    else raises loudly) → concatenated-IDAT inflate → per-row
    un-filtering (None/Sub/Up/Average/Paeth) → H×W×3 numpy → the same
    block×block mean-pool tile features as decode_ppm_blocks.

    Output: (key, width, height, by, bx, n_px, sum_r, sum_g, sum_b).
    Only tile sums shuffle; bytes stay at the scan.
    """
    return _tile_blocks(df, _png_frames, key_col, content_col, block)


def _lzw_decode(data: bytes, min_size: int) -> list[int]:
    """GIF-variant LZW decode (spec appendix F): LSB-first bit
    packing, code width starts at min_size+1 and grows when the next
    table slot reaches 2^width (capped at 12), CLEAR resets the
    table, KwKwK handled (code == next slot). Returns index list."""
    clear, eoi = 1 << min_size, (1 << min_size) + 1
    table: list[bytes] = [bytes([i]) for i in range(1 << min_size)]
    table += [b"", b""]  # clear, eoi placeholders
    width = min_size + 1
    out: list[int] = []
    prev: bytes | None = None
    acc = nbits = 0
    pos = 0
    while True:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("LZW stream ended without EOI")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [bytes([i]) for i in range(1 << min_size)] + [b"", b""]
            width = min_size + 1
            prev = None
            continue
        if code == eoi:
            return out
        if prev is None:
            if code >= len(table):
                raise ValueError(f"bad first LZW code {code}")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError(f"LZW code {code} beyond table")
        out.extend(entry)
        if prev is not None:
            table.append(prev + entry[:1])
            # the decoder's table lags the encoder by ONE entry (it
            # adds only after seeing the next code), so it must widen
            # one slot early: at 2^width - 1, pairing with the
            # encoder's emit-then-add bump at 2^width
            if len(table) == (1 << width) - 1 and width < 12:
                width += 1
        prev = entry


def _gif_frames(b: bytes, key: str) -> list[np.ndarray]:
    if b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError(f"not a GIF: {key!r}")
    w0, h0, packed, _bg, _ar = struct.unpack(
        "<HHBBB", b[6:13]
    )
    pos = 13
    palette = None
    if packed & 0x80:
        n_colors = 2 << (packed & 0x07)
        palette = np.frombuffer(
            b[pos : pos + 3 * n_colors], dtype=np.uint8
        ).reshape(n_colors, 3).astype(np.int64)
        pos += 3 * n_colors
    frames = []
    while pos < len(b):
        marker = b[pos]
        pos += 1
        if marker == 0x21:  # extension: label + sub-blocks
            pos += 1
            while b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
        elif marker == 0x2C:  # image descriptor
            left, top, w, h, ipacked = struct.unpack(
                "<HHHHB", b[pos : pos + 9]
            )
            pos += 9
            if ipacked & 0x80:
                raise NotImplementedError(
                    "local color tables not supported"
                )
            if ipacked & 0x40:
                raise NotImplementedError(
                    "interlaced GIF not supported"
                )
            if palette is None:
                raise ValueError(
                    f"GIF without a color table: {key!r}"
                )
            min_size = b[pos]
            pos += 1
            lzw = bytearray()
            while b[pos] != 0:
                n = b[pos]
                lzw += b[pos + 1 : pos + 1 + n]
                pos += 1 + n
            pos += 1
            idx = _lzw_decode(bytes(lzw), min_size)
            if len(idx) < w * h:
                raise ValueError(
                    f"short GIF index stream: {key!r}"
                )
            frames.append(
                palette[np.asarray(idx[: w * h], dtype=np.int64)].reshape(h, w, 3)
            )
        elif marker == 0x3B:  # trailer
            break
        else:
            raise ValueError(
                f"unknown GIF block 0x{marker:02x} in {key!r}"
            )
    return frames


def decode_gif_blocks(
    df: DataFrame,
    key_col: str = "path",
    content_col: str = "content",
    block: int = 8,
) -> DataFrame:
    """REAL GIF decode with zero libraries — the fourth library-free
    decode path (after PPM, WAV, PNG): GIF87a/89a container walk
    (logical screen descriptor, global color table, extension blocks
    SKIPPED by their sub-block framing, image descriptor), LZW
    decompression of the index stream (_lzw_decode: LSB-first codes,
    growing width, CLEAR/EOI, KwKwK), palette mapping to RGB, and the
    family's block×block mean-pool tile features. Interlaced images
    and local color tables raise loudly (honest subset, like PNG's).

    Output: (key, width, height, by, bx, n_px, sum_r, sum_g, sum_b).
    """
    return _tile_blocks(df, _gif_frames, key_col, content_col, block)


def _bmp_frames(b: bytes, key: str) -> list[np.ndarray]:
    if b[:2] != b"BM":
        raise ValueError(f"not a BMP: {key!r}")
    (data_off,) = struct.unpack("<I", b[10:14])
    hsize, w, h, planes, bpp, comp = struct.unpack(
        "<IiiHHI", b[14:34]
    )
    if hsize < 40 or bpp != 24 or comp != 0:
        raise NotImplementedError(
            "only uncompressed 24-bit BITMAPINFOHEADER BMPs "
            f"supported (hsize={hsize} bpp={bpp} comp={comp})"
        )
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3  # rows pad to 4 bytes
    raw = b[data_off : data_off + stride * h]
    if len(raw) < stride * h:
        raise ValueError(f"short BMP pixel array: {key!r}")
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride)
    arr = arr[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        arr = arr[::-1]
    return [arr[:, :, ::-1].astype(np.int64)]  # BGR -> RGB


def decode_bmp_blocks(
    df: DataFrame,
    key_col: str = "path",
    content_col: str = "content",
    block: int = 8,
) -> DataFrame:
    """REAL BMP decode (the fifth library-free path): BITMAPFILEHEADER
    ('BM', pixel-data offset) + BITMAPINFOHEADER (width, height,
    24-bit uncompressed only — else NotImplementedError), then the
    raw pixel array with BMP's three wrinkles handled explicitly:
    rows are stored BOTTOM-UP (positive height), channel order is
    BGR, and every row is padded to a 4-byte boundary. Emits the
    family's block×block mean-pool tile features in R, G, B order.
    """
    return _tile_blocks(df, _bmp_frames, key_col, content_col, block)
