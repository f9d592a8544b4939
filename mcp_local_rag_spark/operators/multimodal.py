"""Multimodal column operators: image/audio/video as opaque binary columns
with typed metadata (the training-data-pipeline extension; analogous to the
reference's visual-PDF path T10-T12, src/pdf-visual/).

The Spark-side plumbing is real and tested — schemas, partitioning-safe
batch shapes, Arrow-batched ``mapInPandas`` signatures. Decode stance,
per modality, mirroring the audio lane's from the start:

* UNCOMPRESSED public containers decode for real, in pure numpy/stdlib —
  PCM16 WAV (audio), netpbm P5/P6 and 24-bit BI_RGB BMP (image), and
  YUV4MPEG2 (video frames). Resize kernels (nearest / bilinear) are
  plain numpy.
* codec formats (JPEG/PNG/mp3/h264 — external decoder territory: PIL /
  ffmpeg / torchaudio are not in this container) raise
  NotImplementedError from the same dispatch point; inject a decode_fn
  to swap one in — the same import-gate discipline the reference applies
  to optional VLM captioning (dynamic import, src/ingest/visual.ts:108-117).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)


def media_table(df: DataFrame, *, id_col: str, content_col: str, modality: str) -> DataFrame:
    """Normalize any (id, binary) source into the canonical media schema:
    (media_id, modality, content binary, media_meta struct). The metadata
    struct is typed so downstream filters prune without touching bytes."""
    return df.select(
        F.col(id_col).cast("string").alias("media_id"),
        F.lit(modality).alias("modality"),
        F.col(content_col).cast("binary").alias("content"),
        F.struct(
            F.length(F.col(content_col)).alias("n_bytes"),
            F.lower(F.sha2(F.col(content_col).cast("binary"), 256)).alias("content_hash"),
        ).alias("media_meta"),
    )


# -- real image decode for uncompressed containers ---------------------------

def _read_pnm_tokens(content: bytes, n: int, start: int) -> tuple[list[int], int]:
    """Read ``n`` whitespace-separated ASCII integers from a netpbm header,
    honoring ``#`` comments; returns (values, offset past last token)."""
    vals: list[int] = []
    i = start
    while len(vals) < n:
        while i < len(content) and content[i : i + 1].isspace():
            i += 1
        if content[i : i + 1] == b"#":
            while i < len(content) and content[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(content) and not content[j : j + 1].isspace():
            j += 1
        vals.append(int(content[i:j]))
        i = j
    return vals, i + 1  # single whitespace byte terminates the header


def decode_netpbm(content: bytes) -> np.ndarray:
    """Binary netpbm: P5 (grayscale) -> HxW uint8, P6 (RGB) -> HxWx3 uint8.
    maxval must be < 256 (1 byte/sample)."""
    magic = content[:2]
    channels = {b"P5": 1, b"P6": 3}[magic]
    (w, h, maxval), off = _read_pnm_tokens(content, 3, 2)
    if maxval >= 256:
        raise NotImplementedError("16-bit netpbm not supported")
    data = np.frombuffer(content, dtype=np.uint8, count=h * w * channels, offset=off)
    img = data.reshape(h, w, channels)
    return img[:, :, 0].copy() if channels == 1 else img.copy()


def encode_ppm(img: np.ndarray) -> bytes:
    """uint8 HxW (gray -> P5) or HxWx3 (RGB -> P6) to binary netpbm."""
    img = np.asarray(img, dtype=np.uint8)
    magic = b"P5" if img.ndim == 2 else b"P6"
    h, w = img.shape[:2]
    return magic + f"\n{w} {h}\n255\n".encode() + img.tobytes()


def decode_bmp(content: bytes) -> np.ndarray:
    """Uncompressed 24-bit BI_RGB BMP -> HxWx3 uint8 (RGB). Rows are
    4-byte padded and stored bottom-up (top-down when height < 0)."""
    import struct

    if content[:2] != b"BM":
        raise ValueError("not a BMP")
    (data_off,) = struct.unpack_from("<I", content, 10)
    header_size, w, h = struct.unpack_from("<Iii", content, 14)
    planes, bpp, compression = struct.unpack_from("<HHI", content, 26)
    if bpp != 24 or compression != 0:
        raise NotImplementedError(f"only 24-bit BI_RGB BMP supported, got bpp={bpp} comp={compression}")
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) // 4 * 4
    rows = np.frombuffer(content, dtype=np.uint8, count=h * stride, offset=data_off)
    img = rows.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        img = img[::-1]
    return img[:, :, ::-1].copy()  # BGR -> RGB


def encode_bmp(img: np.ndarray) -> bytes:
    """uint8 HxWx3 RGB -> uncompressed 24-bit bottom-up BMP."""
    import struct

    img = np.asarray(img, dtype=np.uint8)
    h, w = img.shape[:2]
    stride = (w * 3 + 3) // 4 * 4
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up, BGR
    data = rows.tobytes()
    header = struct.pack("<2sIHHI", b"BM", 54 + len(data), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    return header + info + data


def _lzw_decode(data: bytes, mcs: int) -> list[int]:
    """GIF-flavor LZW: LSB-first variable-width codes, CLEAR/EOI, 12-bit
    cap, the deferred-clear convention real encoders emit."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out: list[int] = []
    table: list[list[int]] = []
    width = mcs + 1
    prev: list[int] | None = None

    def reset() -> None:
        nonlocal table, width, prev
        table = [[i] for i in range(1 << mcs)] + [[], []]
        width = mcs + 1
        prev = None

    reset()
    acc = n_bits = pos = 0
    while True:
        while n_bits < width:
            if pos >= len(data):
                return out  # missing EOI: tolerate truncated streams
            acc |= data[pos] << n_bits
            n_bits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        n_bits -= width
        if code == clear:
            reset()
            continue
        if code == eoi:
            return out
        if code < len(table) and table[code]:
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # the cScSc case
        else:
            raise ValueError(f"corrupt LZW stream: code {code}")
        out.extend(entry)
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1


def _lzw_encode(indices: list[int], mcs: int) -> bytes:
    """The matching encoder (true LZW, growing dictionary)."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    acc = n_bits = 0
    width = mcs + 1

    def emit(code: int) -> None:
        nonlocal acc, n_bits
        acc |= code << n_bits
        n_bits += width
        while n_bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            n_bits -= 8

    table: dict[tuple[int, ...], int] = {(i,): i for i in range(1 << mcs)}
    next_code = eoi + 1
    emit(clear)
    buf: tuple[int, ...] = ()
    for idx in indices:
        cand = buf + (idx,)
        if cand in table:
            buf = cand
            continue
        emit(table[buf])
        # encoder runs one table entry AHEAD of the decoder, so width
        # grows at next_code == 2^width + 1 where the decoder grows at
        # == 2^width — the classic pairing that keeps the wire aligned
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:
            emit(clear)
            table = {(i,): i for i in range(1 << mcs)}
            next_code = eoi + 1
            width = mcs + 1
        buf = (idx,)
    if buf:
        emit(table[buf])
    emit(eoi)
    if n_bits:
        out.append(acc & 0xFF)
    return bytes(out)


def decode_gif(content: bytes) -> np.ndarray:
    """GIF87a/89a, first image frame -> HxWx3 uint8 (RGB). Real LZW
    decompression (the package's first COMPRESSED container — netpbm/BMP
    are raw). Interlaced frames and missing color tables raise
    NotImplementedError from the dispatch point (contract seam, same
    policy as the other codecs); extensions (0x21) are skipped."""
    import struct

    if content[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    sw, sh, packed, _bg, _aspect = struct.unpack_from("<HHBBB", content, 6)
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(content, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    while pos < len(content):
        block = content[pos]
        if block == 0x21:  # extension: label + sub-blocks
            pos += 2
            while content[pos] != 0:
                pos += 1 + content[pos]
            pos += 1
        elif block == 0x2C:
            _x, _y, w, h, ipacked = struct.unpack_from("<HHHHB", content, pos + 1)
            pos += 10
            ct = gct
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                ct = np.frombuffer(content, np.uint8, n * 3, pos).reshape(n, 3)
                pos += n * 3
            if ipacked & 0x40:
                raise NotImplementedError("interlaced GIF not supported")
            if ct is None:
                raise NotImplementedError("GIF frame without a color table")
            mcs = content[pos]
            pos += 1
            data = bytearray()
            while content[pos] != 0:
                ln = content[pos]
                data += content[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            idx = _lzw_decode(bytes(data), mcs)
            if len(idx) < w * h:
                raise ValueError("short GIF pixel stream")
            arr = np.asarray(idx[: w * h], dtype=np.int64).reshape(h, w)
            return ct[np.clip(arr, 0, len(ct) - 1)].astype(np.uint8)
        elif block == 0x3B:
            break
        else:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
        continue
    raise ValueError("GIF contains no image frame")


def encode_gif(img: np.ndarray) -> bytes:
    """uint8 HxWx3 RGB -> single-frame GIF87a with a global color table
    (true LZW). Images with more than 256 distinct colors raise
    ValueError — GIF is palette-bound by design."""
    import struct

    img = np.asarray(img, dtype=np.uint8)
    h, w = img.shape[:2]
    flat = img.reshape(-1, 3)
    palette, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(palette) > 256:
        raise ValueError(f"GIF palette overflow: {len(palette)} colors")
    bits = max(1, int(len(palette) - 1).bit_length())
    table = np.zeros((1 << bits, 3), dtype=np.uint8)
    table[: len(palette)] = palette
    mcs = max(2, bits)  # GIF forbids a 1-bit LZW minimum code size
    out = bytearray(b"GIF87a")
    out += struct.pack("<HHBBB", w, h, 0x80 | ((bits - 1) & 0x07), 0, 0)
    out += table.tobytes()
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)
    out.append(mcs)
    stream = _lzw_encode([int(i) for i in inverse], mcs)
    for i in range(0, len(stream), 255):
        chunk = stream[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(content: bytes) -> np.ndarray:
    """8-bit PNG -> numpy (gray HxW, gray+alpha HxWx2, RGB HxWx3, RGBA
    HxWx4, palette -> RGB). Real zlib inflate + all five row filters
    (None/Sub/Up/Average/Paeth). Adam7 interlace and 16-bit depth raise
    NotImplementedError (contract seams, same policy as the other
    codecs). Closes the T11 loop: sources/pdf_mini.render_page_png
    output decodes natively through this dispatch."""
    import struct
    import zlib

    if content[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG")
    pos = 8
    ihdr = None
    plte = None
    idat = bytearray()
    while pos + 8 <= len(content):
        (ln,) = struct.unpack_from(">I", content, pos)
        ctype = content[pos + 4 : pos + 8]
        data = content[pos + 8 : pos + 8 + ln]
        pos += 12 + ln  # len + type + data + crc
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, _comp, _filt, interlace = ihdr
    if interlace:
        raise NotImplementedError("Adam7-interlaced PNG not supported")
    if depth != 8:
        raise NotImplementedError(f"only 8-bit PNG supported, got {depth}")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    if channels is None:
        raise ValueError(f"bad PNG color type {color}")
    raw = zlib.decompress(bytes(idat))
    stride = w * channels
    if len(raw) < h * (stride + 1):
        raise ValueError("short PNG pixel stream")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    pos = 0
    bpp = channels
    for y in range(h):
        f = raw[pos]
        row = np.frombuffer(raw, np.uint8, stride, pos + 1).copy()
        pos += stride + 1
        if f == 0:
            pass
        elif f == 1:  # Sub: sequential per bpp-lane; mod-256 cumsum
            for lane in range(bpp):
                np.cumsum(row[lane::bpp], out=row[lane::bpp], dtype=np.uint8)
        elif f == 2:  # Up
            row += prev
        elif f == 3:  # Average (sequential: left is reconstructed)
            rec = row.tolist()
            pv = prev.tolist()
            for i in range(stride):
                left = rec[i - bpp] if i >= bpp else 0
                rec[i] = (rec[i] + ((left + pv[i]) >> 1)) & 0xFF
            row = np.asarray(rec, dtype=np.uint8)
        elif f == 4:  # Paeth
            rec = row.tolist()
            pv = prev.tolist()
            for i in range(stride):
                left = rec[i - bpp] if i >= bpp else 0
                ul = pv[i - bpp] if i >= bpp else 0
                rec[i] = (rec[i] + _paeth(left, pv[i], ul)) & 0xFF
            row = np.asarray(rec, dtype=np.uint8)
        else:
            raise ValueError(f"bad PNG filter {f}")
        out[y] = row
        prev = row
    if color == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
        return plte[np.clip(out.astype(np.int64), 0, len(plte) - 1)].astype(
            np.uint8
        )
    if channels == 1:
        return out.reshape(h, w)
    return out.reshape(h, w, channels)


def encode_png(img: np.ndarray, *, cycle_filters: bool = True) -> bytes:
    """uint8 numpy (HxW gray / HxWx{2,3,4}) -> 8-bit PNG. Filters cycle
    None/Sub/Up/Average/Paeth per row by default so a roundtrip
    exercises every decode path; ``cycle_filters=False`` writes plain
    filter-0 rows (what render_page_png emits)."""
    import struct
    import zlib

    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        h, w = img.shape
        channels = 1
        flat = img
    else:
        h, w, channels = img.shape
        flat = img.reshape(h, w * channels)
    color = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    bpp = channels
    stride = w * channels
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        row = flat[y]
        f = (y % 5) if cycle_filters else 0
        if f == 0:
            filt = row
        elif f == 1:
            left = np.zeros(stride, dtype=np.uint8)
            left[bpp:] = row[:-bpp]
            filt = row - left
        elif f == 2:
            filt = row - prev
        elif f == 3:
            rowl, pv = row.tolist(), prev.tolist()
            filt = bytes(
                (rowl[i] - (((rowl[i - bpp] if i >= bpp else 0) + pv[i]) >> 1))
                & 0xFF
                for i in range(stride)
            )
        else:
            rowl, pv = row.tolist(), prev.tolist()
            filt = bytes(
                (
                    rowl[i]
                    - _paeth(
                        rowl[i - bpp] if i >= bpp else 0,
                        pv[i],
                        pv[i - bpp] if i >= bpp else 0,
                    )
                )
                & 0xFF
                for i in range(stride)
            )
        raw.append(f)
        raw += bytes(filt)
        prev = row

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    return (
        _PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def default_image_decoder(content: bytes) -> np.ndarray:
    """Magic-dispatched real decode for uncompressed containers; codec
    formats need an injected decoder (PIL/opencv not in container)."""
    if content[:2] in (b"P5", b"P6"):
        return decode_netpbm(content)
    if content[:2] == b"BM":
        return decode_bmp(content)
    if content[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(content)
    if content[:8] == _PNG_MAGIC:
        return decode_png(content)
    raise NotImplementedError(
        "codec image formats (JPEG/PNG/...) need PIL/opencv; inject a"
        " decoder via decode_fn — netpbm P5/P6 and 24-bit BMP decode natively"
    )


def resize_nearest(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize (floor sampling, the exact-integer kernel:
    an integer upscale replicates each pixel, preserving sums x factor^2)."""
    h, w = img.shape[:2]
    ys = (np.arange(out_h) * h) // out_h
    xs = (np.arange(out_w) * w) // out_w
    return img[ys][:, xs].copy()


FRAME_SAMPLE_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("frame_index", IntegerType()),
        StructField("frame", StringType()),  # binary-ish payload (hash id here)
    ]
)


def decode_y4m(content: bytes) -> tuple[list[np.ndarray], dict]:
    """YUV4MPEG2 parse -> (luma planes as HxW uint8 arrays, stream params).
    Supports C420* (chroma subsampled, skipped) and Cmono; other chroma
    layouts raise NotImplementedError. The container is raw/uncompressed —
    pure byte slicing, no codec."""
    if not content.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 stream")
    nl = content.index(b"\n")
    params: dict = {"C": "420"}
    for tok in content[9:nl].split():
        key, val = chr(tok[0]), tok[1:].decode()
        params[key] = val
    w, h = int(params["W"]), int(params["H"])
    chroma = params.get("C", "420")
    if chroma.startswith("420"):
        frame_len = h * w + 2 * ((h // 2) * (w // 2))
    elif chroma == "mono":
        frame_len = h * w
    else:
        raise NotImplementedError(f"chroma layout C{chroma} not supported")
    frames: list[np.ndarray] = []
    i = nl + 1
    while i < len(content):
        fnl = content.index(b"\n", i)
        if content[i:fnl].split()[0] != b"FRAME":
            raise ValueError("malformed FRAME header")
        y = np.frombuffer(content, dtype=np.uint8, count=h * w, offset=fnl + 1)
        frames.append(y.reshape(h, w).copy())
        i = fnl + 1 + frame_len
    return frames, {"width": w, "height": h, "chroma": chroma, "n_frames": len(frames)}


def encode_y4m(frames: list[np.ndarray], *, rate: str = "25:1") -> bytes:
    """Mono-chroma YUV4MPEG2 from HxW uint8 luma planes (test fixture +
    export helper)."""
    h, w = frames[0].shape
    out = [f"YUV4MPEG2 W{w} H{h} F{rate} Ip A1:1 Cmono\n".encode()]
    for fr in frames:
        out.append(b"FRAME\n")
        out.append(np.asarray(fr, dtype=np.uint8).tobytes())
    return b"".join(out)


def sample_frames(
    media: DataFrame,
    *,
    every_n: int = 10,
    n_frames: int = 4,
    extract_fn: Callable[[bytes, int], bytes | None] | None = None,
) -> DataFrame:
    """Video frame sampling: one output row per sampled frame — the UDTF
    shape (1 row in, N rows out) used by every media pipeline.

    The default extract is REAL for YUV4MPEG2 content (raw container,
    decode_y4m): the sampled frame's luma plane is returned as PGM bytes,
    and indices past the end of the stream emit nothing. Codec containers
    (mp4/h264 — needs ffmpeg) fall back to a deterministic hash stub so
    the pipeline shape stays assertable without the codec."""

    def _default_row(content: bytes):
        # decode the stream ONCE per row, then index frames — the
        # per-(frame, content) signature would re-parse the whole
        # container n_frames times
        if content.startswith(b"YUV4MPEG2"):
            frames, _ = decode_y4m(content)
            return lambda idx: (
                encode_ppm(frames[idx]) if idx < len(frames) else None
            )
        return lambda idx: hashlib.sha256(
            content + idx.to_bytes(4, "big")
        ).digest()

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                content = bytes(content)
                if extract_fn is not None:
                    get = lambda idx: extract_fn(content, idx)  # noqa: E731
                else:
                    get = _default_row(content)
                for j in range(n_frames):
                    payload = get(j * every_n)
                    if payload is not None:
                        rows.append((mid, j * every_n, payload.hex()))
            yield pd.DataFrame(rows, columns=["media_id", "frame_index", "frame"])

    return media.filter(F.col("modality") == "video").select(
        "media_id", "content"
    ).mapInPandas(_frames, FRAME_SAMPLE_SCHEMA)


# ---------------------------------------------------------------------------
# Audio: REAL PCM WAV decode via stdlib wave (no external libs needed for
# the uncompressed container) -> fixed-duration windows with per-window
# signal features. Compressed codecs (mp3/flac/ogg) would need an external
# decoder — same import-gate stance as image decode.

def default_audio_decoder(content: bytes) -> tuple[np.ndarray, int]:
    """Decode PCM16 WAV bytes to (mono float64 in [-1, 1], sample_rate).

    stdlib ``wave`` handles the RIFF container; multi-channel input is
    averaged to mono. Non-PCM16 encodings raise ``NotImplementedError`` —
    the declared stub boundary for codecs whose decoders aren't in the
    container."""
    import io
    import wave

    with wave.open(io.BytesIO(content)) as w:
        sr = w.getframerate()
        ch = w.getnchannels()
        sw = w.getsampwidth()
        raw = w.readframes(w.getnframes())
    if sw != 2:
        raise NotImplementedError(f"only PCM16 WAV supported, got width {sw}")
    x = np.frombuffer(raw, dtype=np.int16).astype(np.float64) / 32768.0
    if ch > 1:
        x = x.reshape(-1, ch).mean(axis=1)
    return x, sr


# ---------------------------------------------------------------------------
# T12 caption chunks (reference src/ingest/visual.ts:151-159,
# src/pdf-visual/captioners/shared.ts:96-127)

MAX_CAPTION_LENGTH = 1000


def post_process_caption(col) -> "F.Column":
    """Caption post-processing as column expressions: strip C0/C1 control
    characters (keeping \\t and \\n), trim, cap at 1000 chars with an
    ellipsis; empty results become NULL (dropped upstream)."""
    # JS .trim() strips all whitespace incl. \n; Spark's trim() is space-only
    stripped = F.regexp_replace(
        F.regexp_replace(col, "[\\x00-\\x08\\x0B-\\x1F\\x7F-\\x9F]", ""),
        "^\\s+|\\s+$",
        "",
    )
    capped = F.when(
        F.length(stripped) > MAX_CAPTION_LENGTH,
        F.concat(F.substring(stripped, 1, MAX_CAPTION_LENGTH), F.lit("…")),
    ).otherwise(stripped)
    return F.when(F.length(stripped) > 0, capped)


def caption_chunks(
    text_chunks: DataFrame,
    captions: DataFrame,
    *,
    key_col: str = "doc_key",
    index_col: str = "chunk_index",
    page_col: str = "page_num",
    caption_col: str = "caption",
) -> DataFrame:
    """Captions become DEDICATED chunks appended after a document's text
    chunks — `[Visual content on page N: …]`, indices continuing from the
    last text chunk — so the semantic chunker can never split a caption's
    internal structure. Output: (key, chunk_index, text), union-ready with
    the text chunk rows.

    One broadcast-sized aggregate (per-doc max index) + a per-doc window
    over the captions; both keyed by document, no global shuffle beyond
    the groupBy.
    """
    from pyspark.sql import Window

    base = text_chunks.groupBy(key_col).agg(
        (F.max(index_col) + 1).alias("_base")
    )
    processed = captions.withColumn("_cap", post_process_caption(F.col(caption_col)))
    processed = processed.filter(F.col("_cap").isNotNull())
    w = Window.partitionBy(key_col).orderBy(page_col)
    return (
        processed.join(base, key_col, "left")
        .withColumn("_rk", F.row_number().over(w) - 1)
        .select(
            key_col,
            (F.coalesce(F.col("_base"), F.lit(0)) + F.col("_rk")).alias(index_col),
            F.concat(
                F.lit("[Visual content on page "),
                F.col(page_col).cast("string"),
                F.lit(": "),
                F.col("_cap"),
                F.lit("]"),
            ).alias("text"),
        )
    )


# ---------------------------------------------------------------------------
# T11 page render + T10-T12 composed visual pipeline (reference
# src/pdf-visual/renderer.ts:29-87, src/ingest/visual.ts:100-160)

RENDER_DPI = 200  # renderer.ts:25-29: 150 loses sub-10pt glyphs, 300 = 2x bytes


def default_page_renderer(doc_bytes: bytes, page_num: int, crop: dict | None) -> bytes:
    """T11: rasterize one page (cropped) at 200 DPI to PNG. pymupdf gives
    glyph-accurate rendering; without it the stdlib geometry renderer
    (sources/pdf_mini.render_page_png) produces a real layout raster from
    the same bytes — either way the captioner receives actual PNG bytes."""
    try:
        import fitz
    except ImportError:
        from ..sources.pdf_mini import render_page_png

        return render_page_png(doc_bytes, page_num, crop, dpi=RENDER_DPI)
    doc = fitz.open(stream=doc_bytes, filetype="pdf")
    page = doc[page_num]
    zoom = RENDER_DPI / 72.0
    clip = None
    if crop is not None:
        clip = fitz.Rect(crop["x0"], crop["y0"], crop["x1"], crop["y1"])
    pix = page.get_pixmap(matrix=fitz.Matrix(zoom, zoom), clip=clip, alpha=False)
    return pix.tobytes("png")


def fake_page_renderer(doc_bytes: bytes, page_num: int, crop: dict | None) -> bytes:
    """Deterministic render stand-in: hash of (doc, page, crop)."""
    key = f"{page_num}|{crop}".encode()
    return hashlib.sha256(doc_bytes + key).digest()


def fake_captioner(image_bytes: bytes) -> str:
    """Deterministic caption stand-in (the real ones are SmolVLM-256M /
    Qwen2.5-VL q4, captioners/fast.ts + quality.ts — not in container)."""
    return f"figure {hashlib.sha256(image_bytes).hexdigest()[:8]}"


CAPTION_SCHEMA = StructType(
    [
        StructField("doc_key", StringType()),
        StructField("page_num", IntegerType()),
        StructField("caption", StringType()),
    ]
)


def caption_candidate_pages(
    docs: DataFrame,
    candidates: DataFrame,
    *,
    render_fn: Callable[[bytes, int, dict | None], bytes] = default_page_renderer,
    caption_fn: Callable[[bytes], str] = fake_captioner,
    doc_col: str = "doc_key",
    content_col: str = "content",
) -> DataFrame:
    """T10->T12 composition: join candidate pages (from
    pdf_layout.visual_candidates) back to their document bytes, render each
    candidate's crop, caption the render, post-process.

    The join ships each doc's bytes once per candidate page — at scale,
    candidates are sparse (the detector's entire point), so this stays
    proportional to the visual surface, not the corpus. Render+caption run
    inside one Arrow batch stage; both are injected so model-free tests
    drive the full pipeline and real backends drop in unchanged.
    """
    cand = candidates.filter(F.col("is_candidate")).select(
        doc_col, F.col("page").alias("page_num"), "crop"
    )
    joined = cand.join(docs.select(doc_col, content_col), doc_col)

    def _caption(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for key, page_num, crop, content in zip(
                pdf[doc_col], pdf["page_num"], pdf["crop"], pdf[content_col]
            ):
                crop_dict = dict(crop) if crop is not None else None
                img = render_fn(bytes(content), int(page_num), crop_dict)
                rows.append((key, int(page_num), caption_fn(img)))
            yield pd.DataFrame(rows, columns=["doc_key", "page_num", "caption"])

    return joined.mapInPandas(_caption, CAPTION_SCHEMA)


# ---------------------------------------------------------------------------
# Visual ingest end-to-end: real-bytes T10 input + the ingest_file seam

PDF_BLOCKS_SCHEMA = StructType(
    [
        StructField("doc_key", StringType()),
        StructField("page", IntegerType()),
        StructField("page_width", DoubleType()),
        StructField("page_height", DoubleType()),
        StructField("kind", StringType()),
        StructField("x0", DoubleType()),
        StructField("y0", DoubleType()),
        StructField("x1", DoubleType()),
        StructField("y1", DoubleType()),
    ]
)


def pdf_blocks(
    docs: DataFrame, *, doc_col: str = "path", content_col: str = "content"
) -> DataFrame:
    """REAL-bytes input for the T10 detector: image XObject placements and
    vector strokes per page, extracted from each document's PDF bytes by
    the stdlib interpreter (sources/pdf_mini — Do placements through the
    CTM, path-paint ops as strokes; pymupdf drawings/images when
    importable would slot in here the same way). One Arrow batch stage,
    parallel across documents; unparseable bytes contribute no rows."""

    def _blocks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..sources.pdf_mini import extract_pdf_items

        cols = [f.name for f in PDF_BLOCKS_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for key, content in zip(pdf[doc_col], pdf[content_col]):
                try:
                    pages, _ = extract_pdf_items(bytes(content))
                except Exception:
                    continue
                for p in pages:
                    for b in p.get("blocks") or ():
                        rows.append(
                            (
                                key,
                                int(p["page"]),
                                float(p["page_width"]),
                                float(p["page_height"]),
                                b["kind"],
                                float(b["x0"]),
                                float(b["y0"]),
                                float(b["x1"]),
                                float(b["y1"]),
                            )
                        )
            yield pd.DataFrame(rows, columns=cols)

    return docs.select(
        F.col(doc_col).alias(doc_col), F.col(content_col)
    ).mapInPandas(_blocks, PDF_BLOCKS_SCHEMA)


def captioner_for(quality: str = "fast") -> Callable[[bytes], str]:
    """VLM profile seam (reference visualQuality: fast = SmolVLM-256M,
    quality = Qwen2.5-VL, captioners/fast.ts:38 + quality.ts:43-49).
    Neither model ships in this container, so both profiles resolve to
    the deterministic fake unless a real backend imports; the PROFILE
    CHOICE still flows through the pipeline so wiring is testable."""
    try:  # pragma: no cover - real backend not in container
        import transformers  # noqa: F401

        raise NotImplementedError(
            "real VLM captioning requires a model download; wire a"
            " captioner callable here"
        )
    except ImportError:
        pass
    if quality not in ("fast", "quality"):
        raise ValueError(f"unknown visualQuality: {quality}")
    return fake_captioner


def visual_caption_rows(
    docs_bytes: DataFrame,
    text_chunks: DataFrame,
    *,
    quality: str = "fast",
    doc_col: str = "path",
    content_col: str = "content",
) -> DataFrame:
    """The composed visual lane of ingest_file(visual=true): T10 detect
    (real blocks) -> T11 render (glyph raster / pymupdf) -> T12 caption ->
    caption chunk rows appended after each doc's text chunks. Returns
    (doc_key, chunk_index, text) — union-ready via plans/ingest.
    Candidate-sparse by construction: every per-page stage downstream of
    the detector touches only candidate pages."""
    from .pdf_layout import visual_candidates

    blocks = pdf_blocks(docs_bytes, doc_col=doc_col, content_col=content_col)
    cands = visual_candidates(blocks, doc_col="doc_key")
    captions = caption_candidate_pages(
        docs_bytes.select(
            F.col(doc_col).alias("doc_key"), F.col(content_col).alias("content")
        ),
        cands,
        caption_fn=captioner_for(quality),
    )
    base = text_chunks.select(
        F.col("filePath").alias("doc_key"),
        F.col("chunkIndex").alias("chunk_index"),
    )
    return caption_chunks(base, captions)
