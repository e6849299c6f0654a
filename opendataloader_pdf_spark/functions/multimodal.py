"""Multimodal columns: image/audio/video as opaque ``binary`` payloads
with typed metadata, processed via Arrow-batched ``mapInPandas``.

Reference parity: image extraction/encoding sinks (ImagesUtils.write,
core/utils/ImagesUtils.java:48-60; Base64ImageUtils.java → SURVEY.md §2.1
K6) — generalized to the training-pipeline media path.

PNG payloads are decoded for REAL by a pure-stdlib codec (zlib + struct:
chunk walk with CRC verification, IDAT inflate, per-scanline unfilter for
all five PNG filter types) — no image library needed. WAV/PCM audio is
likewise decoded for REAL by a pure-stdlib RIFF codec (struct chunk walk
verifying the RIFF/WAVE magic and container size, fmt-chunk validation
rejecting non-PCM16 encodings, little-endian int16 frame decode); the
encoder is the stdlib ``wave`` writer. VIDEO is REAL for uncompressed
RIFF/AVI (the standard BI_RGB interchange format): ``encode_avi_rgb24``
emits a standards-compliant AVI — hdrl LIST with avih/strh/strf
(BITMAPINFOHEADER), movi LIST of '00db' DIB frames, idx1 index — and
``decode_avi`` walks it back with struct only, validating the container
size, stream type, biCompression=0/biBitCount=24, and decoding each
bottom-up 4-byte-row-padded BGR frame. COMPRESSED video is REAL for
motion-JPEG: ``encode_jpeg_baseline``/``decode_jpeg`` implement the
baseline (SOF0) JPEG codec itself in numpy/struct — DCT, zigzag,
quantization, canonical-Huffman entropy coding with byte stuffing and
restart markers, 4:4:4 and camera-style 4:2:0 sampling — and
``encode_avi_mjpeg``/``decode_avi`` carry it in
the AVI container (biCompression='MJPG', one standalone JPEG per movi
chunk). Only inter-frame codecs (H.264 etc.) genuinely need codec libs
the container lacks; those payloads fall back to the deterministic
hash-derived fake, keeping the identical Spark plumbing — schema, Arrow
batch shape, mapInPandas signature, per-partition batching — exercised
either way.

Scale notes: mapInPandas streams Arrow record batches — payloads never
materialize as Python row objects; batch size bounded by
spark.sql.execution.arrow.maxRecordsPerBatch. At 100 TB, media payloads
ride binaryFile/parquet binary columns partitioned by content hash; the
decode stage is embarrassingly parallel (no shuffle).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color type → samples/pixel


def encode_png_gray(arr: np.ndarray) -> bytes:
    """Minimal PNG encoder for 8-bit grayscale (h, w) uint8 arrays.

    Scanline filters rotate None/Sub/Up (types 0/1/2) so every decode of
    an encoded image exercises real unfiltering, not just the identity
    path. Emits IHDR + one IDAT + IEND with correct CRCs — readable by
    any standards-compliant viewer."""
    import struct
    import zlib

    h, w = arr.shape
    raw = bytearray()
    prev = np.zeros(w, dtype=np.int16)
    for y in range(h):
        line = arr[y].astype(np.int16)
        ft = y % 3
        if ft == 0:
            filt = line
        elif ft == 1:  # Sub: delta vs the previous pixel in the row
            filt = line.copy()
            filt[1:] -= line[:-1]
        else:  # Up: delta vs the same pixel one row up
            filt = line - prev
        raw.append(ft)
        raw += (filt % 256).astype(np.uint8).tobytes()
        prev = line

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (struct.pack(">I", len(payload)) + tag + payload
                + struct.pack(">I", zlib.crc32(tag + payload)))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (PNG_MAGIC + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))


def _unfilter(raw: bytes, w: int, h: int, bpp: int) -> np.ndarray:
    """Undo PNG scanline filtering (all five types, RFC 2083 §6)."""
    stride = w * bpp
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    pos = 0
    for y in range(h):
        ft = raw[pos]
        line = np.frombuffer(raw, dtype=np.uint8,
                             count=stride, offset=pos + 1).copy()
        pos += 1 + stride
        if ft == 0:
            pass
        elif ft == 1:  # Sub — running sum along the row (mod 256)
            if bpp == 1:
                line = np.cumsum(line, dtype=np.int64).astype(np.uint8)
            else:
                for i in range(bpp, stride):
                    line[i] = (int(line[i]) + int(line[i - bpp])) & 0xFF
        elif ft == 2:  # Up
            line = (line.astype(np.int16) + prev.astype(np.int16)).astype(np.uint8)
        elif ft == 3:  # Average
            for i in range(stride):
                a = int(line[i - bpp]) if i >= bpp else 0
                line[i] = (int(line[i]) + ((a + int(prev[i])) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(stride):
                a = int(line[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                line[i] = (int(line[i]) + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ft} at row {y}")
        out[y] = line
        prev = line
    return out.reshape(-1)


def decode_png(data: bytes) -> tuple[int, int, int, int, np.ndarray]:
    """Decode a (non-interlaced, 8-bit) PNG with zlib + struct only.

    Returns (width, height, channels, bit_depth, flat uint8 pixels).
    Verifies every chunk CRC — a corrupted payload raises instead of
    yielding silent garbage stats."""
    import struct
    import zlib

    if data[:8] != PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos = 8
    idat = bytearray()
    w = h = channels = bit_depth = None
    while pos + 12 <= len(data):
        (ln,) = struct.unpack(">I", data[pos:pos + 4])
        tag = bytes(data[pos + 4:pos + 8])
        payload = bytes(data[pos + 8:pos + 8 + ln])
        (crc,) = struct.unpack(">I", data[pos + 8 + ln:pos + 12 + ln])
        if zlib.crc32(tag + payload) != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            w, h, bit_depth, color_type, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", payload)
            )
            if bit_depth != 8 or interlace != 0:
                raise ValueError(
                    f"unsupported PNG (bit_depth={bit_depth}, "
                    f"interlace={interlace})"
                )
            channels = _PNG_CHANNELS[color_type]
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if w is None:
        raise ValueError("PNG has no IHDR chunk")
    pixels = _unfilter(zlib.decompress(bytes(idat)), w, h, channels)
    return w, h, channels, bit_depth, pixels

def encode_wav_pcm16(samples: np.ndarray, rate: int, channels: int = 1) -> bytes:
    """Encode interleaved int16 samples as a standards-compliant PCM WAV
    (RIFF/WAVE, fmt + data chunks) via the stdlib ``wave`` writer —
    playable by any audio tool."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


def decode_wav(data: bytes) -> tuple[int, int, int, np.ndarray]:
    """Decode a PCM16 WAV with struct only — a real RIFF codec, not a
    library call: verifies the RIFF/WAVE magic and container size field,
    walks word-aligned chunks, validates the fmt chunk (rejecting
    compressed / non-16-bit encodings), and decodes the data chunk as
    little-endian int16 frames.

    Returns (n_channels, sample_rate, n_frames, flat int16 samples)."""
    import struct

    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    (riff_size,) = struct.unpack("<I", data[4:8])
    if riff_size != len(data) - 8:
        raise ValueError(
            f"RIFF size field {riff_size} != payload size {len(data) - 8}"
        )
    pos = 12
    fmt: tuple[int, int] | None = None
    frames: np.ndarray | None = None
    while pos + 8 <= len(data):
        tag = data[pos:pos + 4]
        (ln,) = struct.unpack("<I", data[pos + 4:pos + 8])
        if pos + 8 + ln > len(data):
            # same refusal contract as decode_avi: a chunk declaring
            # more bytes than remain is corruption, not short samples
            raise ValueError(
                f"WAV chunk {tag!r} declares {ln} bytes, only "
                f"{len(data) - pos - 8} remain"
            )
        body = data[pos + 8:pos + 8 + ln]
        if tag == b"fmt ":
            audio_fmt, ch, rate, _brate, _balign, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if audio_fmt != 1 or bits != 16:
                raise ValueError(
                    f"unsupported WAV (format={audio_fmt}, bits={bits})"
                )
            fmt = (ch, rate)
        elif tag == b"data":
            frames = np.frombuffer(body, dtype="<i2")
        pos += 8 + ln + (ln & 1)  # RIFF chunks are word-aligned
    if fmt is None or frames is None:
        raise ValueError("WAV missing fmt/data chunk")
    ch, rate = fmt
    if len(frames) % ch:
        raise ValueError("data chunk not a whole number of frames")
    return ch, rate, len(frames) // ch, frames


WAV_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("amp_sum", T.LongType(), True),
        T.StructField("amp_max", T.IntegerType(), True),
    ]
)


def decode_wav_stats(media: DataFrame) -> DataFrame:
    """Real WAV decode → scalar sample statistics (strict-oracle shape:
    amp_sum/amp_max are wrong unless the RIFF walk, fmt validation, and
    int16 little-endian frame decode are all correct)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": pdf["media_id"].values,
                   "n_channels": [], "sample_rate": [], "n_frames": [],
                   "amp_sum": [], "amp_max": []}
            for p in pdf["payload"]:
                ch, rate, nf, samples = decode_wav(bytes(p))
                out["n_channels"].append(ch)
                out["sample_rate"].append(rate)
                out["n_frames"].append(nf)
                out["amp_sum"].append(int(samples.astype(np.int64).sum()))
                # a zero-frame WAV is valid; max() has no identity on an
                # empty array, so report 0 instead of crashing the stage
                out["amp_max"].append(int(samples.max()) if len(samples)
                                      else 0)
            yield pd.DataFrame(out).astype(
                {"n_channels": np.int32, "sample_rate": np.int32,
                 "n_frames": np.int32, "amp_sum": np.int64,
                 "amp_max": np.int32}
            )

    return media.mapInPandas(run, schema=WAV_STATS_SCHEMA)


def documents_as_wav_media(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize REAL PCM16 WAV payloads from the documents fixture:
    per doc a mono-or-stereo tone of 50 + doc_id % 211 frames at
    8000 + (doc_id % 5)·1000 Hz with flat sample j =
    (doc_id·31 + j·17) % 65536 − 32768 — closed-form so a SQL oracle can
    predict the decoded statistics exactly while the decode itself does
    full RIFF-walk / fmt-validation / int16-frame work."""

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"].astype(np.int64):
                did = int(did)
                n = 50 + did % 211
                rate = 8000 + (did % 5) * 1000
                ch = 1 + did % 2
                j = np.arange(n * ch, dtype=np.int64)
                samples = ((did * 31 + j * 17) % 65536 - 32768).astype(np.int16)
                payloads.append(encode_wav_pcm16(samples, rate, ch))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"].astype(np.int64).values,
                 "kind": "audio", "payload": payloads, "meta": None}
            )

    return docs.select(F.col(id_col).alias("doc_id")).mapInPandas(
        build, schema=MEDIA_SCHEMA
    )


def encode_avi_rgb24(frames: np.ndarray, rate: int, scale: int = 1) -> bytes:
    """Encode (n, h, w, 3) uint8 RGB frames as a standards-compliant
    uncompressed AVI (RIFF 'AVI ': hdrl LIST with avih/strh/strf, movi
    LIST of '00db' DIB frames, idx1 index) — playable by any video tool.
    DIB frames are stored per spec: BGR byte order, bottom-up rows,
    each row padded to a 4-byte boundary. fps = rate / scale."""
    import struct

    n, h, w, _ = frames.shape
    stride = (w * 3 + 3) & ~3
    frame_bytes = stride * h

    def dib(frame: np.ndarray) -> bytes:
        # RGB → BGR, bottom-up, zero-padded rows
        bgr = frame[::-1, :, ::-1]
        row = np.zeros((h, stride), dtype=np.uint8)
        row[:, : w * 3] = bgr.reshape(h, w * 3)
        return row.tobytes()

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (tag + struct.pack("<I", len(payload)) + payload
                + (b"\x00" if len(payload) & 1 else b""))

    def lst(kind: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", kind + payload)

    avih = struct.pack(
        "<14I",
        1_000_000 * scale // rate,  # dwMicroSecPerFrame
        frame_bytes * rate // scale,  # dwMaxBytesPerSec
        0, 0x10,  # padding granularity, AVIF_HASINDEX
        n, 0, 1, frame_bytes,  # frames, initial, streams, bufsize
        w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIII4h",
        b"vids", b"DIB ", 0, 0, 0, 0,
        scale, rate, 0, n, frame_bytes, 0xFFFFFFFF, 0,
        0, 0, w, h,
    )
    strf = struct.pack(
        "<IiiHHIIiiII",
        40, w, h, 1, 24, 0, frame_bytes, 0, 0, 0, 0,
    )
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi_payload = b"".join(chunk(b"00db", dib(f)) for f in frames)
    movi = lst(b"movi", movi_payload)
    # idx1 offsets are relative to the start of the 'movi' kind tag
    idx = b"".join(
        struct.pack("<4sIII", b"00db", 0x10,
                    4 + i * (8 + frame_bytes), frame_bytes)
        for i in range(n)
    )
    body = b"AVI " + hdrl + movi + chunk(b"idx1", idx)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi(data: bytes) -> tuple[int, int, int, int, np.ndarray]:
    """Decode a RIFF/AVI with struct/numpy only — a real container
    codec, not a library call: verifies the RIFF/'AVI ' magic and
    container size field, walks the hdrl LIST (avih dimensions, strh
    'vids' stream with rate/scale, strf BITMAPINFOHEADER), then decodes
    every movi frame. Two real codecs behind the header switch:
    biCompression=0 → '00db' bottom-up 4-byte-padded BGR DIB rows;
    biCompression='MJPG' → each '00dc' chunk is a standalone baseline
    JPEG routed through ``decode_jpeg`` (grayscale frames replicate to
    RGB). Other compressions raise — those genuinely need codec libs.

    Returns (width, height, rate, scale, frames (n, h, w, 3) uint8)."""
    import struct

    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    (riff_size,) = struct.unpack("<I", data[4:8])
    if riff_size != len(data) - 8:
        raise ValueError(
            f"RIFF size field {riff_size} != payload size {len(data) - 8}"
        )

    def need(buf: bytes, n: int, what: str) -> bytes:
        if len(buf) < n:
            raise ValueError(f"truncated {what}: {len(buf)} < {n} bytes")
        return buf

    def walk(buf: bytes):
        pos = 0
        while pos + 8 <= len(buf):
            tag = buf[pos:pos + 4]
            (ln,) = struct.unpack("<I", buf[pos + 4:pos + 8])
            if pos + 8 + ln > len(buf):
                raise ValueError(
                    f"chunk {tag!r} declares {ln} bytes, only "
                    f"{len(buf) - pos - 8} remain"
                )
            body = buf[pos + 8:pos + 8 + ln]
            if tag == b"LIST":
                yield need(body, 4, "LIST type")[:4], body[4:]
            else:
                yield tag, body
            pos += 8 + ln + (ln & 1)

    w = h = n_frames = None
    rate = scale = None
    compression = None
    raw_frames: list[bytes] = []
    for tag, body in walk(data[12:]):
        if tag == b"hdrl":
            for t2, b2 in walk(body):
                if t2 == b"avih":
                    vals = struct.unpack("<14I", need(b2, 56, "avih")[:56])
                    n_frames, w, h = vals[4], vals[8], vals[9]
                elif t2 == b"strl":
                    for t3, b3 in walk(b2):
                        if t3 == b"strh":
                            fcc, _hdl = struct.unpack(
                                "<4s4s", need(b3, 28, "strh")[:8]
                            )
                            if fcc != b"vids":
                                raise ValueError(
                                    f"unsupported AVI stream {fcc!r}"
                                )
                            scale, rate = struct.unpack("<II", b3[20:28])
                        elif t3 == b"strf":
                            (_sz, bw, bh, _pl, bits, comp) = struct.unpack(
                                "<IiiHHI", need(b3, 20, "strf")[:20]
                            )
                            if comp == MJPG_FOURCC:
                                compression = "mjpg"
                            elif comp == 0 and bits == 24:
                                compression = "rgb"
                            else:
                                raise ValueError(
                                    f"unsupported AVI (compression={comp}, "
                                    f"bits={bits}) — codec libs unavailable"
                                )
        elif tag == b"movi":
            for t2, b2 in walk(body):
                if t2 in (b"00db", b"00dc"):
                    raw_frames.append(b2)
    if w is None or rate is None or compression is None:
        raise ValueError("AVI missing avih/strh/strf header")
    if len(raw_frames) != n_frames:
        raise ValueError(
            f"movi has {len(raw_frames)} frames, header says {n_frames}"
        )
    # every (n, h, w)-sized allocation happens only after the frames
    # proved they hold that many pixels: the header fields are untrusted,
    # and one flipped byte can declare a multi-GiB frame
    if compression == "mjpg":
        imgs = []
        for i, rf in enumerate(raw_frames):
            img = decode_jpeg(bytes(rf))
            if img.shape[:2] != (h, w):
                raise ValueError(
                    f"frame {i}: JPEG is {img.shape[1]}x{img.shape[0]}, "
                    f"container says {w}x{h}"
                )
            imgs.append(np.repeat(img[..., None], 3, axis=2)
                        if img.ndim == 2 else img)
        out = (np.stack(imgs) if imgs
               else np.empty((0, h, w, 3), dtype=np.uint8))
        return w, h, rate, scale, out
    stride = (w * 3 + 3) & ~3
    for i, rf in enumerate(raw_frames):
        if len(rf) != stride * h:
            raise ValueError(f"frame {i}: {len(rf)} bytes != {stride * h}")
    out = np.empty((n_frames, h, w, 3), dtype=np.uint8)
    for i, rf in enumerate(raw_frames):
        rows = np.frombuffer(rf, dtype=np.uint8).reshape(h, stride)
        out[i] = rows[::-1, : w * 3].reshape(h, w, 3)[:, :, ::-1]
    return w, h, rate, scale, out


AVI_FRAME_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("rate", T.IntegerType(), True),
        T.StructField("frame_sum", T.LongType(), True),
    ]
)


def decode_avi_frame_stats(media: DataFrame) -> DataFrame:
    """Real AVI decode → one row per FRAME with scalar pixel statistics
    (the video analog of frame sampling, row explosion inside
    mapInPandas; strict-oracle shape: frame_sum is wrong unless the RIFF
    walk, header validation, and bottom-up padded-BGR DIB decode are all
    correct)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "width": [],
                   "height": [], "rate": [], "frame_sum": []}
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                w, h, rate, _scale, frames = decode_avi(bytes(p))
                sums = frames.reshape(len(frames), -1).astype(np.int64).sum(axis=1)
                for i, s in enumerate(sums):
                    out["media_id"].append(int(mid))
                    out["frame_idx"].append(i)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["rate"].append(rate)
                    out["frame_sum"].append(int(s))
            yield pd.DataFrame(out).astype(
                {"media_id": np.int64, "frame_idx": np.int32,
                 "width": np.int32, "height": np.int32,
                 "rate": np.int32, "frame_sum": np.int64}
            )

    return media.mapInPandas(run, schema=AVI_FRAME_STATS_SCHEMA)


def documents_as_avi_media(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize REAL uncompressed AVI payloads from the documents
    fixture: per doc a clip of n = 1 + doc_id % 5 frames sized
    w = 4 + doc_id % 13 by h = 4 + doc_id % 11 at rate = 2 + doc_id % 7
    fps, with pixel channel value (doc_id + 7·frame + x + 3·y + 5·c)
    % 256 — closed-form so a SQL oracle can predict per-frame statistics
    exactly while the decode itself does the full RIFF/header/DIB work."""

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"].astype(np.int64):
                did = int(did)
                w = 4 + did % 13
                h = 4 + did % 11
                n = 1 + did % 5
                rate = 2 + did % 7
                f = np.arange(n, dtype=np.int64)[:, None, None, None]
                y = np.arange(h, dtype=np.int64)[None, :, None, None]
                x = np.arange(w, dtype=np.int64)[None, None, :, None]
                c = np.arange(3, dtype=np.int64)[None, None, None, :]
                arr = ((did + 7 * f + x + 3 * y + 5 * c) % 256).astype(np.uint8)
                payloads.append(encode_avi_rgb24(arr, rate))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"].astype(np.int64).values,
                 "kind": "video", "payload": payloads, "meta": None}
            )

    return docs.select(F.col(id_col).alias("doc_id")).mapInPandas(
        build, schema=MEDIA_SCHEMA
    )


MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", T.StringType(), True),  # sidecar JSON
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_ts", T.DoubleType(), False),
        T.StructField("frame_hash", T.LongType(), False),
    ]
)


def _payload_hash(payloads: pd.Series) -> np.ndarray:
    """Deterministic 63-bit hash of binary payloads (vectorized-ish; the
    per-row cost is the unavoidable byte scan a real decoder does too)."""
    import zlib

    return np.fromiter(
        (zlib.crc32(b"" if p is None else bytes(p)) for p in payloads),
        dtype=np.int64,
        count=len(payloads),
    )


def _payload_hash_md5(payloads: pd.Series) -> np.ndarray:
    """60-bit md5-derived payload hash — the cross-engine deterministic
    variant (DuckDB twin: ``('0x' || substr(md5(x), 1, 15))::BIGINT``),
    used where a SQL oracle must predict hash-derived metadata."""
    import hashlib

    return np.fromiter(
        (int(hashlib.md5(b"" if p is None else bytes(p)).hexdigest()[:15], 16)
         for p in payloads),
        dtype=np.int64,
        count=len(payloads),
    )


def _fake_decode(pdf: pd.DataFrame, feat_dim: int) -> pd.DataFrame:
    h = _payload_hash(pdf["payload"])
    width = (64 + (h % 1920)).astype(np.int32)
    height = (64 + ((h >> 8) % 1080)).astype(np.int32)
    channels = np.where(pdf["kind"].values == "image", 3, 1).astype(np.int32)
    # deterministic pseudo-embedding from the hash
    ar = np.arange(feat_dim, dtype=np.float64)
    feats = np.sin((h[:, None] % 997) * 0.001 + ar * 0.1).astype(np.float32)
    return pd.DataFrame(
        {
            "media_id": pdf["media_id"].values,
            "width": width,
            "height": height,
            "channels": channels,
            "feature": list(feats),
        }
    )


def decode_images(media: DataFrame, feat_dim: int = 16) -> DataFrame:
    """Decode + feature-extract media payloads.

    PNG payloads take the REAL decode path (stdlib ``decode_png``): true
    width/height/channels and a feature vector of the first ``feat_dim``
    pixels scaled to [0, 1]. Non-PNG payloads (opaque bytes, compressed
    codecs) get the deterministic hash-derived fake over the same Arrow
    plumbing; real WAV and uncompressed-AVI paths live in
    ``decode_wav_stats`` / ``decode_avi_frame_stats``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            is_png = pdf["payload"].map(
                lambda p: p is not None and bytes(p[:8]) == PNG_MAGIC
            )
            parts = []
            if is_png.any():
                png = pdf[is_png]
                rows = {"media_id": png["media_id"].values,
                        "width": [], "height": [], "channels": [],
                        "feature": []}
                for p in png["payload"]:
                    w, h, ch, _bd, px = decode_png(bytes(p))
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["channels"].append(ch)
                    feat = (px[:feat_dim].astype(np.float32) / 255.0)
                    if len(feat) < feat_dim:
                        feat = np.pad(feat, (0, feat_dim - len(feat)))
                    rows["feature"].append(feat)
                parts.append(pd.DataFrame(rows).astype(
                    {"width": np.int32, "height": np.int32,
                     "channels": np.int32}
                ))
            if (~is_png).any():
                parts.append(_fake_decode(pdf[~is_png], feat_dim))
            if parts:
                yield pd.concat(parts, ignore_index=True)

    return media.mapInPandas(run, schema=DECODED_SCHEMA)


PNG_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("bit_depth", T.IntegerType(), True),
        T.StructField("pixel_sum", T.LongType(), True),
    ]
)


def decode_png_stats(media: DataFrame) -> DataFrame:
    """Real PNG decode → scalar pixel statistics (strict-oracle shape:
    the pixel_sum is wrong unless chunk walk, inflate, and unfiltering
    are all correct)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": pdf["media_id"].values,
                   "width": [], "height": [], "channels": [],
                   "bit_depth": [], "pixel_sum": []}
            for p in pdf["payload"]:
                w, h, ch, bd, px = decode_png(bytes(p))
                out["width"].append(w)
                out["height"].append(h)
                out["channels"].append(ch)
                out["bit_depth"].append(bd)
                out["pixel_sum"].append(int(px.astype(np.int64).sum()))
            yield pd.DataFrame(out).astype(
                {"width": np.int32, "height": np.int32,
                 "channels": np.int32, "bit_depth": np.int32,
                 "pixel_sum": np.int64}
            )

    return media.mapInPandas(run, schema=PNG_STATS_SCHEMA)


def sample_frames(media: DataFrame, fps: float = 1.0, max_frames: int = 8,
                  hasher: str = "crc32") -> DataFrame:
    """Frame sampling: one input row → N frame rows (row explosion inside
    mapInPandas, the video analog of explode). Frame count/timestamps are
    deterministic from the payload hash in the stub. ``hasher='md5'``
    selects the cross-engine-deterministic payload hash so a SQL oracle
    can predict every emitted row."""
    hash_fn = _payload_hash_md5 if hasher == "md5" else _payload_hash

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            h = hash_fn(pdf["payload"])
            n_frames = (1 + (h % max_frames)).astype(np.int64)
            total = int(n_frames.sum())
            if total == 0:
                continue
            media_id = np.repeat(pdf["media_id"].values, n_frames)
            offs = np.concatenate(([0], np.cumsum(n_frames)))
            idx = np.arange(total, dtype=np.int64) - np.repeat(offs[:-1], n_frames)
            yield pd.DataFrame(
                {
                    "media_id": media_id,
                    "frame_idx": idx.astype(np.int32),
                    "frame_ts": idx / fps,
                    "frame_hash": np.repeat(h, n_frames) ^ (idx * 2654435761),
                }
            )

    return media.mapInPandas(run, schema=FRAME_SCHEMA)


def documents_as_png_media(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize REAL PNG payloads from the documents fixture: for each
    doc a small grayscale gradient image with width = 4 + doc_id % 29,
    height = 4 + doc_id % 23, pixel(x, y) = (doc_id + x + 3y) % 256 —
    closed-form dimensions/content so a SQL oracle can predict the
    decoded statistics exactly while the decode itself does full chunk /
    CRC / inflate / unfilter work."""

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"].astype(np.int64):
                w = int(4 + did % 29)
                h = int(4 + did % 23)
                x = np.arange(w, dtype=np.int64)
                y = np.arange(h, dtype=np.int64)
                arr = ((did + x[None, :] + 3 * y[:, None]) % 256).astype(np.uint8)
                payloads.append(encode_png_gray(arr))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"].astype(np.int64).values,
                 "kind": "image", "payload": payloads, "meta": None}
            )

    return docs.select(F.col(id_col).alias("doc_id")).mapInPandas(
        build, schema=MEDIA_SCHEMA
    )


def documents_as_media(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Build a media table from the documents fixture: the text bytes act
    as an opaque binary payload (testdata has no real media files)."""
    return docs.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.when(F.col(id_col) % 3 == 0, F.lit("video"))
        .when(F.col(id_col) % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("image"))
        .alias("kind"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.to_json(F.struct(F.col(id_col))).alias("meta"),
    )


# =====================================================================
# Baseline JPEG (ITU-T T.81 SOF0) — pure numpy/struct codec
# =====================================================================
# A REAL lossy image codec, no library call anywhere: forward/inverse
# 8x8 DCT as an orthonormal matrix sandwich, zigzag ordering, quality-
# scaled quantization, magnitude-category entropy coding with canonical
# Huffman tables (Annex K luminance set), byte stuffing, and optional
# restart intervals. The decoder is general baseline: it reads whatever
# DQT/DHT/DRI tables the file declares, supports 1-component grayscale
# and 3-component 4:4:4 YCbCr scans, RSTn resynchronization, and
# validates marker structure (SURVEY.md §2 K6; reference analog
# ImagesUtils.write — here the interchange codec itself). Progressive
# (SOF2) and subsampled scans raise cleanly.

_JPEG_ZZ = np.array(sorted(
    range(64),
    key=lambda i: ((i >> 3) + (i & 7),
                   (i >> 3) if ((i >> 3) + (i & 7)) % 2 else -(i >> 3)),
), dtype=np.int64)  # _JPEG_ZZ[k] = natural index of zigzag position k

_DCT_M = np.array([
    [(np.sqrt(0.125) if k == 0 else 0.5)
     * np.cos((2 * n + 1) * k * np.pi / 16) for n in range(8)]
    for k in range(8)
])

#: Annex K Table K.1 luminance quantization (natural row-major order)
_STD_LUMA_Q = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)

#: Annex K Tables K.3/K.5 — luminance DC/AC Huffman specs
_STD_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_STD_DC_VALS = list(range(12))
_STD_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_STD_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _canonical_codes(bits, vals):
    """DHT spec → {symbol: (code, length)} (canonical assignment)."""
    out, code, i = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[i]] = (code, length)
            code += 1
            i += 1
        code <<= 1
    return out


def _decoder_table(bits, vals):
    """DHT spec → {(length, code): symbol}."""
    return {(ln, c): s for s, (c, ln) in _canonical_codes(bits, vals).items()}


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        if not length:
            return
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:  # byte stuffing
                self.buf.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> None:  # pad final byte with 1-bits (spec F.1.2.3)
        if self.n:
            self.write((1 << (8 - self.n)) - 1, 8 - self.n)


def _magnitude(v: int) -> tuple[int, int]:
    """(category ssss, additional bits) for a nonzero/zero coefficient."""
    if v == 0:
        return 0, 0
    s = int(abs(v)).bit_length()
    return s, (v if v > 0 else v + (1 << s) - 1)


def _quality_scale(quality: int) -> np.ndarray:
    """IJG quality scaling of the Annex K luminance table (natural order)."""
    quality = min(100, max(1, int(quality)))
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (_STD_LUMA_Q * s + 50) // 100
    return np.clip(q, 1, 255).astype(np.int64)


def _rgb_to_ycbcr(img: np.ndarray) -> np.ndarray:
    r, g, b = img[..., 0].astype(np.float64), img[..., 1].astype(np.float64), \
        img[..., 2].astype(np.float64)
    return np.stack([
        0.299 * r + 0.587 * g + 0.114 * b,
        -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
        0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
    ], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = ycc[..., 0], ycc[..., 1] - 128.0, ycc[..., 2] - 128.0
    return np.stack([
        y + 1.402 * cr,
        y - 0.344136 * cb - 0.714136 * cr,
        y + 1.772 * cb,
    ], axis=-1)


def encode_jpeg_baseline(img: np.ndarray, quality: int = 85,
                         quant: np.ndarray | None = None,
                         restart_interval: int = 0,
                         subsampling: str = "444") -> bytes:
    """Encode a (h, w) grayscale or (h, w, 3) RGB uint8 array as a
    baseline JFIF/JPEG (SOF0, Annex K luminance Huffman tables for
    every component). ``subsampling`` is '444' (one block per
    component per MCU) or '420' (2x2-sampled luma, box-mean chroma —
    the layout real cameras emit). ``quant`` overrides the
    quality-scaled quantization table (64 values, natural order)."""
    import struct

    if img.dtype != np.uint8:
        raise ValueError("encode_jpeg_baseline expects uint8")
    if subsampling not in ("444", "420"):
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    gray = img.ndim == 2
    h, w = img.shape[:2]
    if not (0 < h < 65536 and 0 < w < 65536):
        raise ValueError(f"bad dimensions {w}x{h}")
    q = (_quality_scale(quality) if quant is None
         else np.asarray(quant, dtype=np.int64).reshape(64))
    sub = subsampling == "420" and not gray
    hf, vf = ([2, 1, 1], [2, 1, 1]) if sub else ([1] * (1 if gray else 3),) * 2
    hmax, vmax = max(hf), max(vf)
    full = (img[..., None] if gray else _rgb_to_ycbcr(img)).astype(np.float64)

    # pad to MCU multiples by edge replication
    ph, pw = -h % (8 * vmax), -w % (8 * hmax)
    full = np.pad(full, ((0, ph), (0, pw), (0, 0)), mode="edge")
    H, W = full.shape[:2]
    planes = []
    for i in range(full.shape[2]):
        p = full[:, :, i]
        ry, rx = vmax // vf[i], hmax // hf[i]
        if ry > 1 or rx > 1:  # box-mean chroma subsample
            p = p.reshape(H // ry, ry, W // rx, rx).mean(axis=(1, 3))
        planes.append(p)

    dc_enc = _canonical_codes(_STD_DC_BITS, _STD_DC_VALS)
    ac_enc = _canonical_codes(_STD_AC_BITS, _STD_AC_VALS)
    qz = q[_JPEG_ZZ]  # zigzag-ordered for the DQT segment

    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" \
        + struct.pack(">HHBB", 1, 1, 0, 0)
    out += b"\xff\xdb" + struct.pack(">HB", 67, 0) + bytes(int(v) for v in qz)
    ncomp = len(planes)
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for cid in range(1, ncomp + 1):
        sof += struct.pack(">BBB", cid,
                           (hf[cid - 1] << 4) | vf[cid - 1], 0)
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    for cls, bits, vals in ((0, _STD_DC_BITS, _STD_DC_VALS),
                            (1, _STD_AC_BITS, _STD_AC_VALS)):
        seg = struct.pack(">B", cls << 4) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(seg)) + seg
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos = struct.pack(">B", ncomp)
    for cid in range(1, ncomp + 1):
        sos += struct.pack(">BB", cid, 0x00)  # DC table 0, AC table 0
    sos += b"\x00\x3f\x00"  # Ss=0 Se=63 AhAl=0
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    # entropy-coded interleaved scan: per MCU, hf[i]*vf[i] blocks per
    # component in raster order (spec A.2.3)
    bw = _BitWriter()
    preds = [0] * ncomp

    def write_block(ci: int, block: np.ndarray) -> None:
        coef = _DCT_M @ (block - 128.0) @ _DCT_M.T
        qc = np.round(coef.reshape(64) / q)
        zz = qc[_JPEG_ZZ].astype(np.int64)
        diff = int(zz[0]) - preds[ci]
        preds[ci] = int(zz[0])
        s, extra = _magnitude(diff)
        c, ln = dc_enc[s]
        bw.write(c, ln)
        bw.write(extra, s)
        run = 0
        nz = np.nonzero(zz[1:])[0]
        last = nz[-1] + 1 if len(nz) else 0
        for k in range(1, last + 1):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                c, ln = ac_enc[0xF0]  # ZRL
                bw.write(c, ln)
                run -= 16
            s, extra = _magnitude(v)
            c, ln = ac_enc[(run << 4) | s]
            bw.write(c, ln)
            bw.write(extra, s)
            run = 0
        if last < 63:
            c, ln = ac_enc[0x00]  # EOB
            bw.write(c, ln)

    mcu_rows, mcu_cols = H // (8 * vmax), W // (8 * hmax)
    mcu_i, rst = 0, 0
    for my in range(mcu_rows):
        for mx in range(mcu_cols):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                bw.flush()
                bw.buf += b"\xff" + bytes([0xD0 + rst])
                rst = (rst + 1) & 7
                preds = [0] * ncomp
            for ci in range(ncomp):
                for byy in range(vf[ci]):
                    for bxx in range(hf[ci]):
                        y0 = (my * vf[ci] + byy) * 8
                        x0 = (mx * hf[ci] + bxx) * 8
                        write_block(
                            ci, planes[ci][y0:y0 + 8, x0:x0 + 8])
            mcu_i += 1
    bw.flush()
    out += bw.buf
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _SegReader:
    """MSB-first bit reader over an unstuffed entropy segment."""

    def __init__(self, data: bytes):
        self.d = data
        self.pos = 0  # bit position

    def bit(self) -> int:
        byte_i = self.pos >> 3
        if byte_i >= len(self.d):
            raise ValueError("entropy segment exhausted mid-symbol")
        v = (self.d[byte_i] >> (7 - (self.pos & 7))) & 1
        self.pos += 1
        return v

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v


def _huff_decode(r: _SegReader, table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | r.bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in scan")


def _extend(v: int, s: int) -> int:
    return v if not s or v >= (1 << (s - 1)) else v - (1 << s) + 1


def _split_entropy(data: bytes, pos: int) -> tuple[list[bytes], int]:
    """Unstuff the entropy stream from ``pos``; split at RSTn markers;
    stop at the first non-RST marker. Returns (segments, marker_pos)."""
    segs, cur = [], bytearray()
    n = len(data)
    while pos < n:
        b = data[pos]
        if b != 0xFF:
            cur.append(b)
            pos += 1
            continue
        if pos + 1 >= n:
            raise ValueError("truncated entropy stream")
        m = data[pos + 1]
        if m == 0x00:
            cur.append(0xFF)
            pos += 2
        elif 0xD0 <= m <= 0xD7:
            segs.append(bytes(cur))
            cur = bytearray()
            pos += 2
        else:
            break
    segs.append(bytes(cur))
    return segs, pos


def decode_jpeg(data: bytes) -> np.ndarray:
    """Decode a baseline (SOF0) JPEG with numpy/struct only: marker
    walk, DQT/DHT/DRI table parsing, Huffman + magnitude-category
    entropy decode with RSTn resync, dequantization, inverse zigzag,
    IDCT, generic interleaved-MCU sampling (4:4:4, 4:2:0, 4:2:2 — any
    divisor sampling grid; chroma upsampled by sample replication), and
    YCbCr→RGB for 3-component scans. Returns (h, w) uint8 for
    grayscale or (h, w, 3) uint8 RGB. Progressive (SOF2) and multi-scan
    files raise ValueError (genuinely out of baseline scope), and so
    does every malformed payload: a missing table, a short segment or
    an out-of-range index surfaces as ValueError, never as a bare
    KeyError/IndexError/struct.error."""
    import struct

    try:
        return _decode_jpeg(data)
    except (KeyError, IndexError, struct.error) as e:
        raise ValueError(f"malformed JPEG: {type(e).__name__}: {e}") from e


def _decode_jpeg(data: bytes) -> np.ndarray:
    import struct

    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}
    h = w = None
    comps: list[tuple[int, int, int]] = []  # (id, sampling, qtable)
    restart = 0
    frames = None
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at byte {pos}")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seg_len,) = struct.unpack(">H", data[pos + 2:pos + 4])
        body = data[pos + 4:pos + 2 + seg_len]
        if len(body) != seg_len - 2:
            raise ValueError(f"truncated segment 0x{marker:02x}")
        pos += 2 + seg_len
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            off = 0
            while off < len(body):
                pq, tq = body[off] >> 4, body[off] & 15
                off += 1
                if pq:
                    vals = np.frombuffer(body[off:off + 128],
                                         dtype=">u2").astype(np.int64)
                    off += 128
                else:
                    vals = np.frombuffer(body[off:off + 64],
                                         dtype=np.uint8).astype(np.int64)
                    off += 64
                nat = np.empty(64, dtype=np.int64)
                nat[_JPEG_ZZ] = vals  # DQT is stored in zigzag order
                qtables[tq] = nat
        elif marker == 0xC4:  # DHT (possibly several tables)
            off = 0
            while off < len(body):
                tc, th = body[off] >> 4, body[off] & 15
                bits = list(body[off + 1:off + 17])
                nv = sum(bits)
                vals = list(body[off + 17:off + 17 + nv])
                htables[(tc, th)] = _decoder_table(bits, vals)
                off += 17 + nv
        elif marker == 0xDD:  # DRI
            (restart,) = struct.unpack(">H", body[:2])
        elif marker == 0xC0:  # SOF0 baseline
            _prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            comps = [(body[6 + 3 * i], body[7 + 3 * i], body[8 + 3 * i])
                     for i in range(nc)]
            if any(not (1 <= s >> 4 <= 4 and 1 <= (s & 15) <= 4)
                   for _, s, _q in comps):
                raise ValueError("JPEG sampling factors out of range")
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(f"non-baseline JPEG frame 0x{marker:02x}")
        elif marker == 0xDA:  # SOS — entropy scan follows
            if h is None:
                raise ValueError("SOS before SOF0")
            ns = body[0]
            if ns < len(comps):
                # the remaining components would arrive in later scans;
                # decoding this one alone would silently drop color
                raise ValueError(
                    f"multi-scan JPEG: SOS carries {ns} of {len(comps)} "
                    f"SOF components"
                )
            scan = [(body[1 + 2 * i], body[2 + 2 * i] >> 4,
                     body[2 + 2 * i] & 15) for i in range(ns)]
            segs, pos = _split_entropy(data, pos)
            by_id = {cid: (samp, tq) for cid, samp, tq in comps}
            samp_of = [by_id[cid][0] for cid, _td, _ta in scan]
            hf = [s >> 4 for s in samp_of]
            vf = [s & 15 for s in samp_of]
            # single-component scans are never interleaved (spec A.2.2):
            # the MCU is one block regardless of the SOF sampling factor
            if ns == 1:
                hf, vf = [1], [1]
            hmax, vmax = max(hf), max(vf)
            if any(hmax % x for x in hf) or any(vmax % x for x in vf):
                raise ValueError("non-divisor JPEG sampling grid")
            mcu_rows = -(-h // (8 * vmax))
            mcu_cols = -(-w // (8 * hmax))
            n_mcu = mcu_rows * mcu_cols
            # every block costs at least 2 entropy bits (shortest DC code
            # + shortest EOB code): bound the declared geometry by the
            # scan's size before allocating planes for it
            if n_mcu * sum(a * b for a, b in zip(hf, vf)) > 4 * sum(
                    len(sg) for sg in segs):
                raise ValueError(
                    f"JPEG declares {w}x{h}, more blocks than its "
                    f"entropy data can encode"
                )
            planes = [np.empty((mcu_rows * 8 * vf[i], mcu_cols * 8 * hf[i]))
                      for i in range(ns)]
            preds = [0] * ns
            seg_i = 0
            r = _SegReader(segs[0])

            def read_block(ci, dc_t, ac_t, q):
                s = _huff_decode(r, dc_t)
                preds[ci] += _extend(r.bits(s), s)
                zz = np.zeros(64, dtype=np.int64)
                zz[0] = preds[ci]
                k = 1
                while k < 64:
                    sym = _huff_decode(r, ac_t)
                    if sym == 0x00:  # EOB
                        break
                    run, s = sym >> 4, sym & 15
                    if s == 0:
                        if run != 15:
                            raise ValueError(f"bad AC symbol {sym:#x}")
                        k += 16
                        continue
                    k += run
                    if k > 63:
                        raise ValueError("AC run overflows block")
                    zz[k] = _extend(r.bits(s), s)
                    k += 1
                nat = np.zeros(64, dtype=np.int64)
                nat[_JPEG_ZZ] = zz
                block = (nat * q).reshape(8, 8).astype(np.float64)
                return _DCT_M.T @ block @ _DCT_M + 128.0

            for m in range(n_mcu):
                if restart and m and m % restart == 0:
                    seg_i += 1
                    if seg_i >= len(segs):
                        raise ValueError("missing RST segment in scan")
                    r = _SegReader(segs[seg_i])
                    preds = [0] * ns
                my, mx = divmod(m, mcu_cols)
                for ci, (cid, td, ta) in enumerate(scan):
                    dc_t, ac_t = htables[(0, td)], htables[(1, ta)]
                    q = qtables[by_id[cid][1]]
                    for byy in range(vf[ci]):
                        for bxx in range(hf[ci]):
                            y0 = (my * vf[ci] + byy) * 8
                            x0 = (mx * hf[ci] + bxx) * 8
                            planes[ci][y0:y0 + 8, x0:x0 + 8] = read_block(
                                ci, dc_t, ac_t, q)
            # upsample subsampled components by replication, then stack
            full = []
            for i in range(ns):
                p = planes[i]
                if hf[i] != hmax:
                    p = np.repeat(p, hmax // hf[i], axis=1)
                if vf[i] != vmax:
                    p = np.repeat(p, vmax // vf[i], axis=0)
                full.append(p)
            out = np.stack(full, axis=-1)[:h, :w, :]
            if ns == 1:
                return np.clip(np.round(out[:, :, 0]), 0, 255).astype(np.uint8)
            if ns == 3:
                return np.clip(np.round(_ycbcr_to_rgb(out)), 0,
                               255).astype(np.uint8)
            raise ValueError(f"unsupported component count {ns}")
        # APPn/COM and other segments: skipped
    raise ValueError("no SOS scan found")


MJPG_FOURCC = 0x47504A4D  # 'MJPG' little-endian


def encode_avi_mjpeg(frames: np.ndarray, rate: int, scale: int = 1,
                     quality: int = 85,
                     quant: np.ndarray | None = None) -> bytes:
    """Encode (n, h, w) uint8 grayscale frames as an MJPEG AVI: the
    same RIFF layout as ``encode_avi_rgb24`` but biCompression='MJPG'
    and each movi chunk ('00dc') a standalone baseline JPEG from
    ``encode_jpeg_baseline`` — the motion-JPEG interchange convention
    (every frame independently decodable, no inter-frame state)."""
    import struct

    n, h, w = frames.shape
    jpegs = [encode_jpeg_baseline(f, quality=quality, quant=quant)
             for f in frames]
    bufsize = max(len(j) for j in jpegs)

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (tag + struct.pack("<I", len(payload)) + payload
                + (b"\x00" if len(payload) & 1 else b""))

    def lst(kind: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", kind + payload)

    avih = struct.pack(
        "<14I",
        1_000_000 * scale // rate,
        bufsize * rate // scale,
        0, 0x10,
        n, 0, 1, bufsize,
        w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIII4h",
        b"vids", b"MJPG", 0, 0, 0, 0,
        scale, rate, 0, n, bufsize, 0xFFFFFFFF, 0,
        0, 0, w, h,
    )
    strf = struct.pack(
        "<IiiHHIIiiII",
        40, w, h, 1, 24, MJPG_FOURCC, w * h * 3, 0, 0, 0, 0,
    )
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi_payload = b"".join(chunk(b"00dc", j) for j in jpegs)
    movi = lst(b"movi", movi_payload)
    off, idx_entries = 4, []
    for j in jpegs:
        idx_entries.append(struct.pack("<4sIII", b"00dc", 0x10, off, len(j)))
        off += 8 + len(j) + (len(j) & 1)
    body = b"AVI " + hdrl + movi + chunk(b"idx1", b"".join(idx_entries))
    return b"RIFF" + struct.pack("<I", len(body)) + body


def documents_as_mjpeg_media(docs: DataFrame,
                             id_col: str = "doc_id") -> DataFrame:
    """Synthesize REAL MJPEG AVI payloads from the documents fixture:
    per doc a clip of n = 1 + doc_id % 4 grayscale frames sized
    w = 8·(1 + doc_id % 3) by h = 8·(1 + doc_id % 2) at
    rate = 2 + doc_id % 5 fps, where each 8x8 block is the CONSTANT
    value (doc_id + 7·frame + 13·bx + 29·by) % 256. Block-constant
    frames make the lossy codec exact on this family — every AC
    coefficient is identically zero and the DC quantizer step is 8, so
    round(8·(v−128)/8)·8/8 + 128 == v — which lets a SQL oracle
    predict decoded per-frame pixel sums exactly while the decode runs
    the full marker/Huffman/dequant/IDCT pipeline. General (non-block-
    constant) content fidelity is pinned by the roundtrip property
    tests instead (tests/test_property_codecs.py)."""
    quant = np.full(64, 16, dtype=np.int64)
    quant[0] = 8

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"].astype(np.int64):
                did = int(did)
                w = 8 * (1 + did % 3)
                h = 8 * (1 + did % 2)
                n = 1 + did % 4
                rate = 2 + did % 5
                f = np.arange(n, dtype=np.int64)[:, None, None]
                by = np.arange(h // 8, dtype=np.int64)[None, :, None]
                bx = np.arange(w // 8, dtype=np.int64)[None, None, :]
                blocks = ((did + 7 * f + 13 * bx + 29 * by) % 256).astype(
                    np.uint8
                )
                frames = np.repeat(np.repeat(blocks, 8, axis=1), 8, axis=2)
                payloads.append(
                    encode_avi_mjpeg(frames, rate, quant=quant)
                )
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"].astype(np.int64).values,
                 "kind": "video", "payload": payloads, "meta": None}
            )

    return docs.select(F.col(id_col).alias("doc_id")).mapInPandas(
        build, schema=MEDIA_SCHEMA
    )
