"""Multimodal columns for training-data pipelines (build brief).

Images / audio / video are carried as opaque ``binary`` columns with a
typed metadata struct — the standard webdataset-ish layout:

    media(doc_id long, kind string, content binary,
          meta struct<mime string, width int, height int,
                      duration_ms int, sample_rate int>)

Decoding is REAL for every format the Python standard library can
parse — no imaging/audio wheels ship in this container, so the decoders
are implemented from the public format specs directly:

* PNG (8-bit gray/RGB/RGBA, non-interlaced): chunk walk, zlib-inflated
  IDAT, full scanline unfiltering (None/Sub/Up/Average/Paeth per the
  PNG spec §9) — pure numpy per row.
* PGM/PPM (binary Netpbm P5/P6): header parse + raw samples.
* BMP (uncompressed 24-bit BITMAPINFOHEADER): bottom-up rows, 4-byte
  row padding.
* WAV (PCM 8/16-bit) via the stdlib ``wave`` module.
* YUV4MPEG2 (y4m) video: text stream header + raw planes per the
  public spec (mono and 4:2:0 variants; Y plane returned) — backs the
  frame-sampling stage.
* ``FAKEIMG1``/``FAKEAUD1``: the deterministic synthetic containers
  (kept for cheap high-volume fixtures).

Compressed formats needing codecs outside the stdlib (JPEG, MP3,
MP4/H.264, WebM) raise ``NotImplementedError`` naming the dependency —
the dispatch, schema, Arrow batch shape and partition sizing are
identical, so adding them is one decoder function.

Synthetic container format (deterministic, self-describing):
  b"FAKEIMG1" | width:uint16 | height:uint16 | payload  (images)
  b"FAKEAUD1" | sample_rate:uint32 | n_samples:uint32 | payload (audio)
"""

from __future__ import annotations

import hashlib
import io
import struct
import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "doc_id long, kind string, content binary, "
    "meta struct<mime string, width int, height int, "
    "duration_ms int, sample_rate int>"
)

_IMG_MAGIC = b"FAKEIMG1"
_AUD_MAGIC = b"FAKEAUD1"
_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


# --------------------------------------------------------------------------
# synthesis (deterministic; one blob per doc, format rotated by doc_id)
# --------------------------------------------------------------------------

def _pixels_for(doc_id: int, w: int, h: int, channels: int = 1) -> np.ndarray:
    seed = hashlib.blake2b(f"px:{doc_id}".encode(), digest_size=8).digest()
    rng = np.random.RandomState(int.from_bytes(seed[:4], "little"))
    return rng.randint(0, 256, size=(h, w, channels), dtype=np.uint8)


def synth_fake_image(doc_id: int) -> tuple[bytes, dict]:
    w = 32 + (doc_id % 7) * 16
    h = 32 + (doc_id % 5) * 16
    payload = hashlib.blake2b(f"img:{doc_id}".encode(), digest_size=32).digest()
    content = _IMG_MAGIC + struct.pack("<HH", w, h) + payload * ((w * h) // 32 + 1)
    meta = {"mime": "image/x-fake", "width": w, "height": h,
            "duration_ms": None, "sample_rate": None}
    return content, meta


def synth_png(doc_id: int) -> tuple[bytes, dict]:
    w, h = 24 + (doc_id % 5) * 8, 24 + (doc_id % 3) * 8
    px = _pixels_for(doc_id, w, h, 3)
    content = png_encode(px)
    return content, {"mime": "image/png", "width": w, "height": h,
                     "duration_ms": None, "sample_rate": None}


def synth_pgm(doc_id: int) -> tuple[bytes, dict]:
    w, h = 20 + (doc_id % 4) * 12, 20 + (doc_id % 6) * 8
    px = _pixels_for(doc_id, w, h, 1)[:, :, 0]
    content = b"P5\n# synthetic\n%d %d\n255\n" % (w, h) + px.tobytes()
    return content, {"mime": "image/x-portable-graymap", "width": w, "height": h,
                     "duration_ms": None, "sample_rate": None}


def synth_bmp(doc_id: int) -> tuple[bytes, dict]:
    w, h = 16 + (doc_id % 3) * 8, 16 + (doc_id % 5) * 4
    px = _pixels_for(doc_id, w, h, 3)
    content = bmp_encode(px)
    return content, {"mime": "image/bmp", "width": w, "height": h,
                     "duration_ms": None, "sample_rate": None}


def synth_wav(doc_id: int) -> tuple[bytes, dict]:
    import wave

    sr = 8000
    n = 800 + (doc_id % 7) * 400
    t = np.arange(n, dtype=np.float64)
    freq = 200.0 + (doc_id % 10) * 50.0
    samples = (np.sin(2 * np.pi * freq * t / sr) * 12000).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(2)
        wv.setframerate(sr)
        wv.writeframes(samples.tobytes())
    return buf.getvalue(), {"mime": "audio/wav", "width": None, "height": None,
                            "duration_ms": int(n * 1000 / sr), "sample_rate": sr}


def synth_fake_audio(doc_id: int) -> tuple[bytes, dict]:
    sr = 16000
    n = 1000 + (doc_id % 11) * 500
    payload = hashlib.blake2b(f"aud:{doc_id}".encode(), digest_size=32).digest()
    content = _AUD_MAGIC + struct.pack("<II", sr, n) + payload * (n // 16 + 1)
    meta = {"mime": "audio/x-fake", "width": None, "height": None,
            "duration_ms": int(n * 1000 / sr), "sample_rate": sr}
    return content, meta


def synth_y4m(doc_id: int) -> tuple[bytes, dict]:
    """Deterministic REAL video blob: YUV4MPEG2 (y4m) is a public
    plain-header + raw-frames format the stdlib can parse — the same
    real-format policy as PNG/WAV.  Mono colourspace (Y plane only),
    small frames, frame count varying per doc."""
    w, h = 16 + (doc_id % 3) * 8, 8 + (doc_id % 2) * 8
    fps = 10
    n_frames = 4 + (doc_id % 5)
    frames = [
        _pixels_for(doc_id * 1000 + i, w, h, 1)[:, :, 0] for i in range(n_frames)
    ]
    content = y4m_encode(frames, fps=fps)
    return content, {
        "mime": "video/x-yuv4mpeg",
        "width": w,
        "height": h,
        "duration_ms": int(n_frames * 1000 / fps),
        "sample_rate": None,
    }


def synthesize_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic media table derived from documents (one blob per
    doc; real PNG/PGM/BMP/WAV formats rotated with the synthetic
    containers).  Distributed generation via mapInPandas."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                if did % 7 == 3:
                    content, meta = synth_y4m(did)
                    kind = "video"
                elif did % 2 == 0:
                    maker = (synth_png, synth_pgm, synth_bmp, synth_fake_image)[
                        (did // 2) % 4
                    ]
                    content, meta = maker(did)
                    kind = "image"
                else:
                    maker = (synth_wav, synth_fake_audio)[(did // 2) % 2]
                    content, meta = maker(did)
                    kind = "audio"
                rows.append(
                    {"doc_id": did, "kind": kind, "content": content, "meta": meta}
                )
            yield pd.DataFrame(rows, columns=["doc_id", "kind", "content", "meta"])

    return docs.mapInPandas(gen, MEDIA_SCHEMA)


# --------------------------------------------------------------------------
# encoders (used by synthesis + tests; spec-compliant, stdlib only)
# --------------------------------------------------------------------------

def png_encode(px: np.ndarray, filter_type: int = 0) -> bytes:
    """Minimal PNG writer: 8-bit gray (HxW) or RGB/RGBA (HxWxC),
    non-interlaced, one IDAT, the SAME ``filter_type`` applied forward
    to every scanline (0-4) so the decoder's unfiltering is testable
    against all five filters."""
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, c = px.shape
    color = {1: 0, 3: 2, 4: 6}[c]
    bpp = c
    raw = bytearray()
    prev = np.zeros(w * c, dtype=np.uint8)
    for y in range(h):
        line = px[y].reshape(-1).astype(np.uint8)
        f = np.asarray(line, dtype=np.int64)
        left = np.concatenate((np.zeros(bpp, dtype=np.int64), f[:-bpp]))
        up = prev.astype(np.int64)
        upleft = np.concatenate((np.zeros(bpp, dtype=np.int64), up[:-bpp]))
        if filter_type == 0:
            out = f
        elif filter_type == 1:
            out = f - left
        elif filter_type == 2:
            out = f - up
        elif filter_type == 3:
            out = f - (left + up) // 2
        elif filter_type == 4:
            p = left + up - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - upleft)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, upleft))
            out = f - pred
        else:
            raise ValueError(filter_type)
        raw.append(filter_type)
        raw.extend((out % 256).astype(np.uint8).tobytes())
        prev = line

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body)))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (_PNG_MAGIC + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))


def bmp_encode(px: np.ndarray) -> bytes:
    """Uncompressed 24-bit bottom-up BMP (BITMAPINFOHEADER)."""
    h, w, _ = px.shape
    row_len = (w * 3 + 3) // 4 * 4
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        row = px[y][:, ::-1].reshape(-1).tobytes()  # RGB -> BGR
        body.extend(row)
        body.extend(b"\x00" * (row_len - len(row)))
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + len(body), 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return header + info + bytes(body)


# --------------------------------------------------------------------------
# decoders
# --------------------------------------------------------------------------

def _decode_png(content: bytes) -> np.ndarray:
    pos = len(_PNG_MAGIC)
    idat = bytearray()
    w = h = None
    color = bit_depth = interlace = None
    while pos < len(content):
        (length,) = struct.unpack_from(">I", content, pos)
        tag = content[pos + 4 : pos + 8]
        body = content[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, bit_depth, color, _, _, interlace = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            break
    if bit_depth != 8 or color not in (0, 2, 6) or interlace != 0:
        raise NotImplementedError(
            f"PNG bit_depth={bit_depth} color={color} interlace={interlace}: "
            "only 8-bit gray/RGB/RGBA non-interlaced supported"
        )
    c = {0: 1, 2: 3, 6: 4}[color]
    raw = zlib.decompress(bytes(idat))
    stride = w * c
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        ft = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).astype(np.int64)
        if ft == 0:
            rec = line
        elif ft == 2:  # Up
            rec = (line + prev) % 256
        else:  # Sub / Average / Paeth need the running left value
            rec = np.empty(stride, dtype=np.int64)
            for i in range(stride):
                left = rec[i - c] if i >= c else 0
                up = prev[i]
                upleft = prev[i - c] if i >= c else 0
                if ft == 1:
                    pred = left
                elif ft == 3:
                    pred = (left + up) // 2
                elif ft == 4:
                    p = left + up - upleft
                    pa, pb, pc_ = abs(p - left), abs(p - up), abs(p - upleft)
                    pred = left if pa <= pb and pa <= pc_ else (up if pb <= pc_ else upleft)
                else:
                    raise ValueError(f"PNG filter {ft}")
                rec[i] = (line[i] + pred) % 256
        out[y] = rec.astype(np.uint8)
        prev = rec
    img = out.reshape(h, w, c).astype(np.float32) / 255.0
    return img.mean(axis=2)  # grayscale feature plane


def _decode_netpbm(content: bytes) -> np.ndarray:
    magic = content[:2]
    channels = 1 if magic == b"P5" else 3
    # header: magic, whitespace/comments, width, height, maxval, 1 ws byte
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(content) and content[pos : pos + 1].isspace():
            pos += 1
        if content[pos : pos + 1] == b"#":
            while content[pos : pos + 1] not in (b"\n", b""):
                pos += 1
            continue
        start = pos
        while pos < len(content) and not content[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(content[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval > 255:
        raise NotImplementedError(
            f"Netpbm maxval {maxval}: 16-bit (2-byte) samples not supported"
        )
    body = np.frombuffer(content, dtype=np.uint8, count=w * h * channels, offset=pos)
    img = body.reshape(h, w, channels).astype(np.float32) / float(maxval)
    return img.mean(axis=2)


def _decode_bmp(content: bytes) -> np.ndarray:
    _, _, _, _, off = struct.unpack_from("<2sIHHI", content, 0)
    hdr_size, w, h = struct.unpack_from("<Iii", content, 14)
    planes, bpp, compression = struct.unpack_from("<HHI", content, 26)
    if bpp != 24 or compression != 0:
        raise NotImplementedError(f"BMP bpp={bpp} compression={compression}: "
                                  "only uncompressed 24-bit supported")
    bottom_up = h > 0
    h = abs(h)
    row_len = (w * 3 + 3) // 4 * 4
    img = np.empty((h, w, 3), dtype=np.uint8)
    for row in range(h):
        y = h - 1 - row if bottom_up else row
        line = np.frombuffer(content, dtype=np.uint8, count=w * 3,
                             offset=off + row * row_len)
        img[y] = line.reshape(w, 3)[:, ::-1]  # BGR -> RGB
    return img.astype(np.float32).mean(axis=2) / 255.0


def decode_image(content: bytes) -> np.ndarray:
    """bytes → HxW float32 grayscale plane in [0, 1].  Dispatches on
    the container magic; formats needing non-stdlib codecs raise
    NotImplementedError naming the dependency."""
    if content.startswith(_PNG_MAGIC):
        return _decode_png(content)
    if content[:2] in (b"P5", b"P6"):
        return _decode_netpbm(content)
    if content[:2] == b"BM":
        return _decode_bmp(content)
    if content.startswith(_IMG_MAGIC):
        w, h = struct.unpack_from("<HH", content, 8)
        body = np.frombuffer(content, dtype=np.uint8, count=w * h, offset=12)
        return (body.astype(np.float32) / 255.0).reshape(h, w)
    if content[:3] == b"\xff\xd8\xff":
        raise NotImplementedError("JPEG decode requires libjpeg (e.g. Pillow)")
    raise ValueError(f"unrecognized image container: {content[:8]!r}")


def y4m_encode(frames: list[np.ndarray], fps: int = 10) -> bytes:
    """Minimal YUV4MPEG2 writer (public spec): text stream header with
    W/H/F/interlace/aspect/colourspace tokens, then ``FRAME\\n`` + raw
    planes per frame.  ``Cmono`` = Y plane only (8-bit grayscale)."""
    h, w = frames[0].shape
    out = [f"YUV4MPEG2 W{w} H{h} F{fps}:1 Ip A1:1 Cmono\n".encode()]
    for fr in frames:
        assert fr.shape == (h, w)
        out.append(b"FRAME\n")
        out.append(fr.astype(np.uint8).tobytes())
    return b"".join(out)


def decode_video(content: bytes) -> tuple[float, np.ndarray]:
    """bytes → (fps, frames [n, h, w] float32 in [0, 1]).  REAL parser
    for YUV4MPEG2 (mono and 4:2:0 — the Y plane is returned either
    way); compressed containers (MP4/WebM/Matroska) raise
    NotImplementedError naming the codec dependency."""
    if content.startswith(b"YUV4MPEG2"):
        nl = content.index(b"\n")
        header = content[:nl].decode("ascii", errors="replace").split(" ")
        w = h = None
        fps = 25.0
        cspace = "420jpeg"  # the spec's default when C is absent
        for tok in header[1:]:
            if not tok:
                continue
            if tok[0] == "W":
                w = int(tok[1:])
            elif tok[0] == "H":
                h = int(tok[1:])
            elif tok[0] == "F":
                num, den = tok[1:].split(":")
                fps = float(num) / float(den)
            elif tok[0] == "C":
                cspace = tok[1:]
        if not w or not h:
            raise ValueError("y4m header missing W/H")
        if cspace.startswith("mono"):
            frame_bytes = w * h
        elif cspace.startswith("420"):
            frame_bytes = w * h + 2 * ((w // 2) * (h // 2))
        elif cspace.startswith("444"):
            frame_bytes = 3 * w * h
        elif cspace.startswith("422"):
            frame_bytes = w * h + 2 * ((w // 2) * h)
        else:
            raise NotImplementedError(f"y4m colourspace C{cspace}")
        frames = []
        pos = nl + 1
        marker = b"FRAME"
        while pos < len(content):
            if content[pos : pos + 5] != marker:
                raise ValueError(f"bad FRAME marker at {pos}")
            pos = content.index(b"\n", pos) + 1  # frame params ignored
            y = np.frombuffer(content, dtype=np.uint8, count=w * h, offset=pos)
            frames.append((y.astype(np.float32) / 255.0).reshape(h, w))
            pos += frame_bytes
        return fps, np.stack(frames) if frames else np.empty((0, h, w), np.float32)
    if len(content) >= 12 and content[4:8] == b"ftyp":
        raise NotImplementedError(
            "MP4/H.264 decode requires a video codec library (e.g. ffmpeg/PyAV)"
        )
    if content[:4] == b"\x1a\x45\xdf\xa3":
        raise NotImplementedError(
            "Matroska/WebM decode requires a video codec library (e.g. ffmpeg/PyAV)"
        )
    raise ValueError(f"unrecognized video container: {content[:9]!r}")


def decode_audio(content: bytes) -> tuple[int, np.ndarray]:
    """bytes → (sample_rate, float32 samples in [-1, 1])."""
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        import wave

        with wave.open(io.BytesIO(content), "rb") as wv:
            sr = wv.getframerate()
            width = wv.getsampwidth()
            frames = wv.readframes(wv.getnframes())
        if width == 2:
            arr = np.frombuffer(frames, dtype="<i2").astype(np.float32) / 32768.0
        elif width == 1:
            arr = np.frombuffer(frames, dtype=np.uint8).astype(np.float32) / 128.0 - 1.0
        else:
            raise NotImplementedError(f"WAV sample width {width}")
        return sr, arr
    if content.startswith(_AUD_MAGIC):
        sr, n = struct.unpack_from("<II", content, 8)
        body = np.frombuffer(content, dtype=np.uint8, count=n, offset=16)
        return sr, body.astype(np.float32) / 128.0 - 1.0
    if content[:3] == b"ID3" or (
        len(content) >= 2 and content[0] == 0xFF and (content[1] & 0xE0) == 0xE0
    ):  # ID3 tag or MPEG frame sync
        raise NotImplementedError("MP3 decode requires an audio codec library")
    raise ValueError(f"unrecognized audio container: {content[:8]!r}")


# --------------------------------------------------------------------------
# distributed transforms
# --------------------------------------------------------------------------

FEATURE_DIM = 16


def _pool(arr: np.ndarray, quant: float | None = None) -> list[float]:
    """Fixed-dim pooled intensity features — the ONE pooling contract
    every modality (whole image/audio/video and per-frame) shares
    (one definition, so the modalities cannot drift apart).

    With ``quant``, samples are first snapped back to their native
    integer grid (every decoder emits ``k/Q`` floats: Q=765 for the
    3-channel gray mean — 1-channel ``k/255`` = ``3k/765`` lands on the
    same grid — and Q=32768 for audio, where the fake container's
    ``k/128 − 1`` is ``(256k − 32768)/32768``), pooled with exact int64
    sums, and scaled by ONE final division — so every feature is a
    bit-reproducible double that the pure-SQL oracle recomputes from
    the raw pre-encode samples (this is what makes media_features
    DuckDB-checkable).  float32 decode error is ≤ ~2e-4 on the ×Q
    grid, far inside rint's 0.5 tolerance."""
    if quant is not None:
        ints = np.rint(arr.astype(np.float64) * quant).astype(np.int64)
        cols = max(ints.size // FEATURE_DIM, 1)
        sums = np.resize(ints, (FEATURE_DIM, cols)).sum(axis=1, dtype=np.int64)
        return [float(s) / cols / quant for s in sums]
    pooled = np.resize(arr, (FEATURE_DIM, max(arr.size // FEATURE_DIM, 1))).mean(axis=1)
    return [float(x) for x in pooled]


# native sample grids per media kind (see _pool docstring)
_POOL_QUANT = {"image": 765.0, "video": 765.0, "audio": 32768.0}


def media_features(media: DataFrame) -> DataFrame:
    """content → fixed-dim feature vector, vectorized over Arrow
    batches (``mapInPandas``).  The feature extractor is pooled
    intensity statistics over the DECODED samples; swap the inner
    function for a real model without touching the Spark plumbing."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for content, kind in zip(pdf["content"], pdf["kind"]):
                if kind == "image":
                    arr = decode_image(bytes(content)).ravel()
                elif kind == "video":
                    _, frames = decode_video(bytes(content))
                    arr = frames.ravel()
                else:
                    _, arr = decode_audio(bytes(content))
                # unknown kinds decode via the audio branch above; .get
                # keeps them on the legacy float pooling instead of a
                # KeyError inside the task
                feats.append(_pool(arr, _POOL_QUANT.get(kind)))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "kind": pdf["kind"], "features": feats}
            )

    return media.mapInPandas(
        extract, "doc_id long, kind string, features array<double>"
    )


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """Image resize (nearest-neighbor over the decoded plane) — the
    shape of a distributed media-transform stage."""

    def rs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for did, content in zip(pdf["doc_id"], pdf["content"]):
                img = decode_image(bytes(content))
                yi = (np.arange(height) * img.shape[0] // height)
                xi = (np.arange(width) * img.shape[1] // width)
                resized = img[np.ix_(yi, xi)]
                out.append(
                    {"doc_id": int(did), "width": width, "height": height,
                     "pixels": [float(x) for x in resized.ravel()[:64]]}
                )
            yield pd.DataFrame(out, columns=["doc_id", "width", "height", "pixels"])

    return media.filter(F.col("kind") == "image").mapInPandas(
        rs, "doc_id long, width int, height int, pixels array<double>"
    )


def sample_frames(media: DataFrame, every_n: int = 2) -> DataFrame:
    """Video frame sampling — the standard training-data op (keep every
    ``every_n``-th frame): decode → select frames 0, n, 2n, … → one row
    per kept frame with its index, presentation timestamp, and the
    pooled feature vector (same ``FEATURE_DIM`` pooling the other
    modalities use).  Vectorized over Arrow batches; rows without
    decodable video (wrong kind) are filtered before the UDF so the
    scan prunes on the ``kind`` column."""
    if every_n < 1:
        raise ValueError(f"every_n must be >= 1, got {every_n}")

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, content in zip(pdf["doc_id"], pdf["content"]):
                fps, frames = decode_video(bytes(content))
                for idx in range(0, len(frames), every_n):
                    rows.append(
                        {
                            "doc_id": int(did),
                            "frame_idx": idx,
                            "t_sec": float(idx / fps),
                            "features": _pool(frames[idx].ravel(), _POOL_QUANT["video"]),
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "t_sec", "features"]
            )

    return media.filter(F.col("kind") == "video").mapInPandas(
        sample, "doc_id long, frame_idx int, t_sec double, features array<double>"
    )
