"""Multimodal (image/audio/video) column operators.

Payloads are opaque ``binary`` columns with typed metadata — exactly the
corpus schema the crawl engine produces (image_id, bytes, w, h, fmt,
caption, phash). All three modalities decode for REAL on formats whose
spec needs no external codec: PNG/QNT images (pegasus_spark.codec,
numpy+zlib), WAV/PCM audio (stdlib ``wave``), YUV4MPEG2 video (y4m —
text header + fixed-size raw frames). Compressed formats (jpeg, mp3,
mp4…) would need codec libraries absent from this container; such rows
report ``decode_ok=false`` / a null marker row instead of raising, so
mixed corpora scan to completion with per-row status.

All operators are ``mapInPandas``/``pandas_udf`` over Arrow batches.
Scale note: decode-heavy stages should be repartitioned on a salted key
first (see fetch.py) so one large partition can't pin a task; batch
memory is bounded by spark.sql.execution.arrow.maxRecordsPerBatch.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .. import codec

IMAGE_FEATURES_DDL = (
    "image_id string, w int, h int, fmt string, mean_r double, mean_g double, "
    "mean_b double, brightness double, phash long, decode_ok boolean"
)


def image_features(df: DataFrame) -> DataFrame:
    """Decode image bytes and extract cheap features (channel means,
    brightness, recomputed phash). Real decode via pegasus_spark.codec."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            out = {
                "image_id": pdf["image_id"], "w": pdf["w"], "h": pdf["h"],
                "fmt": pdf["fmt"],
                "mean_r": np.full(n, np.nan), "mean_g": np.full(n, np.nan),
                "mean_b": np.full(n, np.nan), "brightness": np.full(n, np.nan),
                "phash": np.zeros(n, dtype=np.int64),
                "decode_ok": np.zeros(n, dtype=bool),
            }
            for i in range(n):
                try:
                    px = codec.decode(pdf["bytes"].iloc[i], pdf["fmt"].iloc[i])
                    m = px.astype(np.float64).mean(axis=(0, 1))
                    out["mean_r"][i], out["mean_g"][i], out["mean_b"][i] = np.round(m, 4)
                    out["brightness"][i] = round(float(m.mean()), 4)
                    out["phash"][i] = codec.phash(px)
                    out["decode_ok"][i] = True
                except Exception:
                    pass
            yield pd.DataFrame(out)

    return df.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        gen, schema=IMAGE_FEATURES_DDL
    )


def image_resize(df: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize → re-encoded PNG bytes (real, numpy)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in range(len(pdf)):
                try:
                    px = codec.decode(pdf["bytes"].iloc[i], pdf["fmt"].iloc[i])
                    ys = (np.arange(out_h) * px.shape[0]) // out_h
                    xs = (np.arange(out_w) * px.shape[1]) // out_w
                    small = px[ys][:, xs]
                    rows.append((pdf["image_id"].iloc[i], codec.png_encode(small),
                                 out_w, out_h, "png"))
                except Exception:
                    rows.append((pdf["image_id"].iloc[i], None, out_w, out_h, "png"))
            yield pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h", "fmt"])

    return df.select("image_id", "bytes", "fmt").mapInPandas(
        gen, schema="image_id string, bytes binary, w int, h int, fmt string"
    )


def phash_near_dup_pairs(df: DataFrame, max_hamming: int = 6,
                         band_bits: int = 16) -> DataFrame:
    """Image near-dup pairs by perceptual-hash Hamming distance: the 64-bit
    ``phash`` split into its two 32-bit halves and fed to the banded
    self-join simhash uses (``simops._band_pairs_2x32``; no O(n²)),
    JVM-side only. Pairs must share an exact ``band_bits`` band, so every
    pair within ``max_hamming`` is found only while
    ``max_hamming < 64 // band_bits``; the defaults (6 within 4 bands)
    return the pairs within 6 that share a band, and drop e.g. a pair at
    distance 4 whose flips hit bits 0, 16, 32 and 48. The oracle bands
    the same way, so oracle parity cannot show this recall limit;
    ``band_bits=8`` finds every pair within 6.
    Output: (id_a, id_b, hamming int)."""
    from .simops import _band_pairs_2x32

    mask32 = F.lit(0xFFFFFFFF).cast("long")
    halves = df.select(
        "image_id",
        F.col("phash").bitwiseAND(mask32).alias("lo"),
        F.shiftright("phash", 32).bitwiseAND(mask32).alias("hi"),
    )
    return _band_pairs_2x32(
        halves, "image_id", "lo", "hi", max_hamming, band_bits
    ).withColumn("hamming", F.col("hamming").cast("int"))


# ---- audio: WAV/PCM (stdlib wave — no external codec needed) -----------
# Compressed formats (mp3/ogg/aac) still need a codec library that this
# container lacks; those rows decode_ok=false rather than raising, so a
# mixed-corpus scan completes and reports per-row status (same contract
# as image_features).

AUDIO_FEATURES_DDL = (
    "clip_id string, duration_s double, sample_rate int, n_channels int, "
    "rms double, zero_crossing_rate double, spectral_centroid_hz double, "
    "decode_ok boolean"
)


def wav_decode(data: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE PCM → (float64 mono samples in [-1,1], sample_rate).
    Stdlib ``wave`` handles the chunk parsing; 8/16/32-bit integer PCM."""
    import io
    import wave

    with wave.open(io.BytesIO(data), "rb") as w:
        sr = w.getframerate()
        nch = w.getnchannels()
        width = w.getsampwidth()
        raw = w.readframes(w.getnframes())
    if width == 3:  # 24-bit PCM: 3-byte little-endian two's complement
        b = np.frombuffer(raw, dtype=np.uint8)
        b = b[: (len(b) // 3) * 3].reshape(-1, 3).astype(np.int64)
        x = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        x = np.where(x >= 1 << 23, x - (1 << 24), x).astype(np.float64) / 8388608.0
    else:
        dtype, offset, scale = {
            1: (np.uint8, -128.0, 128.0),      # 8-bit WAV is unsigned
            2: (np.int16, 0.0, 32768.0),
            4: (np.int32, 0.0, 2147483648.0),
        }[width]
        x = np.frombuffer(raw, dtype=dtype).astype(np.float64)
        x = (x + offset) / scale
    if nch > 1:
        x = x.reshape(-1, nch).mean(axis=1)  # downmix to mono
    return x, sr


def audio_features(df: DataFrame) -> DataFrame:
    """Audio features over (clip_id, bytes, fmt): duration, RMS energy,
    zero-crossing rate, spectral centroid (numpy rFFT). Real decode for
    ``fmt='wav'`` (stdlib); other formats → decode_ok=false."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            out = {
                "clip_id": pdf["clip_id"],
                "duration_s": np.full(n, np.nan),
                "sample_rate": np.zeros(n, dtype=np.int32),
                "n_channels": np.zeros(n, dtype=np.int32),
                "rms": np.full(n, np.nan),
                "zero_crossing_rate": np.full(n, np.nan),
                "spectral_centroid_hz": np.full(n, np.nan),
                "decode_ok": np.zeros(n, dtype=bool),
            }
            for i in range(n):
                if pdf["fmt"].iloc[i] != "wav":
                    continue  # no codec for compressed formats in-env
                try:
                    import io
                    import wave

                    b = pdf["bytes"].iloc[i]
                    with wave.open(io.BytesIO(b), "rb") as w:
                        out["n_channels"][i] = w.getnchannels()
                    x, sr = wav_decode(b)
                    if not len(x):
                        continue
                    out["sample_rate"][i] = sr
                    out["duration_s"][i] = round(len(x) / sr, 6)
                    out["rms"][i] = round(float(np.sqrt(np.mean(x * x))), 6)
                    out["zero_crossing_rate"][i] = round(
                        float(np.mean(np.abs(np.diff(np.signbit(x).astype(np.int8))))), 6
                    )
                    mag = np.abs(np.fft.rfft(x))
                    freqs = np.fft.rfftfreq(len(x), d=1.0 / sr)
                    denom = float(mag.sum())
                    if denom > 0:
                        out["spectral_centroid_hz"][i] = round(
                            float((freqs * mag).sum() / denom), 3
                        )
                    out["decode_ok"][i] = True
                except Exception:
                    pass
            yield pd.DataFrame(out)

    return df.select("clip_id", "bytes", "fmt").mapInPandas(
        gen, schema=AUDIO_FEATURES_DDL
    )


# ---- video: YUV4MPEG2 (y4m — documented plain-text-header format) ------

def _y4m_parse_header(data: bytes) -> tuple[int, int, float, str, bool, int]:
    """Parse the ``YUV4MPEG2 W.. H.. F..:.. [C...] [X...]`` stream header →
    (w, h, fps, colorspace, limited_range, header_end_offset). Range
    defaults to FULL (this module's encoder writes full-range); streams
    declaring ``XCOLORRANGE=LIMITED`` (e.g. ffmpeg output) get the
    BT.601 limited-range (Y 16-235 / C 16-240) expansion in _yuv_to_rgb."""
    nl = data.index(b"\n")
    parts = data[:nl].decode("ascii").split(" ")
    if parts[0] != "YUV4MPEG2":
        raise ValueError("not a YUV4MPEG2 stream")
    w = h = 0
    fps = 0.0
    cs = "420"  # y4m default colorspace is 4:2:0
    limited = False
    for p in parts[1:]:
        if p.startswith("W"):
            w = int(p[1:])
        elif p.startswith("H"):
            h = int(p[1:])
        elif p.startswith("F"):
            num, den = p[1:].split(":")
            fps = int(num) / int(den)
        elif p.startswith("C"):
            cs = p[1:]
        elif p.startswith("X") and p[1:].upper() == "COLORRANGE=LIMITED":
            limited = True
    if not (w and h):
        raise ValueError("y4m header missing W/H")
    return w, h, fps, cs, limited, nl + 1


def _y4m_frame_size(w: int, h: int, cs: str) -> int:
    if cs.startswith("444"):
        return 3 * w * h
    if cs.startswith("420"):
        return w * h + 2 * ((w // 2) * (h // 2))
    raise ValueError(f"unsupported y4m colorspace C{cs}")


def _yuv_to_rgb(y: np.ndarray, u: np.ndarray, v: np.ndarray,
                limited: bool = False) -> np.ndarray:
    """BT.601 YUV → uint8 RGB. Full-range by default (the JPEG/JFIF
    matrix); ``limited=True`` first expands studio-swing Y 16-235 /
    C 16-240 to full swing (ffmpeg's default y4m output is limited —
    declared via the XCOLORRANGE header param)."""
    yf = y.astype(np.float64)
    uf, vf = u.astype(np.float64) - 128, v.astype(np.float64) - 128
    if limited:
        yf = (yf - 16.0) * (255.0 / 219.0)
        uf = uf * (255.0 / 224.0)
        vf = vf * (255.0 / 224.0)
    r = yf + 1.402 * vf
    g = yf - 0.344136 * uf - 0.714136 * vf
    b = yf + 1.772 * uf
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255).round().astype(np.uint8)


def y4m_decode_frames(data: bytes, every_n: int = 1) -> Iterator[tuple[int, np.ndarray]]:
    """Iterate (frame_no, RGB ndarray) over a y4m stream, decoding only
    every ``every_n``-th frame (others are skipped by offset arithmetic —
    sampling cost is O(frames kept), which is the point of the format
    choice: fixed frame size ⇒ random access without decoding).

    Truncation/corruption contract: an unparseable *stream header* raises
    (the row is undecodable); any malformed or truncated *tail* —
    truncated frame body, missing newline, or a bad FRAME marker
    mid-stream — stops iteration and yields the frames decoded so far,
    so partial streams always surface their valid prefix consistently."""
    w, h, _fps, cs, limited, off = _y4m_parse_header(data)
    fsize = _y4m_frame_size(w, h, cs)
    frame_no = 0
    while off < len(data):
        nl = data.find(b"\n", off)  # per-frame "FRAME[ params]\n" marker
        if nl < 0 or not data[off:nl].startswith(b"FRAME"):
            break  # malformed/truncated tail: keep the decoded prefix
        body = nl + 1
        if body + fsize > len(data):
            break  # truncated trailing frame
        if frame_no % every_n == 0:
            buf = np.frombuffer(data[body:body + fsize], dtype=np.uint8)
            if cs.startswith("444"):
                y, u, v = buf.reshape(3, h, w)
            else:  # 420: upsample chroma by pixel doubling
                y = buf[: w * h].reshape(h, w)
                cw, ch = w // 2, h // 2
                u = buf[w * h: w * h + cw * ch].reshape(ch, cw)
                v = buf[w * h + cw * ch:].reshape(ch, cw)
                u = u.repeat(2, axis=0).repeat(2, axis=1)[:h, :w]
                v = v.repeat(2, axis=0).repeat(2, axis=1)[:h, :w]
            yield frame_no, _yuv_to_rgb(y, u, v, limited=limited)
        off = body + fsize
        frame_no += 1


def y4m_encode(frames: "list[np.ndarray]", fps: int = 30) -> bytes:
    """RGB frames → y4m C444 bytes (inverse BT.601, for fixtures/tests)."""
    h, w, _ = frames[0].shape
    out = [f"YUV4MPEG2 W{w} H{h} F{fps}:1 Ip A1:1 C444\n".encode("ascii")]
    for fr in frames:
        rf = fr.astype(np.float64)
        r, g, b = rf[..., 0], rf[..., 1], rf[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        u = (b - y) / 1.772 + 128
        v = (r - y) / 1.402 + 128
        planes = np.stack([y, u, v]).clip(0, 255).round().astype(np.uint8)
        out.append(b"FRAME\n" + planes.tobytes())
    return b"".join(out)


def video_frame_sample(df: DataFrame, every_n: int = 30) -> DataFrame:
    """Sample every N-th frame of (video_id, bytes, fmt) as PNG bytes.
    Real decode for ``fmt='y4m'`` (C444/C420); compressed containers
    (mp4/webm) have no in-env codec → such rows yield no frames and one
    ``frame_no=-1, frame_png=null`` marker row so failures are visible,
    not silent. One input row fans out to many output rows — mapInPandas
    yields per-video DataFrames, so Arrow batch memory stays bounded by
    frames-per-video, not by the input batch size."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for i in range(len(pdf)):
                vid = pdf["video_id"].iloc[i]
                rows = []
                if pdf["fmt"].iloc[i] == "y4m":
                    try:
                        for fno, rgb in y4m_decode_frames(
                            pdf["bytes"].iloc[i], every_n=every_n
                        ):
                            rows.append((vid, fno, codec.png_encode(rgb)))
                    except Exception:
                        rows = []
                if not rows:
                    rows = [(vid, -1, None)]
                yield pd.DataFrame(
                    rows, columns=["video_id", "frame_no", "frame_png"]
                )

    return df.select("video_id", "bytes", "fmt").mapInPandas(
        gen, schema="video_id string, frame_no int, frame_png binary"
    )
