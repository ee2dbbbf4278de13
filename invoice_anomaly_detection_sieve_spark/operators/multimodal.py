"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns plus typed metadata — the
span model's ``media_ref`` resolves to rows of a media table:

    media(media_key string, kind string, payload binary,
          meta struct<width int, height int, sample_rate int,
                      duration_ms int, mime string>)

Decode / feature-extract / resize / frame-sample run as Arrow-batched
``mapInPandas`` stages. General codec libraries (PIL/ffmpeg/torchaudio)
are not in this container, so one REAL pure-numpy decoder per modality
is wired in: uncompressed 24-bit BMP for images, PCM-16 WAV for audio,
and YUV4MPEG2 (y4m) for video frame sampling (all public fixed layouts
that need no codec library). Payloads in any other format fail per-row
(``decode_ok=False`` / no emitted frames), never the job.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_key string, kind string, payload binary, "
    "meta struct<width:int, height:int, sample_rate:int, duration_ms:int, mime:string>"
)

IMAGE_FEATURES_SCHEMA = (
    "media_key string, kind string, feat array<float>, feat_dim int, decode_ok boolean"
)

FRAME_SAMPLE_SCHEMA = "media_key string, frame_idx int, frame_sha256 string"


def decode_bmp(payload: bytes) -> np.ndarray:
    """Pure-numpy decoder for uncompressed 24-bit BMP (BITMAPINFOHEADER).

    Returns (h, w, 3) uint8 RGB. Raises ValueError for any other format —
    the per-row try/except in the mapInPandas stage turns that into
    ``decode_ok=False``.
    """
    if payload is None or len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = int.from_bytes(payload[10:14], "little")
    hdr = int.from_bytes(payload[14:18], "little")
    if hdr < 40:
        raise ValueError("unsupported BMP header")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    comp = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or comp != 0 or w <= 0 or h == 0:
        raise ValueError("only uncompressed 24-bit BMP is supported")
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3  # rows pad to 4 bytes
    if len(payload) < off + stride * h:
        raise ValueError("truncated BMP")
    data = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=off)
    rows = data.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    img = rows[::-1] if bottom_up else rows
    return img[..., ::-1]  # stored BGR → RGB


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """Pure-numpy decoder for PCM-16 RIFF/WAVE. Returns (mono float32
    samples in [-1, 1], sample_rate). Raises ValueError otherwise."""
    if payload is None or len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos, rate, channels, data = 12, None, 1, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        sz = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + sz]
        if cid == b"fmt ":
            if int.from_bytes(body[0:2], "little") != 1:
                raise ValueError("only PCM WAV is supported")
            channels = int.from_bytes(body[2:4], "little") or 1
            rate = int.from_bytes(body[4:8], "little")
            if int.from_bytes(body[14:16], "little") != 16:
                raise ValueError("only 16-bit PCM is supported")
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz & 1)  # chunks pad to even offsets
    if data is None or rate is None:
        raise ValueError("missing fmt/data chunk")
    x = np.frombuffer(data[: len(data) // 2 * 2], dtype="<i2").astype(np.float32) / 32768.0
    if channels > 1:
        x = x[: len(x) // channels * channels].reshape(-1, channels).mean(axis=1)
    return x, int(rate)


def decode_y4m(payload: bytes) -> tuple[list[np.ndarray], float]:
    """Pure-numpy decoder for uncompressed YUV4MPEG2 (y4m) video.

    The container is a public fixed layout (mjpegtools): an ASCII stream
    header ``YUV4MPEG2 W<w> H<h> F<num>:<den> [C<space>] ...\\n`` followed
    by ``FRAME[params]\\n`` + raw planar YCbCr per frame. Supports C420*
    (chroma quarter-size, upsampled by pixel doubling) and C444; mono
    (Cmono) decodes luma-only replicated to 3 channels. Returns
    (frames, fps) with each frame an (h, w, 3) uint8 RGB array via the
    BT.601 full-range matrix. Raises ValueError for anything else — the
    per-row try/except in the mapInPandas stage turns that into a failed
    row, never a failed job.
    """
    if payload is None or not payload.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 payload")
    nl = payload.find(b"\n")
    if nl < 0:
        raise ValueError("missing y4m stream header terminator")
    w = h = 0
    fps = 25.0
    chroma = "420"
    for tok in payload[9:nl].split():
        t = tok.decode("ascii", "replace")
        if t[0] == "W":
            w = int(t[1:])
        elif t[0] == "H":
            h = int(t[1:])
        elif t[0] == "F":
            num, den = t[1:].split(":")
            fps = int(num) / max(int(den), 1)
        elif t[0] == "C":
            chroma = t[1:]
    if w <= 0 or h <= 0:
        raise ValueError("y4m header missing W/H")
    if chroma.startswith("420"):
        cw, ch = (w + 1) // 2, (h + 1) // 2
    elif chroma == "444":
        cw, ch = w, h
    elif chroma == "mono":
        cw = ch = 0
    else:
        raise ValueError(f"unsupported y4m chroma mode C{chroma}")
    ysz, csz = w * h, cw * ch
    frames: list[np.ndarray] = []
    pos = nl + 1
    while pos < len(payload):
        if payload[pos : pos + 5] != b"FRAME":
            raise ValueError(f"bad FRAME marker at byte {pos}")
        fnl = payload.find(b"\n", pos)
        if fnl < 0:
            raise ValueError("missing FRAME header terminator")
        pos = fnl + 1
        if pos + ysz + 2 * csz > len(payload):
            raise ValueError("truncated y4m frame")
        y = np.frombuffer(payload, np.uint8, ysz, pos).reshape(h, w)
        if chroma == "mono":
            rgb = np.repeat(y[:, :, None], 3, axis=2)
        else:
            cb = np.frombuffer(payload, np.uint8, csz, pos + ysz).reshape(ch, cw)
            cr = np.frombuffer(payload, np.uint8, csz, pos + ysz + csz).reshape(ch, cw)
            if chroma.startswith("420"):  # pixel-doubling upsample
                cb = cb.repeat(2, 0)[:h].repeat(2, 1)[:, :w]
                cr = cr.repeat(2, 0)[:h].repeat(2, 1)[:, :w]
            yf = y.astype(np.float32)
            cbf = cb.astype(np.float32) - 128.0
            crf = cr.astype(np.float32) - 128.0
            rgb = np.stack(
                [
                    yf + 1.402 * crf,
                    yf - 0.344136 * cbf - 0.714136 * crf,
                    yf + 1.772 * cbf,
                ],
                axis=2,
            )
            rgb = np.clip(rgb + 0.5, 0, 255).astype(np.uint8)
        frames.append(rgb)
        pos += ysz + 2 * csz
    return frames, float(fps)


def _decode_image(payload: bytes, dim: int = 64) -> np.ndarray:
    """Real image path: BMP → grayscale → block-mean resize to a √dim
    grid → [0, 1] floats. (PIL would slot in here for general formats.)"""
    img = decode_bmp(payload)
    gray = img.astype(np.float64).mean(axis=2)
    g = max(int(np.sqrt(dim)), 1)
    h, w = gray.shape
    ri = np.linspace(0, h, g + 1).astype(int)
    ci = np.linspace(0, w, g + 1).astype(int)
    out = np.empty((g, g), dtype=np.float32)
    for i in range(g):
        for j in range(g):
            block = gray[ri[i] : max(ri[i + 1], ri[i] + 1), ci[j] : max(ci[j + 1], ci[j] + 1)]
            out[i, j] = block.mean()
    vec = (out / 255.0).reshape(-1)
    if len(vec) < dim:  # non-square dim: pad with the global mean
        vec = np.concatenate([vec, np.full(dim - len(vec), vec.mean(), dtype=np.float32)])
    return vec[:dim]


def _decode_audio(payload: bytes, dim: int = 64) -> np.ndarray:
    """Real audio path: PCM-16 WAV → rFFT magnitude → ``dim`` band means
    (log1p-compressed, peak-normalized)."""
    x, _rate = decode_wav(payload)
    if len(x) == 0:
        raise ValueError("empty WAV data")
    mag = np.abs(np.fft.rfft(x))
    bands = np.array_split(mag, dim)
    vec = np.log1p(np.array([b.mean() if len(b) else 0.0 for b in bands], dtype=np.float32))
    peak = vec.max()
    return vec / peak if peak > 0 else vec


def extract_media_features(media: DataFrame, dim: int = 64) -> DataFrame:
    """Decode + featurize media rows via ``mapInPandas`` (Arrow batches).

    Partition-friendly: stateless per batch, no shuffle; heavy rows stay on
    the executor. At 100 TB this stage is bounded by payload I/O, so the
    input should be pre-bucketed by media_key to co-locate with joins.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, ok = [], []
            for payload, kind in zip(pdf["payload"], pdf["kind"]):
                try:
                    if kind == "image":
                        vec = _decode_image(payload, dim)
                    elif kind == "audio":
                        vec = _decode_audio(payload, dim)
                    else:
                        raise ValueError(f"no real decoder for kind={kind}")
                    feats.append([float(x) for x in vec])
                    ok.append(True)
                except Exception:  # noqa: BLE001 — per-row decode failures must not kill the job
                    feats.append(None)
                    ok.append(False)
            yield pd.DataFrame(
                {
                    "media_key": pdf["media_key"],
                    "kind": pdf["kind"],
                    "feat": feats,
                    "feat_dim": dim,
                    "decode_ok": ok,
                }
            )

    return media.mapInPandas(run, IMAGE_FEATURES_SCHEMA)


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame sampling for video rows: emits (media_key, frame_idx,
    frame hash) per sampled frame — one output row per sampled frame, the
    fan-out governed by the video's own timing.

    The pure-numpy YUV4MPEG2 decoder (``decode_y4m``) decodes the
    payload's frames to RGB; they are sampled at the stream's frame rate
    every ``every_ms``, and each emitted hash is the sha256 of the sampled
    frame's pixel bytes (frame_idx = the source frame index). Undecodable
    payloads contribute no frames, never fail the job.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys, idxs, hashes = [], [], []
            for key, payload in zip(pdf["media_key"], pdf["payload"]):
                try:
                    frames, fps = decode_y4m(payload or b"")
                except ValueError:
                    continue  # undecodable row: contributes no frames
                step = max(1, int(round(fps * every_ms / 1000.0)))
                for i in range(0, len(frames), step):
                    keys.append(key)
                    idxs.append(i)
                    hashes.append(hashlib.sha256(frames[i].tobytes()).hexdigest())
            yield pd.DataFrame({"media_key": keys, "frame_idx": idxs, "frame_sha256": hashes})

    return media.where(F.col("kind") == "video").mapInPandas(run, FRAME_SAMPLE_SCHEMA)


# --------------------------------------------------------------------------
# real-format synthesis + metadata probe (the oracle-checkable surface)

def encode_bmp(w: int, h: int, pixel_fn) -> bytes:
    """Minimal uncompressed 24-bit bottom-up BMP writer. ``pixel_fn(x, y)``
    returns (r, g, b) for TOP-DOWN image coordinates — the exact inverse of
    ``decode_bmp`` (which un-flips the bottom-up rows and BGR order), so
    ``decode_bmp(encode_bmp(w, h, f))[y, x] == f(x, y)``."""
    stride = (w * 3 + 3) & ~3
    rows = bytearray()
    for y in range(h - 1, -1, -1):
        row = bytearray()
        for x in range(w):
            r, g, b = pixel_fn(x, y)
            row += bytes([b & 255, g & 255, r & 255])
        row += b"\x00" * (stride - len(row))
        rows += row
    data = bytes(rows)
    off = 54
    hdr = b"BM" + (off + len(data)).to_bytes(4, "little") + b"\x00" * 4
    hdr += off.to_bytes(4, "little") + (40).to_bytes(4, "little")
    hdr += w.to_bytes(4, "little", signed=True) + h.to_bytes(4, "little", signed=True)
    hdr += (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
    hdr += (0).to_bytes(4, "little") + len(data).to_bytes(4, "little") + b"\x00" * 16
    return hdr + data


def encode_wav_pcm16(samples_i16: np.ndarray, rate: int) -> bytes:
    """Minimal PCM-16 mono RIFF/WAVE writer (inverse of ``decode_wav`` up
    to the int16 → [-1, 1] float scaling)."""
    data = np.asarray(samples_i16, dtype="<i2").tobytes()
    fmt = ((1).to_bytes(2, "little") + (1).to_bytes(2, "little")
           + int(rate).to_bytes(4, "little") + int(rate * 2).to_bytes(4, "little")
           + (2).to_bytes(2, "little") + (16).to_bytes(2, "little"))
    body = b"WAVEfmt " + len(fmt).to_bytes(4, "little") + fmt
    body += b"data" + len(data).to_bytes(4, "little") + data
    if len(data) & 1:
        body += b"\x00"
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def encode_y4m(frames_yuv, fps=(25, 1)) -> bytes:
    """Minimal C420 YUV4MPEG2 writer (inverse of ``decode_y4m``):
    frames_yuv is a list of (Y, Cb, Cr) uint8 planes, Cb/Cr quarter-size."""
    h, w = frames_yuv[0][0].shape
    out = bytearray(f"YUV4MPEG2 W{w} H{h} F{fps[0]}:{fps[1]} Ip A1:1 C420\n".encode())
    for y, cb, cr in frames_yuv:
        out += b"FRAME\n" + y.tobytes() + cb.tobytes() + cr.tobytes()
    return bytes(out)


MEDIA_PROBE_SCHEMA = (
    "media_key string, kind string, width int, height int, n_samples bigint, "
    "sample_rate int, n_frames int, fps double, decode_ok boolean"
)


def probe_media(media: DataFrame) -> DataFrame:
    """Structural metadata probe over a media column (the inventory pass a
    training pipeline runs before spending decode compute): real-decode
    every row with the pure-numpy decoders and emit what the BYTES say —
    (width, height) for images, (n_samples, sample_rate) for audio,
    (n_frames, fps, width, height) for video — not what the meta column
    claims. Arrow-batched ``mapInPandas``; per-row failure isolation
    (``decode_ok=False``), stateless, no shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("media_key", "kind", "width", "height",
                                   "n_samples", "sample_rate", "n_frames",
                                   "fps", "decode_ok")}
            for key, kind, payload in zip(pdf["media_key"], pdf["kind"], pdf["payload"]):
                vals = dict.fromkeys(out)
                vals["media_key"], vals["kind"] = key, kind
                try:
                    raw = bytes(payload) if payload is not None else None
                    if kind == "image":
                        img = decode_bmp(raw)
                        vals["height"], vals["width"] = int(img.shape[0]), int(img.shape[1])
                    elif kind == "audio":
                        x, rate = decode_wav(raw)
                        vals["n_samples"], vals["sample_rate"] = len(x), rate
                    elif kind == "video":
                        frames, fps = decode_y4m(raw)
                        vals["n_frames"], vals["fps"] = len(frames), fps
                        if frames:
                            vals["height"], vals["width"] = (
                                int(frames[0].shape[0]), int(frames[0].shape[1]))
                    else:
                        raise ValueError(f"unknown media kind {kind!r}")
                    vals["decode_ok"] = True
                except Exception:  # noqa: BLE001 — per-row decode failures must not kill the job
                    vals["decode_ok"] = False
                for k, v in vals.items():
                    out[k].append(v)
            yield pd.DataFrame(out)

    return media.mapInPandas(run, MEDIA_PROBE_SCHEMA)


def synth_verification_media(ids: DataFrame) -> DataFrame:
    """REAL-format media corpus derived deterministically from the integer
    ``doc_id`` column — every decoded property is an integer function of
    the id, so an independent engine (the DuckDB correctness oracle)
    recomputes the expected decode output without touching the decoders:

    - ``id % 3 == 0`` → image: 8×8 24-bit BMP, all three channels of the
      TOP-DOWN pixel (x, y) equal to ``(id + 7*(8*y + x)) % 256`` — so the
      64-dim block-mean feature vector of ``extract_media_features``
      (8×8 grid over an 8×8 image = one pixel per block) satisfies
      ``round(feat[k] * 255) == (id + 7*k) % 256`` exactly (equal channels
      make the grayscale mean exact in float32).
    - ``id % 3 == 1`` → audio: PCM-16 mono WAV with
      ``64 + id % 97`` samples at ``8000 + (id % 5) * 1000`` Hz.
    - ``id % 3 == 2`` → video: 4×4 C420 y4m, ``1 + id % 5`` frames at
      ``(1 + id % 4):1`` fps — ``sample_frames(every_ms=1000)`` therefore
      emits exactly the frame indices ``i % fps == 0, i < n_frames``.

    Arrow-batched ``mapInPandas`` over the id column; payload bytes are
    built worker-side so nothing but ids ever crosses the driver."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys, kinds, payloads, metas = [], [], [], []
            for raw_id in pdf["doc_id"]:
                i = int(raw_id)
                keys.append(str(i))
                m = i % 3
                if m == 0:
                    kinds.append("image")
                    payloads.append(encode_bmp(
                        8, 8, lambda x, y, i=i: ((i + 7 * (8 * y + x)) % 256,) * 3))
                    metas.append({"width": 8, "height": 8, "sample_rate": None,
                                  "duration_ms": None, "mime": "image/bmp"})
                elif m == 1:
                    kinds.append("audio")
                    n, rate = 64 + i % 97, 8000 + (i % 5) * 1000
                    samples = ((i + np.arange(n)) % 61 - 30) * 100
                    payloads.append(encode_wav_pcm16(samples, rate))
                    metas.append({"width": None, "height": None, "sample_rate": rate,
                                  "duration_ms": None, "mime": "audio/wav"})
                else:
                    kinds.append("video")
                    n_frames, fps = 1 + i % 5, 1 + i % 4
                    frames = [
                        (np.full((4, 4), (i + f) % 256, dtype=np.uint8),
                         np.full((2, 2), 128, dtype=np.uint8),
                         np.full((2, 2), 128, dtype=np.uint8))
                        for f in range(n_frames)
                    ]
                    payloads.append(encode_y4m(frames, fps=(fps, 1)))
                    metas.append({"width": 4, "height": 4, "sample_rate": None,
                                  "duration_ms": None, "mime": "video/x-y4m"})
            yield pd.DataFrame({"media_key": keys, "kind": kinds,
                                "payload": payloads, "meta": metas})

    return ids.select("doc_id").mapInPandas(run, MEDIA_SCHEMA)
