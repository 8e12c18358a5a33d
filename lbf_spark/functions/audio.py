"""Audio + video payloads without codec libraries.

The container has no audio/video libs, but "binary column in, typed
features out" is the part of the multimodal contract the ENGINE owns,
so (mirroring the fake lossy image codec in ``codec.py``):

* **WAV (PCM16 mono) is implemented for real** — RIFF framing is a
  public byte layout (struct + numpy, no libs), so the lossless audio
  path is not a fake at all;
* **"FLA1"** is a DETERMINISTIC FAKE lossy audio codec (4-bit
  shift-quantized PCM + zlib — stands in for an MDCT codec the way
  FLC1 stands in for JPEG): quantization noise is uniform, so the
  decode SNR is analytically bounded and testable;
* **"FVC1"** is a DETERMINISTIC FAKE video container: a header plus
  length-prefixed FLC1 frames, so frame N is reachable by hopping
  length prefixes WITHOUT decoding frames 0..N-1 — the property real
  frame-sampling relies on (keyframe seeking).

Everything here is pure numpy/zlib/struct, byte-reproducible across
runs and machines; swap the encode/decode bodies for libsndfile/ffmpeg
bindings and every operator above keeps working.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# ---------------------------------------------------------------------
# deterministic synthesis (test/fixture signal source)
# ---------------------------------------------------------------------


def synth_pcm(seed: int, n_samples: int, sr: int = 16_000) -> np.ndarray:
    """Deterministic int16 mono PCM: three sinusoids whose frequencies,
    amplitudes and phases derive from the seed, plus seeded uniform
    noise — enough spectral/temporal structure for RMS/ZCR/centroid
    features to differ per seed, fully reproducible."""
    rng = np.random.default_rng(seed)
    t = np.arange(n_samples, dtype=np.float64) / sr
    x = np.zeros(n_samples, dtype=np.float64)
    for _ in range(3):
        f = float(rng.uniform(80.0, 4000.0))
        a = float(rng.uniform(0.1, 0.3))
        ph = float(rng.uniform(0.0, 2.0 * np.pi))
        x += a * np.sin(2.0 * np.pi * f * t + ph)
    x += rng.uniform(-0.05, 0.05, n_samples)
    return np.clip(x * 32767.0 / 1.2, -32768, 32767).astype(np.int16)


# ---------------------------------------------------------------------
# WAV: real PCM16 mono RIFF codec (lossless)
# ---------------------------------------------------------------------


def wav_encode(samples: np.ndarray, sr: int = 16_000) -> bytes:
    if samples.dtype != np.int16 or samples.ndim != 1:
        raise ValueError(f"expected 1-D int16 PCM, got {samples.dtype}")
    data = samples.tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 1, 1, sr, sr * 2, 2, 16,
        b"data", len(data),
    )
    return hdr + data


def wav_decode(data: bytes) -> tuple[int, np.ndarray]:
    """Returns (sample_rate, int16 samples). Walks RIFF chunks, so
    writers that emit extra chunks (LIST/fact) still parse."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, sr, samples = 12, None, None
    while pos + 8 <= len(data):
        tag, ln = data[pos:pos + 4], struct.unpack("<I", data[pos + 4:pos + 8])[0]
        body = data[pos + 8:pos + 8 + ln]
        if tag == b"fmt ":
            fmt_code, channels, sr = struct.unpack("<HHI", body[:8])
            bits = struct.unpack("<H", body[14:16])[0]
            if fmt_code != 1 or channels != 1 or bits != 16:
                raise NotImplementedError(
                    f"only PCM16 mono supported (fmt={fmt_code}, "
                    f"ch={channels}, bits={bits})"
                )
        elif tag == b"data":
            samples = np.frombuffer(body, dtype=np.int16)
        pos += 8 + ln + (ln & 1)  # RIFF chunks are 2-byte aligned
    if sr is None or samples is None:
        raise ValueError("missing fmt/data chunk")
    return sr, samples


# ---------------------------------------------------------------------
# FLA1: deterministic fake lossy audio codec
# ---------------------------------------------------------------------

_FLA_SIG = b"FLA1"
_FLA_SHIFT = 4  # 12-bit quantization: step 16 -> SNR ~ 20*log10(32768/(16/sqrt(12))) ~ 57 dB


def encode_lossy_audio(samples: np.ndarray, sr: int = 16_000) -> bytes:
    """DETERMINISTIC FAKE lossy encoder — see module doc."""
    if samples.dtype != np.int16 or samples.ndim != 1:
        raise ValueError(f"expected 1-D int16 PCM, got {samples.dtype}")
    q = np.right_shift(
        samples.astype(np.int32) + (1 << (_FLA_SHIFT - 1)), _FLA_SHIFT
    )
    q = np.clip(q, -(1 << (15 - _FLA_SHIFT)), (1 << (15 - _FLA_SHIFT)) - 1)
    return (
        _FLA_SIG
        + struct.pack("<II", sr, len(samples))
        + zlib.compress(q.astype(np.int16).tobytes(), 6)
    )


def decode_lossy_audio(data: bytes) -> tuple[int, np.ndarray]:
    if data[:4] != _FLA_SIG:
        raise ValueError("not an FLA1 payload")
    sr, n = struct.unpack("<II", data[4:12])
    q = np.frombuffer(zlib.decompress(data[12:]), dtype=np.int16)[:n]
    return sr, np.left_shift(q.astype(np.int32), _FLA_SHIFT).astype(np.int16)


def decode_audio(data: bytes, fmt: str) -> tuple[int, np.ndarray]:
    """Dispatch on the table's `fmt` column → (sample_rate, int16 PCM)."""
    if fmt == "wav":
        return wav_decode(data)
    if fmt == "mp3":  # FLA1 stand-in, see module docstring
        return decode_lossy_audio(data)
    raise NotImplementedError(f"unsupported audio format: {fmt!r}")


def encode_audio(samples: np.ndarray, sr: int, fmt: str) -> bytes:
    if fmt == "wav":
        return wav_encode(samples, sr)
    if fmt == "mp3":
        return encode_lossy_audio(samples, sr)
    raise NotImplementedError(f"unsupported audio format: {fmt!r}")


def snr_db(ref: np.ndarray, test: np.ndarray) -> float:
    """Signal-to-noise ratio of a decoded signal vs its reference."""
    r = ref.astype(np.float64)
    noise = r - test.astype(np.float64)
    p_sig = float(np.mean(r * r))
    p_noise = float(np.mean(noise * noise))
    if p_noise == 0.0:
        return float("inf")
    return 10.0 * np.log10(p_sig / p_noise)


# ---------------------------------------------------------------------
# audio feature kernels (numpy; vectorized over whole clips)
# ---------------------------------------------------------------------


def frame_features(
    samples: np.ndarray, sr: int, frame: int = 2048
) -> np.ndarray:
    """Per-frame (rms, zero_crossing_rate, spectral_centroid_hz) over
    non-overlapping frames; the trailing partial frame is dropped
    (standard hop semantics). Returns shape (n_frames, 3) float64.

    rms is on [-1,1]-normalized samples; zcr counts sign changes /
    frame length; the centroid is the magnitude-weighted mean rfft bin
    frequency (0.0 for an all-zero frame)."""
    n = (len(samples) // frame) * frame
    if n == 0:
        return np.zeros((0, 3), dtype=np.float64)
    x = samples[:n].astype(np.float64).reshape(-1, frame) / 32768.0
    rms = np.sqrt(np.mean(x * x, axis=1))
    sign = np.signbit(x)
    zcr = np.mean(sign[:, 1:] != sign[:, :-1], axis=1)
    mag = np.abs(np.fft.rfft(x, axis=1))
    freqs = np.fft.rfftfreq(frame, d=1.0 / sr)
    denom = mag.sum(axis=1)
    centroid = np.where(denom > 0, (mag * freqs).sum(axis=1) / np.where(denom > 0, denom, 1.0), 0.0)
    return np.stack([rms, zcr, centroid], axis=1)


# ---------------------------------------------------------------------
# FVC1: deterministic fake video container (length-prefixed FLC1 frames)
# ---------------------------------------------------------------------

_FVC_SIG = b"FVC1"


def video_encode(frames: list[np.ndarray], fps: int = 30) -> bytes:
    """DETERMINISTIC FAKE video container: header + length-prefixed
    lossy-encoded frames. The length prefixes make O(1)-per-hop frame
    seeking possible without decoding — what the frame-sampling
    operators (``images.video_frame_diffs``) rely on."""
    from lbf_spark.functions.codec import encode_lossy

    out = [_FVC_SIG, struct.pack("<IH", len(frames), fps)]
    for f in frames:
        payload = encode_lossy(f)
        out.append(struct.pack("<I", len(payload)))
        out.append(payload)
    return b"".join(out)


def video_info(data: bytes) -> tuple[int, int]:
    """(n_frames, fps) from the header only — no frame decode."""
    if data[:4] != _FVC_SIG:
        raise ValueError("not an FVC1 payload")
    n, fps = struct.unpack("<IH", data[4:10])
    return n, fps


def video_decode_frame(data: bytes, idx: int) -> np.ndarray:
    """Decode ONLY frame ``idx``: hop the length prefixes (cheap byte
    arithmetic), inflate one frame."""
    from lbf_spark.functions.codec import decode_lossy

    n, _ = video_info(data)
    if not 0 <= idx < n:
        raise IndexError(f"frame {idx} out of range (n={n})")
    pos = 10
    for _ in range(idx):
        ln = struct.unpack("<I", data[pos:pos + 4])[0]
        pos += 4 + ln
    ln = struct.unpack("<I", data[pos:pos + 4])[0]
    return decode_lossy(data[pos + 4:pos + 4 + ln])


def synth_video(
    seed: int, n_frames: int, w: int = 32, h: int = 24, fps: int = 30
) -> bytes:
    """Deterministic fake clip: frame k is seeded noise drifting with a
    moving bright square (so frame stats vary monotonically with k)."""
    rng = np.random.default_rng(seed)
    base = rng.integers(0, 128, size=(h, w, 3), dtype=np.uint8)
    frames = []
    for k in range(n_frames):
        f = base.copy()
        x0 = (k * 3) % max(1, w - 8)
        y0 = (k * 2) % max(1, h - 6)
        f[y0:y0 + 6, x0:x0 + 8] = 240
        frames.append(f)
    return video_encode(frames, fps=fps)
