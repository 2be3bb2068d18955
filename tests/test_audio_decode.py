"""WAV codec + audio windowing tests: byte-exact PCM roundtrip, chunk
tolerance, and click localization through the full Spark pipeline."""

import struct

import numpy as np
import pytest

from distributed_deep_learning_with_apache_spark_spark.sources.wavcodec import (
    N_AUDIO,
    N_SAMPLES,
    SAMPLE_RATE,
    WINDOW,
    click_position,
    encode_wav,
    ensure_audio_corpus,
    parse_wav,
    synth_audio,
)


def test_wav_roundtrip_bit_exact():
    samples = synth_audio(11)
    rate, back = parse_wav(encode_wav(samples))
    assert rate == SAMPLE_RATE
    clamped = [max(-32768, min(32767, s)) for s in samples]
    assert back.tolist() == clamped


def test_parser_tolerates_extra_chunks():
    """Real WAV files carry LIST/INFO chunks between fmt and data; the
    chunk-walking parser must skip them."""
    samples = [0, 100, -100, 32767, -32768]
    wav = encode_wav(samples)
    # splice a LIST chunk (odd length -> exercises RIFF even-padding)
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    patched = wav[:12] + extra + wav[12:]
    rate, back = parse_wav(patched)
    assert rate == SAMPLE_RATE
    assert back.tolist() == samples


def test_parser_rejects_non_wav():
    with pytest.raises(ValueError):
        parse_wav(b"RIFX" + b"\x00" * 64)


def test_spark_audio_windows_localize_click(spark):
    """End-to-end: binaryFile -> RIFF parse -> windowed RMS/ZCR/peak.
    The synthetic click (|amplitude| = 30000, far above the ~7500 signal
    ceiling) must make its window the per-clip peak-amplitude argmax at
    exactly the generator's known position."""
    from distributed_deep_learning_with_apache_spark_spark.sources.binary import (
        audio_window_features_df,
    )

    root = ensure_audio_corpus()
    rows = audio_window_features_df(spark, root).collect()
    per_clip = {}
    for r in rows:
        per_clip.setdefault(r.path, []).append(r)
    assert len(per_clip) == N_AUDIO

    n_win = N_SAMPLES // WINDOW
    checked_zcr = 0
    for path, wins in per_clip.items():
        wins.sort(key=lambda r: r.window_idx)
        assert [w.window_idx for w in wins] == list(range(n_win))
        assert all(w.n_windows == n_win and w.sample_rate == SAMPLE_RATE for w in wins)
        aid = int(path.rstrip(".wav").split("_")[-1])
        expect_win = click_position(aid) // WINDOW
        peak_win = max(wins, key=lambda w: w.peak).window_idx
        assert peak_win == expect_win, (path, peak_win, expect_win)
        assert max(w.peak for w in wins) == 30000
        if checked_zcr < 5:
            # integer-exact feature parity vs an independent decode
            x = np.array(synth_audio(aid), dtype=np.int64)
            x = np.clip(x, -32768, 32767)
            seg = x[:WINDOW]
            zc = int(np.count_nonzero(np.signbit(seg[:-1]) != np.signbit(seg[1:])))
            assert wins[0].zero_crossings == zc
            assert wins[0].rms == pytest.approx(
                float(np.sqrt((seg.astype(np.float64) ** 2).mean())), abs=0
            )
            checked_zcr += 1
    assert checked_zcr == 5
