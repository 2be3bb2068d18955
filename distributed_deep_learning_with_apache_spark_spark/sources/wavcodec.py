"""Pure-stdlib RIFF/WAVE (PCM16 mono) encoder + parser — the audio member
of the real-codec family (pngcodec.py for images, videocodec.py for video).

The format is the public RIFF/WAVE spec: `RIFF <size> WAVE` + `fmt ` chunk
(PCM, 1 channel, 16-bit little-endian) + `data` chunk. The parser walks
chunks by header, so files with extra chunks (LIST/INFO) still parse —
the property real WAV readers need.

Fixture signals are deterministic: two seeded sinusoids + LCG noise, plus
one impulse ("click") at a position derived from the audio id. The click
gives tests a ground-truth event to localize through the full Spark
windowing pipeline.

Reference parity: the course has no audio chapter; this extends S5's
decode→tensor contract (`MnistClassification.java:61-63`) to the third
modality so the multimodal surface (image/video/audio) is uniformly real.
"""

from __future__ import annotations

import math
import os
import struct
import sys

import numpy as np
from pyspark import cloudpickle

from .pngcodec import _lcg

# Every audio kernel calls `parse_wav` by value (see pngcodec).
cloudpickle.register_pickle_by_value(sys.modules[__name__])

AUDIO_DIR = "/tmp/ddl_spark_wav_fixture_v1"
N_AUDIO = 60
SAMPLE_RATE = 8000
N_SAMPLES = 8000  # 1.0 s per clip
WINDOW = 256      # feature-window width in samples


def encode_wav(samples: list[int], rate: int = SAMPLE_RATE) -> bytes:
    """PCM16 mono WAV: RIFF header + fmt + data."""
    data = b"".join(struct.pack("<h", max(-32768, min(32767, s))) for s in samples)
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def parse_wav(buf: bytes) -> tuple[int, np.ndarray]:
    """Chunk-walking parser: returns (sample_rate, samples as an int64
    array). Tolerates unknown chunks between fmt and data."""
    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, rate, samples = 12, None, None
    while pos + 8 <= len(buf):
        tag = buf[pos : pos + 4]
        (length,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
        payload = buf[pos + 8 : pos + 8 + length]
        if tag == b"fmt ":
            audio_fmt, channels, rate, _, _, bits = struct.unpack("<HHIIHH", payload[:16])
            if (audio_fmt, channels, bits) != (1, 1, 16):
                raise ValueError("only PCM16 mono supported")
        elif tag == b"data":
            samples = np.frombuffer(payload[: length - length % 2], dtype="<i2").astype(np.int64)
        pos += 8 + length + (length & 1)  # RIFF chunks pad to even
    if rate is None or samples is None:
        raise ValueError("missing fmt or data chunk")
    return rate, samples


def click_position(audio_id: int) -> int:
    """Ground-truth impulse sample index for clip `audio_id` (kept away
    from the first/last window so the peak is unambiguous)."""
    return WINDOW * (2 + (audio_id * 7) % ((N_SAMPLES // WINDOW) - 4)) + WINDOW // 2


def synth_audio(audio_id: int) -> list[int]:
    """Deterministic clip: two sinusoids + seeded noise + one loud click."""
    rand = _lcg(audio_id * 2_468_013 + 5)
    f1 = 200 + (audio_id % 10) * 40
    f2 = 900 + (audio_id % 7) * 60
    out = []
    for t in range(N_SAMPLES):
        v = 4000 * math.sin(2 * math.pi * f1 * t / SAMPLE_RATE)
        v += 2500 * math.sin(2 * math.pi * f2 * t / SAMPLE_RATE)
        v += (rand() % 2001) - 1000  # noise in [-1000, 1000]
        out.append(int(v))
    pos = click_position(audio_id)
    for d in range(-2, 3):
        out[pos + d] = 30000 if (d % 2 == 0) else -30000
    return out


def ensure_audio_corpus(root: str = AUDIO_DIR) -> str:
    """Write the seeded .wav corpus once (`build_once`)."""
    from .catalog import build_once  # pyspark-free module: import on use

    def write(stage: str) -> None:
        for aid in range(N_AUDIO):
            with open(os.path.join(stage, f"clip_{aid:03d}.wav"), "wb") as f:
                f.write(encode_wav(synth_audio(aid)))

    return build_once(root, ".complete", write)
