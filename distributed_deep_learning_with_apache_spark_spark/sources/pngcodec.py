"""Pure-stdlib PNG codec (8-bit grayscale) + seeded fixture corpus.

Reference parity: S5 image decode (`chapter_4/MnistClassification.java:
61-63,143-145` — PNG file → 28×28×1 float grid via NativeImageLoader) and
S6 label-from-parent-path (`ParentPathLabelGenerator`, `:60`).  The
container ships no image libraries and no image files, so both halves are
built from scratch on the stdlib: a real PNG encoder generates a seeded
MNIST-shaped fixture corpus on first use, and a real PNG decoder (all five
scanline filters) runs inside the Arrow-batched mapInPandas kernel.  The
pixels a query sees are bit-exact the pixels the encoder wrote — asserted
in tests/test_png_decode.py.

Only zlib/struct/os are used, so the decode closure ships to executors by
value with zero import requirements.
"""

from __future__ import annotations

import os
import struct
import zlib

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_gray_png(pixels: list[list[int]]) -> bytes:
    """8-bit grayscale PNG from a row-major [[0..255]] grid (filter 0)."""
    height = len(pixels)
    width = len(pixels[0])
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(row) for row in pixels)
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 9))
        + _chunk(b"IEND", b"")
    )


def make_gray_png_decoder():
    """Build the decode function as a CLOSURE so cloudpickle ships it to
    executors by value (a cluster's executors need not have this package
    installed — same constraint as the mapInPandas kernels in
    sources/binary.py).

    The returned function decodes an 8-bit grayscale PNG to
    (width, height, flat row-major pixels), implementing all five PNG
    scanline filters (None/Sub/Up/Average/Paeth) so it handles any
    conforming 8-bit grayscale file, not just this module's encoder output.
    """
    import struct as _struct
    import zlib as _zlib

    sig = b"\x89PNG\r\n\x1a\n"

    def decode(data: bytes) -> tuple[int, int, list[int]]:
        if bytes(data[:8]) != sig:
            raise ValueError("not a PNG")
        data = bytes(data)
        pos, width, height, idat = 8, 0, 0, b""
        while pos < len(data):
            (length,) = _struct.unpack(">I", data[pos : pos + 4])
            tag = data[pos + 4 : pos + 8]
            payload = data[pos + 8 : pos + 8 + length]
            if tag == b"IHDR":
                width, height, depth, ctype = _struct.unpack(">IIBB", payload[:10])
                if depth != 8 or ctype != 0:
                    raise ValueError(f"unsupported PNG (depth={depth}, colortype={ctype})")
            elif tag == b"IDAT":
                idat += payload
            elif tag == b"IEND":
                break
            pos += 12 + length
        raw = _zlib.decompress(idat)
        stride = width
        out: list[int] = []
        prev = [0] * stride
        for y in range(height):
            base = y * (stride + 1)
            ftype = raw[base]
            line = raw[base + 1 : base + 1 + stride]
            cur = [0] * stride
            for x in range(stride):
                a = cur[x - 1] if x else 0  # left
                b = prev[x]  # up
                c = prev[x - 1] if x else 0  # up-left
                v = line[x]
                if ftype == 0:
                    r = v
                elif ftype == 1:
                    r = v + a
                elif ftype == 2:
                    r = v + b
                elif ftype == 3:
                    r = v + (a + b) // 2
                elif ftype == 4:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                    r = v + pred
                else:
                    raise ValueError(f"bad filter {ftype}")
                cur[x] = r & 0xFF
            out.extend(cur)
            prev = cur
        return width, height, out

    return decode


# Driver-side convenience instance (tests, fixture verification).
decode_gray_png = make_gray_png_decoder()


# ---------------------------------------------------------------------------
# Seeded fixture corpus (MNIST-shaped: <root>/<label>/img_<i>.png)
# ---------------------------------------------------------------------------
IMG_SIZE = 28
N_LABELS = 10
IMGS_PER_LABEL = 24
FIXTURE_DIR = "/tmp/ddl_spark_png_fixture_v2"


def _lcg(seed: int):
    """Deterministic 32-bit LCG — same stream on every host/python."""
    state = seed & 0x7FFFFFFF

    def rand() -> int:
        nonlocal state
        state = (1103515245 * state + 12345) & 0x7FFFFFFF
        return state

    return rand


def synth_image(label: int, idx: int) -> list[list[int]]:
    """Deterministic learnable glyph: a bright 8×8 block whose position is
    a function of the label, over seeded background noise.  A small conv
    net can learn position → label; humans can eyeball it."""
    rand = _lcg(label * 1_000_003 + idx * 7919 + 17)
    # Background noise up to 119 vs block floor 170: separable, but noisy
    # enough that frozen generic edge kernels plateau well below the
    # trained backbone (tests/test_cnn.py quantifies the gap).
    px = [[rand() % 120 for _ in range(IMG_SIZE)] for _ in range(IMG_SIZE)]
    # label -> block corner on a 5x2 grid, jittered ±1 by idx
    gx = (label % 5) * 4 + 1 + (idx % 3)  # in [1, 19]; +8 <= 27
    gy = (label // 5) * 12 + 4 + (idx % 2)  # in [4, 17]; +8 <= 25
    for y in range(gy, gy + 8):
        for x in range(gx, gx + 8):
            px[y][x] = 170 + rand() % 86
    return px


def ensure_fixture_corpus(root: str = FIXTURE_DIR) -> str:
    """Write the seeded PNG corpus once (idempotent); returns the root dir.

    Concurrency-safe: the corpus is staged in a process-private sibling
    directory and atomically renamed into place, so a parallel process
    (pytest alongside the driver) can never scan a half-written tree.
    """
    done = os.path.join(root, ".complete")
    if os.path.exists(done):
        return root
    stage = f"{root}.tmp.{os.getpid()}"
    for label in range(N_LABELS):
        d = os.path.join(stage, str(label))
        os.makedirs(d, exist_ok=True)
        for i in range(IMGS_PER_LABEL):
            with open(os.path.join(d, f"img_{i:03d}.png"), "wb") as f:
                f.write(encode_gray_png(synth_image(label, i)))
    with open(os.path.join(stage, ".complete"), "w") as f:
        f.write("ok")
    try:
        os.rename(stage, root)  # atomic publish (same filesystem)
    except OSError:
        import shutil

        if os.path.exists(done):  # lost the race to a complete corpus
            shutil.rmtree(stage, ignore_errors=True)
        else:  # stale half-written tree from a crashed run: replace it
            shutil.rmtree(root, ignore_errors=True)
            os.rename(stage, root)
    return root
