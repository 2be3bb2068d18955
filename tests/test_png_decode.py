"""Real PNG decode (S5/S6): codec bit-exactness + Spark pipeline.

The decode kernel must produce EXACTLY the pixels the encoder wrote —
this is what promotes the multimodal decode path from "stub" to real.
Reference shape: chapter_4/MnistClassification.java:60-63,143-145.
"""

import struct
import zlib

import pytest

from distributed_deep_learning_with_apache_spark_spark.sources.binary import decode_png_dir
from distributed_deep_learning_with_apache_spark_spark.sources.pngcodec import (
    IMG_SIZE,
    IMGS_PER_LABEL,
    N_LABELS,
    decode_gray_png,
    encode_gray_png,
    ensure_fixture_corpus,
    synth_image,
)


def test_roundtrip_bit_exact_all_labels():
    for label in range(N_LABELS):
        img = synth_image(label, idx=label + 1)
        w, h, px = decode_gray_png(encode_gray_png(img))
        assert (w, h) == (IMG_SIZE, IMG_SIZE)
        assert px == [v for row in img for v in row]


def _png_with_filter(pixels, ftype):
    """Hand-roll a PNG whose every scanline uses the given filter type."""
    h, w = len(pixels), len(pixels[0])
    sig = b"\x89PNG\r\n\x1a\n"

    def chunk(tag, payload):
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    raw = b""
    prev = [0] * w
    for y in range(h):
        cur = pixels[y]
        line = bytearray([ftype])
        for x in range(w):
            a = cur[x - 1] if x else 0
            b = prev[x]
            c = prev[x - 1] if x else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) // 2
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            line.append((cur[x] - pred) & 0xFF)
        raw += bytes(line)
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return sig + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_decoder_handles_all_scanline_filters(ftype):
    img = synth_image(7, idx=2)
    w, h, px = decode_gray_png(_png_with_filter(img, ftype))
    assert (w, h) == (IMG_SIZE, IMG_SIZE)
    assert px == [v for row in img for v in row]


def test_spark_decode_pipeline(spark):
    root = ensure_fixture_corpus()
    out = decode_png_dir(spark, root)
    rows = {r["path"]: r for r in out.collect()}
    assert len(rows) == N_LABELS * IMGS_PER_LABEL
    # Every image decoded at the declared size; label parsed from parent dir
    # matches the filename's directory; pixel stats match a driver-side
    # decode of the same file (bit-exact mean).
    import numpy as np

    checked = 0
    for path, r in rows.items():
        label = int(path.rstrip("/").split("/")[-2])
        assert r["label"] == label
        assert (r["width"], r["height"]) == (IMG_SIZE, IMG_SIZE)
        if checked < 10:
            local = path.replace("file:", "")
            with open(local, "rb") as f:
                w, h, px = decode_gray_png(f.read())
            assert r["mean_px"] == pytest.approx(np.mean(px), abs=0), path
            checked += 1
    assert checked == 10


def test_bright_block_position_tracks_label(spark):
    # The glyph's position is a function of the label (±1 jitter) — the
    # decoded bright-centroid must land inside the block for every image,
    # which is what makes the corpus learnable by the conv net
    # (test_cnn.py).
    root = ensure_fixture_corpus()
    for r in decode_png_dir(spark, root).collect():
        gx = (r["label"] % 5) * 4 + 1
        gy = (r["label"] // 5) * 12 + 4
        assert gx <= r["bright_x"] <= gx + 2 + 8
        assert gy <= r["bright_y"] <= gy + 1 + 8


# ---------------------------------------------------------------------------
# Property-based fuzz: arbitrary images, arbitrary filter choices
# ---------------------------------------------------------------------------
try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(
        st.integers(1, 40),
        st.integers(1, 40),
        st.integers(0, 2**32 - 1),
        st.lists(st.integers(0, 4), min_size=1, max_size=40),
    )
    @settings(max_examples=40, deadline=None)
    def test_codec_roundtrip_fuzz(w, h, seed, filters):
        """Any w×h 8-bit grayscale image, any per-scanline filter choice:
        decode(encode-with-filters(img)) == img, bit for bit."""
        rnd = seed
        img = []
        for _ in range(h):
            row = []
            for _ in range(w):
                rnd = (1103515245 * rnd + 12345) & 0x7FFFFFFF
                row.append(rnd % 256)
            img.append(row)
        per_line = [filters[y % len(filters)] for y in range(h)]
        data = _png_multi_filter(img, per_line)
        dw, dh, px = decode_gray_png(data)
        assert (dw, dh) == (w, h)
        assert px == [v for row in img for v in row]

except ImportError:  # pragma: no cover
    pass


def _png_multi_filter(pixels, per_line):
    """Encoder applying a chosen filter per scanline (fuzz helper)."""
    h, w = len(pixels), len(pixels[0])
    raw = b""
    prev = [0] * w
    for y in range(h):
        ftype = per_line[y]
        cur = pixels[y]
        line = bytearray([ftype])
        for x in range(w):
            a = cur[x - 1] if x else 0
            b = prev[x]
            c = prev[x - 1] if x else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            line.append((cur[x] - pred) & 0xFF)
        raw += bytes(line)
        prev = cur
    import struct as _s
    import zlib as _z

    def chunk(tag, payload):
        return _s.pack(">I", len(payload)) + tag + payload + _s.pack(
            ">I", _z.crc32(tag + payload) & 0xFFFFFFFF
        )

    ihdr = _s.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", _z.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_image_frame_sample_real_scanline_windows(spark):
    """The 1→N frame expansion over REAL decoded pixels: every frame row's
    mean/max must equal an independent driver-side decode of the same
    scanline window, and the expansion topology must cover each image
    exactly (ceil(h/FRAME_ROWS) frames, contiguous offsets)."""
    import numpy as np

    from distributed_deep_learning_with_apache_spark_spark.sources.binary import (
        FRAME_ROWS,
        image_frame_sample_df,
    )

    root = ensure_fixture_corpus()
    out = image_frame_sample_df(spark, root).collect()
    per_image = {}
    for r in out:
        per_image.setdefault(r["path"], []).append(r)

    assert len(per_image) == N_LABELS * IMGS_PER_LABEL
    n_expected = (IMG_SIZE + FRAME_ROWS - 1) // FRAME_ROWS

    checked = 0
    for path, frames in per_image.items():
        frames.sort(key=lambda r: r["frame_idx"])
        assert [f["frame_idx"] for f in frames] == list(range(n_expected))
        assert all(f["n_frames"] == n_expected for f in frames)
        assert [f["row_off"] for f in frames] == [i * FRAME_ROWS for i in range(n_expected)]
        if checked < 8:
            local = path.replace("file:", "")
            with open(local, "rb") as fh:
                w, h, px = decode_gray_png(fh.read())
            arr = np.asarray(px, dtype=np.float64).reshape(h, w)
            for f in frames:
                band = arr[f["row_off"] : f["row_off"] + FRAME_ROWS]
                assert f["frame_mean"] == pytest.approx(float(band.mean()), abs=0), path
                assert f["frame_max"] == int(band.max()), path
            checked += 1
    assert checked == 8


def test_resize_pool_preserves_mean_and_matches_numpy(spark, sf_dir):
    """2x2 average pooling of an even-dimensioned image preserves the
    global mean exactly; and the emitted pooled row must equal a numpy
    reference computed from the independently-decoded pixels."""
    import numpy as np

    from distributed_deep_learning_with_apache_spark_spark.sources.binary import (
        image_resize_pool_df,
    )
    from distributed_deep_learning_with_apache_spark_spark.sources.pngcodec import (
        IMG_SIZE,
        decode_gray_png,
        ensure_fixture_corpus,
    )

    rows = image_resize_pool_df(spark, ensure_fixture_corpus()).collect()
    assert rows
    root = ensure_fixture_corpus()
    checked = 0
    for r in rows[:10]:
        assert r["out_width"] == IMG_SIZE // 2 and r["out_height"] == IMG_SIZE // 2
        assert abs(r["mean_px"] - r["mean_px_resized"]) < 1e-9
        local = r["path"].replace("file:", "")
        with open(local, "rb") as f:
            w, h, px = decode_gray_png(f.read())
        arr = np.asarray(px, dtype=np.float64).reshape(h, w)
        ref = arr.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3))[0]
        got = np.asarray(r["pooled_head"], dtype=np.float64)
        assert np.allclose(got, ref, atol=1e-4), r["path"]
        checked += 1
    assert checked == 10
