"""Multimodal binary columns: opaque bytes + typed metadata, with decode /
feature-extract as Arrow-batched pandas transforms over mapInPandas.

Reference parity: S4/S5 image scan + decode (`MnistClassification.java:
61-63,142-145` — PNG → 28×28×1 float grid) and S6 label-from-path
(`ParentPathLabelGenerator`, `:60`). No codec LIBRARIES exist in this
container, so the codecs are from scratch: a pure-stdlib PNG decoder
(`pngcodec.py`, bit-exact, all five scanline filters) drives the real
image paths (`image_decode_png`, `image_frame_sample`,
`image_phash_neardup`) and an indexed video container + parser
(`videocodec.py`) drives the real video path (`video_keyframe_decode`).
Only `multimodal_decode_stub` / `sample_frames_df` keep a documented
deterministic fake kernel — retained as the generic byte-payload shape
whose expansion topology the DuckDB oracle can check.

`read_binary_dir` is the real-world entry (spark.read.format("binaryFile"))
for directories of images; the fixture path manufactures binary columns
from `documents.text` so the pipeline is exercised end-to-end on shipped
test data.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from .catalog import load_table

HIST_BINS = 16
DECODE_SCHEMA = (
    "doc_id long, byte_len int, width int, height int, features array<float>"
)


def read_binary_dir(spark: SparkSession, path: str, glob: str = "*.png") -> DataFrame:
    """S4: real binary scan — (path, modificationTime, length, content) with
    label-from-parent-path (S6) materialized as a column.

    Callers pass the corpus ROOT, not a ``root/*`` glob: on load Spark
    probes ``<path>/_spark_metadata`` (FileStreamSink detection) and a glob
    path fails that probe with a logged FileNotFoundException stack —
    harmless but it polluted BENCH_r03's stderr tail. recursiveFileLookup
    descends into the per-label subdirectories instead.
    """
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(path)
        .withColumn("label", F.regexp_extract(F.input_file_name(), r"/([^/]+)/[^/]+$", 1))
    )


def documents_as_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture stand-in for a binary scan: utf-8 bytes of documents.text as
    the opaque payload + typed metadata columns."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("content"),
        F.octet_length(F.col("text")).alias("byte_len"),
        F.col("source").alias("media_source"),
    )


def multimodal_decode_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 pipeline shape: binary column → mapInPandas decode → fixed-width
    feature vectors. Arrow-batched; one Python stage, everything before and
    after stays JVM-side.

    The kernel is a closure (pickled by value) so executors never need this
    package importable — required when the driver process runs from an
    arbitrary cwd.

    Internal builder: keeps the raw ``features array<float>`` column for
    unit tests.  The registered query projects a driver-hashable digest
    instead (the r4 driver canonicalizer crashes on list cells).
    """
    n_bins = HIST_BINS

    def decode_stub(batches: Iterator) -> Iterator:
        # STUB decode kernel (real one would be PIL/libvips/ffmpeg —
        # unavailable in this container). Deterministic fake: 'decode' =
        # n-bin byte-value histogram, normalized; fixed 28×28 'image' dims.
        # Real Arrow batch plumbing, fake pixels.
        import numpy as np

        for pdf in batches:
            feats = []
            for buf in pdf["content"]:
                arr = np.frombuffer(buf, dtype=np.uint8)
                hist = np.bincount(arr % n_bins, minlength=n_bins).astype("float32")
                total = hist.sum() or 1.0
                feats.append((hist / total).tolist())
            out = pdf[["doc_id", "byte_len"]].copy()
            out["width"] = 28
            out["height"] = 28
            out["features"] = feats
            yield out

    return documents_as_binary(spark, sf_dir).mapInPandas(decode_stub, DECODE_SCHEMA)


@register(
    "multimodal_decode_stub",
    oracle=None,  # decode kernel is a stub; Spark-side plumbing rows-only
    tags=("multimodal", "ext"),
)
def multimodal_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry for the S5 decode shape: scalar metadata plus a sha256
    digest of the normalized feature histogram (driver-hashable — raw
    arrays crash the driver's pandas canonicalizer, CORRECTNESS_r04)."""
    from ..functions.arrays import float_array_sig

    return multimodal_decode_df(spark, sf_dir).select(
        "doc_id",
        "byte_len",
        "width",
        "height",
        F.size("features").alias("n_features"),
        float_array_sig("features").alias("features_sig"),
    )


@register(
    "binary_metadata",
    oracle="""
        SELECT doc_id,
               octet_length(encode(text)) AS byte_len,
               md5(text) AS content_md5,
               CASE WHEN octet_length(encode(text)) >= 256 THEN 'large' ELSE 'small' END AS size_class
        FROM documents
    """,
    tags=("multimodal", "ext"),
)
def binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over the opaque payload (the queryable layer of a
    multimodal table): byte length, content hash, size classification."""
    b = documents_as_binary(spark, sf_dir)
    return b.select(
        "doc_id",
        "byte_len",
        F.md5("content").alias("content_md5"),
        F.when(F.col("byte_len") >= 256, "large").otherwise("small").alias("size_class"),
    )


FRAME_STRIDE = 64
MAX_FRAMES = 4
FRAME_SCHEMA = "doc_id long, frame_idx int, frame_off int, n_frames int, frame_mean float"


def sample_frames_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-EXPANDING multimodal transform: one binary payload → up to
    MAX_FRAMES frame rows (the video frame-sampling shape; audio windowing
    is the same plumbing). Complements `multimodal_decode_stub`, which is
    1→1 — here one Arrow batch in yields a differently-sized batch out.

    The frame 'decode' is the stubbed kernel (real one = ffmpeg keyframe
    extraction, unavailable in this container): frame i = bytes
    [i*STRIDE, (i+1)*STRIDE) of the payload, feature = mean byte value.
    Stride/offset arithmetic is real and oracle-checked; at 100 TB this
    stage is embarrassingly parallel (no shuffle: expansion happens inside
    the scan's partitions, and Spark only shuffles if a later op asks).
    """
    stride, max_frames = FRAME_STRIDE, MAX_FRAMES

    def sample_frames(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {k: [] for k in ("doc_id", "frame_idx", "frame_off", "n_frames", "frame_mean")}
            for doc_id, buf in zip(pdf["doc_id"], pdf["content"]):
                arr = np.frombuffer(buf, dtype=np.uint8)
                n = min(max_frames, (len(arr) + stride - 1) // stride)
                for i in range(n):
                    seg = arr[i * stride : (i + 1) * stride]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["frame_off"].append(i * stride)
                    out["n_frames"].append(n)
                    out["frame_mean"].append(float(seg.mean()))
            yield pd.DataFrame(out)

    return documents_as_binary(spark, sf_dir).mapInPandas(sample_frames, FRAME_SCHEMA)


@register(
    "multimodal_frame_sample",
    oracle=f"""
        WITH f AS (
          SELECT doc_id,
                 least({MAX_FRAMES}, (octet_length(encode(text)) + {FRAME_STRIDE - 1}) // {FRAME_STRIDE}) AS n_frames,
                 unnest(generate_series(1, least({MAX_FRAMES}, (octet_length(encode(text)) + {FRAME_STRIDE - 1}) // {FRAME_STRIDE}))) AS gs
          FROM documents)
        SELECT doc_id, (gs - 1)::INT AS frame_idx, ((gs - 1) * {FRAME_STRIDE})::INT AS frame_off,
               n_frames::INT AS n_frames
        FROM f
    """,
    tags=("multimodal", "ext"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked slice of `sample_frames_df`: the expansion topology
    (which frames exist, at which offsets) must match the SQL unnest. The
    stubbed per-frame feature is excluded from the contract (it is not
    SQL-expressible once a real codec replaces it) and is unit-tested
    against a NumPy reference instead (tests/test_curation.py pattern)."""
    return sample_frames_df(spark, sf_dir).select("doc_id", "frame_idx", "frame_off", "n_frames")


# ---------------------------------------------------------------------------
# Real PNG decode (S5): seeded PNG corpus -> binaryFile scan -> pixel grids
# ---------------------------------------------------------------------------
PIXEL_SCHEMA = (
    "path string, label int, width int, height int, "
    "mean_px double, max_px int, bright_x int, bright_y int"
)


def decode_png_dir(spark: SparkSession, root: str) -> DataFrame:
    """S5 with a REAL codec: directory of PNGs -> binaryFile scan (S4) ->
    label from parent path (S6) -> Arrow-batched mapInPandas running a
    from-scratch pure-stdlib PNG decoder (all five scanline filters) ->
    per-image pixel statistics.  Pixel values are bit-exact what the
    encoder wrote (asserted in tests/test_png_decode.py).

    Reference: `chapter_4/MnistClassification.java:61-63,143-145`
    (PNG -> 28x28x1 grid) + `:60` (ParentPathLabelGenerator).

    Scale posture: decode happens inside the scan's partitions — no
    shuffle; binaryFile splits by file so 1e9 images parallelize across
    every executor. The Python stage is one Arrow hop; everything
    downstream (aggregation over the stats) stays JVM-side.
    """
    from .pngcodec import make_gray_png_decoder

    decode = make_gray_png_decoder()

    def kernel(batches: Iterator) -> Iterator:
        import numpy as np

        for pdf in batches:
            out = {k: [] for k in (
                "path", "label", "width", "height",
                "mean_px", "max_px", "bright_x", "bright_y",
            )}
            for path, label, buf in zip(pdf["path"], pdf["label"], pdf["content"]):
                w, h, px = decode(buf)
                arr = np.asarray(px, dtype=np.float64).reshape(h, w)
                bright = float(arr.max())
                ys, xs = np.nonzero(arr >= bright - 32)
                out["path"].append(path)
                out["label"].append(int(label))
                out["width"].append(w)
                out["height"].append(h)
                out["mean_px"].append(float(arr.mean()))
                out["max_px"].append(int(bright))
                out["bright_x"].append(int(round(xs.mean())))
                out["bright_y"].append(int(round(ys.mean())))
            yield __import__("pandas").DataFrame(out)

    return (
        read_binary_dir(spark, root)
        .select("path", F.col("label").cast("int").alias("label"), "content")
        .mapInPandas(kernel, PIXEL_SCHEMA)
    )


@register(
    "image_decode_png",
    oracle=None,  # inputs are PNG files, not a DuckDB-visible table
    tags=("multimodal", "image", "ext"),
    bench=True,
)
def image_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry for the real-PNG decode pipeline over the seeded
    fixture corpus (written on first use; content-deterministic)."""
    from .pngcodec import ensure_fixture_corpus

    return decode_png_dir(spark, ensure_fixture_corpus())


# ---------------------------------------------------------------------------
# Real 1→N frame sampling (scanline windows of REAL decoded PNGs)
# ---------------------------------------------------------------------------
FRAME_ROWS = 7  # scanline-window height: 28-row fixture images -> 4 frames

IMAGE_FRAME_SCHEMA = (
    "path string, label int, frame_idx int, row_off int, "
    "n_frames int, frame_mean double, frame_max int"
)


def image_frame_sample_df(spark: SparkSession, root: str) -> DataFrame:
    """The 1→N multimodal expansion with a REAL decode kernel: each PNG
    decodes (pngcodec, bit-exact) inside its scan partition and emits one
    row per FRAME_ROWS-scanline window — the video keyframe / audio
    windowing shape (`sample_frames_df` is the byte-stride twin whose
    expansion topology is oracle-checked; here the per-frame features are
    real pixel statistics, asserted against an independent numpy decode in
    tests/test_png_decode.py).

    Reference: generalizes `chapter_4/MnistClassification.java:61-63`
    (whole-image decode) to the frame-expansion scan a video corpus needs.

    Scale posture: expansion happens inside binaryFile scan partitions —
    no shuffle, no Python round-trips beyond the one Arrow hop; output
    row count is bounded at ceil(height/FRAME_ROWS) per image."""
    from .pngcodec import make_gray_png_decoder

    decode = make_gray_png_decoder()
    frame_rows = FRAME_ROWS

    def kernel(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {k: [] for k in (
                "path", "label", "frame_idx", "row_off",
                "n_frames", "frame_mean", "frame_max",
            )}
            for path, label, buf in zip(pdf["path"], pdf["label"], pdf["content"]):
                w, h, px = decode(buf)
                arr = np.asarray(px, dtype=np.float64).reshape(h, w)
                n = (h + frame_rows - 1) // frame_rows
                for i in range(n):
                    band = arr[i * frame_rows : (i + 1) * frame_rows]
                    out["path"].append(path)
                    out["label"].append(int(label))
                    out["frame_idx"].append(i)
                    out["row_off"].append(i * frame_rows)
                    out["n_frames"].append(n)
                    out["frame_mean"].append(float(band.mean()))
                    out["frame_max"].append(int(band.max()))
            yield pd.DataFrame(out)

    return (
        read_binary_dir(spark, root)
        .select("path", F.col("label").cast("int").alias("label"), "content")
        .mapInPandas(kernel, IMAGE_FRAME_SCHEMA)
    )


@register(
    "image_frame_sample",
    oracle=None,  # inputs are PNG files, not a DuckDB-visible table
    tags=("multimodal", "image", "ext"),
)
def image_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: real scanline-window frame sampling over the seeded
    PNG fixture corpus (4 frames per 28-row image)."""
    from .pngcodec import ensure_fixture_corpus

    return image_frame_sample_df(spark, ensure_fixture_corpus())


# ---------------------------------------------------------------------------
# Image perceptual-hash near-dup (aHash over REAL decoded pixels)
# ---------------------------------------------------------------------------
AHASH_BITS = 49  # 7x7 grid of 4x4-pixel block means
AHASH_BANDS = 7  # 7 bands x 7 bits: pigeonhole-exact recall at hamming <= 6
AHASH_HAMMING = 6


def image_ahash_df(spark: SparkSession, root: str) -> DataFrame:
    """(path, label, ahash): decode each PNG (real codec) and compute the
    average-hash — 7×7 grid of 4×4-pixel block means, bit i set when
    block_mean_i > image mean. The standard public perceptual-hash
    construction; jittered variants of an image land within a few bits."""
    from .pngcodec import make_gray_png_decoder

    decode = make_gray_png_decoder()

    def kernel(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {"path": [], "label": [], "ahash": []}
            for path, label, buf in zip(pdf["path"], pdf["label"], pdf["content"]):
                w, h, px = decode(buf)
                arr = np.asarray(px, dtype=np.float64).reshape(h, w)
                blocks = arr[: 28, : 28].reshape(7, 4, 7, 4).mean(axis=(1, 3))  # [7,7]
                bits = (blocks > arr.mean()).ravel()
                val = 0
                for b in bits:
                    val = (val << 1) | int(b)
                out["path"].append(path)
                out["label"].append(int(label))
                out["ahash"].append(val)
            yield pd.DataFrame(out)

    return (
        read_binary_dir(spark, root)
        .select("path", F.col("label").cast("int").alias("label"), "content")
        .mapInPandas(kernel, "path string, label int, ahash long")
    )


@register(
    "image_phash_neardup",
    oracle=None,  # inputs are PNG files, not a DuckDB-visible table
    tags=("multimodal", "image", "dedup", "ext", "scale"),
)
def image_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal near-dup: aHash each image (scan-stage decode, no
    shuffle), band the 49-bit hash into 7×7-bit keys, equi-join on
    (band_idx, band_bits) — any pair within hamming distance 6 shares at
    least one intact band (pigeonhole), so recall is exact at the
    threshold — then verify with one xor+bit_count per candidate.

    The same banded-hamming shape as simhash_near_dup_pairs (dedup.py),
    applied to real decoded image content: work scales with collision
    density, never O(n²)."""
    from .pngcodec import ensure_fixture_corpus

    return phash_neardup_over(spark, ensure_fixture_corpus())


def phash_neardup_over(spark: SparkSession, root: str) -> DataFrame:
    """The banded-hamming near-dup pipeline over any PNG corpus root
    (tools/scale_smoke.py runs it against an N×-larger corpus)."""
    hashes = image_ahash_df(spark, root)
    bands = hashes.select(
        "path",
        "ahash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftrightunsigned(F.col("ahash"), 7 * b)
                        .bitwiseAND(F.lit(0x7F))
                        .alias("band_bits"),
                    )
                    for b in range(AHASH_BANDS)
                ]
            )
        ).alias("bd"),
    ).select("path", "ahash", "bd.band_idx", "bd.band_bits")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_bits") == F.col("b.band_bits"))
            & (F.col("a.path") < F.col("b.path")),
        )
        .select(
            F.col("a.path").alias("path_a"),
            F.col("b.path").alias("path_b"),
            F.col("a.ahash").alias("ha"),
            F.col("b.ahash").alias("hb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        cand.filter(hamming <= AHASH_HAMMING)
        .select("path_a", "path_b", hamming.cast("int").alias("hamming"))
    )


# ---------------------------------------------------------------------------
# Real video container decode: PNGV corpus -> keyframe sample -> pixel stats
# ---------------------------------------------------------------------------
KEYFRAME_EVERY = 3  # sample every 3rd frame (plus the final frame's index)

VIDEO_FRAME_SCHEMA = (
    "path string, n_frames int, frame_idx int, width int, height int, "
    "mean_px double, bright_x int, bright_y int"
)


def video_keyframe_df(spark: SparkSession, root: str, every_k: int = KEYFRAME_EVERY) -> DataFrame:
    """Real container-decode 1→N scan: binaryFile reads each .pngv video,
    the PNGV index parses header-only, every k-th frame SEEKS directly to
    its byte range and PNG-decodes (sources/videocodec.py — from-scratch
    parser + the existing from-scratch PNG codec; no synthetic kernel
    left on the video path).

    Scale posture: keyframe sampling reads index + sampled frames only —
    I/O ∝ frames-kept, the property real containers (MP4 moov/mdat) are
    built for; decode happens inside the scan's partitions, no shuffle;
    one Arrow hop."""
    from .pngcodec import make_gray_png_decoder

    decode = make_gray_png_decoder()
    k = every_k

    def kernel(batches: Iterator) -> Iterator:
        # Index parse inlined (not a call into videocodec): this closure
        # ships to executors by value, and a cluster's executors need not
        # have this package installed.
        import struct as _struct

        import numpy as np
        import pandas as pd

        def parse_index(b: bytes) -> list[tuple[int, int]]:
            if b[:4] != b"PNGV":
                raise ValueError("not a PNGV container")
            (n,) = _struct.unpack(">I", b[4:8])
            raw = _struct.unpack(f">{n + 1}I", b[8 : 8 + 4 * (n + 1)])
            return [(raw[i], raw[i + 1] - raw[i]) for i in range(n)]

        for pdf in batches:
            out = {c: [] for c in (
                "path", "n_frames", "frame_idx", "width", "height",
                "mean_px", "bright_x", "bright_y",
            )}
            for path, buf in zip(pdf["path"], pdf["content"]):
                buf = bytes(buf)
                index = parse_index(buf)
                base = 8 + 4 * (len(index) + 1)
                for i in range(0, len(index), k):
                    off, length = index[i]
                    w, h, px = decode(buf[base + off : base + off + length])
                    arr = np.asarray(px, dtype=np.float64).reshape(h, w)
                    bright = float(arr.max())
                    ys, xs = np.nonzero(arr >= bright - 32)
                    out["path"].append(path)
                    out["n_frames"].append(len(index))
                    out["frame_idx"].append(i)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["mean_px"].append(float(arr.mean()))
                    out["bright_x"].append(int(round(xs.mean())))
                    out["bright_y"].append(int(round(ys.mean())))
            yield pd.DataFrame(out)

    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.pngv")
        .load(root)
        .select("path", "content")
        .mapInPandas(kernel, VIDEO_FRAME_SCHEMA)
    )


@register(
    "video_keyframe_decode",
    oracle=None,  # inputs are container files, not a DuckDB-visible table
    tags=("multimodal", "video", "ext"),
)
def video_keyframe_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: keyframe sampling + real decode over the seeded PNGV
    video corpus (written on first use; content-deterministic)."""
    from .videocodec import ensure_video_corpus

    return video_keyframe_df(spark, ensure_video_corpus())


# ---------------------------------------------------------------------------
# Real audio decode: WAV corpus -> windowed energy / zero-crossing features
# ---------------------------------------------------------------------------
AUDIO_WINDOW_SCHEMA = (
    "path string, sample_rate int, n_windows int, window_idx int, "
    "sample_off int, rms double, zero_crossings int, peak int"
)


def audio_window_features_df(spark: SparkSession, root: str) -> DataFrame:
    """The audio member of the real multimodal family: binaryFile scans
    each .wav, a from-scratch RIFF chunk-walking parser
    (sources/wavcodec.py) decodes PCM16, and each fixed-width sample
    window emits RMS energy, zero-crossing count (integer-exact) and peak
    amplitude — the windowing shape speech/audio pipelines run before any
    model.

    Scale posture: identical to the image/video kernels — decode and 1→N
    expansion inside the scan's partitions, one Arrow hop, no shuffle;
    output bounded at n_samples/WINDOW rows per clip."""
    from .wavcodec import WINDOW, make_wav_parser

    win = WINDOW
    # parse is a factory-built closure so the kernel ships it by value;
    # executors can't import this package when the driver runs from an
    # arbitrary cwd. Single source of truth: wavcodec.make_wav_parser.
    parse = make_wav_parser()

    def kernel(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {c: [] for c in (
                "path", "sample_rate", "n_windows", "window_idx",
                "sample_off", "rms", "zero_crossings", "peak",
            )}
            for path, buf in zip(pdf["path"], pdf["content"]):
                rate, x = parse(bytes(buf))
                n_win = len(x) // win
                for i in range(n_win):
                    seg = x[i * win : (i + 1) * win]
                    zc = int(np.count_nonzero(np.signbit(seg[:-1]) != np.signbit(seg[1:])))
                    out["path"].append(path)
                    out["sample_rate"].append(rate)
                    out["n_windows"].append(n_win)
                    out["window_idx"].append(i)
                    out["sample_off"].append(i * win)
                    out["rms"].append(float(np.sqrt((seg.astype(np.float64) ** 2).mean())))
                    out["zero_crossings"].append(zc)
                    out["peak"].append(int(np.abs(seg).max()))
            yield pd.DataFrame(out)

    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.wav")
        .load(root)
        .select("path", "content")
        .mapInPandas(kernel, AUDIO_WINDOW_SCHEMA)
    )


@register(
    "audio_window_features",
    oracle=None,  # inputs are WAV files, not a DuckDB-visible table
    tags=("multimodal", "audio", "ext"),
)
def audio_window_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: windowed audio features over the seeded WAV corpus
    (written on first use; content-deterministic)."""
    from .wavcodec import ensure_audio_corpus

    return audio_window_features_df(spark, ensure_audio_corpus())


# ---------------------------------------------------------------------------
# Real audio DSP: STFT spectrogram peaks over the WAV corpus
# ---------------------------------------------------------------------------
SPECTRO_SCHEMA = (
    "path string, window_idx int, dominant_bin int, dominant_hz double, "
    "spectral_centroid_hz double, e_low double, e_mid double, e_high double"
)
SPECTRO_NFFT = 256  # == wavcodec.WINDOW: one FFT per feature window


def audio_spectrogram_df(spark: SparkSession, root: str) -> DataFrame:
    """Real frequency-domain audio features: per 256-sample window, a
    Hann-windowed rfft (numpy — genuinely computed, not stubbed) yields the
    dominant frequency bin, spectral centroid, and low/mid/high band
    energies. The fixture clips carry two known sinusoids
    (`wavcodec.synth_audio`: f1 dominant at 4000 amplitude), so tests can
    assert the modal dominant_hz per clip equals the ground-truth f1 —
    end-to-end proof the decode + DSP chain is real.

    Scale posture: same as every multimodal kernel — decode + FFT inside
    the scan's partitions (one Arrow hop, no shuffle); output is
    n_samples/256 rows per clip, and each FFT is O(N log N) on a
    256-sample frame, so cost is linear in corpus bytes.
    """

    from .wavcodec import make_wav_parser

    parse = make_wav_parser()  # ships by value inside the kernel closure

    def kernel(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        nfft = SPECTRO_NFFT
        hann = 0.5 - 0.5 * np.cos(2 * np.pi * np.arange(nfft) / nfft)

        for pdf in batches:
            out = {c: [] for c in (
                "path", "window_idx", "dominant_bin", "dominant_hz",
                "spectral_centroid_hz", "e_low", "e_mid", "e_high",
            )}
            for path, buf in zip(pdf["path"], pdf["content"]):
                rate, x = parse(bytes(buf))
                x = x.astype(np.float64)
                n_win = len(x) // nfft
                freqs = np.arange(nfft // 2 + 1) * (rate / nfft)
                lo = freqs < 500.0
                mid = (freqs >= 500.0) & (freqs < 1500.0)
                hi = freqs >= 1500.0
                for i in range(n_win):
                    seg = x[i * nfft : (i + 1) * nfft] * hann
                    mag = np.abs(np.fft.rfft(seg))
                    power = mag * mag
                    # bin 0 is DC — never "dominant" for a zero-mean signal
                    dom = int(np.argmax(mag[1:]) + 1)
                    total = float(power.sum()) or 1.0
                    out["path"].append(path)
                    out["window_idx"].append(i)
                    out["dominant_bin"].append(dom)
                    out["dominant_hz"].append(float(freqs[dom]))
                    out["spectral_centroid_hz"].append(
                        float((freqs * power).sum() / total)
                    )
                    out["e_low"].append(float(power[lo].sum()))
                    out["e_mid"].append(float(power[mid].sum()))
                    out["e_high"].append(float(power[hi].sum()))
            yield pd.DataFrame(out)

    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.wav")
        .load(root)
        .select("path", "content")
        .mapInPandas(kernel, SPECTRO_SCHEMA)
    )


@register(
    "audio_spectrogram_peaks",
    oracle=None,  # inputs are WAV files, not a DuckDB-visible table
    doc="Hann-windowed rfft spectrogram features (dominant freq, centroid, band energies) per audio window.",
    tags=("multimodal", "audio", "dsp", "ext"),
)
def audio_spectrogram_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: STFT features over the seeded WAV corpus."""
    from .wavcodec import ensure_audio_corpus

    return audio_spectrogram_df(spark, ensure_audio_corpus())


# ---------------------------------------------------------------------------
# Real image resize: 2x2 average-pool downscale over decoded PNGs
# ---------------------------------------------------------------------------
RESIZE_SCHEMA = (
    "path string, label int, width int, height int, out_width int, out_height int, "
    "mean_px double, mean_px_resized double, pooled_head array<float>"
)
POOL = 2  # 2x2 average pooling: 28x28 -> 14x14


def image_resize_pool_df(spark: SparkSession, root: str) -> DataFrame:
    """The resize member of the multimodal kernel family: decode each PNG
    with the from-scratch codec, downscale by 2×2 average pooling (the
    standard antialias-free resize for training thumbnails), and emit both
    resolutions' statistics plus the first pooled row as features.

    Average pooling preserves the global mean exactly when dimensions are
    even — mean_px == mean_px_resized bit-for-bit — which gives tests an
    invariant that proves the pooling arithmetic (not just the plumbing).

    Scale posture: same as every decode kernel — per-file work inside the
    scan's partitions, one Arrow hop, no shuffle; output is O(1) per
    image, not O(pixels).
    """
    from .pngcodec import make_gray_png_decoder

    decode = make_gray_png_decoder()

    def kernel(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {k: [] for k in (
                "path", "label", "width", "height", "out_width", "out_height",
                "mean_px", "mean_px_resized", "pooled_head",
            )}
            for path, label, buf in zip(pdf["path"], pdf["label"], pdf["content"]):
                w, h, px = decode(buf)
                arr = np.asarray(px, dtype=np.float64).reshape(h, w)
                ph, pw = h // POOL, w // POOL
                pooled = (
                    arr[: ph * POOL, : pw * POOL]
                    .reshape(ph, POOL, pw, POOL)
                    .mean(axis=(1, 3))
                )
                out["path"].append(path)
                out["label"].append(int(label))
                out["width"].append(w)
                out["height"].append(h)
                out["out_width"].append(pw)
                out["out_height"].append(ph)
                out["mean_px"].append(float(arr.mean()))
                out["mean_px_resized"].append(float(pooled.mean()))
                out["pooled_head"].append(pooled[0].astype(np.float32))
            yield pd.DataFrame(out)

    return (
        read_binary_dir(spark, root)
        .select("path", F.col("label").cast("int").alias("label"), "content")
        .mapInPandas(kernel, RESIZE_SCHEMA)
    )


@register(
    "image_resize_pool",
    oracle=None,  # PNG inputs; pooling invariants pinned in unit tests
    doc="Real image resize: 2x2 average-pool downscale of decoded PNGs, mean-preservation asserted.",
    tags=("multimodal", "image", "ext"),
)
def image_resize_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: pooled-downscale stats over the seeded PNG corpus,
    with the pooled row digested to a sha256 scalar (raw float arrays
    crash the driver's pandas canonicalizer, CORRECTNESS_r04); the
    pixel-exact array assertions live on image_resize_pool_df."""
    from ..functions.arrays import float_array_sig
    from .pngcodec import ensure_fixture_corpus

    return image_resize_pool_df(spark, ensure_fixture_corpus()).select(
        "path",
        "label",
        "width",
        "height",
        "out_width",
        "out_height",
        "mean_px",
        "mean_px_resized",
        float_array_sig("pooled_head", decimals=4).alias("pooled_sig"),
    )


# ---------------------------------------------------------------------------
# Real audio resample: anti-aliased 2x decimation over the WAV corpus
# ---------------------------------------------------------------------------
RESAMPLE_SCHEMA = (
    "path string, rate_in int, rate_out int, n_in int, n_out int, "
    "rms_in double, rms_out double, dominant_hz_out double"
)
DECIMATE = 2  # 8 kHz -> 4 kHz


def audio_resample_df(spark: SparkSession, root: str) -> DataFrame:
    """The resample member of the audio family (the 'resize' of audio):
    2× decimation with a 2-tap moving-average anti-alias prefilter. The
    fixture tones (f1 ≤ 560 Hz, f2 ≤ 1260 Hz) sit far below the new
    Nyquist (2 kHz), so the dominant frequency measured AFTER resampling
    must still equal the clip's ground-truth f1 — the test that proves the
    decimation preserves band content rather than aliasing it.

    Scale posture: per-clip work inside the scan partitions, one Arrow
    hop, no shuffle; output O(1) per clip.
    """

    from .wavcodec import make_wav_parser

    parse = make_wav_parser()  # ships by value inside the kernel closure

    def kernel(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {k: [] for k in (
                "path", "rate_in", "rate_out", "n_in", "n_out",
                "rms_in", "rms_out", "dominant_hz_out",
            )}
            for path, buf in zip(pdf["path"], pdf["content"]):
                rate, x = parse(bytes(buf))
                x = x.astype(np.float64)
                # anti-alias: 2-tap moving average, then take every 2nd sample
                smooth = (x[:-1] + x[1:]) / 2.0
                y = smooth[::DECIMATE]
                rate_out = rate // DECIMATE
                # dominant bin of the resampled signal (Hann, skip DC)
                nfft = 512
                seg = y[: (len(y) // nfft) * nfft].reshape(-1, nfft)
                hann = 0.5 - 0.5 * np.cos(2 * np.pi * np.arange(nfft) / nfft)
                mag = np.abs(np.fft.rfft(seg * hann, axis=1)).sum(axis=0)
                dom = int(np.argmax(mag[1:]) + 1)
                out["path"].append(path)
                out["rate_in"].append(rate)
                out["rate_out"].append(rate_out)
                out["n_in"].append(len(x))
                out["n_out"].append(len(y))
                out["rms_in"].append(float(np.sqrt((x ** 2).mean())))
                out["rms_out"].append(float(np.sqrt((y ** 2).mean())))
                out["dominant_hz_out"].append(float(dom * rate_out / nfft))
            yield pd.DataFrame(out)

    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.wav")
        .load(root)
        .select("path", "content")
        .mapInPandas(kernel, RESAMPLE_SCHEMA)
    )


@register(
    "audio_resample_decimate",
    oracle=None,  # WAV inputs; tone-preservation pinned in unit tests
    doc="Anti-aliased 2x audio decimation; resampled dominant frequency must match the fixture tone.",
    tags=("multimodal", "audio", "dsp", "ext"),
)
def audio_resample_decimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: 8 kHz -> 4 kHz decimation over the seeded WAV corpus."""
    from .wavcodec import ensure_audio_corpus

    return audio_resample_df(spark, ensure_audio_corpus())


# ---------------------------------------------------------------------------
# [EXT r12] S2/S3 wholetext flavor: the literal chapter-2 corpus shape —
# a pos/neg directory tree of whole-file .txt documents
# (Word2VecTransformingIterator.java:47-50,78 walks exactly this layout).
# The capability was proven for binaryFile (S4); this is the
# spark.read.text(wholetext=True) twin, closing the last partial rows of
# the reference-surface table (SURVEY §2.1 S2/S3).
# ---------------------------------------------------------------------------
WHOLETEXT_TREE_ROOT = "/tmp/ddl_spark_wholetext_tree_v1"


def materialize_wholetext_tree(spark: SparkSession, sf_dir: str) -> str:
    """pos/neg .txt tree materialized from the documents fixture, cached by
    corpus mtime (the build_ivf_index cache contract: staged write, atomic
    rename, sibling prune). Label = doc_id parity. Each file holds TWO
    lines — the doc text, then a ``doc:<id>`` trailer — so wholetext
    semantics are load-bearing: a line-mode reader would emit two rows per
    file and could reproduce neither the per-label doc count nor the
    trailer-parsed ids.

    The driver-side file loop is fixture-tree materialization (bounded:
    the documents corpus; one-time per fixture generation) — in
    production this tree already exists on shared storage and only the
    read path below runs; same harness-shape class as SCALE.md
    known-delta #4."""
    import os
    import shutil

    from .catalog import prune_stale_cache_siblings

    st = os.stat(os.path.join(sf_dir, "documents.parquet"))
    slug = sf_dir.strip("/").replace("/", "_")
    root = os.path.join(WHOLETEXT_TREE_ROOT, f"{slug}_{st.st_mtime_ns}_{st.st_size}")
    marker = os.path.join(root, "_TREE_COMPLETE")
    if os.path.exists(marker):
        return root
    stage = f"{root}.tmp.{os.getpid()}"
    for lab in ("pos", "neg"):
        os.makedirs(os.path.join(stage, lab), exist_ok=True)
    rows = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    for r in rows:
        lab = "pos" if r.doc_id % 2 == 0 else "neg"
        with open(
            os.path.join(stage, lab, f"doc{r.doc_id}.txt"), "w", encoding="utf-8"
        ) as f:
            f.write(f"{r.text}\ndoc:{r.doc_id}")
    with open(os.path.join(stage, "_TREE_COMPLETE"), "w") as f:
        f.write("ok")
    try:
        os.rename(stage, root)
    except OSError:
        if os.path.exists(marker):  # lost the race to a complete tree
            shutil.rmtree(stage, ignore_errors=True)
        else:  # stale half-built tree from a crashed run: replace it
            shutil.rmtree(root, ignore_errors=True)
            os.rename(stage, root)
    prune_stale_cache_siblings(WHOLETEXT_TREE_ROOT, slug, root)
    return root


@register(
    "source_text_wholetext_labels",
    oracle="""
        SELECT CASE WHEN doc_id % 2 = 0 THEN 'pos' ELSE 'neg' END AS label,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(length(text || chr(10) || 'doc:'
                               || CAST(doc_id AS VARCHAR))) AS BIGINT)
                 AS total_chars,
               CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
        FROM documents GROUP BY 1
    """,
    doc="Whole-file text-source scan of a pos/neg directory tree with label-from-parent-path: per-label doc count, total characters, and trailer-parsed id sum — the chapter-2 corpus read expressed as spark.read.text(wholetext=True).",
    tags=("source", "text", "ext"),
)
def source_text_wholetext_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/S3 + S6 in one declarative plan: directory scan of a text corpus
    (glob over the label dirs), whole-file read (wholetext=True — one row
    per FILE, trailer line intact), label from the parent path
    (regexp on input_file_name), per-label aggregate.

    Ref: Word2VecTransformingIterator.java:47-50 (pos/neg tree walk),
    :78 (whole-file readFileToString).

    Scale: spark.read.text distributes files across tasks exactly like
    binaryFile (each whole file one row — fine while documents ≪ 2 GB
    each); the aggregate is a 2-group map-side-combinable groupBy. The
    oracle recomputes all three measures from the documents table the
    tree was materialized from — the round-trip (write tree, scan, parse
    trailer) must be lossless for the hashes to meet."""
    import os

    root = materialize_wholetext_tree(spark, sf_dir)
    # corpus ROOT + pathGlobFilter/recursiveFileLookup, NOT a glob path:
    # a glob fails the _spark_metadata FileStreamSink probe with a logged
    # FileNotFoundException stack (the read_binary_dir lesson). The
    # filter also excludes the _TREE_COMPLETE marker from the scan.
    files = (
        spark.read.format("text")
        .option("wholetext", "true")
        .option("pathGlobFilter", "doc*.txt")
        .option("recursiveFileLookup", "true")
        .load(root)
    )
    parsed = files.select(
        F.regexp_extract(
            F.input_file_name(), r"/(pos|neg)/doc\d+\.txt$", 1
        ).alias("label"),
        F.length("value").alias("chars"),
        F.regexp_extract(
            F.element_at(F.split(F.col("value"), "\n"), -1), r"^doc:(\d+)$", 1
        ).cast("long").alias("doc_id"),
    )
    return parsed.groupBy("label").agg(
        F.count("*").alias("n_docs"),
        F.sum("chars").alias("total_chars"),
        F.sum("doc_id").alias("sum_doc_id"),
    )
