"""The binary-file decode family: pinned outputs, kernels that ship by
value, and a PNGV connector that rejects PNGs the codec cannot decode.

Every kernel here reads files (PNG, PNGV, WAV, Avro, tar.gz) or document
bytes through one Arrow-batch row map, and every codec operation lives in
one module (pngcodec, videocodec, wavcodec). The pins hold the family's
outputs bit-identical across refactors of that plumbing.
"""

import hashlib
import os
import struct
import subprocess
import sys
import zlib

import pytest

from distributed_deep_learning_with_apache_spark_spark.registry import load_all
from tests.oracle import canonical_rows
from tests.test_ingest import archive  # noqa: F401 — the archive fixture

REG = load_all()

# ---------------------------------------------------------------------------
# Bit-identity pins at sf0.001. Each digest is the sha256 (first 16 hex) of
# tests/oracle.py::canonical_rows over the output, with every double
# rendered by float.hex so the pin is exact, not 6-decimal. Archive paths
# are reduced to their basename (the fixture lives under tmp_path).
# ---------------------------------------------------------------------------
PINNED_SF = "sf0.001"
PINNED_DIGESTS = {
    "audio_resample_decimate": "92fd3bf9be2e5241",
    "audio_spectrogram_peaks": "479f4fb0a7a8c659",
    "audio_window_features": "6239e133688e5c31",
    "extract_archives_distributed": "2c667e042e500186",
    "image_decode_png": "531df3420820537f",
    "image_frame_sample": "2cf8472455dc3ace",
    "image_phash_neardup": "e5c10d2852b0eea0",
    "image_resize_pool": "a1c1ecbd80ef4100",
    "multimodal_decode_stub": "12c2fe8920d0b1eb",
    "multimodal_frame_sample": "186ef6104bbf5ac0",
    "source_avro_events_agg": "4f663383c7508787",
    "source_pngv_connector": "d39106147e364f51",
    "stream_image_decode_counts": "8fd834993a94cdd5",
    "video_keyframe_decode": "aee09b8d0a97d302",
}

FAMILY = (
    "image_decode_png",
    "image_frame_sample",
    "image_phash_neardup",
    "image_resize_pool",
    "video_keyframe_decode",
    "source_pngv_connector",
    "audio_window_features",
    "audio_spectrogram_peaks",
    "audio_resample_decimate",
    "multimodal_decode_stub",
    "multimodal_frame_sample",
    "stream_image_decode_counts",
    "source_avro_events_agg",
)


def _exact(v):
    if isinstance(v, float):
        return float.hex(v)
    if isinstance(v, (list, tuple)):
        return [_exact(x) for x in v]
    return v


def _digest(columns, rows):
    exact = [tuple(_exact(c) for c in r) for r in rows]
    body = "\n".join(canonical_rows(list(columns), exact))
    return hashlib.sha256(body.encode()).hexdigest()[:16]


def test_family_outputs_bit_identical_to_pins(spark, sf_dir, tmp_path, archive):  # noqa: F811
    from distributed_deep_learning_with_apache_spark_spark.sources.ingest import (
        extract_archives_distributed,
    )

    if os.path.basename(os.path.normpath(sf_dir)) != PINNED_SF:
        pytest.skip(f"digests are pinned at {PINNED_SF}")
    got = {}
    for name in FAMILY:
        df = REG[name].fn(spark, sf_dir)
        got[name] = _digest(df.columns, df.collect())
    rows = extract_archives_distributed(spark, str(tmp_path), "*.tar.gz").collect()
    got["extract_archives_distributed"] = _digest(
        ["archive", "member", "size"],
        [(os.path.basename(r.archive), r.member, r.size) for r in rows],
    )
    assert got == PINNED_DIGESTS, got


# ---------------------------------------------------------------------------
# Kernels ship by value. Executors put the package on PYTHONPATH, so a run
# cannot tell a kernel that imports it by reference; unpickling each kernel
# in an isolated interpreter (`-I`, cwd outside the repo) can.
# ---------------------------------------------------------------------------
_LOADER = """
import importlib.util, pickle, sys
assert importlib.util.find_spec("distributed_deep_learning_with_apache_spark_spark") is None
bad = []
for p in sys.argv[1:]:
    try:
        with open(p, "rb") as f:
            pickle.load(f)
    except Exception as e:
        bad.append(f"{p}: {type(e).__name__}: {e}")
print("\\n".join(bad))
sys.exit(1 if bad else 0)
"""


def test_family_kernels_unpickle_without_the_package(
    spark, sf_dir, tmp_path, monkeypatch, archive  # noqa: F811
):
    from pyspark import cloudpickle
    from pyspark.sql.classic.dataframe import DataFrame

    from distributed_deep_learning_with_apache_spark_spark.ml.cnn import png_pixels_df
    from distributed_deep_learning_with_apache_spark_spark.sources.ingest import (
        extract_archives_distributed,
    )
    from distributed_deep_learning_with_apache_spark_spark.sources.pngv_datasource import (
        PngvDataSourceReader,
    )
    from distributed_deep_learning_with_apache_spark_spark.sources.videocodec import (
        ensure_video_corpus,
    )

    captured = []
    map_in_pandas = DataFrame.mapInPandas

    def spy(self, func, schema, *args, **kwargs):
        captured.append(func)
        return map_in_pandas(self, func, schema, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "mapInPandas", spy)
    for name in FAMILY:
        REG[name].fn(spark, sf_dir)
    png_pixels_df(spark)
    extract_archives_distributed(spark, str(tmp_path), "*.tar.gz")
    monkeypatch.undo()
    assert len(captured) >= 14, len(captured)

    shipped = captured + [PngvDataSourceReader({"path": ensure_video_corpus()})]
    work = tmp_path / "isolated"
    work.mkdir()
    paths = []
    for i, obj in enumerate(shipped):
        p = work / f"{i:02d}_{getattr(obj, '__qualname__', type(obj).__name__)}.pkl"
        p.write_bytes(cloudpickle.dumps(obj))
        paths.append(str(p))
    res = subprocess.run(
        [sys.executable, "-I", "-c", _LOADER, *paths],
        cwd=work,
        capture_output=True,
        text=True,
    )
    assert res.returncode == 0, res.stdout + res.stderr


# ---------------------------------------------------------------------------
# The PNGV connector decodes frames with pngcodec, so a frame pngcodec
# cannot decode fails the read instead of returning made-up pixels.
# ---------------------------------------------------------------------------
def _png16(w=4, h=4):
    """A 16-bit grayscale PNG (filter 0, all-zero samples)."""
    from distributed_deep_learning_with_apache_spark_spark.sources.pngcodec import _chunk

    raw = b"".join(b"\x00" + bytes(2 * w) for _ in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 16, 0, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("frame", ["filter5", "depth16"])
def test_pngv_connector_rejects_frames_pngcodec_rejects(spark, tmp_path, frame):
    from distributed_deep_learning_with_apache_spark_spark.sources.pngcodec import synth_image
    from distributed_deep_learning_with_apache_spark_spark.sources.pngv_datasource import (
        register_pngv_source,
    )
    from distributed_deep_learning_with_apache_spark_spark.sources.videocodec import encode_pngv
    from tests.test_png_decode import _png_with_filter

    png = _png_with_filter(synth_image(7, idx=2), 5) if frame == "filter5" else _png16()
    (tmp_path / "clip.pngv").write_bytes(encode_pngv([png]))
    register_pngv_source(spark)
    with pytest.raises(Exception, match=r"clip\.pngv: (bad filter|unsupported PNG)"):
        spark.read.format("pngv").load(str(tmp_path)).collect()
