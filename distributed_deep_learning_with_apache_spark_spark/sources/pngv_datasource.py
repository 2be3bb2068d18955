"""Custom Python Data Source (Spark 4 `pyspark.sql.datasource` API) that
exposes the PNGV video corpus as a partitioned TABLE of decoded frames —
the connector-style packaging of the video path: users run
``spark.read.format("pngv").load(dir)`` instead of wiring binaryFile +
mapInPandas themselves.

Connector design (the part that matters at 100 TB):
- one InputPartition per video FILE → Spark schedules each container to
  one task; a million-video corpus parallelizes across every executor
  with no shuffle (same planning contract as FileSourceScan).
- the reader seeks via the PNGV index and decodes only what it emits —
  `frame_step` pushes keyframe sampling INTO the source, the
  connector-level analogue of predicate pushdown (I/O ∝ frames kept).
- frames decode through videocodec / pngcodec, the codecs every kernel
  in sources/binary.py uses; Spark pickles the DataSourceReader itself to
  executors, and this module and both codecs register for by-value
  pickling, so no package import is needed worker-side.

Reference parity: packages `chapter_4/MnistClassification.java:61-63`'s
record-reader pattern (`ImageRecordReader`) as a first-class Spark
source instead of driver-side iteration.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from .videocodec import decode_pngv_frame, parse_pngv_index

try:  # pragma: no cover - import location varies across pyspark versions
    from pyspark import cloudpickle as _cp
except ImportError:
    import cloudpickle as _cp
_cp.register_pickle_by_value(sys.modules[__name__])

PNGV_SCHEMA = (
    "path string, frame_idx int, n_frames int, width int, height int, "
    "mean_px double, max_px int"
)


class _VideoPartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class PngvDataSourceReader(DataSourceReader):
    def __init__(self, options):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("pngv source requires a path")
        self.frame_step = int(options.get("frame_step", "1"))

    def partitions(self):
        files = sorted(
            os.path.join(self.root, f)
            for f in os.listdir(self.root)
            if f.endswith(".pngv")
        )
        return [_VideoPartition(p) for p in files]

    def read(self, partition):
        with open(partition.path, "rb") as f:
            buf = f.read()
        try:
            n = len(parse_pngv_index(buf))
            for i in range(0, n, self.frame_step):
                w, h, px = decode_pngv_frame(buf, i)
                yield (partition.path, i, n, w, h, sum(px) / len(px), max(px))
        except ValueError as e:  # name the file: one task reads one video
            raise ValueError(f"{partition.path}: {e}") from e


class PngvDataSource(DataSource):
    @classmethod
    def name(cls):
        return "pngv"

    def schema(self):
        return PNGV_SCHEMA

    def reader(self, schema):
        return PngvDataSourceReader(self.options)


def register_pngv_source(spark) -> None:
    """Idempotently register the connector on a session."""
    spark.dataSource.register(PngvDataSource)


# ---------------------------------------------------------------------------
# Registry entry: the connector exercised end-to-end
# ---------------------------------------------------------------------------
from ..registry import register  # noqa: E402


@register(
    "source_pngv_connector",
    oracle=None,  # inputs are container files, not a DuckDB-visible table
    tags=("source", "multimodal", "video", "ext"),
)
def source_pngv_connector(spark, sf_dir: str):
    """spark.read.format("pngv") over the seeded video corpus with
    source-level keyframe pushdown (frame_step=3). Decoded stats must
    match the mapInPandas pipeline bit-for-bit
    (tests/test_video_decode.py pins the parity)."""
    from .videocodec import ensure_video_corpus

    register_pngv_source(spark)
    return (
        spark.read.format("pngv")
        .option("frame_step", "3")
        .load(ensure_video_corpus())
    )
