"""Driver-side ingest utilities (SURVEY §2.1 S10/S11).

Reference parity: `DataUtilities.java:33-57` (HTTP fetch if absent —
idempotent ingest) and `:65-89` (tar.gz extraction into a directory tree),
used by `MnistClassification.java:164-171` and
`PredictCommentsUsingRNNAndWord2Vec.java:115-137`.

These are driver-side steps that run BEFORE `spark.read` — not distributed
operators (SURVEY classifies them as ingest). The distributed variant for
archives-at-scale ([EXT], S11 note) is `extract_archives_distributed`:
binaryFile scan + mapInPandas unpack, so a directory of thousands of
archives fans out across executors.
"""

from __future__ import annotations

import io
import os
import tarfile
import urllib.request

from pyspark.sql import DataFrame, SparkSession

from .binary import map_rows, read_binary_dir


def download_if_absent(url: str, local_path: str) -> bool:
    """S10: fetch `url` to `local_path` unless it already exists.

    Returns True if a download happened (DataUtilities.downloadFile
    contract: exists-check `:38,54` makes repeated calls no-ops).
    """
    if os.path.exists(local_path):
        return False
    os.makedirs(os.path.dirname(local_path) or ".", exist_ok=True)
    tmp = f"{local_path}.part"
    with urllib.request.urlopen(url) as resp, open(tmp, "wb") as out:
        while chunk := resp.read(1 << 20):
            out.write(chunk)
    os.replace(tmp, local_path)  # atomic: no half-written file on crash
    return True


def extract_tar_gz(archive_path: str, out_dir: str) -> list[str]:
    """S11: unpack a .tar.gz into `out_dir`; returns extracted member names."""
    os.makedirs(out_dir, exist_ok=True)
    with tarfile.open(archive_path, "r:gz") as tar:
        members = [m for m in tar.getmembers() if m.isfile() or m.isdir()]
        tar.extractall(out_dir, members=members, filter="data")
    return [m.name for m in members if m.isfile()]


def extract_archives_distributed(
    spark: SparkSession, archive_dir: str, glob: str = "*.tar.gz"
) -> DataFrame:
    """[EXT] S11 at scale: scan a directory of archives as binary files and
    unpack member metadata per-partition — each executor streams its own
    archives; nothing funnels through the driver.

    Returns (archive, member, size) — the listing layer; a real pipeline
    would also emit member bytes or write them to object storage.
    """
    def unpack(path, content):
        with tarfile.open(fileobj=io.BytesIO(content), mode="r:gz") as tar:
            for m in tar.getmembers():
                if m.isfile():
                    yield path, m.name, m.size

    files = read_binary_dir(spark, archive_dir, glob).select("path", "content")
    return map_rows(files, "archive string, member string, size long", unpack)
