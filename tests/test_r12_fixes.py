"""Round-12 hardening (the r11 ADVICE lows):

1. `append_ivf_index` rejects NULL/empty embeddings LOUDLY instead of
   silently mis-placing them: l2sq over a NULL array is NULL, and
   row_number over d2 ASC (NULLS FIRST) would hand the bad vector rank 1
   in an arbitrary cell — index corruption. The guard (`_vectors`, which
   the build paths `build_ivf_index`/`pq_encode_df` share) follows the
   repo's NULL-reject-on-identity convention (bitmap_distinct_users).
2. `stream_near_dup_incremental`'s foreachBatch is idempotent under
   micro-batch retry: a replayed batch_id neither re-appends postings
   nor duplicates its ledger row (results keyed by batch_id; guard at
   the top of process()).
"""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from distributed_deep_learning_with_apache_spark_spark.operators.similarity import (
    append_ivf_index,
    build_ivf_index,
)
from distributed_deep_learning_with_apache_spark_spark.sources.catalog import load_table


@pytest.fixture(scope="module")
def tiny_index(spark, sf_dir):
    """A private IVF index over the history 90% of the fixture corpus
    (same split as ann_ivf_append_batch), reclaimed after the module."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    hist = e.filter(F.col("vec_id") % 10 != 9)
    work = tempfile.mkdtemp(prefix="sg_r12_ivf_guard_")
    shutil.rmtree(work)  # build_ivf_index wants to create it atomically
    root = build_ivf_index(spark, sf_dir, root=work, source=hist)
    yield root
    shutil.rmtree(work, ignore_errors=True)


def test_append_ivf_index_rejects_null_embedding(spark, tiny_index):
    bad = spark.createDataFrame(
        [(10_000_001, [0.1] * 64), (10_000_002, None)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="append_ivf_index|ASSERT"):
        append_ivf_index(spark, tiny_index, bad)


def test_append_ivf_index_rejects_empty_embedding(spark, tiny_index):
    bad = spark.createDataFrame(
        [(10_000_003, [])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="append_ivf_index|ASSERT"):
        append_ivf_index(spark, tiny_index, bad)


def test_append_ivf_index_valid_batch_still_appends(spark, tiny_index):
    """The guard rejects only bad vectors: a populated batch appends cleanly and
    its ids are retrievable from the read-back assignments."""
    import os

    ok = spark.createDataFrame(
        [(10_000_011, [0.25] * 64), (10_000_012, [0.75] * 64)],
        "vec_id long, embedding array<double>",
    )
    append_ivf_index(spark, tiny_index, ok)
    got = (
        spark.read.parquet(os.path.join(tiny_index, "assignments"))
        .filter(F.col("vec_id").isin(10_000_011, 10_000_012))
        .count()
    )
    assert got == 2


def test_stream_near_dup_foreachbatch_retry_is_noop():
    """Structural pin for the idempotency guard: the ledger is keyed by
    batch_id and process() short-circuits on a seen id. Simulated at the
    dict level (the real retry path needs an injected micro-batch crash;
    the batch-twin equality in test_r11_new_ops covers the happy path).
    """
    import inspect

    from distributed_deep_learning_with_apache_spark_spark.operators import dedup

    src = inspect.getsource(dedup.stream_near_dup_incremental)
    # the guard must precede the probe (retry = no store mutation at all)
    assert "if int(batch_id) in results" in src
    assert src.index("if int(batch_id) in results") < src.index("probe_band_index(")
    assert "results[int(batch_id)]" in src  # ledger keyed by id, not appended
