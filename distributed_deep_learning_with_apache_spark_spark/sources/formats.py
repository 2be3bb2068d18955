"""Interchange source formats: CSV, JSON-lines, ORC with explicit schemas.

The reference ingests bespoke formats only (whole-file text, PNG, MNIST
idx — SURVEY §2.1); a standalone engine must also speak the standard
interchange formats a reference user would bring. Schema discipline
follows SURVEY §1.2: every read passes an explicit ``StructType`` —
inference is never load-bearing (on 100 TB an inference pass is a full
extra scan, and a sampled inference can mis-type late rows).

Scale notes per format:
- CSV/JSON are row-oriented and splittable (uncompressed / bzip2), but
  carry no column stats → no pushdown-based file skipping; they are
  ingest-edge formats. The pattern here — read once with explicit schema,
  rewrite to parquet/ORC — is the standard bronze→silver step.
- JSON parsing uses PERMISSIVE mode with a ``_corrupt_record`` column so
  one malformed row quarantines instead of failing a 1000-executor job
  (FAILFAST is the opt-in strict variant, exercised in tests).
- ORC is the other columnar format (stripe-level stats, pushdown);
  covered as a write/read roundtrip to prove sink+source symmetry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from .catalog import TABLE_SCHEMAS, load_table, local_frame


def schema_for(table: str, cols: list[str]):
    """Project an explicit fixture schema down to ``cols`` (keeps reads
    inference-free without restating field types)."""
    full = TABLE_SCHEMAS[table]
    by_name = {f.name: f for f in full.fields}
    return type(full)([by_name[c] for c in cols])


@register(
    "source_csv_orders_agg",
    oracle="""
        SELECT o_orderstatus,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders
        GROUP BY o_orderstatus
    """,
    tags=("source", "csv"),
)
def source_csv_orders_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip orders through CSV (header, explicit schema on read)
    and aggregate from the CSV copy. Proves the CSV source/sink pair is
    lossless for the relational columns; the one-shot SQL aggregate over
    the original parquet is the oracle."""
    import tempfile

    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    with tempfile.TemporaryDirectory(prefix="sg_csv_", ignore_cleanup_errors=True) as base:
        load_table(spark, sf_dir, "orders").select(*cols).write.mode("overwrite").option(
            "header", "true"
        ).csv(base)

        out = (
            spark.read.schema(schema_for("orders", cols))
            .option("header", "true")
            .csv(base)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            )
        )
        return local_frame(spark, out.collect(), out.schema)


@register(
    "source_json_events_agg",
    oracle="""
        SELECT event_type,
               count(*) AS n_events,
               round(sum(value), 2) AS total_value
        FROM events
        GROUP BY event_type
    """,
    tags=("source", "json"),
)
def source_json_events_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip events through JSON-lines and aggregate from the JSON
    copy (PERMISSIVE read with explicit schema)."""
    import tempfile

    cols = ["event_id", "event_type", "value"]
    with tempfile.TemporaryDirectory(prefix="sg_json_", ignore_cleanup_errors=True) as base:
        load_table(spark, sf_dir, "events").select(*cols).write.mode("overwrite").json(base)

        out = (
            spark.read.schema(schema_for("events", cols))
            .option("mode", "PERMISSIVE")
            .json(base)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
        )
        return local_frame(spark, out.collect(), out.schema)


@register(
    "source_xml_events_agg",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               floor(sum(floor(value * 10000 + 0.5)) / 100 + 0.5) / 100
                 AS total_value
        FROM events
        GROUP BY event_type
    """,
    doc="Round-trip events through Spark 4's native XML source (rowTag records, explicit schema) and aggregate from the XML copy; oracle aggregates the raw table.",
    tags=("source", "xml"),
)
def source_xml_events_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip events through the native XML data source (built into
    Spark 4 — ``format("xml")`` with a ``rowTag``) and aggregate from the
    XML copy. Like CSV/JSON, XML is an ingest-edge row format: splittable
    on row tags, no column stats, schema supplied explicitly so inference
    never touches the plan. Doubles survive the text round-trip exactly
    (Spark serializes shortest-repr and parses back the identical bits),
    and the sum is cent-scaled integer-exact on both engines so the
    aggregate is FP-order-independent. The oracle aggregates the original
    parquet: the round-trip must be lossless.
    """
    import tempfile

    cols = ["event_id", "event_type", "value"]
    with tempfile.TemporaryDirectory(prefix="sg_xml_", ignore_cleanup_errors=True) as base:
        load_table(spark, sf_dir, "events").select(*cols).write.mode("overwrite").format(
            "xml"
        ).option("rootTag", "events").option("rowTag", "event").save(base)

        out = (
            spark.read.schema(schema_for("events", cols))
            .format("xml")
            .option("rowTag", "event")
            .load(base)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                (
                    F.floor(
                        F.sum(F.floor(F.col("value") * 10000 + 0.5).cast("long")) / 100
                        + 0.5
                    )
                    / 100
                ).alias("total_value"),
            )
        )
        return local_frame(spark, out.collect(), out.schema)


@register(
    "source_orc_lineitem_agg",
    oracle="""
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n_items,
               round(sum(l_quantity), 2) AS total_qty
        FROM lineitem
        WHERE l_quantity > 30
        GROUP BY l_returnflag
    """,
    tags=("source", "orc"),
)
def source_orc_lineitem_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip lineitem through ORC — the other columnar format — and
    aggregate from the ORC copy with a pushed filter. ORC carries
    stripe/row-group statistics like parquet, so the `l_quantity > 30`
    predicate prunes at the scan (tests/test_formats.py pins PushedFilters
    on the ORC read); the oracle aggregates the original parquet. Proves
    sink+source symmetry for the third columnar interchange format."""
    import tempfile

    cols = ["l_orderkey", "l_returnflag", "l_quantity"]
    with tempfile.TemporaryDirectory(prefix="sg_orc_", ignore_cleanup_errors=True) as base:
        load_table(spark, sf_dir, "lineitem").select(*cols).write.mode("overwrite").orc(
            base
        )

        out = (
            spark.read.schema(schema_for("lineitem", cols))
            .orc(base)
            .filter(F.col("l_quantity") > 30)
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_items"),
                F.round(F.sum("l_quantity"), 2).alias("total_qty"),
            )
        )
        return local_frame(spark, out.collect(), out.schema)


@register(
    "source_avro_events_agg",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS value_cents,
               CAST(min(epoch_us(ts)) AS BIGINT) AS min_ts_us,
               CAST(max(epoch_us(ts)) AS BIGINT) AS max_ts_us,
               CAST(sum(length(props)) AS BIGINT) AS props_chars
        FROM events
        GROUP BY event_type
    """,
    doc="Round-trip events through from-scratch Avro OCF files (deflate blocks, distributed per-partition writer, binaryFile + mapInPandas reader) and aggregate from the Avro copy; oracle aggregates the raw table, so the codec round-trip must be lossless.",
    tags=("source", "avro", "ext"),
)
def source_avro_events_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip events through Avro Object Container Files and aggregate
    from the Avro copy. The spark-avro SQL connector is absent from this
    container (core avro jars only — r5 environment probe), so the format
    is spoken via the repo's from-scratch OCF codec (avrocodec.py, the
    pngcodec/wavcodec discipline): WRITE distributes one deflate-block
    OCF per partition through mapInPandas (timestamps as
    timestamp-micros logical longs, per spec), READ is a binaryFile scan
    + Arrow-batched mapInPandas decode with per-block sync verification.

    Aggregates are integer-exact on both engines (cent-scaled value sum,
    epoch-micro min/max, char counts) so the hash comparison proves the
    binary round-trip lossless field-by-field.

    Scale: writer and reader are both per-partition kernels — no driver
    data path; OCF deflate blocks stream independently, and binaryFile
    distributes whole files across tasks (same shape as the PNG corpus
    scan). A production cluster would swap the Python kernel for the JVM
    spark-avro connector against the SAME files; schema and layout are
    spec-compatible."""
    import os
    import tempfile

    import pandas as pd

    from .avrocodec import make_ocf_codec
    from .binary import map_rows, read_binary_dir

    # the codec is a pair of CLOSURES (pickled by value) so executors
    # never need this package importable
    write_ocf, read_ocf = make_ocf_codec()

    schema = {
        "type": "record",
        "name": "Event",
        "fields": [
            {"name": "event_id", "type": "long"},
            {"name": "ts_us", "type": {"type": "long", "logicalType": "timestamp-micros"}},
            {"name": "user_id", "type": "long"},
            {"name": "event_type", "type": "string"},
            {"name": "value", "type": "double"},
            {"name": "props", "type": "string"},
        ],
    }
    with tempfile.TemporaryDirectory(prefix="sg_avro_", ignore_cleanup_errors=True) as base:

        def write_kernel(batches):
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            rows = []
            for pdf in batches:
                rows.extend(pdf.to_dict("records"))
            path = os.path.join(base, f"part-{pid:05d}.avro")
            n = write_ocf(path, schema, rows, codec="deflate")
            yield pd.DataFrame({"path": [path], "n": [n]})

        src = load_table(spark, sf_dir, "events").select(
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
        written = (
            src.repartition(min(n_part, 8))
            .mapInPandas(write_kernel, "path string, n long")
            .collect()
        )
        assert sum(r.n for r in written) > 0

        names = [f["name"] for f in schema["fields"]]

        def records(blob):
            _schema, recs = read_ocf(blob)
            for rec in recs:
                yield tuple(rec[c] for c in names)

        decoded = map_rows(
            read_binary_dir(spark, base, "*.avro").select("content"),
            "event_id long, ts_us long, user_id long, event_type string, "
            "value double, props string",
            records,
        )
        out = decoded.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).alias("value_cents"),
            F.min("ts_us").alias("min_ts_us"),
            F.max("ts_us").alias("max_ts_us"),
            F.sum(F.length("props")).alias("props_chars"),
        )
        return local_frame(spark, out.collect(), out.schema)
