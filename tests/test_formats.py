"""Interchange-format source/sink tests: ORC symmetry, JSON error modes.

Complements the oracle-checked CSV/JSON roundtrip queries in
`sources/formats.py` with the properties the oracle can't see: columnar
ORC write/read symmetry, PERMISSIVE quarantine of malformed JSON rows,
and FAILFAST strictness.
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from distributed_deep_learning_with_apache_spark_spark.sources.catalog import load_table
from distributed_deep_learning_with_apache_spark_spark.sources.formats import schema_for


def test_orc_roundtrip_checksum(spark, sf_dir, tmp_path):
    path = str(tmp_path / "orc")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    li.write.mode("overwrite").orc(path)
    back = spark.read.schema(schema_for("lineitem", ["l_orderkey", "l_quantity", "l_returnflag"])).orc(path)
    a = li.agg(F.count(F.lit(1)), F.sum("l_orderkey"), F.round(F.sum("l_quantity"), 2)).collect()
    b = back.agg(F.count(F.lit(1)), F.sum("l_orderkey"), F.round(F.sum("l_quantity"), 2)).collect()
    assert a == b


def test_orc_predicate_pushdown(spark, sf_dir, tmp_path):
    path = str(tmp_path / "orc_pd")
    load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice").write.orc(path)
    scan = spark.read.orc(path).filter(F.col("o_totalprice") > 100000.0)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "o_totalprice" in plan


@pytest.fixture()
def mixed_json_dir(tmp_path):
    p = tmp_path / "mixed.json"
    p.write_text(
        '{"event_id": 1, "event_type": "view", "value": 1.5}\n'
        '{"event_id": 2, "event_type": "purchase", "value": 2.0}\n'
        "{this is not json at all\n"
        '{"event_id": 3, "event_type": "view", "value": 0.5}\n'
    )
    return str(tmp_path)


def test_json_permissive_quarantines_corrupt_rows(spark, mixed_json_dir):
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(mixed_json_dir)
        .cache()  # required before filtering on _corrupt_record (Spark constraint)
    )
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert good.count() == 3
    assert bad.count() == 1
    assert sorted(r.event_id for r in good.collect()) == [1, 2, 3]
    df.unpersist()


def test_json_failfast_raises(spark, mixed_json_dir):
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    with pytest.raises(Exception):
        spark.read.schema(schema).option("mode", "FAILFAST").json(mixed_json_dir).count()


@pytest.mark.parametrize(
    "module, name, prefix",
    [
        ("formats", "source_csv_orders_agg", "sg_csv_"),
        ("formats", "source_json_events_agg", "sg_json_"),
        ("formats", "source_xml_events_agg", "sg_xml_"),
        ("formats", "source_orc_lineitem_agg", "sg_orc_"),
        ("formats", "source_avro_events_agg", "sg_avro_"),
        ("lake", "lake_partition_pruned_revenue", "sg_lake_"),
        ("lake", "lake_schema_evolution", "sg_evo_"),
        ("lake", "lake_dynamic_partition_overwrite", "sg_dpo_"),
    ],
)
def test_failed_source_run_removes_its_temp_dir(
    module, name, prefix, tmp_path, monkeypatch, sf_dir
):
    import importlib
    import os
    import tempfile

    from distributed_deep_learning_with_apache_spark_spark.registry import load_all

    def boom(*_args, **_kwargs):
        raise RuntimeError("load_table failed")

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(
        importlib.import_module(f"distributed_deep_learning_with_apache_spark_spark.sources.{module}"),
        "load_table",
        boom,
    )
    with pytest.raises(RuntimeError, match="load_table failed"):
        load_all()[name].fn(None, sf_dir)
    assert [d for d in os.listdir(tmp_path) if d.startswith(prefix)] == []
