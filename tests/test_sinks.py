"""Sink round-trips: partitioned parquet, single-file CSV, tgz parity."""

from __future__ import annotations

import os

from updating_datasets_data_engineering_spark import sinks
from updating_datasets_data_engineering_spark.functions import play_parser  # noqa: F401
from updating_datasets_data_engineering_spark.operators import ingest as I
from updating_datasets_data_engineering_spark.sources import shot_synth as SS
from updating_datasets_data_engineering_spark.tables import load_table


def _enriched(spark, sf_dir):
    return I.ingest_pipeline(SS.synth_kafka_records(load_table(spark, sf_dir, "events")))


def test_partitioned_archive_roundtrip(spark, sf_dir, tmp_path):
    df = _enriched(spark, sf_dir)
    path = str(tmp_path / "archive_parq")
    sinks.write_partitioned_archive(df, path, partition_by=("quarter",))
    back = spark.read.parquet(path)
    assert back.count() == df.count()
    # partition dirs exist -> partition pruning is available to scans
    assert any(d.startswith("quarter=") for d in os.listdir(path))


def test_single_csv_export(spark, sf_dir, tmp_path):
    df = _enriched(spark, sf_dir).limit(100)
    out = sinks.export_single_csv(df, str(tmp_path / "out" / "shots.csv"))
    assert os.path.isfile(out)
    back = spark.read.option("header", "true").csv(out)
    assert back.count() == 100
    assert set(back.columns) == set(df.columns)


def test_season_tgz_parity_roundtrip(spark, sf_dir, tmp_path):
    df = _enriched(spark, sf_dir).limit(50)
    tgz = sinks.export_season_tgz(df, str(tmp_path / "shots-2025.tgz"))
    back = sinks.read_season_tgz(spark, tgz)
    assert back.count() == 50
    assert set(back.columns) == set(df.columns)


def test_jsonl_corrupt_record_handling(spark, tmp_path):
    """Operational contract for JSONL shards with broken lines:
    PERMISSIVE surfaces them in _corrupt_record (audit path),
    DROPMALFORMED silently excludes them (ingest path) — both with the
    schema given, so neither pays an inference pass."""
    import pyspark.sql.types as T

    src = tmp_path / "shards"
    src.mkdir()
    (src / "part-0.json").write_text(
        '{"doc_id": 1, "text": "ok"}\n'
        "{broken json line\n"
        '{"doc_id": 2, "text": "also ok"}\n'
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    permissive = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .json(str(src))
        .cache()  # required: referencing _corrupt_record alone is disallowed on the lazy plan
    )
    assert permissive.count() == 3
    bad = permissive.where(permissive["_corrupt_record"].isNotNull())
    assert bad.count() == 1
    assert "{broken" in bad.first()["_corrupt_record"]
    permissive.unpersist()

    dropped = (
        spark.read.schema("doc_id long, text string")
        .option("mode", "DROPMALFORMED")
        .json(str(src))
    )
    assert sorted(r.doc_id for r in dropped.collect()) == [1, 2]
