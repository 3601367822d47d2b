"""Sinks: partitioned columnar writes + reference-parity exports.

The reference persists headerful CSV to ``s3a://…/ongoing`` and a
gzipped single-CSV tarball per season built driver-side with boto3 +
tarfile (reference: scripts/spark_processing.py:248-261,
scripts/spark_merge_dfs.py:86-126).  The engine's storage is
partitioned Parquet; the single-file CSV / tgz shapes survive only as
explicit export utilities, never in a hot path.

Scale notes (100 TB): the archive writer partitions by a low-ish
cardinality column (season/date) so merges can overwrite only touched
partitions (``partitionOverwriteMode=dynamic``); ``coalesce(1)`` is
quarantined inside ``export_single_csv`` where the reference semantics
demand exactly one file.
"""

from __future__ import annotations

import glob
import gzip
import os
import shutil
import tarfile
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_partitioned_archive(
    df: DataFrame, path: str, partition_by: tuple[str, ...] = (), mode: str = "overwrite"
) -> None:
    """Columnar archive write; with ``partition_by`` set, use dynamic
    partition overwrite so an upsert only rewrites touched partitions."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.option("partitionOverwriteMode", "dynamic").partitionBy(*partition_by)
    writer.parquet(path)


def write_csv_delta(df: DataFrame, path: str) -> None:
    """Reference-faithful delta sink: overwrite headerful CSV directory
    (reference: scripts/spark_processing.py:258)."""
    df.write.mode("overwrite").option("header", "true").csv(path)


def export_single_csv(df: DataFrame, out_file: str) -> str:
    """Single-file CSV export (the only sanctioned ``coalesce(1)``).

    The Spark job writes one part-file to a temp dir; the rename is
    driver-side file handling of one file, not data movement through
    the driver (unlike the reference's whole-CSV-in-memory repack,
    scripts/spark_merge_dfs.py:98-121).
    """
    tmp = tempfile.mkdtemp(prefix="csv_export_")
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
    os.makedirs(os.path.dirname(out_file) or ".", exist_ok=True)
    shutil.move(part, out_file)
    shutil.rmtree(tmp, ignore_errors=True)
    return out_file


def export_season_tgz(df: DataFrame, out_tgz: str, member_name: str = "shots.csv") -> str:
    """Archive-format parity: gzipped tarball containing one CSV
    (the reference's ``shots-{season}.tgz`` shape,
    scripts/spark_merge_dfs.py:108-113)."""
    tmp_csv = os.path.join(tempfile.mkdtemp(prefix="tgz_export_"), member_name)
    export_single_csv(df, tmp_csv)
    os.makedirs(os.path.dirname(out_tgz) or ".", exist_ok=True)
    with tarfile.open(out_tgz, "w:gz") as tar:
        tar.add(tmp_csv, arcname=member_name)
    shutil.rmtree(os.path.dirname(tmp_csv), ignore_errors=True)
    return out_tgz


def write_orc_archive(
    df: DataFrame, path: str, partition_by: tuple[str, ...] = (), mode: str = "overwrite"
) -> None:
    """ORC variant of the partitioned archive (same dynamic-overwrite
    semantics) — ORC ships in Spark core, so an ORC-standardized
    warehouse needs no extra packages; stats-based row-group skipping
    works the same as parquet's."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.option("partitionOverwriteMode", "dynamic").partitionBy(*partition_by)
    writer.orc(path)


def read_orc_archive(spark, path: str) -> DataFrame:
    return spark.read.orc(path)


def write_jsonl_delta(df: DataFrame, path: str, compression: str | None = "gzip") -> None:
    """JSON-lines delta sink — the interchange shape for downstream
    tokenizer/training jobs that read text shards, one doc per line."""
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def read_jsonl_delta(spark, path: str, schema=None) -> DataFrame:
    """Schema-given JSON-lines read: at scale, ALWAYS pass the schema —
    schema inference is a full extra pass over the data."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)


def read_parquet_merged_schema(spark, path: str) -> DataFrame:
    """Schema-evolution read: union the schemas of all files under
    ``path`` (columns added by later writers surface as nulls in older
    files).  mergeSchema costs a footer read per file — bounded, but
    only worth paying on evolved tables, hence opt-in here rather than
    session-wide."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def write_kafka(df: DataFrame, brokers: str, topic: str, key_col: str | None = None) -> None:
    """Kafka producer sink (reference K4: the dead-code demo's
    producer.produce loop, kafka_streaming_service_not_used.py:47-50).
    Expects a ``value`` column (string/binary); optional key.  Not
    executable in this container (no broker) — the option surface is
    the contract; a stream writes the same format and options, plus a
    checkpoint."""
    cols = [F.col("value").cast("string").alias("value")]
    if key_col:
        cols.insert(0, F.col(key_col).cast("string").alias("key"))
    (
        df.select(*cols)
        .write.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .save()
    )


def read_season_tgz(spark, tgz_path: str) -> DataFrame:
    """Read a reference-format season tarball back as a DataFrame.

    The reference downloads + extracts on the driver then parallelizes
    lines (scripts/spark_merge_dfs.py:53-71); here the single extracted
    CSV goes to a temp file and Spark's CSV reader does the parsing —
    no driver-held row data.
    """
    tmp = tempfile.mkdtemp(prefix="tgz_read_")
    with tarfile.open(tgz_path, "r:gz") as tar:
        tar.extractall(tmp, filter="data")
    return spark.read.option("header", "true").csv(tmp)
