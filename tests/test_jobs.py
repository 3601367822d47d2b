"""End-to-end job-shape test: the reference's daily cycle (process ->
merge -> re-merge) on local storage through the engine's entry points."""

from __future__ import annotations

from pyspark.sql import functions as F

from updating_datasets_data_engineering_spark import jobs, sinks
from updating_datasets_data_engineering_spark.sources import shot_synth as SS
from updating_datasets_data_engineering_spark.tables import load_table


def test_daily_cycle(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    day1 = SS.synth_kafka_records(ev.where(F.col("event_id") % 2 == 0))
    day2 = SS.synth_kafka_records(ev.where(F.col("event_id") % 3 == 0))  # overlaps day1

    delta1, delta2 = str(tmp_path / "d1"), str(tmp_path / "d2")
    arch1, arch2 = str(tmp_path / "a1"), str(tmp_path / "a2")

    jobs.run_processing_job(day1, delta1)
    jobs.run_merge_job(spark, str(tmp_path / "missing"), delta1, arch1)
    n1 = spark.read.parquet(arch1).count()
    assert n1 > 0

    jobs.run_processing_job(day2, delta2)
    tgz = str(tmp_path / "shots-2025.tgz")
    jobs.run_merge_job(spark, arch1, delta2, arch2, export_tgz=tgz)
    merged = spark.read.parquet(arch2)

    # key-uniqueness invariant of the upsert
    keys = ["game_id", "time_remaining", "quarter"]
    assert merged.count() == merged.select(*keys).distinct().count()
    assert merged.count() >= n1

    # archive-format parity export reads back
    back = sinks.read_season_tgz(spark, tgz)
    assert back.count() == merged.count()


def test_cli_process_then_merge(spark, sf_dir, tmp_path, monkeypatch):
    """The spark-submit-parity CLI: process then merge via jobs.main()."""
    import sys

    from updating_datasets_data_engineering_spark.sources import shot_synth as SS

    ev = load_table(spark, sf_dir, "events")
    records_dir = str(tmp_path / "records")
    SS.synth_kafka_records(ev).select("value").coalesce(1).write.mode("overwrite").text(records_dir)

    delta = str(tmp_path / "cli_delta")
    monkeypatch.setattr(
        sys, "argv",
        ["jobs", "process", "--records-json-dir", records_dir, "--delta-path", delta],
    )
    jobs.main()
    assert spark.read.parquet(delta).count() > 0

    out = str(tmp_path / "cli_archive")
    monkeypatch.setattr(
        sys, "argv",
        ["jobs", "merge", "--archive-path", str(tmp_path / "none"), "--delta-path", delta,
         "--out-path", out],
    )
    jobs.main()
    merged = spark.read.parquet(out)
    keys = ["game_id", "time_remaining", "quarter"]
    assert merged.count() == merged.select(*keys).distinct().count()


def test_in_place_merge_cycle_and_date_pruning(spark, sf_dir, tmp_path):
    """The natural daily cycle writes back to the SAME archive path
    (stage-and-swap, no cannot-overwrite-path-being-read), lays the
    archive out by game_date, and a date predicate prunes partitions."""
    from updating_datasets_data_engineering_spark.plans.audit import formatted_plan

    ev = load_table(spark, sf_dir, "events")
    day1 = SS.synth_kafka_records(ev.where(F.col("event_id") % 2 == 0))
    day2 = SS.synth_kafka_records(ev.where(F.col("event_id") % 3 == 0))
    delta1, delta2 = str(tmp_path / "d1"), str(tmp_path / "d2")
    archive = str(tmp_path / "inplace_archive")

    jobs.run_processing_job(day1, delta1)
    jobs.run_merge_job(spark, archive, delta1, archive)
    n1 = spark.read.parquet(archive).count()

    jobs.run_processing_job(day2, delta2)
    jobs.run_merge_job(spark, archive, delta2, archive)  # in-place upsert
    merged = spark.read.parquet(archive)
    keys = ["game_id", "time_remaining", "quarter"]
    assert merged.count() == merged.select(*keys).distinct().count()
    assert merged.count() >= n1
    # every row whose year/month/day parse to a date carries that date
    # as its game_date — the second merge's delta rows too (the date is
    # derived on the delta, before the merge; deriving it on the merged
    # frame left delta rows NULL, since the archive side already has
    # the column)
    parsed = F.to_date(
        F.concat_ws("-", F.col("year"), F.lpad("month", 2, "0"), F.lpad("day", 2, "0"))
    )
    wrong = merged.where(parsed.isNotNull() & ~F.col("game_date").eqNullSafe(parsed))
    assert wrong.count() == 0

    # game_date layout: a date predicate lands in PartitionFilters
    # (synth rows with unparseable dates land in the null partition, so
    # pick a real date — an == NULL predicate folds to an empty scan)
    real_dates = merged.where(F.col("game_date").isNotNull())
    assert real_dates.count() > 0
    some_date = real_dates.select("game_date").first()[0]
    pruned = spark.read.parquet(archive).where(F.col("game_date") == F.lit(some_date))
    text = formatted_plan(pruned)
    assert "PartitionFilters" in text
    assert "game_date" in text.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert pruned.count() > 0
