"""Partitioned-lake sink + one-pass bulk backfill (scale path of A6/A14)."""

from __future__ import annotations

from pathlib import Path

import pytest

from pyspark.sql import functions as F

from hubverse_transform_spark.sinks import (
    backfill_hub_dataset,
    overwrite_submission_partitions,
    write_hub_dataset,
)


def test_dynamic_overwrite_replaces_only_matching_partitions(spark, tmp_path: Path):
    lake = str(tmp_path / "lake")
    base = spark.createDataFrame(
        [("m1", "2024-01-01", 1.0), ("m1", "2024-01-08", 2.0), ("m2", "2024-01-01", 3.0)],
        ["model_id", "round_id", "value"],
    )
    write_hub_dataset(base, lake)

    # resubmission of (m1, 2024-01-01) with corrected values
    fix = spark.createDataFrame(
        [("m1", "2024-01-01", 9.0), ("m1", "2024-01-01", 9.5)],
        ["model_id", "round_id", "value"],
    )
    overwrite_submission_partitions(fix, lake)

    rows = spark.read.parquet(lake).collect()
    by_part: dict = {}
    for r in rows:
        by_part.setdefault((r["model_id"], str(r["round_id"])), []).append(r["value"])
    assert sorted(by_part[("m1", "2024-01-01")]) == [9.0, 9.5]  # replaced
    assert by_part[("m1", "2024-01-08")] == [2.0]  # untouched
    assert by_part[("m2", "2024-01-01")] == [3.0]  # untouched
    # conf restored
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") != "dynamic"


def test_backfill_builds_partitioned_lake(spark, hub_dir: Path, csv_numeric_file: Path):
    # two submissions -> one glob read -> one partitioned write
    second = hub_dir / "raw" / "2024-08-01-teamxyz-model.csv"
    second.write_text(csv_numeric_file.read_text())
    lake = hub_dir / "lake"

    df = backfill_hub_dataset(spark, str(hub_dir), str(lake))
    assert set(df.columns) >= {"round_id", "model_id"}

    # hive layout: model_id=<...>/round_id=<...>
    dirs = {p.name for p in lake.iterdir() if p.is_dir()}
    assert dirs == {
        "model_id=teamabc-output_type_ids_numeric",
        "model_id=teamxyz-model",
    }

    back = spark.read.parquet(str(lake))
    assert back.count() == 12
    # partition pruning: filtering on the partition column scans one partition
    one = back.filter(F.col("model_id") == "teamxyz-model")
    assert one.count() == 6


def test_backfill_rejects_reordered_csv_header(spark, hub_dir: Path, csv_numeric_file: Path):
    """A submission whose header swaps two same-typed columns fails the
    backfill instead of landing its values in each other's columns; the
    per-file pipeline still lands it by column name."""
    import csv
    import io

    from hubverse_transform_spark.transform import ModelOutputPipeline

    rows = list(csv.reader(io.StringIO(csv_numeric_file.read_text())))
    swapped = io.StringIO()
    writer = csv.writer(swapped, quoting=csv.QUOTE_ALL, lineterminator="\n")
    writer.writerows([r[0], r[3], r[2], r[1], *r[4:]] for r in rows)  # target <-> location
    (hub_dir / "raw" / "2024-08-01-teamxyz-model.csv").write_text(swapped.getvalue())

    with pytest.raises(Exception, match="CSV header does not conform to the schema"):
        backfill_hub_dataset(spark, str(hub_dir), str(hub_dir / "lake"))

    out = hub_dir / "out"
    landed = {}
    for name in (csv_numeric_file.name, "2024-08-01-teamxyz-model.csv"):
        mo = ModelOutputPipeline(spark, str(hub_dir), f"raw/{name}", str(out))
        df = spark.read.parquet(mo.add_model_output()).drop("round_id", "model_id")
        landed[name] = sorted(df.select(*sorted(df.columns)).collect(), key=repr)
    assert landed[csv_numeric_file.name] == landed["2024-08-01-teamxyz-model.csv"]
    assert {r["target"] for r in landed[csv_numeric_file.name]} == {
        "wk inc flu hosp", "wk flu hosp rate change",
    }


@pytest.mark.parametrize("file_format", ["csv", "parquet"])
def test_backfill_lands_what_the_per_file_pipeline_lands(spark, hub_dir: Path, file_format, request, caplog):
    """Backfill is the per-object Lambda re-fired over raw/ (A14): for every
    file ModelOutputPipeline accepts, the lake holds its rows under the
    pipeline's (model_id, round_id); a file the pipeline rejects lands no
    rows and logs one warning. CSV and Parquet alike."""
    import logging
    import os

    from hubverse_transform_spark.transform import ModelOutputPipeline
    from tests.conftest import SUBMISSION_NAME_CASES

    source = request.getfixturevalue(f"{file_format}_numeric_file")
    names = [n.removesuffix(".csv") + f".{file_format}" for n in SUBMISSION_NAME_CASES]
    raw = hub_dir / "raw"
    for name in names:
        (raw / name).write_bytes(source.read_bytes())
    lake = hub_dir / "lake"
    with caplog.at_level(logging.WARNING, logger="hubverse_transform_spark.transform"):
        backfill_hub_dataset(spark, str(hub_dir), str(lake), file_format=file_format)

    def rows(df):
        out: dict = {}
        for r in df.collect():
            out.setdefault((r["model_id"], r["round_id"]), []).append(repr(sorted(r.asDict().items())))
        return {k: sorted(v) for k, v in out.items()}

    want, rejected = {}, []
    for name in [source.name, *names]:
        try:
            mo = ModelOutputPipeline(spark, str(hub_dir), f"raw/{name}", str(hub_dir / "out"))
        except ValueError:
            rejected.append(name)
            continue
        want |= rows(mo.add_columns(mo.read_file()))
    assert len(want) == 5 and len(rejected) == 3

    for name in rejected:
        assert sum(f" {name}:" in r.getMessage() for r in caplog.records) == 1, name
    assert not any("__HIVE_DEFAULT_PARTITION__" in d for d, _, _ in os.walk(lake))
    back = spark.read.parquet(str(lake)).withColumn("round_id", F.col("round_id").cast("string"))
    assert rows(back) == want

    (hub_dir / "misnamed").mkdir()
    for name in rejected:
        (raw / name).rename(hub_dir / "misnamed" / name)
    with pytest.raises(ValueError, match="no submission file"):
        backfill_hub_dataset(spark, str(hub_dir), str(lake), raw_dir="misnamed", file_format=file_format)


def test_lake_partition_pruning(spark, tmp_path: Path):
    from hubverse_transform_spark.plans.inspect import explain_str

    lake = str(tmp_path / "lake")
    df = spark.createDataFrame(
        [("m1", "2024-01-01", 1.0), ("m2", "2024-01-01", 2.0), ("m3", "2024-01-08", 3.0)],
        ["model_id", "round_id", "value"],
    )
    write_hub_dataset(df, lake)
    pruned = spark.read.parquet(lake).filter(F.col("model_id") == "m2")
    plan = explain_str(pruned)
    # the provenance filter must prune partitions at the scan, not post-filter
    assert "PartitionFilters" in plan and "model_id" in plan.split("PartitionFilters")[1][:200]
    assert pruned.count() == 1


def test_write_hub_dataset_appends(spark, tmp_path: Path):
    lake = str(tmp_path / "lake")
    df = spark.createDataFrame(
        [("m1", "2024-01-01", 1.0)], ["model_id", "round_id", "value"]
    )
    write_hub_dataset(df, lake)
    write_hub_dataset(df, lake)  # append mode: second write adds rows
    assert spark.read.parquet(lake).count() == 2


@pytest.mark.parametrize("file_format", ["csv", "parquet"])
def test_backfill_read_launches_no_job(spark, hub_dir: Path, file_format, request, monkeypatch):
    """The glob read takes its schema from the first file on the driver:
    no schema-inference job runs before the write."""
    from hubverse_transform_spark import sinks
    from tests.conftest import spark_jobs

    request.getfixturevalue(f"{file_format}_numeric_file")
    reader = f"read_model_output_{file_format}"
    read, reads = getattr(sinks, reader), []

    def counted(*args):
        with spark_jobs(spark) as jobs:
            df = read(*args)
        reads.append(jobs)
        return df

    monkeypatch.setattr(sinks, reader, counted)
    backfill_hub_dataset(spark, str(hub_dir), str(hub_dir / "lake"), file_format=file_format)
    assert reads == [[]]


def test_backfill_names_table_is_a_local_relation(spark, hub_dir: Path, csv_numeric_file: Path):
    """The per-file names go to the JVM as one Arrow table: a LocalRelation,
    not an RDD of pickled rows that needs a Python worker to read."""
    df = backfill_hub_dataset(spark, str(hub_dir), str(hub_dir / "lake"))
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in optimized
    assert "LogicalRDD" not in optimized
