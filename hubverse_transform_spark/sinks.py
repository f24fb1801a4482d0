"""Partitioned hub-lake sink (scale path of A6) + one-pass bulk backfill (A14).

The reference writes one Parquet object per submission file
(ref model_output.py:312-322) and backfills by re-firing a Lambda per S3
object (ref faas/lambda_retrigger_model_output_add.py:13-66). At 100 TB the
Spark-native shape is:

- a Hive-partitioned lake keyed by the two provenance columns the transform
  appends — ``model_id``/``round_id`` — so downstream queries prune partitions
  on the dominant access axes (SURVEY.md §7 "scale posture");
- backfill as ONE glob read over every raw submission, each file named by
  the per-file rule (``paths.submission_name``) instead of a per-object
  driver loop — the scan parallelizes across the cluster and a million raw
  files are one job, not a million Lambda invocations.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession

from hubverse_transform_spark.paths import CSV_EXTENSIONS, PARQUET_EXTENSIONS
from hubverse_transform_spark.schema import hub_schema
from hubverse_transform_spark.sources.config import read_tasks
from hubverse_transform_spark.sources.model_output import (
    read_model_output_csv,
    read_model_output_parquet,
)
from hubverse_transform_spark.transform import with_provenance_from_filename

PARTITION_COLS = ["model_id", "round_id"]


def write_hub_dataset(df: DataFrame, path: str, mode: str = "append") -> None:
    """Write transformed model-output rows as a partitioned Parquet lake.

    ``partitionBy(model_id, round_id)`` keeps each submission's rows in its
    own directory — reads filtered on either provenance column (the common
    downstream pattern) scan only matching partitions. ``append`` is the
    steady-state mode; use ``overwrite`` with
    ``spark.sql.sources.partitionOverwriteMode=dynamic`` for idempotent
    re-submissions of a single (model, round).
    """
    df.write.mode(mode).partitionBy(*PARTITION_COLS).parquet(path)


def overwrite_submission_partitions(df: DataFrame, path: str) -> None:
    """Idempotent re-submission at lake scale: dynamic partition overwrite.

    The reference re-uploads a file and overwrites the same output object
    (ref model_output.py:312-322); the partitioned-lake equivalent replaces
    ONLY the (model_id, round_id) partitions present in ``df``, leaving every
    other submission untouched — no read-modify-write of the whole dataset.
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        df.write.mode("overwrite").partitionBy(*PARTITION_COLS).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def backfill_hub_dataset(
    spark: SparkSession,
    hub_path: str,
    output_path: str,
    *,
    raw_dir: str = "raw",
    file_format: str = "csv",
    mode: str = "overwrite",
) -> DataFrame:
    """Reprocess every raw submission file in one distributed pass.

    One schema-enforced glob read under the first file's schema, read on
    the driver (files must share a header layout per format; checked for
    CSV), provenance as the per-file pipeline names each file (a mis-named
    file is skipped with a warning), one partitioned write.
    Returns the transformed DataFrame (written).
    """
    tasks = read_tasks(spark, hub_path)
    if not tasks:
        raise FileNotFoundError(f"could not read tasks.json for hub_path={hub_path!r}")
    schema = hub_schema(tasks)
    glob = posixpath.join(str(hub_path), raw_dir, f"*.{file_format}")
    if f".{file_format}" in CSV_EXTENSIONS:
        df = read_model_output_csv(spark, glob, schema)
    elif f".{file_format}" in PARQUET_EXTENSIONS:
        df = read_model_output_parquet(spark, glob, schema)
    else:
        raise ValueError(f"Unsupported backfill format {file_format!r}")
    df = with_provenance_from_filename(df)
    write_hub_dataset(df, output_path, mode=mode)
    return df
