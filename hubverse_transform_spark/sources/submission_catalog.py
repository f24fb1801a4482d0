"""The hubverse submission catalog: a submissions directory listed as a
DataFrame of file metadata, with provenance parsed from the file names.

The discovery half of the reference's Lambda trigger + bulk re-trigger (ref
faas/lambda_function.py:22-62, faas/lambda_retrigger_model_output_add.py:13-66)
as a DataFrame: drive backfills, audits, and incremental loads by JOINING on
this catalog instead of looping over object listings on the driver.

:func:`read_submission_catalog` and :func:`stream_submission_catalog` are the
same listing through ``spark.read`` and ``spark.readStream``: Spark's
``binaryFile`` source with only ``path`` and ``length`` selected, so no file
content is read. It lists any Hadoop file system (a local path, a ``file://``
URI, an ``s3a://`` hub), and the streaming form keeps its seen-file log in
Spark's own file-source checkpoint, as ``stream_model_outputs`` does. Each
file is named with ``paths.submission_name``, the per-file pipeline's own
rule, in an Arrow-batched UDF; workers need the package importable.

``path`` is Hadoop's path string (``file:/…``, ``s3a://…``). Files Spark
treats as hidden (a name starting with ``_`` or ``.``) are not listed; a
valid submission name starts with its ``YYYY-MM-DD`` round id, so neither
touches a submission.
"""

from __future__ import annotations

import posixpath

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType, StructField, StructType

from hubverse_transform_spark.paths import file_suffix, submission_name

#: the binaryFile source's fixed schema, which a stream source must declare
BINARY_FILE_SCHEMA = "path string, modificationTime timestamp, length long, content binary"

_NAME_FIELDS = ("file_name", "extension", "round_id", "model_id")


@pandas_udf(StructType([StructField(f, StringType()) for f in _NAME_FIELDS]))
def _submission_names(paths: pd.Series) -> pd.DataFrame:
    # ids are set exactly when the per-file pipeline would accept the file
    rows = []
    for path in paths:
        name = posixpath.basename(path)
        try:
            _, round_id, model_id = submission_name(name)
        except (UserWarning, ValueError):
            round_id = model_id = None
        rows.append((name, file_suffix(name).removeprefix(".") or None, round_id, model_id))
    return pd.DataFrame(rows, columns=list(_NAME_FIELDS))


def _catalog(reader, path: str) -> DataFrame:
    # one listing for both readers; `content` is pruned, never read
    listing = reader.format("binaryFile").schema(BINARY_FILE_SCHEMA).option("recursiveFileLookup", "true").load(path)
    named = listing.select("path", "length", _submission_names("path").alias("name"))
    return named.select(
        "path",
        "name.*",
        F.col("name.round_id").isNotNull().alias("valid"),
        F.col("length").alias("size_bytes"),
    )


def read_submission_catalog(spark: SparkSession, path: str) -> DataFrame:
    """Every file under ``path`` (recursively) as ``path, file_name,
    extension, round_id, model_id, valid, size_bytes``."""
    return _catalog(spark.read, path)


def stream_submission_catalog(spark: SparkSession, path: str) -> DataFrame:
    """:func:`read_submission_catalog` as a stream: each micro-batch holds the
    files not yet in the query's checkpoint, back-dated ones included (Spark's
    file source drops only a file more than its ``maxFileAge``, 7 days by
    default, older than the newest file it has seen)."""
    return _catalog(spark.readStream, path)
