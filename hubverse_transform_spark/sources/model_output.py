"""Schema-enforced model-output readers (Layer A: operators A1/A2).

Semantics pinned by the reference's tests (SURVEY.md §1.3-1.4, §7.1-7.2):

- the *file's* columns drive the result (a schema column absent from the file
  is NOT added; a file column absent from the schema keeps its read type) —
  matches PyArrow ``ConvertOptions(column_types=...)`` /
  ``pq.read_table(schema=...)`` intersection behavior as exercised at
  ref test_model_output.py:277-364;
- CSV: every column is parsed as raw text, the 8-token null set is normalized
  in ALL columns (quoted or not), then schema types are applied by cast.
  String-typed columns therefore pass CSV text through verbatim ("0.0" stays
  "0.0", "02" keeps its zero);
- Parquet: no null normalization ("" survives, ref test_model_output.py:202-213);
  columns are cast to schema types with Arrow-parity float->string formatting
  (0.0 -> "0", ref test_model_output.py:328).

Everything is a lazy DataFrame: the scan + normalize + cast collapse into one
FileScan projection under Catalyst, with column pruning intact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructType

from hubverse_transform_spark.functions.casts import cast_to
from hubverse_transform_spark.functions.nulls import normalize_null_tokens
from hubverse_transform_spark.paths import CSV_EXTENSIONS, PARQUET_EXTENSIONS, file_suffix


def read_model_output(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Format-dispatching read (ref model_output.py:263-277)."""
    suffix = file_suffix(path)
    if suffix in CSV_EXTENSIONS:
        return read_model_output_csv(spark, path, schema)
    if suffix in PARQUET_EXTENSIONS:
        return read_model_output_parquet(spark, path, schema)
    raise ValueError(f"Unsupported file type {suffix} for {path}")


def read_model_output_csv(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """CSV scan with multi-token null normalization then schema cast (A1).

    Spark's ``nullValue`` is single-valued, so the file is read all-string
    (quotes already stripped by the parser — covering the quoted ""/" " cases)
    and nulls + casts are applied as one projection; a glob read fails on a
    header unlike the first file's (``enforceSchema=false``).
    """
    raw = spark.read.option("header", "true").option("enforceSchema", "false").csv(path)
    types = {f.name: f.dataType for f in schema.fields}
    cols = []
    for name in raw.columns:
        c = normalize_null_tokens(F.col(name))
        target = types.get(name)
        if target is not None and not isinstance(target, StringType):
            c = c.cast(target)
        cols.append(c.alias(name))
    return raw.select(*cols)


def read_model_output_parquet(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Parquet scan casting file columns to the hub schema (A2).

    Spark does not cast to a user-supplied read schema the way
    ``pq.read_table(schema=)`` does, so we read with the file's own schema and
    project casts — including the Arrow-parity double->string rendering
    ("0", "0.01", never "0.0"). No null normalization on Parquet.
    """
    raw = spark.read.parquet(path)
    types = {f.name: f.dataType for f in schema.fields}
    file_types = {f.name: f.dataType for f in raw.schema.fields}
    cols = []
    for name in raw.columns:
        target = types.get(name)
        if target is None:
            cols.append(F.col(name))
        else:
            cols.append(cast_to(F.col(name), file_types[name], target).alias(name))
    return raw.select(*cols)


def read_csv_with_quarantine(
    spark: SparkSession, path: str, schema: StructType
) -> tuple[DataFrame, DataFrame]:
    """Schema-enforced CSV read that QUARANTINES malformed rows instead of
    nulling or dropping them.

    PERMISSIVE mode with a corrupt-record column: rows that fail to parse
    under the schema keep their raw text in ``_corrupt_record``; the clean
    side drops the marker column, the quarantine side carries it for triage.
    This extends the reference's file-level error channel (bad extension ->
    UserWarning, ref model_output.py:112-122) to ROW granularity — one bad
    line no longer poisons or discards a million-row submission.

    Returns (clean, quarantined).
    """
    from pyspark.sql.types import StructField

    read_schema = StructType(
        list(schema.fields) + [StructField("_corrupt_record", StringType(), True)]
    )
    raw = (
        spark.read.schema(read_schema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    ).cache()  # Spark requires referencing _corrupt_record on a cached plan
    clean = raw.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    quarantined = raw.filter(F.col("_corrupt_record").isNotNull())
    return clean, quarantined
