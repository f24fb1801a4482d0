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

Each read is one planned scan under an explicit schema, read on the driver,
so building the DataFrame launches no Spark job (Spark's schema inference
would run one per read): a CSV's column names come from its header line
(:func:`csv_header`), a Parquet file's schema from its footer
(:func:`parquet_schema`). The scan + normalize + cast collapse into one
FileScan projection under Catalyst, with column pruning intact; the only job
is the caller's action.
"""

from __future__ import annotations

import csv
import json
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from hubverse_transform_spark.functions.casts import cast_to
from hubverse_transform_spark.functions.nulls import NULL_TOKENS
from hubverse_transform_spark.paths import CSV_EXTENSIONS, PARQUET_EXTENSIONS, file_suffix

_UTF8_BOM = b"\xef\xbb\xbf"
#: Hadoop's line reader ends a line at LF, CR or CRLF, as Spark's CSV scan does
_LINE_END = re.compile(rb"\r\n|\r|\n")
_READ_CHUNK = 1 << 16


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
    under the names :func:`csv_header` gives (quotes already stripped by the
    parser — covering the quoted ""/" " cases) and nulls + casts are applied
    as one SQL projection, parsed in the JVM. ``enforceSchema=false`` makes
    the scan check each file's header against those names, so a glob read
    fails on a header unlike its first file's.
    """
    names = csv_header(spark, path)
    raw = (
        spark.read.schema(StructType([StructField(n, StringType()) for n in names]))
        .option("header", "true")
        .option("enforceSchema", "false")
        .csv(path)
    )
    types = {f.name: f.dataType for f in schema.fields}
    tokens = ", ".join(f"'{t}'" for t in NULL_TOKENS)
    exprs = []
    for name in names:
        col = _quote_identifier(name)
        expr = f"CASE WHEN {col} IN ({tokens}) THEN NULL ELSE {col} END"
        target = types.get(name)
        if target is not None and not isinstance(target, StringType):
            expr = f"CAST({expr} AS {target.simpleString()})"
        exprs.append(f"{expr} AS {col}")
    return raw.selectExpr(*exprs)


def read_model_output_parquet(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Parquet scan casting file columns to the hub schema (A2).

    Spark does not cast to a user-supplied read schema the way
    ``pq.read_table(schema=)`` does, so we read with the file's own schema
    (:func:`parquet_schema`) and project casts — including the Arrow-parity
    double->string rendering ("0", "0.01", never "0.0"). No null
    normalization on Parquet.
    """
    file_schema = parquet_schema(spark, path)
    raw = spark.read.schema(file_schema).parquet(path)
    types = {f.name: f.dataType for f in schema.fields}
    cols = []
    for field in file_schema.fields:
        col = F.col(_quote_identifier(field.name))
        target = types.get(field.name)
        cols.append(col if target is None else cast_to(col, field.dataType, target).alias(field.name))
    return raw.select(*cols)


def csv_header(spark: SparkSession, path: str) -> list[str]:
    """The column names Spark's CSV inference gives ``path`` (a file or a
    glob of files), read on the driver through the session's Hadoop
    FileSystem.

    As Spark does: a UTF-8 BOM at the file's start is dropped, lines that
    hold only spaces are skipped, the first other line is the header, an
    empty name becomes ``_c<i>`` and a repeated one ``<name><i>`` (compared
    case-insensitively, as under Spark's default ``spark.sql.caseSensitive``).
    A glob takes the first file, in name order, that has such a line; a file
    with none gives no columns. The line is split by Python's ``csv``; the
    scan checks every file's header against these names, so a header Spark
    would split differently (a quote inside a quoted name, ``"a""b"`` or
    ``"a\\"b"``) fails the read rather than mislabel a column.
    """
    lines = (_first_nonblank_line(fs, file) for fs, file in _data_files(spark, path))
    line = next(filter(None, lines), None)
    if line is None:
        return []
    names = next(csv.reader([line]))
    keys = [n.lower() for n in names]
    return [
        f"_c{i}" if not name else f"{name}{i}" if keys.count(key) > 1 else name
        for i, (name, key) in enumerate(zip(names, keys))
    ]


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The Spark schema of the first Parquet file of ``path`` (a file or a
    glob of files, in name order), read from its footer on the driver.

    The footer goes through the converter Spark's own schema inference
    uses, configured from the session, so the result equals
    ``spark.read.parquet(path).schema``, which also reads one file's footer
    unless ``mergeSchema`` is set.
    """
    _, file = next(_data_files(spark, path))
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    footer = jvm.org.apache.parquet.hadoop.Footer(
        file, jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(conf, file)
    )
    converter = parquet.ParquetToSparkSchemaConverter(spark._jsparkSession.sessionState().conf())
    jschema = parquet.ParquetFileFormat.readSchemaFromFooter(footer, converter)
    return StructType.fromJson(json.loads(jschema.asNullable().json()))


def _quote_identifier(name: str) -> str:
    """``name`` as one SQL identifier: backticks, an inner backtick doubled
    (a bare ``a.b`` would parse as a struct-field access)."""
    return "`" + name.replace("`", "``") + "`"


def _data_files(spark: SparkSession, path: str):
    """Yield (FileSystem, file) for each data file ``path`` names, in name
    order, touching only as many as the caller takes; ``_``/``.``-prefixed
    files are skipped, as Spark's file listing skips them.
    FileNotFoundError when there is none."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    found = False
    for status in fs.globStatus(jpath) or []:
        file = status.getPath()
        if status.isFile() and not file.getName().startswith(("_", ".")):
            found = True
            yield fs, file
    if not found:
        raise FileNotFoundError(f"no data file at {path}")


def _first_nonblank_line(fs, file) -> str | None:
    """The first line of ``file`` that holds more than spaces, decoded as
    UTF-8 after a leading BOM is dropped; None when it has none."""
    stream = fs.open(file)
    try:
        pending, first = b"", True
        while True:
            chunk = stream.readNBytes(_READ_CHUNK)
            eof = len(chunk) < _READ_CHUNK
            lines = _LINE_END.split(pending + (chunk.removeprefix(_UTF8_BOM) if first else chunk))
            pending, first = (b"" if eof else lines.pop()), False  # an unended line may go on
            for line in lines:
                if line.strip(b" "):
                    return line.decode("utf-8", errors="replace")
            if eof:
                return None
    finally:
        stream.close()


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
