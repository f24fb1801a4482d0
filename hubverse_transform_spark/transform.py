"""The model-output transform pipeline (Layer A: A5-A8, A11-A12).

Spark re-expression of the reference's ``ModelOutputHandler``
(ref model_output.py:23-340): read one submission file under the hub schema,
append/overwrite provenance columns parsed from the file name, write exactly
one Parquet object with a deterministic name (idempotent overwrite), or delete
it on a removal event.

The whole pipeline is lazy — read, normalize, cast, and the provenance
``withColumn`` collapse into a single FileScan + Project stage. The read's
schema comes from the file itself on the driver (a CSV header line, a
Parquet footer; ``sources.model_output``), so building it launches no job
and the sink's collect (``toArrow``) is an event's one Spark job.

For BULK backfill (ref faas/lambda_retrigger_model_output_add.py re-fires one
Lambda per object), the Spark-native form is one glob read over thousands of
files, each named by the per-file rule ``paths.submission_name`` — see
:func:`with_provenance_from_filename`; no per-file driver loop over data.
"""

from __future__ import annotations

import logging
import posixpath
from urllib.parse import unquote

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hubverse_transform_spark.paths import S3Route, route_s3_key, sanitize_uri, submission_name
from hubverse_transform_spark.schema import hub_schema
from hubverse_transform_spark.sources.config import read_tasks
from hubverse_transform_spark.sources.model_output import read_model_output

logger = logging.getLogger(__name__)

#: bytes per py4j call when streaming an encoded object to the FileSystem
_WRITE_CHUNK = 1 << 20


def add_provenance_columns(df: DataFrame, round_id: str, model_id: str) -> DataFrame:
    """Append/overwrite ``round_id`` + ``model_id`` literal columns (A5).

    ``withColumn`` has exactly the reference's dict-merge semantics
    (ref model_output.py:291-310): replace in place when the column exists,
    append at the end otherwise. The literals are constant-folded by Catalyst —
    no materialized O(n) value list as in the reference (:302-303).
    """
    return df.withColumn("round_id", F.lit(round_id)).withColumn("model_id", F.lit(model_id))


def with_provenance_from_filename(df: DataFrame) -> DataFrame:
    """Provenance for a read spanning many submission files (A9 batch form, A14).

    ``submission_name`` names each file of ``df.inputFiles()`` (metadata, no
    job) as the per-file pipeline would; the per-file table goes to the JVM
    in one call, as an Arrow table (a local relation; no Python worker), and
    is broadcast-joined on ``input_file_name()``. A file the rule rejects is
    logged and lands no rows, as its Lambda would; ValueError if none passes.
    """
    uris, files = df.inputFiles(), []
    for uri in uris:
        name = unquote(posixpath.basename(uri))
        try:
            _, round_id, model_id = submission_name(name)
        except (UserWarning, ValueError) as exc:
            logger.warning(f"Skipping mis-named file {name}: {exc}")
            continue
        files.append((uri, round_id, model_id))
    if not files:
        raise ValueError(f"no submission file among {uris}")
    names = df.sparkSession.createDataFrame(
        pa.table(list(zip(*files)), names=["_file", "_round_id", "_model_id"]),
        "_file string, _round_id string, _model_id string",
    )
    return (
        df.withColumn("_file", F.input_file_name())
        .join(F.broadcast(names), "_file")
        .withColumns({"round_id": F.col("_round_id"), "model_id": F.col("_model_id")})
        .drop("_file", "_round_id", "_model_id")
    )


class ModelOutputPipeline:
    """Per-file transform pipeline: read -> provenance -> single-file sink.

    Construction mirrors ref ``__init__`` (model_output.py:65-128): sanitize
    paths, load tasks.json (missing config is fatal — FileNotFoundError),
    name the file with ``paths.submission_name`` (UserWarning / ValueError).
    """

    def __init__(self, spark: SparkSession, hub_path: str, mo_path: str, output_path: str):
        self.spark = spark
        self.hub_path = str(hub_path)
        self.input_file = sanitize_uri(posixpath.join(str(hub_path), str(mo_path)))
        self.output_path = sanitize_uri(str(output_path))

        self.tasks = read_tasks(spark, self.hub_path)
        if not self.tasks:
            raise FileNotFoundError(f"could not read tasks.json for hub_path={self.hub_path!r}")

        self.file_name, self.round_id, self.model_id = submission_name(str(mo_path))

    @classmethod
    def from_s3(
        cls,
        spark: SparkSession,
        bucket: str,
        key: str,
        origin_prefix: str = "raw",
        scheme: str = "s3a",
    ) -> "ModelOutputPipeline":
        """Route an S3 object event to a pipeline (A11, ref model_output.py:136-189).

        Default scheme is ``s3a`` — the Hadoop connector Spark actually binds
        for S3 I/O (the reference's cloudpathlib stack uses ``s3://``; pass
        ``scheme="s3"`` only for URI parity checks, not live reads).
        """
        route: S3Route = route_s3_key(bucket, key, origin_prefix, scheme=scheme)
        return cls(spark, route.hub_path, route.mo_path, route.output_path)

    # --- pipeline stages -------------------------------------------------

    def read_file(self) -> DataFrame:
        """Schema-enforced read of the submission file (A1/A2).

        Hadoop takes ``%XX`` literally, so the sanitized URI is decoded back
        to the stripped path, as the reference's ``FileSystem.from_uri``
        decodes it (ref model_output.py:97-103).
        """
        schema = hub_schema(self.tasks)
        return read_model_output(self.spark, unquote(self.input_file), schema)

    def add_columns(self, df: DataFrame) -> DataFrame:
        """Provenance columns from the parsed file name (A5)."""
        return add_provenance_columns(df, self.round_id, self.model_id)

    def write_parquet(self, df: DataFrame) -> str:
        """Write exactly one Parquet object ``{output_path}/{file_name}.parquet``
        and return its path (A6).

        As in the reference (ref model_output.py:312-322), the submission is
        one in-memory Arrow table written as one object: ``toArrow`` is the
        event's one Spark job; the driver encodes the table, streams it
        through the session's Hadoop FileSystem to ``_tmp_<file_name>.parquet``
        and renames that over the target (idempotent re-uploads). Bound: the
        driver holds one submission's rows, as the reference does; the hub's
        scale is the count of files, and ``sinks.backfill_hub_dataset`` keeps
        bulk loads on the executors. The object is what Spark's writer stores:
        ``toArrow`` keeps the DataFrame's nullability (the provenance literals
        are required, the file's columns optional), and floating columns get
        no dictionary (Spark's writer falls back to PLAIN there).
        """
        table = df.toArrow()
        self.last_write_metrics = {"n_rows": table.num_rows} | {
            f"n_null_{c}": table.column(c).null_count
            for c in ("output_type_id", "value")
            if c in table.column_names
        }
        buf = pa.BufferOutputStream()
        dictionary = [f.name for f in table.schema if not pa.types.is_floating(f.type)]
        pq.write_table(table, buf, use_dictionary=dictionary)
        data = buf.getvalue().to_pybytes()

        output_uri = posixpath.join(self.output_path, f"{self.file_name}.parquet")
        tmp_uri = posixpath.join(self.output_path, f"_tmp_{self.file_name}.parquet")
        fs, jvm = self._hadoop_fs(output_uri)
        tmp, dest = (jvm.org.apache.hadoop.fs.Path(u) for u in (tmp_uri, output_uri))
        out = fs.create(tmp, True)
        try:
            for i in range(0, len(data), _WRITE_CHUNK):
                out.write(data[i : i + _WRITE_CHUNK])
        finally:
            out.close()
        # a FileSystem reports some failures (S3A's rename among them) as a
        # false result rather than an exception; the temp file holds the only
        # copy of the output until the rename has succeeded
        if fs.exists(dest):
            _check(fs.delete(dest, False), f"delete {output_uri}")
        _check(fs.rename(tmp, dest), f"rename {tmp_uri} to {output_uri}")
        logger.info(f"Transformed data written to {output_uri} ({self.last_write_metrics})")
        return output_uri

    def add_model_output(self) -> str:
        """Full pipeline: read -> add provenance -> write (A8)."""
        return self.write_parquet(self.add_columns(self.read_file()))

    def delete_model_output(self) -> None:
        """Delete ``{output_path}/{file_name}.parquet``; missing target is a
        UserWarning, not an error (A7, ref model_output.py:333-340)."""
        output_uri = posixpath.join(self.output_path, f"{self.file_name}.parquet")
        fs, jvm = self._hadoop_fs(output_uri)
        target = jvm.org.apache.hadoop.fs.Path(output_uri)
        if not fs.exists(target):
            msg = f"file to delete {output_uri} does not exist"
            logger.warning({"message": msg, "file": output_uri})
            raise UserWarning(msg)
        _check(fs.delete(target, False), f"delete {output_uri}")
        logger.info(f"Deleted {output_uri}")

    # --- filesystem plumbing --------------------------------------------

    def _hadoop_fs(self, uri: str):
        jvm = self.spark._jvm
        conf = self.spark._jsc.hadoopConfiguration()
        fs = jvm.org.apache.hadoop.fs.Path(uri).getFileSystem(conf)
        return fs, jvm


def _check(ok: bool, what: str) -> None:
    """Raise when a Hadoop FileSystem call returned false."""
    if not ok:
        raise OSError(f"Hadoop FileSystem could not {what}")
