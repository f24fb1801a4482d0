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
and the sink write is an event's one Spark job.

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
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hubverse_transform_spark.paths import S3Route, route_s3_key, sanitize_uri, submission_name
from hubverse_transform_spark.schema import hub_schema
from hubverse_transform_spark.sources.config import read_tasks
from hubverse_transform_spark.sources.model_output import read_model_output

logger = logging.getLogger(__name__)


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

        Spark sinks write directories, so: ``coalesce(1)`` (a per-submission
        file is small by construction — the hub's scale lives in the *count*
        of files, parallelized across events) into a temp dir, then rename the
        single part file to the deterministic name via the Hadoop FileSystem
        API. Same-name overwrite keeps re-uploads idempotent
        (ref model_output.py:312-322).
        """
        output_uri = posixpath.join(self.output_path, f"{self.file_name}.parquet")
        tmp_dir = posixpath.join(self.output_path, f"_tmp_{self.file_name}")
        # Observation API: collect write-side health metrics (row count, null
        # densities) during the SAME action as the sink — no second scan of
        # the input, which matters when the source is a remote object store
        from pyspark.sql import Observation

        metrics = [F.count(F.lit(1)).alias("n_rows")]
        for c in ("output_type_id", "value"):
            if c in df.columns:
                metrics.append(
                    F.sum(F.col(c).isNull().cast("long")).alias(f"n_null_{c}")
                )
        obs = Observation(f"write_{self.file_name}")
        df.observe(obs, *metrics).coalesce(1).write.mode("overwrite").parquet(tmp_dir)
        self.last_write_metrics = dict(obs.get)
        self._hadoop_rename_single_part(tmp_dir, output_uri)
        logger.info(
            f"Transformed data written to {output_uri} ({self.last_write_metrics})"
        )
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

    def _hadoop_rename_single_part(self, tmp_dir: str, dest: str) -> None:
        fs, jvm = self._hadoop_fs(tmp_dir)
        path_cls = jvm.org.apache.hadoop.fs.Path
        part = None
        for status in fs.listStatus(path_cls(tmp_dir)):
            name = status.getPath().getName()
            if name.startswith("part-") and name.endswith(".parquet"):
                part = status.getPath()
                break
        if part is None:
            raise RuntimeError(f"no part file produced under {tmp_dir}")
        dest_path = path_cls(dest)
        # a FileSystem reports some failures (S3A's rename among them) as a
        # false result rather than an exception; the temp dir holds the only
        # copy of the output until the rename has succeeded
        if fs.exists(dest_path):
            _check(fs.delete(dest_path, False), f"delete {dest}")
        _check(fs.rename(part, dest_path), f"rename the part file of {tmp_dir} to {dest}")
        _check(fs.delete(path_cls(tmp_dir), True), f"delete {tmp_dir}")


def _check(ok: bool, what: str) -> None:
    """Raise when a Hadoop FileSystem call returned false."""
    if not ok:
        raise OSError(f"Hadoop FileSystem could not {what}")
