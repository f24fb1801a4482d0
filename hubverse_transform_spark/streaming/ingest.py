"""Event-driven ingestion parity (Layer A: A13).

The reference's "streaming" is an AWS Lambda fired per S3 object event
(ref faas/lambda_function.py:22-62): ObjectCreated -> transform+write,
ObjectRemoved -> delete, anything else skipped; UserWarnings are swallowed,
other exceptions logged and suppressed (a failed file just never appears).

Spark mapping, both under that one failure policy (``_lambda_failure_policy``):
- :func:`dispatch_object_event` — the driver-side event consumer with the
  exact Lambda dispatch semantics (deletes have no streaming-source analog,
  SURVEY.md §7.5);
- :func:`stream_model_outputs` — a Structured Streaming file listing over a
  ``raw/`` directory + ``foreachBatch`` running the per-file transform; new
  files are picked up incrementally with checkpointed progress.

Both reach ``sources.model_output``, which reads each file's schema on the
driver (a CSV header line, a Parquet footer), so a file's read launches no
Spark job and landing it runs one: the sink's ``toArrow`` collect, which the
driver encodes and writes as one Parquet object. Bulk backfill (A14) is one
glob read instead: ``sinks.backfill_hub_dataset``.
"""

from __future__ import annotations

import logging
import posixpath
from contextlib import contextmanager
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from hubverse_transform_spark.paths import SUPPORTED_EXTENSIONS
from hubverse_transform_spark.sources.submission_catalog import BINARY_FILE_SCHEMA
from hubverse_transform_spark.transform import ModelOutputPipeline

logger = logging.getLogger(__name__)


@contextmanager
def _lambda_failure_policy(what: str):
    """A UserWarning (invalid input) is logged as a warning and the file
    skipped; any other exception is logged and suppressed."""
    try:
        yield
    except UserWarning as w:
        logger.warning(f"Skipping invalid file {what}: {w}")
    except Exception:
        logger.exception(f"Error handling {what}")


def dispatch_object_event(spark: SparkSession, event: dict) -> str | None:
    """Route one S3-style object event; returns the written URI, else None.

    Mirrors ref faas/lambda_function.py:22-62 exactly: URL-unquoted key,
    substring dispatch on event name, the Lambda's failure policy.
    """
    with _lambda_failure_policy("object event"):
        record = event["Records"][0]
        event_name = record["eventName"]
        bucket = record["s3"]["bucket"]["name"]
        key = unquote(record["s3"]["object"]["key"], encoding="utf-8")

        if "objectcreated" in event_name.lower():
            return ModelOutputPipeline.from_s3(spark, bucket, key).add_model_output()
        if "objectremoved" in event_name.lower():
            ModelOutputPipeline.from_s3(spark, bucket, key).delete_model_output()
        else:
            logger.info(f"Event {event_name} is not supported; skipping")
    return None


def stream_model_outputs(
    spark: SparkSession,
    hub_path: str,
    *,
    raw_dir: str = "raw",
    output_dir: str = "out",
    checkpoint_dir: str,
) -> StreamingQuery:
    """Incrementally transform every model-output file landing under
    ``<hub_path>/<raw_dir>/``.

    Discovery lists files and never reads them: the ``binaryFile`` source
    with only ``path`` selected leaves ``content`` unread, so a micro-batch
    is one row per file. The glob keeps every supported extension
    (``*.{csv,parquet,pqt}``) and each file's reader follows from its suffix,
    so one stream lands CSV and Parquet alike. The checkpoint tracks seen
    files; foreachBatch runs the per-file pipeline (idempotent by
    deterministic output name, so replays after failure are safe —
    effectively exactly-once at the sink).
    """
    extensions = ",".join(ext.removeprefix(".") for ext in SUPPORTED_EXTENSIONS)
    stream = (
        spark.readStream.format("binaryFile")
        .schema(BINARY_FILE_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .option("pathGlobFilter", f"*.{{{extensions}}}")
        .load(posixpath.join(hub_path, raw_dir))
        .select("path")
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        for uri in sorted(r["path"] for r in batch_df.collect()):
            name = posixpath.basename(uri)
            with _lambda_failure_policy(name):
                mo_path = posixpath.join(raw_dir, name)
                out = posixpath.join(hub_path, output_dir)
                ModelOutputPipeline(spark, hub_path, mo_path, out).add_model_output()

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
