"""Hub-config (tasks.json) loader (Layer A).

Config is control-plane, not data-plane: a KB-sized JSON read once per
pipeline, so this is a driver-side ``json.loads`` of the bytes the session's
Hadoop FileSystem returns — deliberately NOT ``spark.read.json`` (ref:
_read_tasks, model_output.py:192-209, which reads through
``FileSystem.from_uri``; a missing or unreadable tasks.json is fatal at
pipeline construction, model_output.py:105-106).
"""

from __future__ import annotations

import json
import logging
import posixpath
from typing import Any

from pyspark.sql import SparkSession

logger = logging.getLogger(__name__)

TASKS_RELATIVE_PATH = "hub-config/tasks.json"


def read_tasks(spark: SparkSession, hub_path: str) -> dict[str, Any] | None:
    """Load ``<hub_path>/hub-config/tasks.json``; None on any failure.

    ``hub_path`` is whatever the session's Hadoop FileSystem resolves: a
    local path, a ``file://`` URI or an object-store URI (``s3a://``), as the
    data files beside it are read. The contract (dict or None, caller
    decides fatality) matches ref model_output.py:192-209.
    """
    uri = posixpath.join(str(hub_path), TASKS_RELATIVE_PATH)
    try:
        path = spark._jvm.org.apache.hadoop.fs.Path(uri)
        stream = path.getFileSystem(spark._jsc.hadoopConfiguration()).open(path)
        try:
            return json.loads(stream.readAllBytes())
        finally:
            stream.close()
    except Exception as e:  # noqa: BLE001 — any read/parse failure => None
        logger.warning({"message": f"could not read tasks.json: {e}", "path": uri})
        return None
