"""Custom Python DataSource (Spark 4 API): the hubverse submission catalog.

``spark.read.format("hubverse_submissions").load(dir)`` lists a submissions
directory as a DataFrame of file metadata with provenance parsed from the
file names — the discovery half of the reference's Lambda trigger + bulk
re-trigger (ref faas/lambda_function.py:22-62,
faas/lambda_retrigger_model_output_add.py:13-66) as a first-class source:
drive backfills, audits, and incremental loads by JOINING on this catalog
instead of looping over object listings on the driver.

Deliberately metadata-only: parsing CSV payloads row-by-row in Python would
be the slow path; content reads stay on Spark's native, vectorized CSV/
Parquet readers (sources/model_output.py). The catalog is the small side.

Scale shape: listing partitions are file-batches, so a million-object
directory lists in parallel across executors; each task names its files with
``paths.submission_name``, the per-file pipeline's own rule. Workers need the
package importable: the DataSource classes are pickled by reference.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from hubverse_transform_spark.paths import file_suffix, submission_name

CATALOG_SCHEMA = StructType(
    [
        StructField("path", StringType(), False),
        StructField("file_name", StringType(), False),
        StructField("extension", StringType(), True),
        StructField("round_id", StringType(), True),
        StructField("model_id", StringType(), True),
        StructField("valid", BooleanType(), False),
        StructField("size_bytes", LongType(), False),
    ]
)

#: files per listing task — small enough to parallelize a big directory,
#: large enough that task overhead stays negligible
_BATCH = 1024


@dataclass
class _FileBatch(InputPartition):
    paths: list


class SubmissionCatalogReader(DataSourceReader):
    def __init__(self, options):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("hubverse_submissions source requires a path")

    def partitions(self):
        import os

        files = []
        for dirpath, _dirnames, filenames in os.walk(self.root):
            files.extend(os.path.join(dirpath, f) for f in sorted(filenames))
        files.sort()
        batches = [files[i : i + _BATCH] for i in range(0, len(files), _BATCH)]
        return [_FileBatch(b) for b in batches] or [_FileBatch([])]

    def read(self, partition):
        # valid exactly when the per-file pipeline would accept the file
        import os

        for p in partition.paths:
            try:
                _, round_id, model_id = submission_name(p)
            except (UserWarning, ValueError):
                round_id = model_id = None
            name = os.path.basename(p)
            extension = file_suffix(name).removeprefix(".") or None
            yield (p, name, extension, round_id, model_id, round_id is not None, os.path.getsize(p))


class SubmissionCatalogDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "hubverse_submissions"

    def schema(self):
        return CATALOG_SCHEMA

    def reader(self, schema):
        return SubmissionCatalogReader(self.options)


def register(spark) -> None:
    """Register the source on a session: ``register(spark)`` then
    ``spark.read.format("hubverse_submissions").load(dir)``."""
    spark.dataSource.register(SubmissionCatalogDataSource)


# --- streaming variant (Spark 4 Python streaming DataSource API) -------------


class SubmissionStreamReader(SimpleDataSourceStreamReader):
    """Incremental submission discovery with checkpointed offsets.

    The streaming half of the catalog: each micro-batch emits catalog rows
    for files not yet seen. Two offset modes (``offset_mode`` option):

    - ``"mtime"`` (default): a modification-time watermark. The offset
      carries the high-water mtime, the (tiny) set of files within the
      grace window of that mtime — the tie/backfill boundary — and the last
      batch's file list for replay; per-batch cost is one walk + an
      O(new files) diff, and offset size is bounded by the arrival rate,
      not history. The default since round 4: the naive user gets bounded
      offsets, not O(total-file-count) ones.
      Caveat (WARNED at reader construction when the mode was defaulted,
      not chosen): a file backfilled with an mtime below
      ``watermark - mtime_grace_seconds`` is PERMANENTLY skipped. Mitigate
      with ``mtime_grace_seconds`` (files whose mtime lands within that
      window of the watermark are still discovered; offset grows only by
      arrivals within the window), copy backfills in with a fresh mtime, or
      use ``"seen"`` mode. Raising the grace on an EXISTING checkpoint can
      re-emit files inside the new window once (at-least-once on the
      transition, never loss).
    - ``"seen"``: the seen-set IS the offset — a restarted query resumes
      exactly and ``readBetweenOffsets`` replays any batch from the offsets
      alone (the exactly-once contract of the Lambda trigger, without the
      Lambda), and backfilled old-mtime files are still discovered. Offset
      size and per-batch diff cost grow with TOTAL file count — right for
      hub-sized directories (thousands of submissions), wrong for a lake.

    The simple-reader variant runs discovery on the driver, which is the
    right placement for a catalog (metadata-only, the small side); payload
    reads stay on Spark's vectorized native readers via a join against this
    stream.
    """

    def __init__(self, options):
        import warnings

        self.root = options.get("path")
        if not self.root:
            raise ValueError("hubverse_submissions source requires a path")
        explicit = "offset_mode" in options
        self.mode = options.get("offset_mode", "mtime")
        if self.mode not in ("seen", "mtime"):
            raise ValueError(f"offset_mode must be 'seen' or 'mtime', got {self.mode!r}")
        self.grace = float(options.get("mtime_grace_seconds", 0.0))
        if self.grace < 0:
            raise ValueError(f"mtime_grace_seconds must be >= 0, got {self.grace}")
        if self.mode == "mtime" and not explicit and self.grace == 0.0:
            # the scale default has a silent-loss mode the user did not pick:
            # make it visible once, on the driver, at reader construction
            warnings.warn(
                "hubverse_submissions_stream defaulted to offset_mode='mtime': "
                "files backfilled with a modification time below the watermark "
                "are permanently skipped. Set offset_mode explicitly, add "
                "mtime_grace_seconds to tolerate bounded backfill lateness, or "
                "use offset_mode='seen' for exact (but O(history)) discovery.",
                UserWarning,
                stacklevel=2,
            )

    def initialOffset(self):
        if self.mode == "mtime":
            return {"wm": -1.0, "boundary": [], "batch": []}
        return {"seen": []}

    def _discover(self):
        import os

        files = []
        for dirpath, _dirnames, filenames in os.walk(self.root):
            files.extend(os.path.join(dirpath, f) for f in sorted(filenames))
        return sorted(files)

    def _discover_mtimes(self):
        import os

        out = []
        for p in self._discover():
            try:
                out.append((p, os.path.getmtime(p)))
            except OSError:
                continue  # raced with a delete between walk and stat
        return out

    def _rows(self, paths):
        reader = SubmissionCatalogReader({"path": self.root})
        return list(reader.read(_FileBatch(paths)))

    def read(self, start):
        # dispatch on the OFFSET's shape, not the configured mode: a query
        # restarted from a checkpoint written under the other mode keeps
        # its offset lineage (the mode option only picks initialOffset)
        if "wm" in start:
            return self._read_mtime(start)
        seen = set(start["seen"])
        new = [p for p in self._discover() if p not in seen]
        end = {"seen": sorted(seen | set(new))}
        return (iter(self._rows(new)), end)

    def _read_mtime(self, start):
        wm, recent = start["wm"], set(start["boundary"])
        entries = self._discover_mtimes()
        max_mt = max((mt for _p, mt in entries), default=wm)
        max_mt = max(max_mt, wm)
        new = sorted(
            p
            for p, mt in entries
            if mt >= wm - self.grace and p not in recent
        )
        # carried set = every file within the grace window of the NEW
        # watermark (grace=0 -> exactly the files AT the watermark, the
        # original tie boundary). Each was emitted this batch or earlier, so
        # membership only dedups; size is bounded by arrivals in the window,
        # never total history.
        new_recent = sorted(p for p, mt in entries if mt >= max_mt - self.grace)
        end = {"wm": max_mt, "boundary": new_recent, "batch": new}
        return (iter(self._rows(new)), end)

    def readBetweenOffsets(self, start, end):
        if "wm" in end:
            return iter(self._rows(list(end["batch"])))
        new = sorted(set(end["seen"]) - set(start["seen"]))
        return iter(self._rows([p for p in new]))


class SubmissionCatalogDataSourceStreaming(DataSource):
    @classmethod
    def name(cls) -> str:
        return "hubverse_submissions_stream"

    def schema(self):
        return CATALOG_SCHEMA

    def reader(self, schema):
        return SubmissionCatalogReader(self.options)

    def simpleStreamReader(self, schema):
        return SubmissionStreamReader(self.options)


def register_streaming(spark) -> None:
    """Register the streaming source: ``register_streaming(spark)`` then
    ``spark.readStream.format("hubverse_submissions_stream").load(dir)``."""
    spark.dataSource.register(SubmissionCatalogDataSourceStreaming)
