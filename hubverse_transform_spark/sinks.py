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


def write_bucketed_table(
    df: DataFrame,
    name: str,
    *,
    bucket_col: str,
    num_buckets: int,
    sort_col: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) managed table.

    Bucketing pre-shuffles the data ONCE at write time: two tables bucketed on
    the same key with the same bucket count join with ZERO exchanges (and zero
    sorts when ``sort_col`` matches the join key) — the physical answer to
    "this fact table joins on this key every day". At 100 TB that one avoided
    shuffle per query dominates everything else. Verified by plan assertion in
    tests (no Exchange under the join).
    """
    writer = df.write.mode("overwrite").format("parquet").bucketBy(num_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(name)


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

    One schema-enforced glob read (files must share a header layout per
    format; checked for CSV), provenance as the per-file pipeline names each
    file (a mis-named file is skipped with a warning), one partitioned write.
    Returns the transformed DataFrame (written).
    """
    tasks = read_tasks(hub_path)
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


def _spread_bits16(c):
    """Spread the low 16 bits of ``c`` to the even bit positions of a 32-bit
    value (Morton/Z-curve 'magic numbers' expansion) — pure JVM-side integer
    arithmetic, whole-stage-codegen friendly."""
    from pyspark.sql import functions as F

    c = (c.bitwiseOR(F.shiftleft(c, 8))).bitwiseAND(F.lit(0x00FF00FF))
    c = (c.bitwiseOR(F.shiftleft(c, 4))).bitwiseAND(F.lit(0x0F0F0F0F))
    c = (c.bitwiseOR(F.shiftleft(c, 2))).bitwiseAND(F.lit(0x33333333))
    c = (c.bitwiseOR(F.shiftleft(c, 1))).bitwiseAND(F.lit(0x55555555))
    return c


def zorder_key(x, y, x_min, x_max, y_min, y_max):
    """Interleaved 32-bit Z-order key for two numeric columns, each min/max
    scaled to 16 bits. Rows close on the Z-curve are close in BOTH dims, so
    sorting by this key clusters 2-D locality into the same files."""
    from pyspark.sql import functions as F

    def to16(c, lo, hi):
        span = F.lit(float(hi - lo)) if hi > lo else F.lit(1.0)
        scaled = ((c.cast("double") - F.lit(float(lo))) / span) * 65535.0
        return F.least(F.greatest(scaled.cast("long"), F.lit(0)), F.lit(65535))

    return _spread_bits16(to16(x, x_min, x_max)).bitwiseOR(
        F.shiftleft(_spread_bits16(to16(y, y_min, y_max)), 1)
    )


def write_zorder_layout(
    df: DataFrame,
    path: str,
    *,
    cols: tuple[str, str],
    num_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as Parquet clustered on the Z-curve of two columns.

    Multi-dimensional data layout: a single-column sort gives perfect file
    skipping on that column and none on any other; Z-ordering trades a little
    of each for useful min/max pruning on BOTH columns — the layout move for
    a 100 TB lake queried along two independent axes (e.g. model_id x date,
    or user x time). Parquet footers then carry tight per-file/row-group
    bounds on both columns, and any engine's min/max skipping (Spark's row
    group filter pushdown included) prunes most files for point or range
    predicates on either axis.

    One extra pass over the data: a cheap global min/max agg (driver scalars),
    then repartitionByRange on the key (range exchange = skew-proof file
    sizing) + in-partition sort. The key column is dropped before writing.
    """
    from pyspark.sql import functions as F

    cx, cy = cols
    bounds = df.agg(
        F.min(cx).alias("x0"), F.max(cx).alias("x1"),
        F.min(cy).alias("y0"), F.max(cy).alias("y1"),
    ).collect()[0]
    key = zorder_key(
        F.col(cx), F.col(cy), bounds.x0, bounds.x1, bounds.y0, bounds.y1
    )
    (
        df.withColumn("__z", key)
        .repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def compact_lake_partition(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction [EXT]: rewrite one lake partition directory into
    ~``target_file_bytes``-sized parquet files and return the file count.

    Streaming ingest (one file per submission/micro-batch) accretes small
    files until scan task scheduling dominates query time; periodic
    compaction is how a 100 TB lake stays scannable. The rewrite is
    read -> coalesce(ceil(bytes/target)) -> write-to-temp -> rename swap;
    ``coalesce`` (not ``repartition``) keeps the rewrite shuffle-free.

    Crash-safety contract (single-writer): stale ``._compacting`` /
    ``._old`` leftovers from a previously crashed run are reconciled before
    starting (an orphaned ``._old`` with no live directory is restored —
    that crash window strands no data), and the old copy is deleted only
    after the new directory has been verified readable. The two renames are
    NOT atomic as a pair: a concurrent reader can hit a brief
    FileNotFound window between them and should retry. The
    ``write_manifest_snapshot`` / ``compact_manifest_table`` family below
    closes that window with a Delta/Iceberg-style atomic metadata swap —
    prefer it for any partition with concurrent readers; this rename-pair
    form stays for plain directories no manifest-aware reader resolves.
    """
    import math
    import os
    import shutil

    tmp = path.rstrip("/") + "._compacting"
    swap = path.rstrip("/") + "._old"
    # reconcile leftovers from a prior crashed run
    if os.path.exists(tmp):
        shutil.rmtree(tmp)  # incomplete rewrite: discard, recompute below
    if os.path.exists(swap):
        if os.path.exists(path):
            shutil.rmtree(swap)  # crashed after the second rename: old copy
        else:
            os.rename(swap, path)  # crashed between renames: restore data

    files = [
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total / target_file_bytes))
    spark.read.parquet(path).coalesce(n_out).write.mode("overwrite").parquet(tmp)
    os.rename(path, swap)
    os.rename(tmp, path)
    # keep the old copy until the swapped-in directory proves readable
    spark.read.parquet(path).head(1)
    shutil.rmtree(swap)
    return n_out


# --- manifest tables: metadata-swap snapshots (minimal Delta/Iceberg shape) ---

MANIFEST_NAME = "_manifest"


def _manifest_path(table_path: str) -> str:
    import os

    return os.path.join(table_path, MANIFEST_NAME)


def _read_manifest(table_path: str, version: int | None = None) -> dict:
    import json
    import os

    if version is None:
        path = _manifest_path(table_path)
    else:
        path = os.path.join(table_path, f"{MANIFEST_NAME}.v{version:06d}")
        if not os.path.exists(path):
            raise ValueError(
                f"manifest table {table_path!r} has no version {version} "
                "(vacuumed, or never written)"
            )
    with open(path) as fh:
        return json.load(fh)


def _publish_json(path: str, manifest: dict) -> None:
    """Write ``manifest`` to ``path`` atomically: temp write + fsync + POSIX
    rename, so any concurrent reader of ``path`` sees a complete JSON
    document or nothing — never a partial write."""
    import json
    import os

    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.rename(tmp, path)


def _swap_manifest(table_path: str, manifest: dict) -> None:
    """Atomically publish a manifest: the versioned history copy is written
    first, then the current pointer — BOTH via write-temp + POSIX rename, so
    current-pointer readers AND time-travel readers of ``_manifest.v{N}``
    see either a complete snapshot or none, never a partial state."""
    import os

    versioned = os.path.join(
        table_path, f"{MANIFEST_NAME}.v{int(manifest['version']):06d}"
    )
    _publish_json(versioned, manifest)
    _publish_json(_manifest_path(table_path), manifest)


def write_manifest_snapshot(df: DataFrame, table_path: str, *, num_files: int | None = None) -> int:
    """Write ``df`` as the new snapshot of a manifest table and return the
    snapshot version.

    The minimal Delta/Iceberg-style commit protocol that closes the
    rename-pair race ``compact_lake_partition`` documents: data files are
    IMMUTABLE and uniquely named (``snap-<version>/part-*``), and the only
    mutable object is the one-file ``_manifest`` naming the live snapshot —
    swapped atomically (temp write + POSIX rename). A concurrent reader
    resolves the manifest first and then reads files that are never deleted
    by a commit (only by an explicit ``vacuum_manifest_table``), so there is
    NO FileNotFound window at all. Single-writer by contract (no CAS on
    rename; concurrent writers would need a lock service, same as Delta on
    plain object stores without a commit coordinator).

    Scale note: the manifest holds one relative path per part file of the
    CURRENT snapshot only — list size tracks snapshot file count (bounded by
    compaction), not table history; history cost lives in untracked old
    snapshot dirs until vacuum.
    """
    import os

    os.makedirs(table_path, exist_ok=True)
    version = 1
    if os.path.exists(_manifest_path(table_path)):
        version = int(_read_manifest(table_path)["version"]) + 1
    snap_dir = f"snap-{version:06d}"
    out = os.path.join(table_path, snap_dir)
    w = df.coalesce(num_files) if num_files else df
    w.write.mode("error").parquet(out)
    files = sorted(
        os.path.join(snap_dir, f)
        for f in os.listdir(out)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    # the schema rides in the manifest so a zero-file snapshot (empty df,
    # or a writer that emits no part files for empty partitions) stays
    # readable — read_manifest_snapshot reconstructs an empty frame from it
    _swap_manifest(
        table_path,
        {"version": version, "files": files, "schema": df.schema.json()},
    )
    return version


def read_manifest_snapshot(
    spark: SparkSession, table_path: str, *, version: int | None = None
) -> DataFrame:
    """Read a manifest-table snapshot: resolve ``_manifest`` (or, for time
    travel, the retained ``_manifest.v{N}`` history copy) once, then scan
    exactly the files it names. Immutable data files + atomic manifest swap
    = readers never race a compaction or rewrite; ``version=`` gives
    Iceberg-style snapshot-as-of reads until vacuum retires the version."""
    import os

    import json as _json

    m = _read_manifest(table_path, version)
    paths = [os.path.join(table_path, f) for f in m["files"]]
    if not paths:
        # zero-file snapshot: reconstruct the empty frame from the schema
        # stored at commit time instead of handing spark.read zero paths
        from pyspark.sql.types import StructType

        schema_json = m.get("schema")
        if schema_json is None:
            raise ValueError(
                f"manifest table {table_path!r} snapshot lists no files and "
                "predates schema-in-manifest; cannot reconstruct an empty frame"
            )
        schema = StructType.fromJson(_json.loads(schema_json))
        # parquet read-back reports every column nullable; normalize the
        # reconstructed empty frame the same way so snapshot schemas do not
        # flip with row count
        for f in schema.fields:
            f.nullable = True
        return spark.createDataFrame([], schema)
    return spark.read.parquet(*paths)


def compact_manifest_table(
    spark: SparkSession,
    table_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Compaction as a metadata swap: read the live snapshot, rewrite it
    into ~target-sized files as a NEW snapshot dir, atomically re-point the
    manifest. Concurrent readers are never broken — the files their
    resolved manifest names outlive the commit (until vacuum). Returns the
    new snapshot version."""
    import math
    import os

    m = _read_manifest(table_path)
    total = sum(
        os.path.getsize(os.path.join(table_path, f)) for f in m["files"]
    )
    n_out = max(1, math.ceil(total / target_file_bytes))
    df = read_manifest_snapshot(spark, table_path)
    return write_manifest_snapshot(df, table_path, num_files=n_out)


def vacuum_manifest_table(table_path: str, *, keep_versions: int = 1) -> list[str]:
    """Delete snapshot directories (and manifest history files) not
    referenced by the newest ``keep_versions`` manifests; return the
    removed names. The explicitly-retention-bound operation (Delta VACUUM
    semantics): safe once no reader still holds a manifest older than the
    retained window — run it after the read-timeout grace period, not
    inside the commit path. ``keep_versions`` > 1 preserves time travel to
    that many versions back."""
    import os
    import re
    import shutil

    keep_versions = max(1, keep_versions)
    current = int(_read_manifest(table_path)["version"])
    kept_range = range(current - keep_versions + 1, current + 1)
    live: set[str] = set()
    for v in kept_range:
        try:
            m = _read_manifest(table_path, v)
        except ValueError:
            continue  # version predates the table or already vacuumed
        live |= {f.split(os.sep, 1)[0] for f in m["files"]}
    removed = []
    # \d{6,}: the writer zero-pads to six digits but WIDENS past v999999 —
    # a fixed-width pattern would exempt those history files from retention
    vpat = re.compile(re.escape(MANIFEST_NAME) + r"\.v(\d{6,})$")
    for d in sorted(os.listdir(table_path)):
        full = os.path.join(table_path, d)
        if d.startswith("snap-") and d not in live and os.path.isdir(full):
            shutil.rmtree(full)
            removed.append(d)
            continue
        mv = vpat.match(d)
        if mv and int(mv.group(1)) not in kept_range:
            os.remove(full)
            removed.append(d)
    return removed
