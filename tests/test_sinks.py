"""Partitioned-lake sink + one-pass bulk backfill (scale path of A6/A14)."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from hubverse_transform_spark.sinks import (
    backfill_hub_dataset,
    overwrite_submission_partitions,
    write_hub_dataset,
)


def test_dynamic_overwrite_replaces_only_matching_partitions(spark, tmp_path: Path):
    lake = str(tmp_path / "lake")
    base = spark.createDataFrame(
        [("m1", "2024-01-01", 1.0), ("m1", "2024-01-08", 2.0), ("m2", "2024-01-01", 3.0)],
        ["model_id", "round_id", "value"],
    )
    write_hub_dataset(base, lake)

    # resubmission of (m1, 2024-01-01) with corrected values
    fix = spark.createDataFrame(
        [("m1", "2024-01-01", 9.0), ("m1", "2024-01-01", 9.5)],
        ["model_id", "round_id", "value"],
    )
    overwrite_submission_partitions(fix, lake)

    rows = spark.read.parquet(lake).collect()
    by_part: dict = {}
    for r in rows:
        by_part.setdefault((r["model_id"], str(r["round_id"])), []).append(r["value"])
    assert sorted(by_part[("m1", "2024-01-01")]) == [9.0, 9.5]  # replaced
    assert by_part[("m1", "2024-01-08")] == [2.0]  # untouched
    assert by_part[("m2", "2024-01-01")] == [3.0]  # untouched
    # conf restored
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") != "dynamic"


def test_backfill_builds_partitioned_lake(spark, hub_dir: Path, csv_numeric_file: Path):
    # two submissions -> one glob read -> one partitioned write
    second = hub_dir / "raw" / "2024-08-01-teamxyz-model.csv"
    second.write_text(csv_numeric_file.read_text())
    lake = hub_dir / "lake"

    df = backfill_hub_dataset(spark, str(hub_dir), str(lake))
    assert set(df.columns) >= {"round_id", "model_id"}

    # hive layout: model_id=<...>/round_id=<...>
    dirs = {p.name for p in lake.iterdir() if p.is_dir()}
    assert dirs == {
        "model_id=teamabc-output_type_ids_numeric",
        "model_id=teamxyz-model",
    }

    back = spark.read.parquet(str(lake))
    assert back.count() == 12
    # partition pruning: filtering on the partition column scans one partition
    one = back.filter(F.col("model_id") == "teamxyz-model")
    assert one.count() == 6


def test_backfill_rejects_reordered_csv_header(spark, hub_dir: Path, csv_numeric_file: Path):
    """A submission whose header swaps two same-typed columns fails the
    backfill instead of landing its values in each other's columns; the
    per-file pipeline still lands it by column name."""
    import csv
    import io

    import pytest

    from hubverse_transform_spark.transform import ModelOutputPipeline

    rows = list(csv.reader(io.StringIO(csv_numeric_file.read_text())))
    swapped = io.StringIO()
    writer = csv.writer(swapped, quoting=csv.QUOTE_ALL, lineterminator="\n")
    writer.writerows([r[0], r[3], r[2], r[1], *r[4:]] for r in rows)  # target <-> location
    (hub_dir / "raw" / "2024-08-01-teamxyz-model.csv").write_text(swapped.getvalue())

    with pytest.raises(Exception, match="CSV header does not conform to the schema"):
        backfill_hub_dataset(spark, str(hub_dir), str(hub_dir / "lake"))

    out = hub_dir / "out"
    landed = {}
    for name in (csv_numeric_file.name, "2024-08-01-teamxyz-model.csv"):
        mo = ModelOutputPipeline(spark, str(hub_dir), f"raw/{name}", str(out))
        df = spark.read.parquet(mo.add_model_output()).drop("round_id", "model_id")
        landed[name] = sorted(df.select(*sorted(df.columns)).collect(), key=repr)
    assert landed[csv_numeric_file.name] == landed["2024-08-01-teamxyz-model.csv"]
    assert {r["target"] for r in landed[csv_numeric_file.name]} == {
        "wk inc flu hosp", "wk flu hosp rate change",
    }


def test_backfill_lands_what_the_per_file_pipeline_lands(
    spark, hub_dir: Path, csv_numeric_file: Path, caplog
):
    """Backfill is the per-object Lambda re-fired over raw/ (A14): for every
    file ModelOutputPipeline accepts, the lake holds its rows under the
    pipeline's (model_id, round_id); a file the pipeline rejects lands no
    rows and logs one warning."""
    import logging
    import os

    import pytest

    from hubverse_transform_spark.transform import ModelOutputPipeline
    from tests.conftest import SUBMISSION_NAME_CASES

    raw = hub_dir / "raw"
    for name in SUBMISSION_NAME_CASES:
        (raw / name).write_text(csv_numeric_file.read_text())
    lake = hub_dir / "lake"
    with caplog.at_level(logging.WARNING, logger="hubverse_transform_spark.transform"):
        backfill_hub_dataset(spark, str(hub_dir), str(lake))

    def rows(df):
        out: dict = {}
        for r in df.collect():
            out.setdefault((r["model_id"], r["round_id"]), []).append(repr(sorted(r.asDict().items())))
        return {k: sorted(v) for k, v in out.items()}

    want, rejected = {}, []
    for name in [csv_numeric_file.name, *SUBMISSION_NAME_CASES]:
        try:
            mo = ModelOutputPipeline(spark, str(hub_dir), f"raw/{name}", str(hub_dir / "out"))
        except ValueError:
            rejected.append(name)
            continue
        want |= rows(mo.add_columns(mo.read_file()))
    assert len(want) == 5 and len(rejected) == 3

    for name in rejected:
        assert sum(f" {name}:" in r.getMessage() for r in caplog.records) == 1, name
    assert not any("__HIVE_DEFAULT_PARTITION__" in d for d, _, _ in os.walk(lake))
    back = spark.read.parquet(str(lake)).withColumn("round_id", F.col("round_id").cast("string"))
    assert rows(back) == want

    (hub_dir / "misnamed").mkdir()
    for name in rejected:
        (raw / name).rename(hub_dir / "misnamed" / name)
    with pytest.raises(ValueError, match="no submission file"):
        backfill_hub_dataset(spark, str(hub_dir), str(lake), raw_dir="misnamed")


def test_bucketed_join_avoids_shuffle(spark, tmp_path: Path):
    import shutil

    from hubverse_transform_spark.plans.inspect import explain_str
    from hubverse_transform_spark.sinks import write_bucketed_table

    # the in-memory catalog forgets tables between sessions but their managed
    # locations persist — clear leftovers or saveAsTable raises
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("t_orders_b", "t_cust_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)

    o = spark.range(0, 1000).selectExpr("id AS custkey", "id * 2 AS total")
    c = spark.range(0, 100).selectExpr("id AS custkey", "concat('c', id) AS name")
    write_bucketed_table(o, "t_orders_b", bucket_col="custkey", num_buckets=4, sort_col="custkey")
    write_bucketed_table(c, "t_cust_b", bucket_col="custkey", num_buckets=4, sort_col="custkey")

    ob, cb = spark.table("t_orders_b"), spark.table("t_cust_b")
    joined = ob.join(cb.hint("merge"), on="custkey")
    plan = explain_str(joined)
    assert "Exchange" not in plan, plan  # co-located buckets: zero shuffles
    assert joined.count() == 100


def test_lake_partition_pruning(spark, tmp_path: Path):
    from hubverse_transform_spark.plans.inspect import explain_str

    lake = str(tmp_path / "lake")
    df = spark.createDataFrame(
        [("m1", "2024-01-01", 1.0), ("m2", "2024-01-01", 2.0), ("m3", "2024-01-08", 3.0)],
        ["model_id", "round_id", "value"],
    )
    write_hub_dataset(df, lake)
    pruned = spark.read.parquet(lake).filter(F.col("model_id") == "m2")
    plan = explain_str(pruned)
    # the provenance filter must prune partitions at the scan, not post-filter
    assert "PartitionFilters" in plan and "model_id" in plan.split("PartitionFilters")[1][:200]
    assert pruned.count() == 1


def test_write_hub_dataset_appends(spark, tmp_path: Path):
    lake = str(tmp_path / "lake")
    df = spark.createDataFrame(
        [("m1", "2024-01-01", 1.0)], ["model_id", "round_id", "value"]
    )
    write_hub_dataset(df, lake)
    write_hub_dataset(df, lake)  # append mode: second write adds rows
    assert spark.read.parquet(lake).count() == 2


def test_zorder_layout_tightens_file_bounds(spark, tmp_path):
    """Z-ordered files must carry much tighter per-file min/max footer bounds
    on BOTH clustering columns than a round-robin layout of the same rows —
    that bounding-box shrinkage IS the file-skipping win."""
    import glob as globmod

    import pyarrow.parquet as pq

    from hubverse_transform_spark.session import load_table
    from hubverse_transform_spark.sinks import write_zorder_layout

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    naive, zpath = str(tmp_path / "naive"), str(tmp_path / "zorder")
    li.repartition(8).write.parquet(naive)
    write_zorder_layout(li, zpath, cols=("l_partkey", "l_suppkey"), num_files=8)

    assert spark.read.parquet(zpath).count() == li.count()

    def total_bbox_area(path):
        total = 0.0
        for f in globmod.glob(path + "/*.parquet"):
            md = pq.read_metadata(f)
            lo = {"l_partkey": None, "l_suppkey": None}
            hi = {"l_partkey": None, "l_suppkey": None}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    name = col.path_in_schema
                    if name in lo and col.statistics is not None:
                        s = col.statistics
                        lo[name] = s.min if lo[name] is None else min(lo[name], s.min)
                        hi[name] = s.max if hi[name] is None else max(hi[name], s.max)
            total += (hi["l_partkey"] - lo["l_partkey"] + 1) * (
                hi["l_suppkey"] - lo["l_suppkey"] + 1
            )
        return total

    # round-robin: every file spans ~the full 2-D range; z-order: each file
    # covers a small curve segment. Require at least a 2x total shrinkage
    # (observed is far larger).
    assert total_bbox_area(zpath) < 0.5 * total_bbox_area(naive)


def test_compact_lake_partition(spark, tmp_path):
    from hubverse_transform_spark.sinks import compact_lake_partition

    path = str(tmp_path / "part")
    # 8 tiny files via 8-way repartition
    spark.range(10_000).repartition(8).write.parquet(path)
    import os

    before = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(before) == 8
    n_out = compact_lake_partition(spark, path, target_file_bytes=1 << 30)
    after = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert n_out == 1 and len(after) == 1
    # contents identical after the swap
    assert spark.read.parquet(path).count() == 10_000
    got = sorted(r.id for r in spark.read.parquet(path).collect())
    assert got == list(range(10_000))


def test_compact_lake_partition_reconciles_stale_leftovers(spark, tmp_path):
    """A crashed prior run may leave '._compacting' (incomplete rewrite) or
    an orphaned '._old' with the live path missing (crash between the two
    renames). A retry must reconcile both instead of failing on rename."""
    import os
    import shutil

    from hubverse_transform_spark.sinks import compact_lake_partition

    path = str(tmp_path / "part")
    spark.range(1_000).repartition(4).write.parquet(path)

    # stale incomplete rewrite + stale old copy alongside a live dir
    os.makedirs(path + "._compacting")
    shutil.copytree(path, path + "._old")
    n_out = compact_lake_partition(spark, path, target_file_bytes=1 << 30)
    assert n_out == 1
    assert not os.path.exists(path + "._compacting")
    assert not os.path.exists(path + "._old")
    assert spark.read.parquet(path).count() == 1_000

    # crash between the renames: live path gone, data stranded under ._old
    os.rename(path, path + "._old")
    compact_lake_partition(spark, path, target_file_bytes=1 << 30)
    assert os.path.exists(path) and not os.path.exists(path + "._old")
    assert spark.read.parquet(path).count() == 1_000


def test_manifest_table_snapshot_roundtrip(spark, tmp_path):
    """write -> read resolves through _manifest; a second snapshot swaps
    atomically and bumps the version; vacuum removes only orphaned dirs."""
    import os

    from hubverse_transform_spark.sinks import (
        compact_manifest_table,
        read_manifest_snapshot,
        vacuum_manifest_table,
        write_manifest_snapshot,
    )

    tbl = str(tmp_path / "tbl")
    df1 = spark.range(100).withColumnRenamed("id", "v")
    v1 = write_manifest_snapshot(df1.repartition(4), tbl)
    assert v1 == 1
    assert read_manifest_snapshot(spark, tbl).count() == 100

    v2 = compact_manifest_table(spark, tbl)
    assert v2 == 2
    assert read_manifest_snapshot(spark, tbl).count() == 100
    # both snapshot dirs still on disk (no delete inside the commit path)
    snaps = sorted(d for d in os.listdir(tbl) if d.startswith("snap-"))
    assert snaps == ["snap-000001", "snap-000002"]
    # time travel: the superseded version stays readable until vacuum
    assert read_manifest_snapshot(spark, tbl, version=1).count() == 100

    removed = vacuum_manifest_table(tbl)
    assert removed == ["_manifest.v000001", "snap-000001"]
    assert read_manifest_snapshot(spark, tbl).count() == 100
    import pytest

    with pytest.raises(ValueError, match="no version 1"):
        read_manifest_snapshot(spark, tbl, version=1)


def test_manifest_table_time_travel_retention(spark, tmp_path):
    """keep_versions retains a time-travel window: older snapshots vacuum
    away, every retained version still resolves and reads."""
    from hubverse_transform_spark.sinks import (
        read_manifest_snapshot,
        vacuum_manifest_table,
        write_manifest_snapshot,
    )

    tbl = str(tmp_path / "tbl")
    for n in (10, 20, 30):
        write_manifest_snapshot(spark.range(n).withColumnRenamed("id", "v"), tbl)
    removed = vacuum_manifest_table(tbl, keep_versions=2)
    assert removed == ["_manifest.v000001", "snap-000001"]
    assert read_manifest_snapshot(spark, tbl, version=2).count() == 20
    assert read_manifest_snapshot(spark, tbl, version=3).count() == 30
    assert read_manifest_snapshot(spark, tbl).count() == 30


def test_manifest_reader_never_breaks_during_compaction(spark, tmp_path):
    """The round-3 verdict's concurrent-reader gate: a reader hammering the
    table while compactions repeatedly swap the manifest NEVER errors and
    always sees a complete snapshot (the rename-pair form had a documented
    FileNotFound window here)."""
    import threading

    from hubverse_transform_spark.sinks import (
        compact_manifest_table,
        read_manifest_snapshot,
        write_manifest_snapshot,
    )

    tbl = str(tmp_path / "tbl")
    write_manifest_snapshot(
        spark.range(500).withColumnRenamed("id", "v").repartition(8), tbl
    )

    errors: list[BaseException] = []
    counts: list[int] = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                counts.append(read_manifest_snapshot(spark, tbl).count())
            except BaseException as exc:  # any error fails the gate
                errors.append(exc)
                return

    t = threading.Thread(target=reader)
    t.start()
    try:
        for _ in range(4):
            compact_manifest_table(spark, tbl, target_file_bytes=10**9)
    finally:
        stop.set()
        t.join(60)
    assert not errors, errors
    assert counts and all(c == 500 for c in counts)


def test_manifest_empty_snapshot_roundtrip(spark, tmp_path):
    """A snapshot that lists zero part files (empty frame) must stay
    readable: the schema rides in the manifest and the read reconstructs
    an empty frame instead of handing spark.read no paths (r4 ADVICE)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructField, StructType

    from hubverse_transform_spark.sinks import (
        read_manifest_snapshot,
        write_manifest_snapshot,
    )

    tbl = str(tmp_path / "tbl")
    base = spark.range(10).withColumnRenamed("id", "v").withColumn("s", F.lit("x"))
    empty = base.filter(F.col("v") < 0).repartition(1)
    # parquet read-back reports nullable columns; the empty reconstruction
    # must match that, not the writer frame's nullability
    expected = StructType(
        [StructField(f.name, f.dataType, True) for f in base.schema.fields]
    )
    write_manifest_snapshot(empty, tbl)
    got = read_manifest_snapshot(spark, tbl)
    assert got.count() == 0
    assert got.schema == expected

    # manifest hand-edited to zero files (writer that emits none): same path
    import json
    import os

    m = json.load(open(os.path.join(tbl, "_manifest")))
    m["files"] = []
    with open(os.path.join(tbl, "_manifest"), "w") as fh:
        json.dump(m, fh)
    got2 = read_manifest_snapshot(spark, tbl)
    assert got2.count() == 0 and got2.schema == expected


def test_manifest_vacuum_handles_wide_versions(tmp_path):
    """Version numbers past 999999 widen beyond six digits; the vacuum
    pattern must still match those history files (r4 ADVICE)."""
    import json
    import os

    from hubverse_transform_spark.sinks import vacuum_manifest_table

    tbl = tmp_path / "tbl"
    tbl.mkdir()
    for v in (1_000_000, 1_000_001):
        snap = f"snap-{v:06d}"
        (tbl / snap).mkdir()
        (tbl / snap / "part-0.parquet").write_bytes(b"PAR1")
        manifest = {"version": v, "files": [f"{snap}/part-0.parquet"]}
        (tbl / f"_manifest.v{v:06d}").write_text(json.dumps(manifest))
    (tbl / "_manifest").write_text(
        json.dumps({"version": 1_000_001, "files": ["snap-1000001/part-0.parquet"]})
    )
    removed = vacuum_manifest_table(str(tbl), keep_versions=1)
    assert removed == ["_manifest.v1000000", "snap-1000000"]
    assert sorted(os.listdir(tbl)) == [
        "_manifest",
        "_manifest.v1000001",
        "snap-1000001",
    ]


def test_manifest_history_copy_published_atomically(tmp_path):
    """Both the current pointer AND the versioned history copy go through
    temp-write + rename: no .tmp residue, and a time-travel reader polling
    the history path mid-commit sees complete JSON or ENOENT (r4 ADVICE)."""
    import json
    import os

    from hubverse_transform_spark.sinks import _swap_manifest

    tbl = tmp_path / "tbl"
    tbl.mkdir()
    real_rename = os.rename
    observed: list[str] = []

    def spying_rename(src, dst):
        # at every rename boundary the history path, if present, parses
        hist = tbl / "_manifest.v000007"
        if hist.exists():
            json.loads(hist.read_text())
        observed.append(os.path.basename(dst))
        return real_rename(src, dst)

    os.rename = spying_rename
    try:
        _swap_manifest(str(tbl), {"version": 7, "files": ["snap-000007/p.parquet"]})
    finally:
        os.rename = real_rename
    # history copy renamed into place before the current pointer
    assert observed == ["_manifest.v000007", "_manifest"]
    assert not [f for f in os.listdir(tbl) if f.endswith(".tmp")]
    assert json.loads((tbl / "_manifest.v000007").read_text())["version"] == 7
