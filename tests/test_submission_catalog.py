"""The submission catalog: Spark's file listing, named by ``submission_name``."""

from __future__ import annotations

import os
from pathlib import Path

from hubverse_transform_spark.sources.submission_catalog import read_submission_catalog, stream_submission_catalog


def test_submission_catalog_lists_and_parses(spark, tmp_path: Path):
    raw = tmp_path / "raw"
    raw.mkdir()
    (raw / "2024-06-01-acme-model.csv").write_text("a,b\n1,2\n")
    (raw / "2024-06-08_team_two.parquet").write_bytes(b"PAR1fake")
    (raw / "notes.txt").write_text("not a submission")
    (raw / "2024-06-15.csv").write_text("a\n")  # no model id -> invalid

    df = read_submission_catalog(spark, str(raw))
    rows = {r.file_name: r for r in df.collect()}
    assert len(rows) == 4

    ok = rows["2024-06-01-acme-model.csv"]
    assert (ok.round_id, ok.model_id, ok.valid) == ("2024-06-01", "acme-model", True)
    assert ok.size_bytes == len("a,b\n1,2\n")

    pq = rows["2024-06-08_team_two.parquet"]
    assert (pq.round_id, pq.model_id, pq.valid) == ("2024-06-08", "team_two", True)

    assert rows["notes.txt"].valid is False
    assert rows["notes.txt"].round_id is None
    assert rows["2024-06-15.csv"].valid is False
    assert rows["2024-06-15.csv"].model_id is None


def test_submission_catalog_joins_with_pipeline(spark, tmp_path: Path):
    # the catalog drives selection: only valid files feed the content reader
    from pyspark.sql.types import IntegerType, StructField, StructType

    from hubverse_transform_spark.sources.model_output import read_model_output

    raw = tmp_path / "raw"
    raw.mkdir()
    (raw / "2024-06-01-m1.csv").write_text("x\n1\n")
    (raw / "junk.log").write_text("no")
    cat = read_submission_catalog(spark, str(raw))
    valid_paths = [r.path for r in cat.filter("valid").collect()]
    assert valid_paths == [f"file:{raw / '2024-06-01-m1.csv'}"]
    schema = StructType([StructField("x", IntegerType())])
    assert [r.x for r in read_model_output(spark, valid_paths[0], schema).collect()] == [1]


def test_submission_catalog_lists_uri_roots(spark, tmp_path: Path):
    """A ``file://`` URI root lists what the plain path lists."""
    raw = tmp_path / "raw"
    (raw / "sub").mkdir(parents=True)
    (raw / "2024-06-01-acme-model.csv").write_text("a\n1\n")
    (raw / "sub" / "2024-06-08-team-two.parquet").write_bytes(b"PAR1fake")
    (raw / "notes.txt").write_text("x")

    def rows(root):
        return sorted(tuple(r) for r in read_submission_catalog(spark, root).collect())

    assert len(rows(str(raw))) == 3
    assert rows(raw.as_uri()) == rows(str(raw))


def test_submission_catalog_agrees_with_per_file_path(spark, hub_dir: Path):
    """The catalog's (round_id, model_id, valid) is what ModelOutputPipeline
    yields for the same file, or (None, None, False) where it refuses it."""
    from hubverse_transform_spark.transform import ModelOutputPipeline
    from tests.conftest import SUBMISSION_NAME_CASES

    names = [*SUBMISSION_NAME_CASES, "2024-07-14-team.CSV"]
    for name in names:
        (hub_dir / "raw" / name).write_text("a\n1\n")
    want = {}
    for name in names:
        try:
            mo = ModelOutputPipeline(spark, str(hub_dir), f"raw/{name}", str(hub_dir / "out"))
            want[name] = (mo.round_id, mo.model_id, True)
        except (UserWarning, ValueError):
            want[name] = (None, None, False)
    assert sum(v[2] for v in want.values()) == 4

    df = read_submission_catalog(spark, str(hub_dir / "raw"))
    assert {r.file_name: (r.round_id, r.model_id, r.valid) for r in df.collect()} == want


def _stream_catalog_once(spark, sub: Path, out: str, ckpt: str) -> None:
    q = (
        stream_submission_catalog(spark, str(sub))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_streaming_catalog_incremental_discovery(spark, tmp_path):
    """Two availableNow runs over one checkpoint: batch 2 emits only files
    added after batch 1."""
    sub = tmp_path / "subs"
    sub.mkdir()
    (sub / "2024-06-01-acme-model.csv").write_text("a,b\n1,2\n")
    (sub / "notes.txt").write_text("x")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    _stream_catalog_once(spark, sub, out, ckpt)
    first = spark.read.parquet(out)
    assert first.count() == 2
    by_name = {r.file_name: r for r in first.collect()}
    assert by_name["2024-06-01-acme-model.csv"].valid
    assert by_name["2024-06-01-acme-model.csv"].model_id == "acme-model"
    assert not by_name["notes.txt"].valid

    (sub / "2024-06-08-beta-model.parquet").write_bytes(b"PAR1")
    _stream_catalog_once(spark, sub, out, ckpt)
    second = spark.read.parquet(out)
    # only the new file was appended; no re-emission of already-seen files
    assert second.count() == 3
    assert second.filter("file_name = '2024-06-08-beta-model.parquet'").count() == 1


def test_streaming_catalog_emits_back_dated_file(spark, tmp_path):
    """A file copied in with a modification time an hour older than every
    file already seen is still emitted, once, by the next run."""
    sub = tmp_path / "subs"
    sub.mkdir()
    seen = sub / "2024-06-01-acme-model.csv"
    seen.write_text("a,b\n1,2\n")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _stream_catalog_once(spark, sub, out, ckpt)
    assert spark.read.parquet(out).count() == 1

    late = sub / "2024-05-25-beta-model.csv"
    late.write_text("a,b\n3,4\n")
    mtime = os.path.getmtime(seen) - 3600
    os.utime(late, (mtime, mtime))
    _stream_catalog_once(spark, sub, out, ckpt)
    _stream_catalog_once(spark, sub, out, ckpt)
    names = sorted(r.file_name for r in spark.read.parquet(out).collect())
    assert names == ["2024-05-25-beta-model.csv", "2024-06-01-acme-model.csv"]
