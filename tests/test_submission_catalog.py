"""Python DataSource API: the submission-catalog source."""

from __future__ import annotations

from pathlib import Path

from hubverse_transform_spark.sources.submission_catalog import register


def test_submission_catalog_lists_and_parses(spark, tmp_path: Path):
    raw = tmp_path / "raw"
    raw.mkdir()
    (raw / "2024-06-01-acme-model.csv").write_text("a,b\n1,2\n")
    (raw / "2024-06-08_team_two.parquet").write_bytes(b"PAR1fake")
    (raw / "notes.txt").write_text("not a submission")
    (raw / "2024-06-15.csv").write_text("a\n")  # no model id -> invalid

    register(spark)
    df = spark.read.format("hubverse_submissions").load(str(raw))
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
    raw = tmp_path / "raw"
    raw.mkdir()
    (raw / "2024-06-01-m1.csv").write_text("x\n1\n")
    (raw / "junk.log").write_text("no")
    register(spark)
    cat = spark.read.format("hubverse_submissions").load(str(raw))
    valid_paths = [r.path for r in cat.filter("valid").collect()]
    assert valid_paths == [str(raw / "2024-06-01-m1.csv")]


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

    register(spark)
    df = spark.read.format("hubverse_submissions").load(str(hub_dir / "raw"))
    assert {r.file_name: (r.round_id, r.model_id, r.valid) for r in df.collect()} == want


def test_streaming_catalog_incremental_discovery(spark, tmp_path):
    """Two availableNow runs over one checkpoint: batch 2 emits only files
    added after batch 1. Runs under the DEFAULT offset mode — bounded
    mtime-watermark offsets since round 4 — so this doubles as the
    restart-under-new-default gate."""
    from hubverse_transform_spark.sources.submission_catalog import register_streaming

    register_streaming(spark)
    sub = tmp_path / "subs"
    sub.mkdir()
    (sub / "2024-06-01-acme-model.csv").write_text("a,b\n1,2\n")
    (sub / "notes.txt").write_text("x")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        q = (
            spark.readStream.format("hubverse_submissions_stream")
            .load(str(sub))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    first = spark.read.parquet(out)
    assert first.count() == 2
    by_name = {r.file_name: r for r in first.collect()}
    assert by_name["2024-06-01-acme-model.csv"].valid
    assert by_name["2024-06-01-acme-model.csv"].model_id == "acme-model"
    assert not by_name["notes.txt"].valid

    (sub / "2024-06-08-beta-model.parquet").write_bytes(b"PAR1")
    run_once()
    second = spark.read.parquet(out)
    # only the new file was appended; no re-emission of already-seen files
    assert second.count() == 3
    assert second.filter("file_name = '2024-06-08-beta-model.parquet'").count() == 1


def test_streaming_catalog_mtime_watermark_mode(spark, tmp_path):
    """offset_mode=mtime: same incremental semantics through the watermark
    offset (bounded offset size), including mtime ties at the boundary."""
    import os

    from hubverse_transform_spark.sources.submission_catalog import register_streaming

    register_streaming(spark)
    sub = tmp_path / "subs"
    sub.mkdir()
    a = sub / "2024-06-01-acme-model.csv"
    a.write_text("a,b\n1,2\n")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        q = (
            spark.readStream.format("hubverse_submissions_stream")
            .option("offset_mode", "mtime")
            .load(str(sub))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert spark.read.parquet(out).count() == 1

    # second file pinned to EXACTLY the watermark mtime (the tie case) plus
    # a third with a newer mtime
    b = sub / "2024-06-02-beta-model.csv"
    b.write_text("a,b\n3,4\n")
    os.utime(b, (os.path.getmtime(a), os.path.getmtime(a)))
    c = sub / "2024-06-08-cgam-model.parquet"
    c.write_bytes(b"PAR1")
    run_once()
    second = spark.read.parquet(out)
    assert second.count() == 3
    # no duplicates on a third idle run
    run_once()
    assert spark.read.parquet(out).count() == 3


def test_stream_reader_mtime_offsets_are_bounded(tmp_path):
    """The mtime offset must not accumulate history: its size tracks the
    boundary + last batch, not the total file count."""
    from hubverse_transform_spark.sources.submission_catalog import (
        SubmissionStreamReader,
    )

    sub = tmp_path / "subs"
    sub.mkdir()
    reader = SubmissionStreamReader({"path": str(sub), "offset_mode": "mtime"})
    offset = reader.initialOffset()
    import os

    for i in range(5):
        p = sub / f"2024-06-0{i + 1}-m{i}-model.csv"
        p.write_text("x,y\n1,2\n")
        os.utime(p, (1000.0 + i, 1000.0 + i))
        rows, offset = reader.read(offset)
        assert len(list(rows)) == 1
    # after 5 batches over 5 files: boundary is the single newest file,
    # batch is the last singleton — NOT all 5 paths
    assert offset["wm"] == 1004.0
    assert len(offset["boundary"]) == 1 and len(offset["batch"]) == 1


def test_stream_reader_default_is_mtime_and_honors_seen_checkpoints(tmp_path):
    """The default offset mode is the bounded mtime watermark; a checkpoint
    written under 'seen' mode keeps its lineage after a restart with the
    new default (dispatch is on the offset's shape, not the option)."""
    from hubverse_transform_spark.sources.submission_catalog import (
        SubmissionStreamReader,
    )

    sub = tmp_path / "subs"
    sub.mkdir()
    (sub / "2024-06-01-m1-model.csv").write_text("x,y\n1,2\n")

    default_reader = SubmissionStreamReader({"path": str(sub)})
    assert default_reader.mode == "mtime"
    assert "wm" in default_reader.initialOffset()

    # legacy seen-mode checkpoint replayed through a default-mode reader
    seen_reader = SubmissionStreamReader({"path": str(sub), "offset_mode": "seen"})
    off0 = seen_reader.initialOffset()
    rows, off1 = seen_reader.read(off0)
    assert len(list(rows)) == 1 and "seen" in off1

    (sub / "2024-06-02-m2-model.csv").write_text("x,y\n3,4\n")
    rows2, off2 = default_reader.read(off1)  # seen-shaped offset, mtime reader
    emitted = [r[1] for r in rows2]
    assert emitted == ["2024-06-02-m2-model.csv"]
    assert "seen" in off2 and len(off2["seen"]) == 2


def test_stream_reader_default_mode_warns_explicit_does_not(tmp_path):
    """The defaulted mtime mode can silently skip backfilled files — the
    reader must say so visibly; an explicit choice (either mode, or a
    grace window) is silent (r4 ADVICE)."""
    import warnings

    from hubverse_transform_spark.sources.submission_catalog import (
        SubmissionStreamReader,
    )

    sub = tmp_path / "subs"
    sub.mkdir()
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        SubmissionStreamReader({"path": str(sub)})
    assert any("backfilled" in str(w.message) for w in caught)

    for opts in (
        {"offset_mode": "mtime"},
        {"offset_mode": "seen"},
        {"mtime_grace_seconds": "60"},
    ):
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            SubmissionStreamReader({"path": str(sub), **opts})
        assert not caught, opts


def test_stream_reader_mtime_grace_discovers_bounded_backfill(tmp_path):
    """mtime_grace_seconds: a file backfilled with an mtime within the grace
    window of the watermark IS discovered; one below it is still skipped;
    the offset stays bounded by the window, not history."""
    import os

    from hubverse_transform_spark.sources.submission_catalog import (
        SubmissionStreamReader,
    )

    sub = tmp_path / "subs"
    sub.mkdir()
    reader = SubmissionStreamReader(
        {"path": str(sub), "offset_mode": "mtime", "mtime_grace_seconds": "10"}
    )
    offset = reader.initialOffset()

    a = sub / "2024-06-01-m1-model.csv"
    a.write_text("x,y\n1,2\n")
    os.utime(a, (1000.0, 1000.0))
    rows, offset = reader.read(offset)
    assert len(list(rows)) == 1 and offset["wm"] == 1000.0

    # backfill INSIDE the window (995 >= 1000 - 10) -> discovered once
    b = sub / "2024-06-02-m2-model.csv"
    b.write_text("x,y\n3,4\n")
    os.utime(b, (995.0, 995.0))
    rows, offset = reader.read(offset)
    assert [r[1] for r in rows] == ["2024-06-02-m2-model.csv"]
    rows, offset = reader.read(offset)  # idempotent on re-walk
    assert list(rows) == []

    # backfill BELOW the window (985 < 1000 - 10) -> permanently skipped
    c = sub / "2024-06-03-m3-model.csv"
    c.write_text("x,y\n5,6\n")
    os.utime(c, (985.0, 985.0))
    rows, offset = reader.read(offset)
    assert list(rows) == []

    # offset carries only files within the window of the watermark
    assert sorted(offset["boundary"]) == [str(a), str(b)]

    # watermark advances far enough -> old files age out of the offset
    d = sub / "2024-06-04-m4-model.csv"
    d.write_text("x,y\n7,8\n")
    os.utime(d, (2000.0, 2000.0))
    rows, offset = reader.read(offset)
    assert [r[1] for r in rows] == ["2024-06-04-m4-model.csv"]
    assert offset["boundary"] == [str(d)] and offset["wm"] == 2000.0
