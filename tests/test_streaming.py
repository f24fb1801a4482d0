"""Streaming-path tests: file-source ingestion parity (A13/A14) and windowed
aggregations running in actual streaming mode (not just the batch form)."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from hubverse_transform_spark.streaming.ingest import stream_model_outputs
from hubverse_transform_spark.streaming.windows import tumbling_window_agg


def test_stream_model_outputs_processes_new_files(spark, hub_dir: Path, csv_numeric_file: Path):
    ckpt = str(hub_dir / "ckpt")
    q = stream_model_outputs(spark, str(hub_dir), checkpoint_dir=ckpt)
    q.awaitTermination()

    out1 = hub_dir / "out" / "2024-07-07-teamabc-output_type_ids_numeric.parquet"
    df = spark.read.parquet(str(out1))
    assert df.count() == 6
    assert df.select("model_id").distinct().collect()[0][0] == "teamabc-output_type_ids_numeric"
    assert df.select("round_id").distinct().collect()[0][0] == "2024-07-07"

    # drop a second file; a new availableNow run on the SAME checkpoint picks
    # up only the new file (incremental discovery), first output untouched
    second = hub_dir / "raw" / "2024-08-01-teamxyz-model.csv"
    second.write_text(csv_numeric_file.read_text())
    q2 = stream_model_outputs(spark, str(hub_dir), checkpoint_dir=ckpt)
    q2.awaitTermination()
    out2 = hub_dir / "out" / "2024-08-01-teamxyz-model.parquet"
    df2 = spark.read.parquet(str(out2))
    assert df2.count() == 6
    assert df2.select("model_id").distinct().collect()[0][0] == "teamxyz-model"


def test_invalid_file_skipped_not_fatal(spark, hub_dir: Path, csv_numeric_file: Path):
    # a file whose name has no model id raises ValueError inside the batch fn;
    # the stream logs and continues (Lambda parity: failed file just absent)
    bad = hub_dir / "raw" / "2024-07-07.csv"
    bad.write_text(csv_numeric_file.read_text())
    q = stream_model_outputs(spark, str(hub_dir), checkpoint_dir=str(hub_dir / "ckpt2"))
    q.awaitTermination()
    assert (hub_dir / "out" / "2024-07-07-teamabc-output_type_ids_numeric.parquet").exists()
    assert not (hub_dir / "out" / "2024-07-07.parquet").exists()


def test_drain_lists_files_without_reading_rows(spark, hub_dir: Path, csv_numeric_file: Path):
    # discovery is a file listing: one input row per file, not per CSV line
    for name in ("2024-08-01-teamxyz-model.csv", "2024-08-08-teamxyz-model.csv"):
        (hub_dir / "raw" / name).write_text(csv_numeric_file.read_text())
    q = stream_model_outputs(spark, str(hub_dir), checkpoint_dir=str(hub_dir / "ckpt"))
    q.awaitTermination()
    assert sum(p.numInputRows for p in q.recentProgress) == 3
    assert len(list((hub_dir / "out").glob("*.parquet"))) == 3


def test_one_stream_lands_csv_and_parquet(
    spark, hub_dir: Path, csv_numeric_file: Path, parquet_empty_string_file: Path
):
    # the format follows each file's suffix; unsupported files are not listed
    (hub_dir / "raw" / "2024-07-07-teamabc-notes.txt").write_text("not a submission")
    q = stream_model_outputs(spark, str(hub_dir), checkpoint_dir=str(hub_dir / "ckpt"))
    q.awaitTermination()
    assert sorted(p.name for p in (hub_dir / "out").glob("*.parquet")) == [
        "2024-07-07-teamabc-empty_strings.parquet",
        "2024-07-07-teamabc-output_type_ids_numeric.parquet",
    ]
    rows = spark.read.parquet(str(hub_dir / "out" / "2024-07-07-teamabc-empty_strings.parquet"))
    assert [r["location"] for r in rows.collect()] == ["", "02"]


def test_stream_lands_names_that_percent_encoding_changes(spark, hub_dir: Path):
    # each accepted name lands under its sanitized stem, as its Lambda would
    from tests.conftest import CSV_NUMERIC, SUBMISSION_NAME_CASES

    for name in SUBMISSION_NAME_CASES:
        (hub_dir / "raw" / name).write_text(CSV_NUMERIC)
    q = stream_model_outputs(spark, str(hub_dir), checkpoint_dir=str(hub_dir / "ckpt"))
    q.awaitTermination()
    assert sorted(p.name for p in (hub_dir / "out").glob("*.parquet")) == [
        "2024-07-14-%C3%A9quipe.parquet",
        "2024-07-14-team%20a.parquet",
        "2024-07-14-team%2Bc.parquet",
        "2024-07-14_team-b.parquet",
    ]
    assert spark.read.parquet(str(hub_dir / "out")).count() == 4 * (len(CSV_NUMERIC.splitlines()) - 1)


def test_dispatch_object_event_logs_and_suppresses(spark, caplog):
    # same failure policy as the stream: a malformed event is logged, not raised
    from hubverse_transform_spark.streaming.ingest import dispatch_object_event

    restore = {"Records": [{"eventName": "ObjectRestore:Post",
                            "s3": {"bucket": {"name": "b"}, "object": {"key": "raw/x.csv"}}}]}
    with caplog.at_level("INFO", logger="hubverse_transform_spark.streaming.ingest"):
        assert dispatch_object_event(spark, restore) is None
        assert dispatch_object_event(spark, {"Records": []}) is None
    assert [r.levelname for r in caplog.records] == ["INFO", "ERROR"]
    assert "not supported" in caplog.records[0].getMessage()


def test_tumbling_window_agg_streaming_with_watermark(spark, tmp_path: Path):
    src = tmp_path / "events_src"
    rows = [
        ("2024-01-01 00:01:00", "click", 1.0),
        ("2024-01-01 00:04:00", "click", 2.0),
        ("2024-01-01 00:12:00", "view", 4.0),
    ]
    batch = spark.createDataFrame(rows, ["ts_str", "event_type", "value"]).select(
        F.to_timestamp("ts_str").alias("ts"), "event_type", "value"
    )
    batch.write.parquet(str(src))

    stream = spark.readStream.schema(batch.schema).parquet(str(src))
    agg = tumbling_window_agg(
        stream, ts_col="ts", window_duration="10 minutes",
        group_cols=["event_type"], watermark="30 minutes",
    )
    assert agg.isStreaming
    q = (
        agg.writeStream.format("memory").queryName("tw_test")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        (r["win"]["start"].minute, r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM tw_test").collect()
    }
    assert got[(0, "click")] == (2, 3.0)
    assert got[(10, "view")] == (1, 4.0)


def test_dynamic_gap_sessions(spark):
    from hubverse_transform_spark.streaming.windows import dynamic_gap_session_agg

    rows = [
        # user 1, 'view' events (30s gap): 60s apart -> separate sessions
        (1, "view", "2024-01-01 00:00:00", 1.0),
        (1, "view", "2024-01-01 00:01:00", 1.0),
        # user 2, 'purchase' events (5 min gap): 60s apart -> ONE session
        (2, "purchase", "2024-01-01 00:00:00", 5.0),
        (2, "purchase", "2024-01-01 00:01:00", 5.0),
    ]
    df = spark.createDataFrame(
        rows, ["user_id", "event_type", "ts_str", "value"]
    ).select(
        "user_id", "event_type", F.to_timestamp("ts_str").alias("ts"), "value"
    )
    gap = F.when(F.col("event_type") == "purchase", F.lit("5 minutes")).otherwise(
        F.lit("30 seconds")
    )
    out = dynamic_gap_session_agg(
        df, gap, group_cols=["user_id"], watermark=None
    ).collect()
    sessions = {}
    for r in out:
        sessions.setdefault(r.user_id, []).append(r.n_events)
    assert sorted(sessions[1]) == [1, 1]  # 30s gap split the views
    assert sessions[2] == [2]  # 5 min gap merged the purchases


def test_complete_mode_recomputes_totals(spark, tmp_path):
    """outputMode('complete') re-emits the FULL aggregate every batch (vs
    update's changed-rows-only): after two micro-batches the memory sink's
    final snapshot holds totals over all input."""
    src = tmp_path / "cm_src"
    for batch in ([(1, 10.0)], [(1, 5.0), (2, 7.0)]):
        spark.createDataFrame(batch, ["user_id", "value"]).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    stream = (
        spark.readStream.schema("user_id long, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    agg = stream.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
    )
    q = (
        agg.writeStream.format("memory").queryName("cm_totals")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {r.user_id: (r.n, r.s) for r in spark.sql("SELECT * FROM cm_totals").collect()}
    assert got == {1: (2, 15.0), 2: (1, 7.0)}


def test_curation_stream_end_to_end(spark, tmp_path):
    """Two micro-batches of documents through the streaming curation funnel:
    low-quality docs gated out, a cross-batch duplicate dropped by the
    watermarked dedup state, survivors landed under split= partitions."""
    import datetime as dt

    from hubverse_transform_spark.streaming.curation import run_curation_stream

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    good = (
        "the quick brown fox jumps over the lazy dog and then keeps running "
        "through the quiet field while the sun is high and the air is warm"
    )
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    batch1 = [(1, good + " one", t0), (2, "!!!", t0), (3, good + " three", t0)]
    batch2 = [(4, good + " three", t0), (5, good + " five", t0)]  # 4 dups 3
    schema = "doc_id long, text string, ingest_ts timestamp"
    spark.createDataFrame(batch1, schema).write.mode("append").parquet(src)

    def run_once():
        docs = spark.readStream.schema(
            "doc_id long, text string, ingest_ts timestamp"
        ).parquet(src)
        q = run_curation_stream(docs, out, ckpt)
        q.awaitTermination(120)

    run_once()
    spark.createDataFrame(batch2, schema).write.mode("append").parquet(src)
    run_once()

    got = spark.read.parquet(out)
    rows = {r.doc_id: r for r in got.collect()}
    # 2 gated on quality; 4 deduped against 3 (same fingerprint, cross-batch)
    assert set(rows) == {1, 3, 5}
    assert all(r.split in ("train", "val", "test") for r in rows.values())
    assert all(r.quality >= 0.5 for r in rows.values())
    # split is hash-of-id: stable under replay, and materialized as a
    # partition directory
    import os

    split_dirs = {d for d in os.listdir(out) if d.startswith("split=")}
    assert split_dirs == {f"split={r.split}" for r in rows.values()}
