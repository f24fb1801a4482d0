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


def test_uri_hub_lands_through_pipeline_and_stream(spark, hub_dir: Path, csv_numeric_file: Path):
    # tasks.json is read through the Hadoop FileSystem, so a file:// hub (like
    # the s3a:// one from_s3 builds) loads its config on both paths
    from hubverse_transform_spark.transform import ModelOutputPipeline

    hub = hub_dir.as_uri()
    landed = [f"{csv_numeric_file.stem}.parquet"]
    mo = ModelOutputPipeline(spark, hub, f"raw/{csv_numeric_file.name}", f"{hub}/out")
    assert spark.read.parquet(mo.add_model_output()).count() == 6
    assert [p.name for p in (hub_dir / "out").glob("*.parquet")] == landed
    mo.delete_model_output()
    q = stream_model_outputs(spark, hub, checkpoint_dir=str(hub_dir / "ckpt"))
    q.awaitTermination()
    assert [p.name for p in (hub_dir / "out").glob("*.parquet")] == landed


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
