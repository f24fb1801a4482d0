"""Stream-stream watermarked interval join (streaming/joins.py)."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from hubverse_transform_spark.streaming.joins import interval_join_streams


def _write(spark, path, rows):
    spark.createDataFrame(rows, ["user_id", "ts_str", "value"]).select(
        "user_id", F.to_timestamp("ts_str").alias("ts"), "value"
    ).coalesce(1).write.mode("append").parquet(str(path))


def test_interval_join_two_streams(spark, tmp_path: Path):
    clicks_dir = tmp_path / "clicks"
    purch_dir = tmp_path / "purchases"
    _write(spark, clicks_dir, [
        (1, "2024-01-01 00:01:00", 0.1),   # 2 min before purchase -> matches
        (1, "2024-01-01 00:10:00", 0.2),   # after purchase -> no match
        (2, "2024-01-01 00:00:00", 0.3),   # 20 min before purchase -> outside horizon
    ])
    _write(spark, purch_dir, [
        (1, "2024-01-01 00:03:00", 42.0),
        (2, "2024-01-01 00:20:00", 7.0),
    ])
    schema = "user_id long, ts timestamp, value double"
    clicks = spark.readStream.schema(schema).parquet(str(clicks_dir))
    purch = spark.readStream.schema(schema).parquet(str(purch_dir))

    joined = interval_join_streams(
        clicks, purch, key_col="user_id", horizon_seconds=300,
        left_watermark="10 minutes", right_watermark="10 minutes",
    )
    assert joined.isStreaming
    q = (
        joined.writeStream.format("memory").queryName("ss_join")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = [
        (r.l_key, r.l_value, r.r_value)
        for r in spark.sql("SELECT * FROM ss_join").collect()
    ]
    assert got == [(1, 0.1, 42.0)]


def test_interval_join_static_backfill_same_semantics(spark):
    clicks = spark.createDataFrame(
        [(1, "2024-01-01 00:01:00", 0.1), (1, "2024-01-01 00:10:00", 0.2)],
        ["user_id", "ts_str", "value"],
    ).select("user_id", F.to_timestamp("ts_str").alias("ts"), "value")
    purch = spark.createDataFrame(
        [(1, "2024-01-01 00:03:00", 42.0)], ["user_id", "ts_str", "value"]
    ).select("user_id", F.to_timestamp("ts_str").alias("ts"), "value")
    out = interval_join_streams(clicks, purch, horizon_seconds=300)
    assert [(r.l_value, r.r_value) for r in out.collect()] == [(0.1, 42.0)]


def test_interval_left_outer_join_emits_unmatched(spark, tmp_path: Path):
    clicks_dir = tmp_path / "lo_clicks"
    purch_dir = tmp_path / "lo_purch"
    ckpt = str(tmp_path / "lo_ckpt")
    _write(spark, clicks_dir, [
        (1, "2024-01-01 00:01:00", 0.1),   # matches purchase at 00:03
        (3, "2024-01-01 00:02:00", 0.9),   # never purchases -> null-padded row
    ])
    _write(spark, purch_dir, [(1, "2024-01-01 00:03:00", 42.0)])
    schema = "user_id long, ts timestamp, value double"
    results: list = []

    def run_once():
        clicks = spark.readStream.schema(schema).parquet(str(clicks_dir))
        purch = spark.readStream.schema(schema).parquet(str(purch_dir))
        joined = interval_join_streams(
            clicks, purch, key_col="user_id", horizon_seconds=300,
            left_watermark="10 minutes", right_watermark="10 minutes",
            how="leftOuter",
        )
        q = (
            joined.writeStream.foreachBatch(
                lambda b, _i: results.extend(b.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert [r.l_key for r in results if r.r_key is not None] == [1]

    # outer rows flush only when a LATER batch advances the watermark past
    # their match window: feed events far beyond watermark + horizon and rerun
    _write(spark, clicks_dir, [(7, "2024-01-01 09:00:00", 0.0)])
    _write(spark, purch_dir, [(8, "2024-01-01 09:00:00", 1.0)])
    run_once()
    unmatched = [r.l_key for r in results if r.r_key is None]
    assert 3 in unmatched
