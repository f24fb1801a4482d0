"""Source/sink format breadth beyond CSV/Parquet: ORC and JSON-lines
roundtrips preserve schema and values."""

from __future__ import annotations


def _frame(spark):
    return spark.createDataFrame(
        [(1, "a", 1.5, True), (2, "b", -2.25, False), (3, None, 0.0, None)],
        ["k", "s", "v", "flag"],
    )


def test_orc_roundtrip(spark, tmp_path):
    df = _frame(spark)
    path = str(tmp_path / "orc")
    df.write.orc(path)
    back = spark.read.orc(path)
    assert back.schema == df.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_jsonl_roundtrip_with_schema(spark, tmp_path):
    df = _frame(spark)
    path = str(tmp_path / "jsonl")
    df.write.json(path)
    # schema-enforced read (inference would widen/reorder): exact roundtrip
    back = spark.read.schema(df.schema).json(path)
    assert back.schema == df.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
