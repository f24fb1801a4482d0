"""Golden parity tests for the Layer-A pipeline, mirroring the reference's
unit + integration assertions (SURVEY.md §5; ref test_model_output.py,
test_model_output_integration.py)."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from hubverse_transform_spark.schema import hub_schema
from hubverse_transform_spark.transform import ModelOutputPipeline
from tests.conftest import CSV_MIXED, CSV_NUMERIC, TASKS_JSON, spark_jobs


def make_pipeline(spark, hub_dir: Path, file_path: Path) -> ModelOutputPipeline:
    return ModelOutputPipeline(
        spark, str(hub_dir), f"raw/{file_path.name}", str(hub_dir / "out")
    )


# --- CSV read semantics (A1) -------------------------------------------------


def test_csv_null_tokens_and_string_passthrough(spark, hub_dir, csv_numeric_file):
    """ref test_model_output.py:277-301: null tokens nulled in every column;
    CSV text passes through verbatim for string-typed columns ("0.0", "02")."""
    mo = make_pipeline(spark, hub_dir, csv_numeric_file)
    rows = mo.read_file().collect()
    assert len(rows) == 6
    assert [r["location"] for r in rows] == [None, "02", "02", None, "string location", "27"]
    assert [r["output_type_id"] for r in rows] == ["0.99", None, None, "0.0", None, "111"]


def test_csv_mixed_8_of_12_null(spark, hub_dir, csv_mixed_file):
    """ref test_model_output_integration.py:59-72: quoted ""/" " also null."""
    mo = make_pipeline(spark, hub_dir, csv_mixed_file)
    df = mo.add_columns(mo.read_file())
    assert df.count() == 12
    assert df.filter(F.col("output_type_id").isNull()).count() == 8


# --- Parquet cast-on-read (A2) ----------------------------------------------


def test_parquet_cast_numeric_to_string(spark, hub_dir, parquet_numeric_file):
    """ref test_model_output.py:314-339: int64 location 2 -> "2" (no leading
    zero); double output_type_id 0.0 -> "0", 0.99 -> "0.99", 111.0 -> "111"."""
    mo = make_pipeline(spark, hub_dir, parquet_numeric_file)
    rows = mo.read_file().collect()
    assert [r["location"] for r in rows] == ["2", "2", "2", "2", "2", "27"]
    assert [r["output_type_id"] for r in rows] == ["0.99", None, None, "0", None, "111"]


def test_parquet_no_null_normalization(spark, hub_dir, parquet_empty_string_file):
    """ref test_model_output.py:202-213: "" survives a Parquet read."""
    mo = make_pipeline(spark, hub_dir, parquet_empty_string_file)
    rows = mo.read_file().collect()
    assert [r["location"] for r in rows] == ["", "02"]
    assert [r["output_type_id"] for r in rows] == ["", "0.99"]


# --- add_columns (A5) --------------------------------------------------------


def test_add_columns_appends_provenance(spark, hub_dir, csv_numeric_file):
    """ref test_model_output.py:159-185: appended at the end when absent."""
    mo = make_pipeline(spark, hub_dir, csv_numeric_file)
    df = mo.add_columns(mo.read_file())
    assert df.columns[-2:] == ["round_id", "model_id"]
    vals = df.select("round_id", "model_id").distinct().collect()
    assert len(vals) == 1
    assert vals[0]["round_id"] == "2024-07-07"
    assert vals[0]["model_id"] == "teamabc-output_type_ids_numeric"


def test_add_columns_overwrites_in_place(spark, hub_dir):
    """ref model_output.py:298-308 dict-merge semantics: existing columns are
    replaced in position, not duplicated (F3's pre-existing round_id/model_id)."""
    csv = hub_dir / "raw" / "2024-05-04-teamabc.csv"
    csv.write_text(
        "origin_date,target,horizon,location,output_type,output_type_id,value,round_id,model_id\n"
        "2022-10-08,wk inc flu hosp,1,02,quantile,0.5,1.5,2022-10-08,oldteam\n"
    )
    mo = make_pipeline(spark, hub_dir, csv)
    df = mo.add_columns(mo.read_file())
    assert df.columns.count("round_id") == 1
    assert df.columns[-2:] == ["round_id", "model_id"]
    row = df.collect()[0]
    assert row["round_id"] == "2024-05-04"      # parsed from file name, not data
    assert row["model_id"] == "teamabc"
    assert df.schema["round_id"].dataType == StringType()


# --- end-to-end write / delete (A6-A8) ---------------------------------------


def test_add_model_output_roundtrip(spark, hub_dir, csv_mixed_file):
    """ref test_model_output_integration.py:43-122: single parquet object with
    deterministic name; read-back matches schema + values."""
    mo = make_pipeline(spark, hub_dir, csv_mixed_file)
    out_uri = mo.add_model_output()
    out_path = Path(out_uri)
    assert out_path.name == "2024-07-07-teamabc-output_type_ids_mixed.parquet"
    assert out_path.is_file()

    back = spark.read.parquet(str(out_path))
    assert back.count() == 12
    assert back.filter(F.col("output_type_id").isNull()).count() == 8
    assert back.columns[-2:] == ["round_id", "model_id"]

    # idempotent overwrite (re-upload replaces)
    out_uri2 = mo.add_model_output()
    assert out_uri2 == out_uri
    assert spark.read.parquet(str(out_path)).count() == 12


def test_delete_model_output(spark, hub_dir, csv_numeric_file):
    """ref test_model_output_integration.py:125-152."""
    mo = make_pipeline(spark, hub_dir, csv_numeric_file)
    out_uri = mo.add_model_output()
    assert Path(out_uri).is_file()
    mo.delete_model_output()
    assert not Path(out_uri).exists()
    with pytest.raises(UserWarning):
        mo.delete_model_output()


class _FailingFS:
    """A Hadoop FileSystem proxy whose ``method`` reports failure the way
    S3A does: a false result, no exception."""

    def __init__(self, fs, method: str):
        self._fs, self._method = fs, method

    def __getattr__(self, name):
        if name == self._method:
            return lambda *args: False
        return getattr(self._fs, name)


def _fail_fs(monkeypatch, mo: ModelOutputPipeline, method: str) -> None:
    real = mo._hadoop_fs

    def proxied(uri):
        fs, jvm = real(uri)
        return _FailingFS(fs, method), jvm

    monkeypatch.setattr(mo, "_hadoop_fs", proxied)


def _tmp_parts(mo: ModelOutputPipeline) -> list[Path]:
    return list(Path(mo.output_path).glob(f"_tmp_{mo.file_name}.parquet"))


def test_false_rename_raises_and_keeps_the_temp_copy(spark, hub_dir, csv_numeric_file, monkeypatch):
    mo = make_pipeline(spark, hub_dir, csv_numeric_file)
    _fail_fs(monkeypatch, mo, "rename")
    with pytest.raises(OSError, match="rename"):
        mo.add_model_output()
    assert not Path(mo.output_path, f"{mo.file_name}.parquet").exists()
    assert len(_tmp_parts(mo)) == 1


def test_false_delete_raises(spark, hub_dir, csv_numeric_file, monkeypatch):
    mo = make_pipeline(spark, hub_dir, csv_numeric_file)
    out_uri = mo.add_model_output()
    _fail_fs(monkeypatch, mo, "delete")
    with pytest.raises(OSError, match="delete"):
        mo.delete_model_output()
    # a re-upload must replace the existing object: a false delete of it
    # stops the write before the rename, with the new copy still in temp
    with pytest.raises(OSError, match="delete"):
        mo.add_model_output()
    assert Path(out_uri).is_file()
    assert len(_tmp_parts(mo)) == 1


def test_missing_tasks_json_is_fatal(spark, tmp_path):
    """ref model_output.py:105-106."""
    (tmp_path / "raw").mkdir()
    f = tmp_path / "raw" / "2024-01-01-team.csv"
    f.write_text("a\n1\n")
    with pytest.raises(FileNotFoundError):
        ModelOutputPipeline(spark, str(tmp_path), "raw/2024-01-01-team.csv", str(tmp_path))


def test_unsupported_extension_warns(spark, hub_dir):
    (hub_dir / "raw" / "2024-01-01-team.txt").write_text("x")
    with pytest.raises(UserWarning):
        ModelOutputPipeline(spark, str(hub_dir), "raw/2024-01-01-team.txt", str(hub_dir / "out"))


def test_csv_quarantine_isolates_malformed_rows(spark, tmp_path):
    from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

    from hubverse_transform_spark.sources.model_output import read_csv_with_quarantine

    p = tmp_path / "mixed.csv"
    p.write_text(
        "location,horizon,value\n"
        "US,1,3.5\n"
        "CA,notanint,9.9\n"      # horizon fails the long type -> quarantined
        "MX,2,7.25\n"
    )
    schema = StructType(
        [
            StructField("location", StringType()),
            StructField("horizon", LongType()),
            StructField("value", DoubleType()),
        ]
    )
    clean, quarantined = read_csv_with_quarantine(spark, str(p), schema)
    assert sorted(r.location for r in clean.collect()) == ["MX", "US"]
    bad = quarantined.collect()
    assert len(bad) == 1
    assert bad[0]["_corrupt_record"] == "CA,notanint,9.9"


def test_write_observation_metrics(spark, hub_dir, csv_numeric_file):
    """write_parquet surfaces row/null metrics, counted on the collected
    Arrow table — no second scan of the input."""
    from hubverse_transform_spark.transform import ModelOutputPipeline

    mo = ModelOutputPipeline(
        spark,
        str(hub_dir),
        f"raw/{csv_numeric_file.name}",
        str(hub_dir / "out"),
    )
    mo.add_model_output()
    m = mo.last_write_metrics
    assert m["n_rows"] == 6
    # rows 2 (empty), 3 (NA), 5 (null) -> 3 null output_type_ids
    assert m["n_null_output_type_id"] == 3
    assert m["n_null_value"] == 0


def test_sink_leaves_only_the_object_and_its_checksum(spark, hub_dir, csv_numeric_file):
    """A create and then a re-upload leave no temp file and no ``_SUCCESS``."""
    mo = make_pipeline(spark, hub_dir, csv_numeric_file)
    for _ in range(2):
        mo.add_model_output()
    name = f"{mo.file_name}.parquet"
    assert sorted(p.name for p in Path(mo.output_path).iterdir()) == [f".{name}.crc", name]


# --- driver-side schemas: a read launches no Spark job ------------------------

#: a CSV header Spark's inference reads one way, beside the F1-F3 files
CSV_HEADER_CASES = {
    "f1_numeric": CSV_NUMERIC.encode(),
    "f2_mixed": CSV_MIXED.encode(),
    "f3_provenance": (
        "origin_date,target,horizon,location,output_type,output_type_id,value,round_id,model_id\n"
        "2022-10-08,wk inc flu hosp,1,02,quantile,0.5,1.5,2022-10-08,oldteam\n"
    ).encode(),
    "utf8_bom": b"\xef\xbb\xbf" + CSV_NUMERIC.encode(),
    "quoted_comma": b'"location","a,b",value\n02,x,1.5\n',
    "crlf": CSV_NUMERIC.replace("\n", "\r\n").encode(),
    "leading_blank_lines": b"\n   \n\n" + CSV_NUMERIC.encode(),
    "header_only": CSV_NUMERIC.splitlines()[0].encode() + b"\n",
    "zero_bytes": b"",
    "dot_and_backtick": b"location,a.b,c`d\n02,x,y\n",
}


def _inferred_csv(spark, path: Path):
    return spark.read.option("header", "true").option("enforceSchema", "false").csv(str(path))


@pytest.mark.parametrize("case", sorted(CSV_HEADER_CASES))
def test_csv_header_matches_spark_inference(spark, tmp_path, case):
    """The driver reads the header Spark's inference job would, and the
    scan under those names returns the rows the inferred read returns."""
    from hubverse_transform_spark.sources.model_output import csv_header

    path = tmp_path / f"{case}.csv"
    path.write_bytes(CSV_HEADER_CASES[case])
    names = csv_header(spark, str(path))
    inferred = _inferred_csv(spark, path)
    assert names == inferred.columns
    explicit = (
        spark.read.schema(StructType([StructField(n, StringType()) for n in names]))
        .option("header", "true")
        .option("enforceSchema", "false")
        .csv(str(path))
    )
    assert explicit.collect() == inferred.collect()


def test_csv_duplicate_names_raise_on_both_sides(spark, tmp_path):
    """Spark renames repeated names (``a0``, ``a1``) and then finds the
    header unlike them; the driver-side header does the same."""
    from hubverse_transform_spark.sources.model_output import csv_header, read_model_output_csv

    path = tmp_path / "dup.csv"
    path.write_text("a,a,b\n1,2,3\n")
    assert csv_header(spark, str(path)) == _inferred_csv(spark, path).columns == ["a0", "a1", "b"]
    for df in (_inferred_csv(spark, path), read_model_output_csv(spark, str(path), hub_schema(TASKS_JSON))):
        with pytest.raises(Exception, match="CSV header does not conform to the schema"):
            df.collect()


def test_zero_byte_csv_lands_provenance_only(spark, hub_dir):
    """An empty submission lands a 0-row file holding only the provenance
    columns."""
    csv = hub_dir / "raw" / "2024-07-07-teamabc.csv"
    csv.write_bytes(b"")
    back = spark.read.parquet(make_pipeline(spark, hub_dir, csv).add_model_output())
    assert back.columns == ["round_id", "model_id"]
    assert back.count() == 0


def test_parquet_footer_schema_matches_spark_inference(
    spark, hub_dir, parquet_numeric_file, parquet_empty_string_file
):
    """F4's numeric, strings and no-location files, and a Spark-written
    file (non-nullable fields, nested types, Spark's own schema metadata)."""
    import pyarrow.parquet as pq

    from hubverse_transform_spark.sources.model_output import parquet_schema

    noloc = hub_dir / "raw" / "2024-07-07-teamabc-noloc.parquet"
    pq.write_table(pq.read_table(parquet_numeric_file).drop(["location"]), noloc)
    spark.range(3).selectExpr(
        "id", "cast(id AS string) AS s", "date'2024-01-01' AS d", "array(1, 2) AS arr",
        "named_struct('x', id) AS st", "cast(1.5 AS decimal(10, 2)) AS dec",
    ).coalesce(1).write.parquet(str(hub_dir / "sw"))
    (written,) = (hub_dir / "sw").glob("part-*.parquet")
    for path in (parquet_numeric_file, parquet_empty_string_file, noloc, written):
        assert parquet_schema(spark, str(path)) == spark.read.parquet(str(path)).schema, path.name


def test_read_model_output_launches_no_job(spark, hub_dir, csv_numeric_file, parquet_numeric_file):
    from hubverse_transform_spark.sources.model_output import read_model_output

    schema = hub_schema(TASKS_JSON)
    for path in (csv_numeric_file, parquet_numeric_file):
        with spark_jobs(spark) as jobs:
            read_model_output(spark, str(path), schema)
        assert jobs == [], path.name


def test_add_model_output_runs_one_job(spark, hub_dir, csv_numeric_file, parquet_numeric_file):
    for path in (csv_numeric_file, parquet_numeric_file):
        mo = make_pipeline(spark, hub_dir, path)
        with spark_jobs(spark) as jobs:
            mo.add_model_output()
        assert len(jobs) == 1, path.name


# --- column names that are not plain identifiers -----------------------------
# a bare ``a.b`` parses as a struct-field access and a bare backtick as a
# quoting error; both readers quote every name


@pytest.mark.parametrize("name", ["a.b", "c`d"])
def test_csv_reads_a_name_with_a_dot_or_backtick(spark, hub_dir, name):
    csv = hub_dir / "raw" / "2024-07-07-teamabc.csv"
    csv.write_text(f"location,{name},value\n02,NA,1.5\n")
    df = make_pipeline(spark, hub_dir, csv).read_file()
    assert df.columns == ["location", name, "value"]
    assert [tuple(r) for r in df.collect()] == [("02", None, 1.5)]


@pytest.mark.parametrize("name", ["a.b", "c`d"])
def test_parquet_reads_a_name_with_a_dot_or_backtick(spark, hub_dir, name):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = hub_dir / "raw" / "2024-07-07-teamabc.parquet"
    pq.write_table(pa.table({"location": [2], name: ["x"], "value": [0.0]}), path)
    df = make_pipeline(spark, hub_dir, path).read_file()
    assert df.columns == ["location", name, "value"]
    assert [tuple(r) for r in df.collect()] == [("2", "x", 0.0)]


# --- the driver-encoded sink against Spark's own Parquet writer -----------------

#: a conftest fixture's submission file, or the bytes of a CSV submission
WRITER_PARITY_CASES = {
    "f1_numeric": "csv_numeric_file",
    "f2_mixed": "csv_mixed_file",
    "f3_provenance": CSV_HEADER_CASES["f3_provenance"],
    "f4_numeric": "parquet_numeric_file",
    "f4_empty_strings": "parquet_empty_string_file",
    "zero_bytes": CSV_HEADER_CASES["zero_bytes"],
    "dot_and_backtick": CSV_HEADER_CASES["dot_and_backtick"],
}


def _spark_written(df, out: Path) -> Path:
    """The general path: Spark's single-file Parquet write of ``df``."""
    df.coalesce(1).write.parquet(str(out))
    (part,) = out.glob("part-*.parquet")
    return part


@pytest.mark.parametrize("case", sorted(WRITER_PARITY_CASES))
def test_sink_writes_what_spark_writes(spark, request, hub_dir, case):
    """The driver-encoded object reads back as Spark's own single-file write
    of the same DataFrame: schema, rows and the schema Spark reads."""
    import pyarrow.parquet as pq

    src = WRITER_PARITY_CASES[case]
    if isinstance(src, str):
        path = request.getfixturevalue(src)
    else:
        path = hub_dir / "raw" / "2024-07-07-teamabc.csv"
        path.write_bytes(src)
    mo = make_pipeline(spark, hub_dir, path)
    df = mo.add_columns(mo.read_file())
    general, ours = _spark_written(df, hub_dir / "general"), mo.write_parquet(df)
    want, got = pq.read_table(general), pq.read_table(ours)
    # types and nullability: Spark's writer keeps the provenance literals required
    assert got.schema.equals(want.schema)
    assert got.to_pylist() == want.to_pylist()
    assert spark.read.parquet(ours).schema == spark.read.parquet(str(general)).schema


def test_sink_size_stays_within_2pct_of_sparks(spark, hub_dir):
    """6.7k random-valued rows: dictionary pages for the repeating columns,
    PLAIN for ``value``, as Spark's writer chooses."""
    import random

    rng = random.Random(6700)
    lines = ["origin_date,target,horizon,location,output_type,output_type_id,value"]
    for _ in range(6700):
        target = rng.choice(["wk inc flu hosp", "wk flu hosp rate change"])
        q = rng.choice([0.01, 0.025, 0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.975, 0.99])
        lines.append(f"2022-10-08,{target},{rng.randint(-1, 3)},{rng.randint(1, 56):02d},"
                     f"quantile,{q},{rng.uniform(0, 5000)}")
    path = hub_dir / "raw" / "2024-07-07-teamabc.csv"
    path.write_text("\n".join(lines) + "\n")
    mo = make_pipeline(spark, hub_dir, path)
    df = mo.add_columns(mo.read_file())
    general, ours = _spark_written(df, hub_dir / "general"), Path(mo.write_parquet(df))
    assert ours.stat().st_size <= 1.02 * general.stat().st_size
