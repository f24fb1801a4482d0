"""Schema-compiler tests (SURVEY.md §1.3 typing policy) — pure driver-side."""

import json
from pathlib import Path

from pyspark.sql.types import DateType, DoubleType, LongType, StringType, StructType

from hubverse_transform_spark.schema import hub_schema, output_schema
from tests.conftest import TASKS_JSON


def test_hub_schema_typing_policy():
    st = hub_schema(TASKS_JSON)
    types = {f.name: f.dataType for f in st.fields}
    assert types["origin_date"] == DateType()       # ISO-date domain
    assert types["target"] == StringType()
    assert types["horizon"] == LongType()           # int domain
    assert types["location"] == StringType()        # forced string
    assert types["output_type"] == StringType()
    assert types["output_type_id"] == StringType()  # forced string ("auto")
    assert types["value"] == DoubleType()           # from output_type value spec
    assert types["round_id"] == DateType()          # round_id_from_variable -> origin_date
    assert types["model_id"] == StringType()


def test_hub_schema_column_order():
    st = hub_schema(TASKS_JSON)
    assert [f.name for f in st.fields] == [
        "origin_date", "target", "horizon", "location",
        "output_type", "output_type_id", "value", "round_id", "model_id",
    ]


def test_hub_schema_real_reference_config():
    """Compile the real flu-metrocast tasks.json shape (ref
    test/integration/data/flu-metrocast/hub-config/tasks.json)."""
    with open("/root/reference/test/integration/data/flu-metrocast/hub-config/tasks.json") as f:
        tasks = json.load(f)
    st = hub_schema(tasks)
    types = {f.name: f.dataType for f in st.fields}
    assert types["reference_date"] == DateType()
    assert types["target_end_date"] == DateType()
    assert types["horizon"] == LongType()
    assert types["location"] == StringType()
    assert types["output_type_id"] == StringType()
    assert types["value"] == DoubleType()
    assert types["round_id"] == DateType()  # from_variable: reference_date


def test_hub_schema_flu_metrocast_shaped_config():
    """Same assertions on an in-repo config of the flu-metrocast shape (two
    model_tasks, date/int/string task ids, nine quantile levels), so the
    check runs where the reference checkout is absent."""
    path = Path(__file__).parent / "data" / "flu-metrocast-tasks.json"
    st = hub_schema(json.loads(path.read_text()))
    types = {f.name: f.dataType for f in st.fields}
    assert types["reference_date"] == DateType()
    assert types["target_end_date"] == DateType()
    assert types["horizon"] == LongType()
    assert types["location"] == StringType()
    assert types["output_type_id"] == StringType()
    assert types["value"] == DoubleType()
    assert types["round_id"] == DateType()  # from_variable: reference_date


def test_hub_schema_union_across_model_tasks():
    tasks = {
        "rounds": [
            {
                "round_id_from_variable": False,
                "model_tasks": [
                    {"task_ids": {"a": {"required": [1, 2], "optional": None}},
                     "output_type": {"mean": {"value": {"type": "integer"}}}},
                    {"task_ids": {"a": {"required": ["x"], "optional": None},
                                  "b": {"required": ["2020-01-01"], "optional": None}},
                     "output_type": {"median": {"value": {"type": "double"}}}},
                ],
            }
        ]
    }
    st = hub_schema(tasks)
    types = {f.name: f.dataType for f in st.fields}
    assert types["a"] == StringType()   # mixed int+str domain -> string
    assert types["b"] == DateType()
    assert types["value"] == DoubleType()  # double dominates integer
    assert types["round_id"] == StringType()  # not from variable


def test_output_schema_provenance_is_string():
    st = hub_schema(TASKS_JSON)
    out = output_schema(st)
    types = {f.name: f.dataType for f in out.fields}
    assert types["round_id"] == StringType()
    assert types["model_id"] == StringType()
    assert isinstance(out, StructType)
    assert [f.name for f in out.fields][-2:] == ["round_id", "model_id"]


def test_output_type_id_datatype_pinned():
    """A hub pinning output_type_id_datatype != "auto" overrides the
    forced-string policy (the hubdata contract the reference delegates to at
    ref model_output.py:282-288; config key at ref
    test/integration/data/flu-metrocast/hub-config/tasks.json:160)."""
    import copy

    import pytest
    from pyspark.sql.types import BooleanType

    base = copy.deepcopy(TASKS_JSON)

    for pinned, expected in [
        ("double", DoubleType()),
        ("integer", LongType()),
        ("character", StringType()),
        ("logical", BooleanType()),
        ("Date", DateType()),
    ]:
        t = copy.deepcopy(base)
        t["output_type_id_datatype"] = pinned
        types = {f.name: f.dataType for f in hub_schema(t).fields}
        assert types["output_type_id"] == expected, pinned
        # location stays forced-string regardless of the pin
        assert types["location"] == StringType()

    t = copy.deepcopy(base)
    t["output_type_id_datatype"] = "auto"
    assert {f.name: f.dataType for f in hub_schema(t).fields}[
        "output_type_id"
    ] == StringType()

    t = copy.deepcopy(base)
    t["output_type_id_datatype"] = "bogus"
    with pytest.raises(ValueError, match="output_type_id_datatype"):
        hub_schema(t)
