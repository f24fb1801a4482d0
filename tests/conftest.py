"""Shared fixtures: one SparkSession per test run + synthetic hubverse files.

Fixture data mirrors FIXTURES.md (F1-F7), which distills the reference's test
corpus (ref test/unit/data/, test/integration/data/) — quirk rows pin the
golden semantics (null tokens, leading zeros, cast formatting).
"""

from __future__ import annotations

import json
import os
import sys
import uuid
from contextlib import contextmanager
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from hubverse_transform_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("hubverse-tests", cpus=8)
    yield s


@contextmanager
def spark_jobs(spark):
    """Yield a list that holds, once the block ends, the ids of the Spark
    jobs the block launched: one status-tracker job group, as
    ``perfbench/trace.py`` counts a span's jobs."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    jobs: list[int] = []
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts reach the tracker asynchronously
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))


# --- one compile pass for the whole-surface plan gates -----------------------
# test_entry_contract (analysis), test_plan_audit (cartesian / BatchEvalPython
# / global-window census) and test_shuffles_gate (exchange budget) each need
# every declared query's STATIC plan. Compiling 378 plans once per gate was
# the dominant suite cost (4 full Catalyst passes); this fixture compiles each
# query ONE time (AQE off, threaded — Catalyst analyzes independent plans
# concurrently and py4j serves each thread its own gateway connection) and
# the gates assert from the artifacts.

#: queries that execute eagerly at build time (localCheckpoint loop); their
#: plan shape is iteration-dependent and covered by their own operator tests
PLAN_EAGER = {"q45_dedup_clusters"}


@pytest.fixture(scope="session")
def compiled_surface(spark):
    """{name: {"plan": executed-plan str, "gwin": unpartitioned-window count}
    | {"error": msg}} for every declared non-eager query at sf0.001, AQE off.

    Persist-window artifact handling: an operator's compute_release persist
    is briefly registered during composition, and a CONCURRENTLY compiling
    query whose plan shares the subtree picks up InMemoryTableScan
    fragments, perturbing its static plan nondeterministically. No query's
    clean static plan contains InMemoryTableScan (SHUFFLES.md carries no
    persisted-intermediate note), so any plan showing one is recompiled
    sequentially after the pool."""
    from concurrent.futures import ThreadPoolExecutor

    import __spark_entry__ as entry
    from plan_inspect import global_window_count

    from hubverse_transform_spark.plans.inspect import explain_str

    fns = entry.queries()
    names = [q for q in fns if q not in PLAN_EAGER]
    sf = "/root/testdata/sf0.001"

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from dump_shuffles import COMPOSE_REPEAT

    def one(name: str):
        try:
            if name in COMPOSE_REPEAT:
                # adaptive-choice query: warm the per-dataset memo so the
                # recorded plan is the deterministic lazy repeat, not the
                # first composition's compute-release checkpoint
                fns[name](spark, sf)
            df = fns[name](spark, sf)
            # same df object for both artifacts: the QueryExecution caches
            # its analyzed/optimized plans, so Catalyst runs once
            return name, {
                "plan": explain_str(df),
                "gwin": global_window_count(df),
            }
        except Exception as exc:  # surface per-query, not fixture-wide
            return name, {"error": f"{type(exc).__name__}: {exc}"[:300]}

    was_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            out = dict(pool.map(one, names))
        for name, art in list(out.items()):
            if "InMemoryTableScan" in art.get("plan", ""):
                out[name] = one(name)[1]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", was_aqe)
    return out


# --- hub config (F5) ---------------------------------------------------------

TASKS_JSON = {
    "schema_version": "https://raw.githubusercontent.com/hubverse-org/schemas/main/v5.0.0/tasks-schema.json",
    "rounds": [
        {
            "round_id_from_variable": True,
            "round_id": "origin_date",
            "model_tasks": [
                {
                    "task_ids": {
                        "origin_date": {"required": None, "optional": ["2022-10-08", "2023-10-21"]},
                        "target": {"required": None, "optional": ["wk inc flu hosp", "wk flu hosp rate change"]},
                        "horizon": {"required": None, "optional": [-1, 0, 1, 2, 3, 4]},
                        "location": {"required": None, "optional": ["02", "27", "US"]},
                    },
                    "output_type": {
                        "quantile": {
                            "output_type_id": {"required": [0.25, 0.5, 0.75, 0.99]},
                            "value": {"type": "double", "minimum": 0},
                        },
                        "pmf": {
                            "output_type_id": {"required": ["large", "small"]},
                            "value": {"type": "double"},
                        },
                    },
                }
            ],
        }
    ],
    "output_type_id_datatype": "auto",
    "derived_task_ids": None,
}


@pytest.fixture()
def hub_dir(tmp_path: Path) -> Path:
    """A hub root with hub-config/tasks.json + raw/ input + output dirs."""
    (tmp_path / "hub-config").mkdir()
    (tmp_path / "hub-config" / "tasks.json").write_text(json.dumps(TASKS_JSON))
    (tmp_path / "raw").mkdir()
    (tmp_path / "out").mkdir()
    return tmp_path


# --- F1: CSV with numeric + null-token output_type_ids ----------------------

CSV_NUMERIC = """\
"origin_date","target","horizon","location","output_type","output_type_id","value"
2022-10-08,"wk inc flu hosp",1,"","quantile",0.99,203
2022-10-08,"wk inc flu hosp",1,02,"mean",,173
2022-10-08,"wk inc flu hosp",1,"02","mean",NA,174
2022-10-08,wk inc flu hosp,1,NaN,mean,0.0,175
2022-10-08,wk inc flu hosp,1,string location,mean,null,176
2023-10-21,wk flu hosp rate change,-1,27,pmf,111,0.0018554857403307722
"""


@pytest.fixture()
def csv_numeric_file(hub_dir: Path) -> Path:
    p = hub_dir / "raw" / "2024-07-07-teamabc-output_type_ids_numeric.csv"
    p.write_text(CSV_NUMERIC)
    return p


#: submission names every Layer-A path must treat alike: the first four need
#: percent-encoding (or a ``_`` separator), the last three are mis-named
SUBMISSION_NAME_CASES = [
    "2024-07-14-team a.csv",
    "2024-07-14_team-b.csv",
    "2024-07-14-team+c.csv",
    "2024-07-14-équipe.csv",
    "2024-01-01-team-2024-01-01.csv",
    "2024-01-01.csv",
    "bad-team.csv",
]


# --- F2: CSV with mixed output_type_ids (12 rows -> 8 nulls) ----------------

CSV_MIXED = """\
"origin_date","target","horizon","location","output_type","output_type_id","value"
2022-10-08,"wk inc flu hosp",1,"02","quantile",0.99,203
2022-10-08,"wk inc flu hosp",1,"02","mean",,173
2022-10-08,"wk inc flu hosp",1,"02","mean",NA,173
2022-10-08,"wk inc flu hosp",1,"02","median","",0.98765
2022-10-08,"wk inc flu hosp",1,"02","median",null,0.98765
2022-10-08,"wk inc flu hosp",1,"02","median",Null,0.98765
2022-10-08,"wk inc flu hosp",1,"02","median"," ",0.1.654
2023-10-21,wk flu hosp rate change,-1,US,pmf,large,0.0018554857403307722
2023-10-21,wk flu hosp rate change,-1,US,pmf,"large",0.0018554857403307722
2023-10-21,wk flu hosp rate change,-1,US,pmf,"large",what if this is a big string with no quotes
2022-10-08,"wk inc flu hosp",1,"02","mean",na,22.22
2022-10-08,"wk inc flu hosp",1,"02","mean",nan,12.345
"""


@pytest.fixture()
def csv_mixed_file(hub_dir: Path) -> Path:
    """Mixed file is read under a string-typed value schema (malformed
    '0.1.654' / free-text values survive) — mirrors ref conftest.py:157-169
    (schema_origin_date_str_val)."""
    tasks = json.loads(json.dumps(TASKS_JSON))
    for mt in tasks["rounds"][0]["model_tasks"]:
        for spec in mt["output_type"].values():
            spec["value"] = {"type": "character"}
    (hub_dir / "hub-config" / "tasks.json").write_text(json.dumps(tasks))
    p = hub_dir / "raw" / "2024-07-07-teamabc-output_type_ids_mixed.csv"
    p.write_text(CSV_MIXED)
    return p


# --- F4: Parquet with numeric-typed location / output_type_id ----------------


@pytest.fixture()
def parquet_numeric_file(hub_dir: Path) -> Path:
    """Physical types: location int64, output_type_id double (pins
    cast-on-read: 2 -> "2", 0.01 -> "0.01", 0.0 -> "0")."""
    table = pa.table(
        {
            "origin_date": pa.array(["2022-10-08"] * 5 + ["2023-10-21"], pa.string()),
            "target": pa.array(["wk inc flu hosp"] * 5 + ["wk flu hosp rate change"]),
            "horizon": pa.array([1, 1, 1, 1, 1, -1], pa.int64()),
            "location": pa.array([2, 2, 2, 2, 2, 27], pa.int64()),
            "output_type": pa.array(["quantile", "mean", "mean", "mean", "mean", "pmf"]),
            "output_type_id": pa.array([0.99, None, None, 0.0, None, 111.0], pa.float64()),
            "value": pa.array([203.0, 173.0, 174.0, 175.0, 176.0, 0.0018554857403307722]),
        }
    )
    p = hub_dir / "raw" / "2024-07-07-teamabc-output_type_ids_numeric.parquet"
    pq.write_table(table, p)
    return p


# --- F3-ish: parquet with empty strings (no null normalization on parquet) ---


@pytest.fixture()
def parquet_empty_string_file(hub_dir: Path) -> Path:
    table = pa.table(
        {
            "origin_date": pa.array(["2022-10-08", "2022-10-08"], pa.string()),
            "target": pa.array(["wk inc flu hosp", "wk inc flu hosp"]),
            "horizon": pa.array([1, 1], pa.int64()),
            "location": pa.array(["", "02"], pa.string()),
            "output_type": pa.array(["mean", "mean"]),
            "output_type_id": pa.array(["", "0.99"], pa.string()),
            "value": pa.array([1.0, 2.0]),
        }
    )
    p = hub_dir / "raw" / "2024-07-07-teamabc-empty_strings.parquet"
    pq.write_table(table, p)
    return p
