"""Seeded input generation for the two workloads.

Everything the program under test reads is generated here from the
workload seed: the hub's ``tasks.json``, CSV and Parquet submissions
covering the FIXTURES.md F1-F4 quirk rows, the S3-style event sequence,
and (for ``query_mix``) the analytic tables, made by importing
``tools/gen_reseed.py``. Inputs are cached per workload and seed under
``.bench_cache/`` in the checkout; generation is never inside a timed or
set-up window.
"""

from __future__ import annotations

import contextlib
import datetime
import importlib
import json
import os
import random
import shutil
import sys
from urllib.parse import quote

import pyarrow as pa
import pyarrow.parquet as pq

CACHE_VERSION = 4
KEEP_SEEDS = 12  # cached seeds kept per workload; older ones are removed

ROUNDS = [f"2024-{m:02d}-{d:02d}" for m, d in
          [(10, 5), (10, 12), (10, 19), (10, 26), (11, 2), (11, 9), (11, 16), (11, 23), (11, 30), (12, 7)]]
TARGETS = ["wk inc flu hosp", "wk flu hosp rate change", "wk inc covid hosp", "wk inc rsv hosp",
           "wk inc flu death", "wk inc covid death", "wk inc ili", "wk inc ari"]
LOCATIONS = ["US"] + [f"{i:02d}" for i in range(1, 58)]  # 58 locations
HORIZONS = [0, 1, 2, 3, 4]
QUANTILES = [0.01, 0.025, 0.05] + [round(0.1 + 0.05 * i, 2) for i in range(17)] + [0.95, 0.975, 0.99]

#: size classes: (targets, locations, horizons) -> rows = product * 23
SIZES = {"small": (1, 4, 1), "medium": (1, 58, 5), "large": (8, 58, 5)}

HEADER = "origin_date,target,horizon,location,output_type,output_type_id,value"

#: F1 quirk block appended to every generated CSV: null tokens in
#: output_type_id ("", NA, null) and location ("", NaN), quoted vs unquoted
#: leading-zero location, free-text location, textual "0.0" id.
F1_QUIRKS = [
    '{od},"{t}",1,"","quantile",0.99,203',
    '{od},"{t}",1,02,"mean",,173',
    '{od},"{t}",1,"02","mean",NA,174',
    "{od},{t},1,NaN,mean,0.0,175",
    "{od},{t},1,string location,mean,null,176",
    "{od},{t},-1,27,pmf,111,0.0018554857403307722",
]
F1_OTID_NULLS = 3
F1_LOC_NULLS = 2
F1_LOCATIONS = {"02": 2, "string location": 1, "27": 1}  # non-null quirk locations

#: F2: mixed string/numeric output_type_ids under a string-valued hub:
#: 12 rows -> exactly 8 null output_type_id after read.
F2_CSV = """\
"origin_date","target","horizon","location","output_type","output_type_id","value"
2024-10-05,"wk inc flu hosp",1,"02","quantile",0.99,203
2024-10-05,"wk inc flu hosp",1,"02","mean",,173
2024-10-05,"wk inc flu hosp",1,"02","mean",NA,173
2024-10-05,"wk inc flu hosp",1,"02","median","",0.98765
2024-10-05,"wk inc flu hosp",1,"02","median",null,0.98765
2024-10-05,"wk inc flu hosp",1,"02","median",Null,0.98765
2024-10-05,"wk inc flu hosp",1,"02","median"," ",0.1.654
2024-10-12,wk flu hosp rate change,-1,US,pmf,large,0.0018554857403307722
2024-10-12,wk flu hosp rate change,-1,US,pmf,"large",0.0018554857403307722
2024-10-12,wk flu hosp rate change,-1,US,pmf,"large",what if this is a big string with no quotes
2024-10-05,"wk inc flu hosp",1,"02","mean",na,22.22
2024-10-05,"wk inc flu hosp",1,"02","mean",nan,12.345
"""

#: arrow type names of the transformed output, per column
OUT_TYPES = {
    "origin_date": "date32[day]", "target": "string", "horizon": "int64", "location": "string",
    "output_type": "string", "output_type_id": "string", "value": "double",
    "round_id": "string", "model_id": "string",
}


def tasks_json(value_type: str = "double") -> dict:
    """A hub config (FIXTURES.md F5): one round keyed on origin_date, two
    model tasks with differing task-id domains."""
    def ids(targets, horizons):
        return {
            "origin_date": {"required": None, "optional": ROUNDS},
            "target": {"required": None, "optional": targets},
            "horizon": {"required": None, "optional": horizons},
            "location": {"required": None, "optional": LOCATIONS},
        }

    return {
        "schema_version": "https://raw.githubusercontent.com/hubverse-org/schemas/main/v5.0.0/tasks-schema.json",
        "rounds": [{
            "round_id_from_variable": True,
            "round_id": "origin_date",
            "model_tasks": [
                {"task_ids": ids(TARGETS[:4], HORIZONS),
                 "output_type": {
                     "quantile": {"output_type_id": {"required": QUANTILES},
                                  "value": {"type": value_type, "minimum": 0}},
                     "mean": {"output_type_id": {"required": None, "optional": ["NA"]},
                              "value": {"type": value_type}}}},
                {"task_ids": ids(TARGETS[4:], [-1] + HORIZONS),
                 "output_type": {"pmf": {"output_type_id": {"required": ["large", "small"]},
                                         "value": {"type": value_type}}}},
            ],
        }],
        "output_type_id_datatype": "auto",
        "derived_task_ids": None,
    }


def write_hub_config(hub: str, value_type: str = "double") -> None:
    os.makedirs(os.path.join(hub, "hub-config"), exist_ok=True)
    with open(os.path.join(hub, "hub-config", "tasks.json"), "w") as f:
        json.dump(tasks_json(value_type), f)


def quantile_rows(rng: random.Random, size: str):
    """(target, location, horizon, q, value) tuples of one submission."""
    nt, nl, nh = SIZES[size]
    locs = rng.sample(LOCATIONS, nl)
    for t in TARGETS[:nt]:
        for loc in locs:
            base = rng.uniform(5.0, 500.0)
            for h in HORIZONS[:nh]:
                for q in QUANTILES:
                    yield t, loc, h, q, round(base * (0.5 + q) * (1 + 0.1 * h), 4)


def write_csv(path: str, rng: random.Random, size: str, origin_date: str) -> dict:
    """One CSV submission of a size class plus the F1 quirk block; returns
    the checks its transformed output must pass."""
    lines = [HEADER]
    loc_counts: dict[str, int] = {}
    for t, loc, h, q, v in quantile_rows(rng, size):
        lines.append(f'{origin_date},{t},{h},"{loc}",quantile,{q},{v}')
        loc_counts[loc] = loc_counts.get(loc, 0) + 1
    n = len(lines) - 1
    lines += [r.format(od=origin_date, t=TARGETS[0]) for r in F1_QUIRKS]
    for loc, c in F1_LOCATIONS.items():
        loc_counts[loc] = loc_counts.get(loc, 0) + c
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return {
        "rows": n + len(F1_QUIRKS),
        "nulls": {"output_type_id": F1_OTID_NULLS, "location": F1_LOC_NULLS, "value": 0},
        "equal": {"location": ["02", loc_counts["02"]], "output_type_id": ["0.0", 1]},
        "columns": HEADER.split(",") + ["round_id", "model_id"],
        "loc_counts": loc_counts,
    }


def write_f2(path: str) -> dict:
    with open(path, "w") as f:
        f.write(F2_CSV)
    cols = HEADER.split(",") + ["round_id", "model_id"]
    return {"rows": 12, "nulls": {"output_type_id": 8}, "equal": {"value": ["0.1.654", 1]},
            "columns": cols, "types": {**OUT_TYPES, "value": "string"}}


def write_f3(path: str, rng: random.Random) -> dict:
    """F3: a full quantile submission carrying stale round_id/model_id
    columns mid-header; the transform overwrites them in place."""
    lines = ["origin_date,round_id,model_id,target,horizon,location,output_type,output_type_id,value"]
    for i, q in enumerate(QUANTILES):
        lines.append(f'2024-10-05,1999-01-01,stale-model,{TARGETS[0]},1,"02",quantile,{q},{10.0 + i}')
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return {"rows": 23, "nulls": {"output_type_id": 0}, "equal": {"location": ["02", 23]},
            "columns": lines[0].split(",")}


def write_parquet(path: str, rng: random.Random, variant: str) -> dict:
    """F4 Parquet submissions. ``numeric``: int64 location, double ids
    (cast-on-read 2 -> "2", 0.0 -> "0"); ``strings``: string origin_date and
    ids with "" surviving (no null normalization on Parquet); ``noloc``: no
    location column."""
    rows = list(quantile_rows(rng, "medium"))
    n = len(rows) + 1
    od = [ROUNDS[0]] * n
    cols = {
        "origin_date": pa.array(od, pa.string()) if variant == "strings"
        else pa.array([datetime.date.fromisoformat(ROUNDS[0])] * n, pa.date32()),
        "target": pa.array([r[0] for r in rows] + [TARGETS[0]]),
        "horizon": pa.array([r[2] for r in rows] + [1], pa.int64()),
        "location": pa.array([int(r[1]) if r[1] != "US" else 0 for r in rows] + [2], pa.int64()),
        "output_type": pa.array(["quantile"] * len(rows) + ["mean"]),
        "output_type_id": pa.array([r[3] for r in rows] + [0.0], pa.float64()),
        "value": pa.array([r[4] for r in rows] + [1.5], pa.float64()),
    }
    equal: dict = {"output_type_id": ["0", 1], "location": ["2", sum(1 for r in rows if r[1] == "02") + 1]}
    if variant == "strings":
        cols["output_type_id"] = pa.array([str(r[3]) for r in rows] + [""], pa.string())
        equal = {"output_type_id": ["", 1]}
    if variant == "noloc":
        del cols["location"]
        equal = {"output_type_id": ["0", 1]}
    pq.write_table(pa.table(cols), path)
    return {"rows": n, "nulls": {"output_type_id": 0}, "equal": equal,
            "columns": list(cols) + ["round_id", "model_id"]}


def _link(src: str, dst: str) -> None:
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    if os.path.exists(dst):
        os.remove(dst)
    os.link(src, dst)


# --- workload builders ------------------------------------------------------

#: one block of the event sequence: the F2, F3 and three F4 quirk files,
#: CSV creates by size, Parquet creates, re-uploads, removals and an invalid
#: key (50% CSV, 25% Parquet, 10% re-upload, 10% removal, 5% invalid).
#: Blocks are shuffled inside, and a run times whole blocks, so every run
#: does the same mix of work whatever the seed.
BLOCK = (
    [("create", "hub-str", "f2.csv"), ("create", "hub-num", "f3.csv")]
    + [("create", "hub-num", f"{v}0.parquet") for v in ("numeric", "strings", "noloc")]
    + [("csv", "small")] * 4 + [("csv", "medium")] * 3 + [("csv", "large")]
    + [("parquet",)] * 2 + [("reupload",)] * 2 + [("remove",)] * 2 + [("invalid",)]
)

#: the submissions of the stream drain that closes every block
DRAIN = ("small", "small", "medium", "medium")


def build_file_events(d: str, rng: random.Random, n_blocks: int) -> dict:
    """Two hubs (double- and string-valued; the event's bucket picks one),
    a pool of submission files, a seeded S3-style event sequence of
    ``n_blocks`` blocks of ``BLOCK``, and for each block the ``DRAIN``
    submissions (names and pool sources) of its stream drain."""
    hubs = {"hub-num": os.path.join(d, "hub-num"), "hub-str": os.path.join(d, "hub-str")}
    write_hub_config(hubs["hub-num"], "double")
    write_hub_config(hubs["hub-str"], "character")
    pool = os.path.join(d, "pool")
    os.makedirs(pool)
    specs: dict[str, dict] = {}
    for size, count in (("small", 6), ("medium", 6), ("large", 2)):
        for i in range(count):
            name = f"{size}{i}.csv"
            specs[name] = write_csv(os.path.join(pool, name), rng, size, ROUNDS[i % len(ROUNDS)])
    for variant in ("numeric", "strings", "noloc"):
        for i in range(2 if variant == "numeric" else 1):
            name = f"{variant}{i}.parquet"
            specs[name] = write_parquet(os.path.join(pool, name), rng, variant)
    specs["f2.csv"] = write_f2(os.path.join(pool, "f2.csv"))
    specs["f3.csv"] = write_f3(os.path.join(pool, "f3.csv"), rng)
    with open(os.path.join(pool, "notes.txt"), "w") as f:
        f.write("not a submission\n")

    events: list[dict] = []

    def create(bucket: str, src: str) -> dict:
        stem, ext = os.path.splitext(src)
        key = f"raw/{ROUNDS[len(events) % len(ROUNDS)]}-team{len(events):03d}-{stem}{ext}"
        _link(os.path.join(pool, src), os.path.join(hubs[bucket], key))
        return {"op": "create", "bucket": bucket, "key": key, "src": src}

    def pick(size: str) -> str:
        return rng.choice([n for n in specs if n.startswith(size)])

    drains: list[list[dict]] = []
    for b in range(n_blocks):
        block = list(BLOCK)
        rng.shuffle(block)
        # re-uploads and removals go last so they find a key of this block
        block.sort(key=lambda e: e[0] in ("reupload", "remove"))
        live: list[dict] = []
        for kind, *arg in block:
            if kind == "create":
                ev = create(*arg)
            elif kind == "csv":
                ev = create("hub-num", pick(arg[0]))
            elif kind == "parquet":
                ev = create("hub-num", rng.choice(["numeric0.parquet", "numeric1.parquet"]))
            elif kind == "reupload":
                ev = dict(rng.choice(live))
            elif kind == "remove":
                ev = {**live.pop(rng.randrange(len(live))), "op": "remove"}
            else:
                key = f"raw/{ROUNDS[0]}-team{len(events):03d}-notes.txt"
                _link(os.path.join(pool, "notes.txt"), os.path.join(hubs["hub-num"], key))
                ev = {"op": "invalid", "bucket": "hub-num", "key": key, "src": "notes.txt"}
            if kind in ("create", "csv", "parquet"):
                live.append(ev)
            events.append(ev)
        drains.append([{"name": f"{ROUNDS[(b + j) % len(ROUNDS)]}-stream{j}-{size}.csv", "src": pick(size)}
                       for j, size in enumerate(DRAIN)])
    return {"hubs": hubs, "events": events, "specs": specs, "block": len(BLOCK), "pool": pool,
            "drains": drains}


def s3_event(ev: dict) -> dict:
    """The S3 notification record for one generated event."""
    name = "ObjectRemoved:Delete" if ev["op"] == "remove" else "ObjectCreated:Put"
    return {"Records": [{"eventName": name, "s3": {"bucket": {"name": ev["bucket"]},
                                                   "object": {"key": quote(ev["key"])}}}]}


def build_backfill_lake(d: str, rng: random.Random, n_models: int, n_rounds: int, n_reads: int) -> dict:
    """``n_models`` x ``n_rounds`` medium CSV submissions in one hub, the
    expected lake partitions, and ``n_reads`` seeded partition-pruned reads."""
    hub = os.path.join(d, "hub")
    write_hub_config(hub, "double")
    raw = os.path.join(hub, "raw")
    os.makedirs(raw)
    partitions: dict[str, int] = {}
    by_model_loc: dict[str, dict[str, int]] = {}
    in_bytes = 0
    for m in range(n_models):
        model = f"team{m:02d}-model"
        counts = by_model_loc.setdefault(model, {})
        for r in ROUNDS[:n_rounds]:
            path = os.path.join(raw, f"{r}-{model}.csv")
            spec = write_csv(path, rng, "medium", r)
            in_bytes += os.path.getsize(path)
            partitions[f"model_id={model}/round_id={r}"] = spec["rows"]
            for loc, c in spec["loc_counts"].items():
                counts[loc] = counts.get(loc, 0) + c
    reads = []
    for _ in range(n_reads):
        model = rng.choice(sorted(by_model_loc))
        loc = rng.choice(sorted(by_model_loc[model]))
        reads.append({"model_id": model, "location": loc, "rows": by_model_loc[model][loc]})
    return {"hub": hub, "partitions": partitions, "reads": reads, "in_bytes": in_bytes,
            "rows": sum(partitions.values())}


def build_hub_files(d: str, rng: random.Random, n_blocks: int, n_models: int, n_rounds: int,
                    n_reads: int) -> dict:
    """The inputs of both parts of ``hub_files``: the event and drain hubs,
    and the backfill hub with its reads."""
    return {"events": build_file_events(os.path.join(d, "events"), rng, n_blocks),
            "backfill": build_backfill_lake(os.path.join(d, "backfill"), rng, n_models, n_rounds, n_reads)}


#: region/nation are fixed dimension contracts and documents carries the
#: 31-word vocabulary; gen_reseed reads these three from its BASE dir.
VOCAB = ("a agg batch big column customer data dup fast filter group hash join key line merge "
         "order part query row scan slow small sort spark stream table the value vector window").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _write_base_tables(base: str) -> None:
    os.makedirs(base)
    pq.write_table(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                             "r_name": pa.array(REGIONS)}), os.path.join(base, "region.parquet"))
    pq.write_table(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                             "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                             "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
                   os.path.join(base, "nation.parquet"))
    pq.write_table(pa.table({"doc_id": pa.array([0], pa.int64()), "text": pa.array([" ".join(VOCAB)]),
                             "lang": pa.array(["en"]), "source": pa.array(["src0"]),
                             "n_chars": pa.array([len(" ".join(VOCAB))], pa.int64())}),
                   os.path.join(base, "documents.parquet"))


def build_query_mix(d: str, seed: int, root: str, scale: float, sample: list[str]) -> dict:
    """The analytic tables, generated by the repository's re-seeding tool,
    and the digest of each sampled query's answer from the DuckDB oracle."""
    base = os.path.join(d, "base")
    _write_base_tables(base)
    sys.path.insert(0, os.path.join(root, "tools"))
    try:
        gen = importlib.import_module("gen_reseed")
    finally:
        sys.path.pop(0)
    gen.BASE = base
    data = os.path.join(d, "data")
    argv = sys.argv
    sys.argv = ["gen_reseed", data, str(seed), str(scale)]
    try:
        with contextlib.redirect_stdout(sys.stderr):
            gen.main()
    finally:
        sys.argv = argv
    return {"sf_dir": data, "digests": oracle_digests(data, sample)}


def oracle_digests(sf_dir: str, sample: list[str]) -> dict[str, str]:
    import duckdb

    import __spark_entry__

    from perfbench.workloads import digest

    oracles = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    for name in os.listdir(sf_dir):
        table = name.removesuffix(".parquet")
        con.sql(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, name)}')")
    try:
        return {q: digest(con.sql(oracles[q]).df()) for q in sample}
    finally:
        con.close()


def ensure_inputs(root: str, workload: str, seed: int, **params) -> dict:
    """Generate (or reuse) the inputs of ``workload`` at ``seed``; returns
    the manifest. The manifest is written last, so a half-built cache
    directory is rebuilt rather than trusted."""
    wdir = os.path.join(root, ".bench_cache", workload)
    d = os.path.join(wdir, f"seed-{seed}")
    manifest_path = os.path.join(d, "manifest.json")
    key = {"version": CACHE_VERSION, "seed": seed, **params}
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
        if manifest.get("key") == key:
            return manifest
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    if os.path.isdir(wdir):  # bound the cache: keep the newest few seeds
        old = sorted((os.path.join(wdir, x) for x in os.listdir(wdir) if x != f"seed-{seed}"),
                     key=os.path.getmtime)
        for stale in old[: max(0, len(old) - (KEEP_SEEDS - 1))]:
            shutil.rmtree(stale, ignore_errors=True)
    rng = random.Random(f"{workload}:{seed}")
    if workload == "hub_files":
        manifest = build_hub_files(d, rng, **params)
    elif workload == "query_mix":
        manifest = build_query_mix(d, seed, root, **params)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    manifest["key"] = key
    with open(manifest_path + ".tmp", "w") as f:
        json.dump(manifest, f)
    os.replace(manifest_path + ".tmp", manifest_path)
    return manifest
