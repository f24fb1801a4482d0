"""The two closed-loop workloads. Each has one client: the next operation
starts when the previous one has finished.

Every workload class has ``min_cycles`` (the fewest cycles that give the
median ten latency samples beyond it) and provides ``warmup`` (the
untimed operation that ends a set-up), ``prime`` (untimed work between
the set-ups and the timed window, so the window starts on warm code),
``window`` (the timed closed loop over a given number of whole cycles,
returning a :class:`Window`), and ``trace_hooks`` (the names wrapped in
spans for the traced run). Outputs are checked as the loop runs; the
check time is excluded from operation latencies.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import posixpath
import shutil
import time
from dataclasses import dataclass, field
from urllib.parse import unquote

import pyarrow.parquet as pq

from perfbench import proc
from perfbench.inputs import OUT_TYPES, s3_event
from perfbench.stats import Tally


@dataclass
class Window:
    """What one timed window measured."""

    op_s: list[float] = field(default_factory=list)  # latency samples
    op_steal: list[float] = field(default_factory=list)  # stolen CPU share during each sample
    items: float = 0.0  # work items completed (submissions handled, queries)
    busy_s: float = 0.0  # time spent in the timed calls
    wall_s: float = 0.0  # wall time of the whole loop, checks included
    ops: int = 0  # the unit per-layer values are divided by (cycles, queries)
    tally: Tally = field(default_factory=Tally)
    layer: dict[str, float] = field(default_factory=dict)  # counts measured outside spans
    detail: dict = field(default_factory=dict)


def closed_loop(cycles: int, step) -> float:
    """Call ``step(0)`` .. ``step(cycles - 1)`` one after another; returns
    the loop's wall time."""
    start = time.perf_counter()
    for i in range(cycles):
        step(i)
    return time.perf_counter() - start


def check_output(path: str, spec: dict, round_id: str, model_id: str) -> list[str]:
    """Compare one transformed Parquet file with what its input implies."""
    if not os.path.exists(path):
        return [f"missing output {os.path.basename(path)}"]
    table = pq.read_table(path)
    errs = []
    if table.num_rows != spec["rows"]:
        errs.append(f"rows {table.num_rows} != {spec['rows']}")
    if table.column_names != spec["columns"]:
        errs.append(f"columns {table.column_names} != {spec['columns']}")
    types = spec.get("types", OUT_TYPES)
    for f in table.schema:
        if f.name in types and str(f.type) != types[f.name]:
            errs.append(f"{f.name} type {f.type} != {types[f.name]}")
    for col, n in spec["nulls"].items():
        if col in table.column_names and table.column(col).null_count != n:
            errs.append(f"{col} nulls {table.column(col).null_count} != {n}")
    for col, (value, n) in spec["equal"].items():
        got = table.column(col).to_pylist().count(value)
        if got != n:
            errs.append(f"{col}=={value!r} count {got} != {n}")
    for col, want in (("round_id", round_id), ("model_id", model_id)):
        if set(table.column(col).to_pylist()) != {want}:
            errs.append(f"{col} != {want!r}")
    return errs


def _stem_parts(key: str) -> tuple[str, str, str]:
    """(file stem, round_id, model_id) of a generated submission key."""
    stem = posixpath.basename(key).rsplit(".", 1)[0]
    return stem, stem[:10], stem[11:]


def wrap_transform(tracer) -> None:
    """Spans around the per-file pipeline's stages, by the names the
    ``transform`` module calls them through."""
    from hubverse_transform_spark import transform

    tracer.wrap(transform, "read_tasks", "schema.compile")
    tracer.wrap(transform, "hub_schema", "schema.compile")
    tracer.wrap(transform, "read_model_output", "sources.read")
    tracer.wrap(transform, "add_provenance_columns", "transform.provenance")
    tracer.wrap(transform.ModelOutputPipeline, "write_parquet", "transform.write")
    tracer.wrap(transform.ModelOutputPipeline, "delete_model_output", "transform.delete")


# --- hub_files ----------------------------------------------------------------

class FileEvents:
    """The per-file paths, one block per cycle: S3-style object events
    through ``ModelOutputPipeline``, one after another, with
    ``dispatch_object_event``'s routing rules (the event's bucket picks a
    local hub, because no object store is reachable), then a drain of a
    fresh ``raw/`` directory by ``stream_model_outputs`` with the
    availableNow trigger. A drained file's latency sample is the drain's
    wall time divided by its file count."""

    def __init__(self, manifest: dict, work: str):
        self.m = manifest
        self.work = work
        self.drains = 0

    def _out_dir(self, bucket: str, key: str) -> str:
        from hubverse_transform_spark.paths import route_s3_key

        route = route_s3_key(bucket, key)
        dest = route.output_path.removeprefix(f"s3://{bucket}/")
        return os.path.normpath(os.path.join(self.work, "out", bucket, dest)), route.mo_path

    def handle(self, spark, event: dict) -> None:
        """Mirror of ``streaming.ingest.dispatch_object_event`` that lets
        warnings and errors reach the caller, so each can be counted."""
        from hubverse_transform_spark.transform import ModelOutputPipeline

        record = event["Records"][0]
        bucket = record["s3"]["bucket"]["name"]
        key = unquote(record["s3"]["object"]["key"], encoding="utf-8")
        out_dir, mo_path = self._out_dir(bucket, key)
        hub = self.m["hubs"][bucket]
        if "objectcreated" in record["eventName"].lower():
            ModelOutputPipeline(spark, hub, mo_path, out_dir).add_model_output()
        elif "objectremoved" in record["eventName"].lower():
            ModelOutputPipeline(spark, hub, mo_path, out_dir).delete_model_output()

    def drain(self, spark, files: list[dict]):
        """Link ``files`` into a fresh hub's ``raw/`` and drain it; returns
        the hub, the drain's wall time and the finished query."""
        from hubverse_transform_spark.streaming.ingest import stream_model_outputs

        self.drains += 1
        hub = os.path.join(self.work, "stream", f"d{self.drains}")
        os.makedirs(os.path.join(hub, "hub-config"))
        shutil.copy(os.path.join(self.m["hubs"]["hub-num"], "hub-config", "tasks.json"),
                    os.path.join(hub, "hub-config", "tasks.json"))
        os.makedirs(os.path.join(hub, "raw"))
        for f in files:
            os.link(os.path.join(self.m["pool"], f["src"]), os.path.join(hub, "raw", f["name"]))
        t0 = time.perf_counter()
        query = stream_model_outputs(spark, hub, checkpoint_dir=os.path.join(hub, "_checkpoint"))
        query.awaitTermination()
        return hub, time.perf_counter() - t0, query

    def warmup(self, spark) -> None:
        self.handle(spark, s3_event(next(e for e in self.m["events"] if e["src"].startswith("small"))))

    def prime(self, spark) -> None:
        self.drain(spark, self.m["drains"][-1])

    def trace_hooks(self, tracer) -> None:
        wrap_transform(tracer)

    def begin(self) -> None:
        shutil.rmtree(os.path.join(self.work, "out"), ignore_errors=True)
        self.progress = {"ingest.batches": 0, "ingest.trigger.s": 0.0, "ingest.discover.s": 0.0,
                         "ingest.add_batch.s": 0.0}
        self.rows_scanned = self.written = self.drained = 0

    def _event(self, spark, w: Window, i: int, ev: dict, tracer) -> None:
        stem, round_id, model_id = _stem_parts(ev["key"])
        out_dir, _ = self._out_dir(ev["bucket"], ev["key"])
        out = os.path.join(out_dir, f"{stem}.parquet")
        raised = None
        k0, t0 = proc.cpu_ticks(), time.perf_counter()
        try:
            with tracer.span("event") if tracer else contextlib.nullcontext():
                self.handle(spark, s3_event(ev))
        except Exception as exc:  # noqa: BLE001 - counted, named in the result
            raised = exc
        dt = time.perf_counter() - t0
        w.op_steal.append(proc.steal_frac(k0, proc.cpu_ticks()))
        if ev["op"] == "create":
            errs = check_output(out, self.m["specs"][ev["src"]], round_id, model_id) if not raised else []
            if not raised and os.path.exists(out):
                self.written += os.path.getsize(out)
        else:
            errs = [f"output present after {ev['op']}"] if os.path.exists(out) else []
        w.tally.record(f"event {i} {ev['op']} {ev['key']}", expected_warning=ev["op"] == "invalid",
                       raised=raised, check_errors=errs)
        w.op_s.append(dt)
        w.busy_s += dt
        w.items += 1

    def _stream(self, spark, w: Window, c: int, files: list[dict], tracer) -> None:
        k0 = proc.cpu_ticks()
        with tracer.span("ingest.drain") if tracer else contextlib.nullcontext():
            hub, dt, query = self.drain(spark, files)
        w.op_steal.extend([proc.steal_frac(k0, proc.cpu_ticks())] * len(files))
        if query.exception() is not None:
            w.tally.fail(f"drain {c}", str(query.exception()))
        for p in query.recentProgress:
            d = p.durationMs
            self.progress["ingest.batches"] += 1
            self.progress["ingest.trigger.s"] += d.get("triggerExecution", 0) / 1e3
            self.progress["ingest.discover.s"] += (d.get("latestOffset", 0) + d.get("getBatch", 0)) / 1e3
            self.progress["ingest.add_batch.s"] += d.get("addBatch", 0) / 1e3
            self.rows_scanned += p.numInputRows
        for f in files:
            stem, round_id, model_id = _stem_parts(f["name"])
            out = os.path.join(hub, "out", f"{stem}.parquet")
            errs = check_output(out, self.m["specs"][f["src"]], round_id, model_id)
            w.tally.record(f"drain {c} {f['name']}", expected_warning=False, raised=None, check_errors=errs)
            if not errs:
                self.written += os.path.getsize(out)
            w.op_s.append(dt / len(files))
        w.busy_s += dt
        w.items += len(files)
        self.drained += len(files)

    def cycle(self, spark, c: int, w: Window, tracer=None) -> None:
        b, size = c % len(self.m["drains"]), self.m["block"]
        for i in range(b * size, (b + 1) * size):
            self._event(spark, w, i, self.m["events"][i], tracer)
        self._stream(spark, w, c, self.m["drains"][b], tracer)

    def finish(self, w: Window, cycles: int) -> None:
        w.layer.update({k: v / cycles for k, v in self.progress.items()})
        w.layer["ingest.rows_scanned_per_file"] = self.rows_scanned / max(1, self.drained)
        w.layer["transform.write.bytes"] = self.written / cycles
        w.detail["drained_files"] = self.drained


class BackfillLake:
    """The batch path, one cycle: ``sinks.backfill_hub_dataset`` over the
    generated submissions, then ``reads_per_cycle`` partition-pruned reads
    of the lake it wrote (``model_id`` plus a location), each collected to
    the driver. Cycles take the seeded reads in turn."""

    reads_per_cycle = 8

    def __init__(self, manifest: dict, work: str):
        self.m = manifest
        self.work = work

    def _read(self, spark, lake: str, spec: dict, tracer=None) -> int:
        from pyspark.sql import functions as F

        def open_():
            return spark.read.parquet(lake)

        def scan(df):
            q = df.filter((F.col("model_id") == spec["model_id"]) & (F.col("location") == spec["location"]))
            return q, len(q.collect())

        if not tracer:
            return scan(open_())[1]
        with tracer.span("lake.open"):
            df = open_()
        with tracer.span("lake.scan") as rec:
            q, n = scan(df)
        rec["files_read"] = plan_counters(q._jdf.queryExecution().executedPlan())["files_read"]
        return n

    def warmup(self, spark) -> None:
        from hubverse_transform_spark.sinks import backfill_hub_dataset

        hub = os.path.join(self.work, "warm")
        os.makedirs(os.path.join(hub, "raw"), exist_ok=True)
        shutil.copytree(os.path.join(self.m["hub"], "hub-config"), os.path.join(hub, "hub-config"),
                        dirs_exist_ok=True)
        for f in sorted(os.listdir(os.path.join(self.m["hub"], "raw")))[:1]:
            dst = os.path.join(hub, "raw", f)
            if not os.path.exists(dst):
                os.link(os.path.join(self.m["hub"], "raw", f), dst)
        backfill_hub_dataset(spark, hub, os.path.join(hub, "lake"), file_format="csv")
        spark.read.parquet(os.path.join(hub, "lake")).filter("location = '02'").collect()

    def trace_hooks(self, tracer) -> None:
        from hubverse_transform_spark import sinks

        tracer.wrap(sinks, "read_tasks", "schema.compile")
        tracer.wrap(sinks, "hub_schema", "schema.compile")
        tracer.wrap(sinks, "read_model_output_csv", "sources.read")
        tracer.wrap(sinks, "with_provenance_from_filename", "transform.provenance")
        tracer.wrap(sinks, "backfill_hub_dataset", "sinks.backfill")

    def check_lake(self, lake: str) -> tuple[list[str], dict]:
        files, size, counts = 0, 0, {}
        for dirpath, _, names in os.walk(lake):
            for n in names:
                if n.endswith(".parquet"):
                    p = os.path.join(dirpath, n)
                    files += 1
                    size += os.path.getsize(p)
                    part = os.path.relpath(dirpath, lake)
                    counts[part] = counts.get(part, 0) + pq.read_metadata(p).num_rows
        errs = []
        if set(counts) != set(self.m["partitions"]):
            errs.append(f"partition set differs: {len(counts)} vs {len(self.m['partitions'])}")
        errs += [f"{p} rows {counts.get(p)} != {n}" for p, n in self.m["partitions"].items() if counts.get(p) != n]
        return errs, {"files": files, "bytes": size, "partitions": len(counts)}

    def begin(self) -> None:
        self.lake = os.path.join(self.work, "lake")
        self.lake_stats = {"files": 0, "bytes": 0, "partitions": 0}
        self.files_read = self.n_reads = 0

    def cycle(self, spark, c: int, w: Window, tracer=None) -> None:
        from hubverse_transform_spark.sinks import backfill_hub_dataset

        k0, t0 = proc.cpu_ticks(), time.perf_counter()
        raised = None
        try:
            backfill_hub_dataset(spark, self.m["hub"], self.lake, file_format="csv")
        except Exception as exc:  # noqa: BLE001 - counted, named in the result
            raised = exc
        dt = time.perf_counter() - t0
        errs, stats = self.check_lake(self.lake) if not raised else ([], self.lake_stats)
        w.tally.record(f"backfill {c}", expected_warning=False, raised=raised, check_errors=errs)
        self.lake_stats.update(stats)
        w.busy_s += dt
        w.items += len(self.m["partitions"])  # one submission per partition
        w.detail.setdefault("backfill_s", []).append(dt)
        w.detail.setdefault("backfill_steal", []).append(proc.steal_frac(k0, proc.cpu_ticks()))
        reads, k = self.m["reads"], self.reads_per_cycle
        for j, spec in enumerate(reads[(c * k + m) % len(reads)] for m in range(k)):
            before = len(tracer.spans) if tracer else 0
            k0, t0 = proc.cpu_ticks(), time.perf_counter()
            raised, n = None, -1
            try:
                n = self._read(spark, self.lake, spec, tracer)
            except Exception as exc:  # noqa: BLE001 - counted, named in the result
                raised = exc
            dt = time.perf_counter() - t0
            w.op_steal.append(proc.steal_frac(k0, proc.cpu_ticks()))
            if tracer:
                self.files_read += sum(s.get("files_read", 0) for s in tracer.spans[before:])
            self.n_reads += 1
            errs = [] if raised or n == spec["rows"] else [f"rows {n} != {spec['rows']}"]
            w.tally.record(f"read {c}.{j} {spec['model_id']} {spec['location']}", expected_warning=False,
                           raised=raised, check_errors=errs)
            w.op_s.append(dt)

    def finish(self, w: Window, cycles: int) -> None:
        stats = self.lake_stats
        w.layer.update({
            "sinks.files_written": stats["files"],
            "sinks.bytes_written": stats["bytes"],
            "sinks.files_per_partition": stats["files"] / max(1, stats["partitions"]),
            "sinks.bytes_per_input_byte": stats["bytes"] / self.m["in_bytes"],
            "lake.scan.files_read_frac": self.files_read / max(1, self.n_reads * stats["files"]),
        })
        w.detail["lake"] = stats


class HubFiles:
    """Every path a model-output submission takes into the hub, one cycle
    at a time: a block of S3-style events and a stream drain
    (:class:`FileEvents`), then a backfill of a whole hub and reads of the
    lake it wrote (:class:`BackfillLake`). Items are submissions handled:
    events, drained files and backfilled files."""

    name = "hub_files"
    min_cycles = 1

    def __init__(self, manifest: dict, work: str):
        self.parts = (FileEvents(manifest["events"], work), BackfillLake(manifest["backfill"], work))

    def warmup(self, spark) -> None:
        for part in self.parts:
            part.warmup(spark)

    def prime(self, spark) -> None:
        self.parts[0].prime(spark)

    def trace_hooks(self, tracer) -> None:
        for part in self.parts:
            part.trace_hooks(tracer)

    def window(self, spark, cycles: int, tracer=None) -> Window:
        w = Window()
        for part in self.parts:
            part.begin()

        def step(c: int) -> None:
            for part in self.parts:
                part.cycle(spark, c, w, tracer)

        w.wall_s = closed_loop(cycles, step)
        w.ops = cycles
        for part in self.parts:
            part.finish(w, cycles)
        return w


# --- query_mix ----------------------------------------------------------------

def plan_counters(plan) -> dict[str, int]:
    """Exchanges, shuffle bytes and files read, from the SQL metrics of an
    executed physical plan (adaptive stages and subqueries included;
    reused exchanges are counted once)."""
    out = {"exchanges": 0, "shuffle_bytes": 0, "files_read": 0}
    stack = [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue
        metrics = node.metrics()
        if cls == "ShuffleExchangeExec":
            out["exchanges"] += 1
            m = metrics.get("dataSize")
            if m.isDefined():
                out["shuffle_bytes"] += m.get().value()
        if cls == "FileSourceScanExec":
            m = metrics.get("numFiles")
            if m.isDefined():
                out["files_read"] += m.get().value()
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
        subs = node.subqueries()
        stack.extend(subs.apply(i) for i in range(subs.size()))
    return out


def digest(table) -> str:
    """Order-insensitive digest of a result, with ``check_oracle.normalize``'s
    canonical forms (missing values unified, floats rounded)."""
    import check_oracle

    df = table.to_pandas() if hasattr(table, "to_pandas") else table
    cols = sorted(df.columns)
    rows = check_oracle.normalize(df.to_dict("records"), cols)
    return hashlib.sha256("\n".join(["|".join(cols)] + rows).encode()).hexdigest()


class QueryMix:
    """A frozen stratified sample of ``__spark_entry__.queries()``; each query
    is composed and its result collected, then checked against the digest of
    the DuckDB oracle's answer on the same data."""

    name = "query_mix"
    min_cycles = 1

    def __init__(self, manifest: dict, work: str, sample: list[str], strata: dict[str, str], warmup_query: str):
        import __spark_entry__

        self.m = manifest
        self.entry = __spark_entry__
        self.fns = __spark_entry__.queries()
        self.sample = sample
        self.strata = strata
        self.warmup_query = warmup_query

    def warmup(self, spark) -> None:
        self.fns[self.warmup_query](spark, self.m["sf_dir"]).toArrow()

    def prime(self, spark) -> None:
        pass

    def trace_hooks(self, tracer) -> None:
        tracer.wrap(self.entry, "load_table", "session.load_table")

    def window(self, spark, cycles: int, tracer=None) -> Window:
        w = Window()
        sf = self.m["sf_dir"]
        per_query: dict[str, float] = {}

        def step(i: int) -> None:
            name = self.sample[i % len(self.sample)]
            stratum = self.strata[name]
            raised, result = None, None
            k0, t0 = proc.cpu_ticks(), time.perf_counter()
            try:
                if tracer:
                    with tracer.span("query.compose", stratum=stratum):
                        df = self.fns[name](spark, sf)
                    with tracer.span("query.plan"):
                        df._jdf.queryExecution().executedPlan()
                    with tracer.span("query.exec", stratum=stratum) as rec:
                        result = df.toArrow()
                    rec.update(plan_counters(df._jdf.queryExecution().executedPlan()))
                else:
                    result = self.fns[name](spark, sf).toArrow()
            except Exception as exc:  # noqa: BLE001 - counted, named in the result
                raised = exc
            dt = time.perf_counter() - t0
            w.op_steal.append(proc.steal_frac(k0, proc.cpu_ticks()))
            errs = []
            if result is not None and digest(result) != self.m["digests"][name]:
                errs.append("result digest differs from the oracle's")
            w.tally.record(name, expected_warning=False, raised=raised, check_errors=errs)
            w.op_s.append(dt)
            per_query[name] = dt
            w.busy_s += dt
            w.items += 1
            w.ops += 1

        w.wall_s = closed_loop(cycles * len(self.sample), step)
        w.detail = {"per_query_s": per_query, "passes": w.ops // len(self.sample)}
        return w
