"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]``; the same config block is what we would ship
to a 1000-executor cluster — AQE handles runtime re-planning (skew joins,
coalescing small shuffle partitions), Arrow makes pandas-UDF exchange cheap,
and shuffle partitions default to a value AQE can coalesce down from.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "hubverse-transform-spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-appropriate defaults.

    AQE is on: at 100 TB the static shuffle-partition count is always wrong for
    some stage, so we set a generous initial count and let AQE coalesce.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # --- adaptive execution: runtime coalescing + skew-join splitting ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # initial shuffle parallelism; AQE coalesces small stages down
        .config("spark.sql.shuffle.partitions", str(max(cpus, 32)))
        # AQE coalescing floor (r13, guide §2.5/§2.6): the default 1 MB floor
        # coalesces low-BYTE stages to one partition even when their per-ROW
        # cost is huge (candidate-pair verification: ~68k pairs / few hundred
        # KB / seconds of regex+jaccard CPU), serializing the stage onto one
        # core. AQE's byte heuristic is blind to CPU-per-row; a lower floor
        # keeps such stages parallel at ANY scale and is inert where
        # partitions are large (the 100 TB case: data stages dwarf 64k, the
        # floor never binds). Measured r13: heavy-16 subset 83.7→68.3 s.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        # join strategy (r13, guide §3.1/§9): let the planner pick shuffled-
        # hash over sort-merge when its size conditions hold (skips two
        # sorts), and let AQE rewrite SMJ→SHJ at runtime when every post-
        # shuffle partition is under 64 MB (default 0 = never). Spills
        # gracefully beyond that; 64 MB/partition is cluster-safe. Measured
        # r13: heavy-16 subset 68.3→58.5 s stacked on the AQE floor.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        # driver-side py4j overhead (r13, guide §1/§4 — the Python boundary
        # includes the DRIVER): PySpark 4's DataFrame-debugging decorator
        # wraps every DataFrame/Column API call in ~5 py4j round trips
        # (getActiveSession + conf.get + origin set/clear) plus a Python
        # stack walk, purely to enrich error messages with call sites. On a
        # 378-query surface that is minutes of driver latency per bench run.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # --- broadcast: dims (region/nation/supplier at test SF) go map-side ---
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- Arrow for pandas UDF / toPandas exchange ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Python UDTFs also go Arrow-batched (BatchEvalPythonUDTF is the
        # row-pickling path; the plan audit bans BatchEvalPython* everywhere)
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        # parquet: vectorized reader on, sane split size for local disks
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "snappy")
        # timestamps in testdata are timestamp[ms]/[ns] without TZ; keep them stable
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # UI off: jetty startup + event-log overhead on every session
        .config("spark.ui.enabled", "false")
        # hive partition values stay strings: round_id is date-shaped but the
        # output schema policy types it string (ref integration goldens), and
        # silent str->date flips on lake read-back would break that parity
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
        # managed tables land here, never in the repo working dir
        .config("spark.sql.warehouse.dir", os.environ.get(
            "SPARK_WAREHOUSE_DIR", "/tmp/hubverse-spark-warehouse"))
        .config("spark.ui.showConsoleProgress", "false")
        # parquet TIMESTAMP(NANOS) (events.ts) is rejected by default; read as
        # long nanos and convert in load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    return builder.getOrCreate()


def table_path(sf_dir: str, name: str) -> str:
    """Path of one driver-generated parquet table under an sf dir."""
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one testdata table lazily (predicate/column pushdown preserved).

    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark only reads as a
    long (nanosAsLong) — convert to a microsecond timestamp with integer
    division (``div``, not ``/``: epoch-nanos exceed 2^53, double math would
    corrupt them). Truncation toward zero matches DuckDB's ns->us read.
    """
    from pyspark.sql import functions as F  # local import to avoid cycle

    # defensive: the caller may hand us a session built without this module's
    # factory (e.g. the driver harness). Both confs are runtime-settable and
    # required for correct reads: nanosAsLong or the TIMESTAMP(NANOS) column
    # in events.parquet fails the scan outright; UTC or date/window string
    # rendering shifts relative to the (timezone-naive) DuckDB oracle.
    for conf, val in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        try:
            spark.conf.set(conf, val)
        except Exception:  # pragma: no cover - conf locked by the host
            pass

    df = spark.read.parquet(table_path(sf_dir, name))
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.typeName() in ("long", "bigint"):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def _scan_shaped(df) -> bool:
    """True when ``df`` is projections/filters over a file relation only —
    the shape whose partition count is governed by file layout rather than
    by shuffle configuration.

    Inspects the OPTIMIZED LOGICAL plan (pure Catalyst work — no jobs),
    never ``df.rdd``: under AQE, converting a plan that contains exchanges
    to an RDD eagerly materializes the upstream query stages at
    DataFrame-composition time, and that work is not reused by the later
    repartition plan.
    """
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        names = _plan_node_names(plan)
    except Exception:  # pragma: no cover - plan not inspectable: stay safe
        return False
    heavy_exact = {
        "Join", "Aggregate", "Window", "Sort", "Generate", "Union",
        "Expand", "Deduplicate", "GlobalLimit", "LocalLimit", "CoGroup",
        "MapInPandas", "PythonMapInArrow", "MapInArrow",
        "FlatMapGroupsInPandas", "FlatMapGroupsInPandasWithState",
    }
    # Repartition appears as Repartition / RepartitionByExpression /
    # RebalancePartitions depending on the API used
    return not any(
        n in heavy_exact or n.startswith(("Repartition", "Rebalance"))
        for n in names
    )


def _plan_node_names(plan) -> list[str]:
    """Operator node names of a logical plan, via a structural tree walk.

    Matching STRUCTURAL ``nodeName()`` values (not substrings of the
    stringified plan) means a column or alias that happens to contain a
    capitalized operator token — 'JoinKey', 'SortedIds' — cannot
    false-positive the scan-shape test and silently skip the parallelism
    spread."""
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        out.append(node.nodeName())
        kids = node.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))
    return out


def _estimated_scan_partitions(spark, files) -> int | None:
    """Lower bound on the scan's partition count from file sizes alone.

    Each file contributes at least ``ceil(size / maxPartitionBytes)``
    splits (Spark's ``maxSplitBytes`` is capped by ``maxPartitionBytes``),
    so the sum is a lower bound on the real split count — if the bound
    already reaches ``defaultParallelism`` the scan is parallel enough and
    no repartition is needed. File sizes come from the Hadoop FileSystem
    (listing metadata only — no job); ``None`` on any FS error.
    """
    try:
        max_bytes = int(spark.conf.get("spark.sql.files.maxPartitionBytes"))
    except Exception:
        max_bytes = 128 * 1024 * 1024
    try:
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        total = 0
        for f in files:
            p = jvm.org.apache.hadoop.fs.Path(f)
            fs = p.getFileSystem(hconf)
            size = fs.getFileStatus(p).getLen()
            total += max(1, -(-size // max_bytes))  # ceil-div, min 1 split
        return int(total)
    except Exception:  # pragma: no cover - remote FS stat failed
        return None


def spread_small_scan(df):
    """Ensure a SCAN-SHAPED ``df`` has at least ``defaultParallelism``
    partitions before an expensive per-row stage (regex shingling, HOF
    vector math, deletion-closure generation).

    A small table often arrives as ONE parquet file below
    ``maxPartitionBytes`` — a single scan partition — which serializes any
    heavy map-side expression onto one task no matter how many cores exist
    (parquet can't split below the row group). The repartition moves only
    the (tiny) table itself; when the scan is already parallel (the 100 TB
    case: thousands of files) this is a no-op with zero added exchange.

    Decision path (no ``df.rdd`` access anywhere — an RDD conversion under
    AQE eagerly runs upstream stages when exchanges are present):

    1. ``len(inputFiles) >= defaultParallelism`` → enough scan splits, no-op.
    2. plan not scan-shaped (join/agg/window/... upstream) → no-op: its
       partitioning is already governed by shuffle config + AQE, not files.
    3. file-size lower bound on splits ``>= defaultParallelism`` (few but
       LARGE files that ``maxPartitionBytes`` already splits) → no-op.
    4. otherwise: genuinely small scan → ``repartition(defaultParallelism)``.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:  # pragma: no cover - fileless source
        return df
    # len(files) >= target is sound as a no-stat shortcut under Spark's
    # split packing: partitions ≈ ceil(Σ(size + openCost) / maxSplitBytes)
    # with maxSplitBytes = min(maxPartitionBytes, max(openCost,
    # Σ/parallelism)). In the openCost-dominated regime that ratio is
    # ≥ len(files); in the Σ/parallelism-dominated regime it is
    # ≈ parallelism — either way ≥ min(len(files), defaultParallelism),
    # for ANY openCostInBytes setting (a lowered openCost only moves the
    # regime boundary, not the bound). So many files never pack below the
    # target here, and the FS stat pass is only paid for few-file scans.
    if not files or len(files) >= target:
        return df
    if not _scan_shaped(df):
        return df
    est = _estimated_scan_partitions(spark, files)
    if est is not None and est >= target:
        return df
    return df.repartition(target)
