"""Run one workload of the hubverse-spark benchmark and print its metrics.

    python3 perfbench/run.py --workload hub_files --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
(cached under ``.bench_cache/``), the program runs on Spark
``local[<cpus>]`` in this one process, and every output is checked. A run
does a fixed number of whole cycles of its workload: as many as fit in
``--seconds`` at the workload's nominal cycle time (``cycle_s`` in
``spec.json``). The
last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics of a traced window with ``--trace 1``.
The line before it carries the details: sample counts and the highest
supported percentile, set-up times, host load (including the share of CPU
time the hypervisor stole, overall and during each latency sample),
per-query times and every failure by name. The exit code is 0 only when every check passed.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("hub_files", "query_mix")
N_SETUPS = 3


def _environment(work: str) -> None:
    """Settings that must be in place before the JVM starts: Python workers
    import the package from the checkout whatever their working directory,
    and Spark, the JVM and Python keep their scratch files in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]


def _workload(name: str, seed: int, spec: dict, work: str):
    from perfbench import inputs, workloads

    sizes = spec["workloads"][name]["sizes"]
    if name == "query_mix":
        qm = spec["query_mix"]
        manifest = inputs.ensure_inputs(ROOT, name, seed, scale=sizes["scale"], sample=qm["sample"])
        return workloads.QueryMix(manifest, work, qm["sample"], qm["strata_of"], qm["warmup_query"])
    manifest = inputs.ensure_inputs(ROOT, name, seed, **sizes)
    return workloads.HubFiles(manifest, work)


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("hubverse_transform_spark", "__spark_entry__.py", "bench.py", "tools/gen_reseed.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files not found under {ROOT}: {', '.join(missing)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    _environment(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    from perfbench import proc, stats
    from perfbench.trace import Tracer

    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)

    t = time.perf_counter()
    wl = _workload(args.workload, args.seed, spec, work)
    gen_s = time.perf_counter() - t

    from hubverse_transform_spark.session import get_spark

    def session():
        t = time.perf_counter()
        s = get_spark("perfbench")
        s.sparkContext.setLogLevel("ERROR")
        return s, time.perf_counter() - t

    # set-ups: the first runs from process start (JVM launch included), the
    # others stop the session and build it again; each ends with a warm-up
    spark, get_spark_s = session()
    try:
        wl.warmup(spark)
        setups = [time.perf_counter() - PROCESS_START - gen_s]
        for _ in range(N_SETUPS - 1):
            t = time.perf_counter()
            spark.stop()
            spark, _ = session()
            wl.warmup(spark)
            setups.append(time.perf_counter() - t)

        import bench  # the 378-query harness; reused for its /proc/stat reader

        wl.prime(spark)
        jvm = proc.jvm_pid(spark)
        load_pre, stat0, ticks0 = os.getloadavg(), bench._proc_stat(), proc.cpu_ticks()
        # a run does a fixed number of whole cycles, as many as fit in
        # --seconds at the workload's nominal cycle time; --trace 1 splits
        # --seconds among untraced windows before and after the traced one,
        # so the JVM's warm-up trend cancels out of the tracing overhead
        seconds = args.seconds / 3 if args.trace else args.seconds
        cycles = stats.cycles(seconds, spec["workloads"][args.workload]["cycle_s"], wl.min_cycles)
        untraced = []
        if args.trace:
            untraced.append(wl.window(spark, cycles))
            tracer = Tracer(spark, f"run{os.getpid()}")
            wl.trace_hooks(tracer)
        cpu0, drv0, jvm0 = proc.cpu_seconds(os.getpid()), _self_cpu(), proc.cpu_seconds(jvm)
        try:
            w = wl.window(spark, cycles, tracer if args.trace else None)
        finally:
            if args.trace:
                tracer.unwrap_all()
        cpu1, drv1, jvm1 = proc.cpu_seconds(os.getpid()), _self_cpu(), proc.cpu_seconds(jvm)
        if args.trace:
            untraced.append(wl.window(spark, cycles))
        stat1, ticks1 = bench._proc_stat(), proc.cpu_ticks()
        rss = proc.peak_rss_mb([os.getpid(), jvm])
    finally:
        _stop(spark)

    tally = w.tally
    for u in untraced:
        tally.attempted += u.tally.attempted
        tally.failures += u.tally.failures
    if args.trace:
        plain = sum(u.wall_s / u.ops for u in untraced) / len(untraced)
        metrics = stats.per_layer(
            spans=tracer.layer_totals(), measured=w.layer, ops=w.ops, get_spark_s=get_spark_s,
            driver_cpu_s=drv1 - drv0, jvm_cpu_s=jvm1 - jvm0, rss_mb=rss,
            overhead_frac=(w.wall_s / w.ops) / plain - 1.0, plain_op_s=[x for u in untraced for x in u.op_s],
            plain_items_per_s=sum(u.items for u in untraced) / sum(u.busy_s for u in untraced),
        )
    else:
        metrics = stats.end_to_end(setup_s=setups, items=w.items, cpu_s=cpu1 - cpu0)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "latency": stats.summarize(w.op_s), "items_per_s": w.items / w.busy_s, "op_s": w.op_s, "op_steal": w.op_steal, "cycles": cycles, "ops": w.ops, "items": w.items, "window_s": w.wall_s,
        "setup_s": setups, "input_generation_s": gen_s, "peak_rss_mb": rss,
        "load": {"loadavg_pre": load_pre, "loadavg_post": os.getloadavg(),
                 "cpu_busy_frac": 1.0 - (stat1[1] - stat0[1]) / max(1, stat1[0] - stat0[0]),
                 "cpu_steal_frac": proc.steal_frac(ticks0, ticks1),
                 "n_cpus": os.cpu_count()},
        "failures": [{"op": n, "reason": r} for n, r in tally.failures],
        **w.detail,
    }
    print(json.dumps(detail))
    print(json.dumps({"correct": tally.failed == 0, "attempted": tally.attempted, "failed": tally.failed,
                      "metrics": metrics}))
    return 0 if tally.failed == 0 else 1


def _self_cpu() -> float:
    t = os.times()
    return t.user + t.system


if __name__ == "__main__":
    sys.exit(main())
