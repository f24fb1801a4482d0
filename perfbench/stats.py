"""Pure statistics of the benchmark: percentiles, failure counting, span
self time, and the mapping from raw measurements to named metrics."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field

#: percentiles tried, lowest first; a percentile is reported only when at
#: least ``MIN_BEYOND`` samples lie beyond it
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples."""
    return max(1, math.ceil(p / 100.0 * n))


def supported(p: float, n: int) -> bool:
    """True when at least ``MIN_BEYOND`` of ``n`` samples lie beyond the
    ``p``-th percentile's rank."""
    return n > 0 and n - rank(p, n) >= MIN_BEYOND


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile of ``values`` (not interpolated)."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[rank(p, len(values)) - 1]


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction of the incomplete beta function (modified Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-15:
            break
    return h


def beta_cdf(x: float, a: float, b: float) -> float:
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b) + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def harrell_davis(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p``-th percentile: a Beta-weighted
    mean of all order statistics. Unlike the nearest rank it does not jump
    when two samples near the percentile swap places, which keeps it
    steady on small samples with gaps between their values."""
    if not values:
        raise ValueError("percentile of no samples")
    xs, n = sorted(values), len(values)
    q = p / 100.0
    a, b = (n + 1) * q, (n + 1) * (1.0 - q)
    cdf = [beta_cdf(i / n, a, b) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def highest_supported(n: int) -> float | None:
    """The highest ladder percentile that ``n`` samples support."""
    best = None
    for p in LADDER:
        if supported(p, n):
            best = p
    return best


def summarize(values: list[float]) -> dict:
    """Median, quartile and the highest supported percentile, with the
    sample count behind them."""
    n = len(values)
    out: dict = {"n": n}
    if not n:
        return out
    out["p50"] = percentile(values, 50)
    out["p50_harrell_davis"] = harrell_davis(values, 50)
    out["p75"] = percentile(values, 75)
    top = highest_supported(n)
    out["top_percentile"] = top
    if top is not None:
        out["top_value"] = percentile(values, top)
    out["p50_supported"] = supported(50, n)
    out["p75_supported"] = supported(75, n)
    return out


@dataclass
class Tally:
    """Attempted and failed operations, with the reason for each failure.

    An operation fails when it raised where no error was expected, raised
    something other than the expected warning, finished where a warning was
    expected, or produced output that failed its check."""

    attempted: int = 0
    failures: list[tuple[str, str]] = field(default_factory=list)

    @property
    def failed(self) -> int:
        return len(self.failures)

    def record(self, name: str, *, expected_warning: bool, raised: BaseException | None,
               check_errors: list[str] | None = None) -> bool:
        """Count one operation; returns True when it succeeded."""
        self.attempted += 1
        reason = None
        if raised is not None and not (expected_warning and isinstance(raised, UserWarning)):
            reason = f"{type(raised).__name__}: {raised}"[:300]
        elif raised is None and expected_warning:
            reason = "expected a UserWarning, operation succeeded"
        elif check_errors:
            reason = "; ".join(check_errors)[:300]
        if reason is not None:
            self.failures.append((name, reason))
        return reason is None

    def fail(self, name: str, reason: str) -> None:
        """Count a failed check that is not tied to a timed operation."""
        self.failures.append((name, reason[:300]))


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its interval
    that its child spans cover (overlapping children counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - union_length(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def cycles(seconds: float, cycle_s: float, min_cycles: int) -> int:
    """Whole cycles of a run: as many as fit in ``seconds`` at the nominal
    ``cycle_s``, and never fewer than ``min_cycles``."""
    return max(min_cycles, int(seconds // cycle_s))


# --- metric assembly ----------------------------------------------------------

#: end-to-end metrics. Wall-clock latency and throughput are per-layer
#: (``wall.*``): on a 4-vCPU virtual machine sharing its host, the
#: hypervisor stole up to a third of the time the benchmark wanted to run,
#: for tens of minutes at a time, which moved wall times by up to 2x
#: between runs of the same code; process CPU time excludes stolen time
#: and moved 10-15% in the same runs.
END_TO_END_UNITS = {
    "setup_s": "s",
    "cpu_ms_per_item": "ms",
}


def end_to_end(*, setup_s: list[float], items: float, cpu_s: float) -> dict[str, dict]:
    """The named end-to-end metrics of one untraced run.

    ``setup_s``: each set-up of the run (the median is reported);
    ``items``: work items completed in the timed window;
    ``cpu_s``: driver plus JVM CPU seconds over the timed window."""
    values = {
        "setup_s": statistics.median(setup_s),
        "cpu_ms_per_item": cpu_s * 1e3 / items,
    }
    return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}


STRATA = ("eager_compose", "exec_heavy", "job_light")

#: per-layer metrics and their units. Values are per operation of the
#: workload (event, file, backfill cycle, query) unless the name says
#: otherwise; a layer a workload never calls reads 0.
PER_LAYER_UNITS = {
    "session.get_spark.s": "s",
    "session.load_table.calls": "count",
    "session.load_table.s": "s",
    "session.load_table.jobs": "count",
    "schema.compile.s": "s",
    "sources.read.s": "s",
    "sources.read.jobs": "count",
    "transform.provenance.s": "s",
    "transform.write.s": "s",
    "transform.write.jobs": "count",
    "transform.write.tasks": "count",
    "transform.write.bytes": "bytes",
    "transform.delete.s": "s",
    "ingest.batches": "count",
    "ingest.trigger.s": "s",
    "ingest.discover.s": "s",
    "ingest.add_batch.s": "s",
    "ingest.rows_scanned_per_file": "count",
    "sinks.backfill.s": "s",
    "sinks.backfill.jobs": "count",
    "sinks.backfill.tasks": "count",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.files_per_partition": "count",
    "sinks.bytes_per_input_byte": "ratio",
    "lake.open.s": "s",
    "lake.scan.s": "s",
    "lake.scan.files_read_frac": "ratio",
    "query.compose.s": "s",
    "query.compose.jobs": "count",
    "query.plan.s": "s",
    "query.exec.s": "s",
    "query.exec.jobs": "count",
    "query.exec.stages": "count",
    "query.exec.tasks": "count",
    "query.exec.exchanges": "count",
    "query.exec.shuffle_bytes": "bytes",
    **{f"query.{phase}.s.{st}": "s" for phase in ("compose", "exec") for st in STRATA},
    "wall.op_p50_ms": "ms",
    "wall.items_per_s": "1/s",
    "cpu.driver_s": "s",
    "cpu.jvm_s": "s",
    "mem.peak_rss_mb": "MB",
    "trace.overhead_frac": "ratio",
}


def per_layer(*, spans: dict[str, dict[str, float]], measured: dict[str, float], ops: int,
              get_spark_s: float, driver_cpu_s: float, jvm_cpu_s: float, rss_mb: float,
              overhead_frac: float, plain_op_s: list[float], plain_items_per_s: float) -> dict[str, dict]:
    """The named per-layer metrics of one traced window.

    ``spans``: per-span-name totals from the tracer (self time under
    ``s``, counts under their own keys), divided here by ``ops``;
    ``measured``: values the workload measured outside spans, used as is;
    ``plain_op_s`` and ``plain_items_per_s``: latency samples (their p50
    is the Harrell-Davis estimate) and throughput of the untraced windows."""
    fixed = {"session.get_spark.s": get_spark_s, "wall.op_p50_ms": harrell_davis(plain_op_s, 50) * 1e3,
             "wall.items_per_s": plain_items_per_s, "cpu.driver_s": driver_cpu_s / ops,
             "cpu.jvm_s": jvm_cpu_s / ops, "mem.peak_rss_mb": rss_mb, "trace.overhead_frac": overhead_frac}
    out = {}
    for name, unit in PER_LAYER_UNITS.items():
        if name in fixed:
            value = fixed[name]
        elif name in measured:
            value = measured[name]
        else:
            parts = name.split(".")
            if parts[-1] in STRATA:  # query.<phase>.s.<stratum>
                span, field_ = f"query.{parts[1]}@{parts[-1]}", "s"
            else:
                span, field_ = ".".join(parts[:-1]), parts[-1]
            value = spans.get(span, {}).get(field_, 0) / ops
        out[name] = {"value": value, "unit": unit}
    return out
