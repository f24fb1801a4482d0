"""Cache-compute-release: the persist discipline for multi-branch operators.

Operators whose plan consumes an expensive intermediate from SEVERAL
branches (self-join sides, verification re-joins, per-iteration rank
vectors) need that intermediate materialized once, not recomputed per
branch. Three mechanisms exist and only one has the right properties here:

- ``persist()`` alone: fills during the first consuming job and serves all
  branches with full Catalyst/AQE optimization — but the registration
  outlives the query (the round-3 verdict's leak: evicts working memory at
  scale, and re-registration from composed callers spams ``CacheManager:
  Asked to cache already cached data``).
- ``localCheckpoint(eager=...)`` on the intermediates: GC-reclaimed, but
  the LogicalRDD boundary freezes the subplan — AQE no longer plans the
  enclosing query, measured up to 12x slower on the iterative operators.
- **persist the intermediates, eagerly materialize the (small) OUTPUT,
  then unpersist** — ``compute_release`` below. The single eager job is
  the same AQE-planned execution the caller's first action would have run
  (caches fill mid-job and serve every branch), the intermediates are
  released deterministically on exit (no leak, nothing left registered,
  no re-registration warnings from composed pipelines), and the returned
  frame scans the checkpointed output, whose storage the ContextCleaner
  reclaims when the frame is garbage-collected.

The pattern fits operators whose OUTPUT is much smaller than the
intermediates (near-dup pairs, rank vectors, fingerprint overlaps). For a
data-sized output, eager materialization would double-buffer the result —
keep plain persist and document the trade instead.

Keeping a site. A subtree that feeds several branches is not reason
enough: the lazy plan recomputes it, but AQE plans it whole, and on most
single-query sites that was faster than filling and reading a cache. So a
persist, ``compute_release`` or eager ``localCheckpoint`` stays only where an
order-balanced A/B of its consumer (``tools/ab_quiet2.py``, per-pass
medians) shows it winning, and the call site carries that number. A site in
a shared helper is judged by every consumer, and a persist stays only
beside its release.

Fault tolerance. ``localCheckpoint`` keeps its blocks in executor block
managers with the lineage cut, so losing an executor that holds one fails
the query instead of recomputing. The sites: ``compute_release`` (from
q245, ``operators.dedup``'s two prefix joins and
``simhash_near_dup_pairs``, and ``operators.graph``'s ``pagerank`` and
``bfs_hops``), the direct eager checkpoints of q150 and q311, and the
per-round state of ``operators.clusters`` and ``operators.profiling``.
That is acceptable for a small frame that lives no longer than the query
building it: recovery is re-running that query. It is not acceptable on
the Layer-A landing path (which has none), for a frame shared across queries
or micro-batches, or under dynamic allocation, which drops idle executors
with their blocks (``session.get_spark`` leaves it off; a deployment that
turns it on needs ``checkpoint()`` to a reliable dir at these sites).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def compute_release(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Materialize ``result`` once (eager localCheckpoint: one AQE-planned
    job during which the ``cached`` persisted intermediates fill and serve
    every plan branch), then unpersist each intermediate. Returns the
    checkpointed result frame, which is not fault tolerant (see the module
    docstring for where that is acceptable)."""
    out = result.localCheckpoint(eager=True)
    for df in cached:
        df.unpersist()
    return out
