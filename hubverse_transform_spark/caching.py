"""Lineage cuts: the one module that materializes a frame mid-query.

An operator that reads an expensive intermediate from several branches, or
iterates, may materialize it once instead of recomputing it. Plain
``persist()`` leaves a CacheManager registration that outlives the query
(evicting working memory, and re-registration warnings from composed
callers); an eager ``localCheckpoint`` is reclaimed by the ContextCleaner
when its frame is collected, but the LogicalRDD boundary hides the subplan
from AQE. Two helpers own the cut:

- ``compute_release`` materializes a small OUTPUT with one eager,
  AQE-planned job (persisted intermediates fill mid-job and serve every
  branch) and then unpersists the intermediates, so nothing stays
  registered. It fits outputs much smaller than their intermediates; for a
  data-sized output it would double-buffer the result.
- ``iterate`` runs the fixed rounds of ``graph.pagerank``,
  ``graph.bfs_hops`` and ``profiling.power_iteration_top_eigen``. Each
  declares one round as a function of the state carried from the round
  before; the kernel cuts every round, so round k's plan is one round deep
  and planning cost stays flat in the round count. Loop-invariant inputs
  are cut once with ``compute_release`` before the loop.
  ``clusters.connected_components`` keeps its own loop, cut by
  ``compute_release``, by the A/B recorded there.

Keeping a site. A subtree that feeds several branches is not reason
enough: the lazy plan recomputes it, but AQE plans it whole, and on most
single-query sites that was faster than filling and reading a cache. So a
persist, ``compute_release`` or ``iterate`` stays only where an
order-balanced A/B of its consumer (``tools/ab_quiet2.py``, per-pass
medians) shows it winning, and the call site carries that number. A change
(adding or removing a site) stays when the changed side's median of
per-pass medians is lower than the parent's, or higher by less than the
parent's interquartile range AND lower in at least half the pairs. A site
in a shared helper is judged by every consumer, and a persist stays only
beside its release.

Fault tolerance. ``localCheckpoint`` keeps its blocks in executor block
managers with the lineage cut, so losing an executor that holds one fails
the query instead of recomputing. The sites are the callers of
``compute_release`` and ``iterate``. That is acceptable for a small frame
that lives no longer than the query building it: recovery is re-running
that query. It is not acceptable on the Layer-A landing path (which has
none), for a frame shared across queries or micro-batches, or under
dynamic allocation, which drops idle executors with their blocks
(``session.get_spark`` leaves it off; a deployment that turns it on needs
``checkpoint()`` to a reliable dir here).
"""

from __future__ import annotations

from typing import Callable

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


def iterate(state: DataFrame, step: Callable[[DataFrame, int], DataFrame], rounds: int) -> DataFrame:
    """Run ``state = step(state, i)`` for i = 1..``rounds`` (exactly that
    many: bit-stable for oracle comparison), cutting each round's result
    from its lineage with one eager ``localCheckpoint``."""
    for i in range(1, rounds + 1):
        state = step(state, i).localCheckpoint(eager=True)
    return state
