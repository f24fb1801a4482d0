"""Regenerate PLANS.md: formatted physical plans for representative queries.

Usage: python tools/dump_plans.py  (writes PLANS.md at the repo root)

AQE is disabled for the dump so join strategies and codegen stage ids are
visible pre-execution (AQE hides final plans until runtime; the shapes shown
here are what AQE starts from).
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

import __spark_entry__ as entry
from hubverse_transform_spark.plans.inspect import explain_str
from hubverse_transform_spark.session import get_spark

SF = "/root/testdata/sf0.001"

#: query -> what the plan demonstrates
SHOWCASE = {
    "q06_revenue_filter": (
        "Filter pushdown + column pruning: every predicate reaches "
        "PushedFilters, ReadSchema carries only the three referenced columns, "
        "and the whole query is one WholeStageCodegen span over the scan."
    ),
    "q02_revenue_by_region": (
        "Star join: the fact table streams through three BroadcastHashJoins "
        "(dims broadcast) with partial aggregation before the single shuffle."
    ),
    "q67_small_quantity_revenue": (
        "Decorrelated per-group threshold: the correlated avg becomes an "
        "aggregate joined back on l_partkey; at this SF the stats make the "
        "agg side a broadcast, at scale AQE flips the same plan to SMJ."
    ),
    "q21_ngram_jaccard_pairs": (
        "Inverted-index near-dup join: single-pass regex shingling (no "
        "re-evaluation under the generator), ShuffledHashJoin on the shingle "
        "key (hinted — a corpus-sized side must never broadcast)."
    ),
    "q72_part_pagerank": (
        "Iterative graph step: the per-iteration join/agg loop runs inside "
        "pagerank's eager checkpoint of the final rank vector, so the plan "
        "is a Scan ExistingRDD of that checkpoint plus the rounding Project."
    ),
    "q80_event_funnel": (
        "One-shuffle funnel: single hash aggregation collecting sorted event "
        "structs, then pure HOF projections — no second pass over events."
    ),
    "q83_profile_orders": (
        "Exact profiling as a Union of per-column rollups: each branch scans "
        "ONE column (pruned ReadSchema) and shuffles only distinct values — "
        "no Expand operator, which N count_distincts in one agg would force "
        "(an N-fold row duplication of the whole table)."
    ),
    "q102_decontamination": (
        "Decontamination: the benchmark shingle vocabulary builds once and "
        "broadcasts; the corpus explode streams map-side through a "
        "BroadcastHashJoin, and the only full shuffle is the per-doc count."
    ),
    "q126_chunk_dedup": (
        "Chunk-level dedup in one pass: Generate (chunk explode) feeds a "
        "window count keyed on the chunk hash, then the per-doc rollup — "
        "exactly two Exchanges, and the text is chunked once (the naive "
        "groupBy+self-join form re-chunks every document twice)."
    ),
    "q132_pq_adc_topk": (
        "PQ asymmetric-distance scan: the corpus collapses to a code table; "
        "the per-query lookup table broadcasts; scoring is a "
        "BroadcastHashJoin + partial-sum shuffle — raw vectors never "
        "shuffle, which is the point of PQ at 100 TB."
    ),
    "q144_revenue_trend": (
        "Exact integer OLS: broadcast dim chain into the daily cents rollup "
        "(one big shuffle), then a per-region moment aggregate — regression "
        "without any sketch, UDF, or driver math."
    ),
    "q158_prefix_filter_jaccard": (
        "PPJoin prefix-filtered set-similarity join: InMemoryTableScans show "
        "the shingle arrays and rarest-first prefix postings cached across "
        "their two consumer branches; the candidate join is a "
        "ShuffledHashJoin on prefix tokens only, with the length and "
        "positional filters applied inside the join before any pair "
        "materializes."
    ),
    "q159_embedding_covariance": (
        "Two-phase moment aggregation: MapInPandas emits one numpy Gram "
        "partial per partition (O(dim^2) rows regardless of input size), "
        "merged by a 2080-key hash aggregate; the component means join in "
        "as BroadcastHashJoins — the raw vectors never shuffle."
    ),
    "q186_pareto_skyline": (
        "Two-phase skyline: the first MapInPandas sweeps each partition's "
        "local frontier (dominated rows never leave their partition), the "
        "coalesce(1) + second MapInPandas merges only the surviving "
        "frontiers — the classic local-prune/global-merge shape for "
        "holistic operators."
    ),
    "q195_power_iteration_pca": (
        "Iterative linear algebra as relational ops: each normalize(Cv) "
        "round is one join on the 64-key mirrored covariance plus one "
        "64-key aggregate, with the norm riding as a 1-row broadcast; "
        "localCheckpoint truncates the per-round lineage. No eigensolver, "
        "no driver-side matrix."
    ),
    "q206_group_quantiles_scalable": (
        "q40's declared scale twin: quantiles WITHOUT percentile()'s "
        "single-reducer buffer — per-group cumulative windows run over the "
        "distinct-value count table (cardinality bounded by value "
        "granularity, not rows), and the cut rule is an integer codegen "
        "comparison (cum*d >= n*i), no float rank math."
    ),
    "q207_approx_decile_audit": (
        "q170's declared scale twin: ObjectHashAggregate carrying "
        "approx_percentile's fixed-size GK sketch (state O(1/accuracy) per "
        "partition, pairwise-merged — no reducer ever buffers the column), "
        "then one broadcast of the 9 cuts back over lineitem for the "
        "in-engine rank-error audit."
    ),
    "q220_scalable_row_number": (
        "Distributed contiguous row numbering: the data-sized Window is "
        "PARTITIONED by value bucket (parallel), the only unpartitioned "
        "Window runs over the 32-row bucket-count table, and offsets ship "
        "back via BroadcastExchange — contrast with the single-task "
        "WindowExec the oracle uses for the same answer."
    ),
}


def main() -> None:
    spark = get_spark("plandump", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    qs = entry.queries()
    out = [
        "# PLANS — physical-plan evidence for representative queries\n",
        "Auto-generated by `python tools/dump_plans.py` at sf0.001 with AQE",
        "disabled (so pre-runtime join strategies and codegen spans are",
        "visible). Do not edit by hand.\n",
    ]
    for name, why in SHOWCASE.items():
        plan = explain_str(qs[name](spark, SF))
        out.append(f"\n## {name}\n\n{why}\n\n```\n{plan.strip()}\n```\n")
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(SHOWCASE)} plans)")


if __name__ == "__main__":
    main()
