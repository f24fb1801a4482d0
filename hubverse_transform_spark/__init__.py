"""hubverse_transform_spark — a PySpark-native analytics engine.

Re-expresses the capabilities of hubverse-org/hubverse-transform (reference at
/root/reference, see SURVEY.md) as idiomatic Spark DataFrame transformations,
plus a general analytic / LLM-data-pipeline operator layer designed for
100 TB-scale execution (partition-aware joins, broadcast dims, AQE, no
driver-side materialization in the data plane).

Layer A (reference parity):
    - ``schema``      tasks.json -> StructType compiler   (ref model_output.py:282-288)
    - ``sources``     schema-enforced CSV / cast-on-read Parquet readers
                      (ref model_output.py:263-277)
    - ``transform``   ModelOutputPipeline: read -> add provenance columns ->
                      single-file parquet sink / delete (ref model_output.py:291-340)
    - ``paths``       filename parse / URI sanitize / S3 key routing
                      (ref model_output.py:136-261)
    - ``streaming``   event-driven ingest (ref faas/lambda_function.py:22-62)
    - ``sinks``       partitioned hub lake + one-pass backfill
                      (ref faas/lambda_retrigger_model_output_add.py)

Layer B (extensions, not in the reference — SURVEY.md §2.3), the library
behind the query surface in ``__spark_entry__``:
    - ``operators``   joins/aggs/windows/top-k/sampling, dedup family
                      (content hash, MinHash-LSH, SimHash, n-gram Jaccard,
                      winnowing, embedding), similarity search (brute-force,
                      LSH, IVF), text analysis, multimodal decode, as-of join
    - ``functions``   column-level helpers (null-token normalization,
                      arrow-style casts, vector math, text metrics)
    - ``streaming``   windowed aggregations and interval joins over events
    - ``plans``       plan text for the dump tools, the curation funnel

Import each name from its defining module; no ``__init__`` re-exports.
"""

__version__ = "0.1.0"
