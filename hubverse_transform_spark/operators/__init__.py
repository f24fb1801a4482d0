"""Layer-B analytic + LLM-pipeline operators [EXT] (SURVEY.md §2.3).

Not present in the reference (it has no joins/aggregations/windows anywhere —
verified by grep, SURVEY.md §2.2). Every operator here is reached from a
query, the bench or a tool (tests/test_reachability.py holds that).
Each is designed shuffle-first: broadcast the small side, partial-aggregate
before exchange, never collect to the driver.
"""
