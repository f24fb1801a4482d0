"""Multi-token null set (Layer A, SURVEY.md §7.1).

The reference's CSV reader nullifies a fixed 8-token set in ANY column,
including string columns, with quoted tokens also matching (ref:
model_output.py:270-273; asserted at test_model_output_integration.py:59-72).
Spark's CSV ``nullValue`` option is single-valued, so
``sources.model_output.read_model_output_csv`` expresses the same semantics
as a ``CASE WHEN c IN (<tokens>)`` projection over the raw string read — a
constant-folded codegen expression, no UDF.
"""

from __future__ import annotations

#: exact token set from ref model_output.py:270-273 — matched verbatim, NOT
#: trimmed (PyArrow nulls " " but keeps "  ").
NULL_TOKENS: tuple[str, ...] = ("na", "NA", "", " ", "null", "Null", "NaN", "nan")
