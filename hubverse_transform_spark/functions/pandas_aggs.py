"""Grouped-aggregate Pandas UDFs (UDAF surface) [EXT].

The missing piece between built-in aggregates (JVM, fast path) and
grouped-map ``applyInPandas`` (whole-group DataFrames): a GROUPED_AGG
``pandas_udf`` receives one column as a pandas Series per group and returns
a scalar — usable inside ``groupBy().agg(...)`` alongside built-ins, and as
a window function. Arrow-batched; use only for statistics the built-ins
cannot express (anything expressible as sum/avg/percentile_approx should
stay JVM-side).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType


# DoubleType(), not "double": a type string is parsed through the JVM, so
# the module could not be imported without an active session
@pandas_udf(DoubleType())
def trimmed_mean_10(v: pd.Series) -> float:
    """10% symmetric trimmed mean: drop floor(0.1*n) values from each end
    (by value order) and average the rest — the outlier-robust location
    estimate.

    Engine-reproducible by construction: inputs are currency (exact cents),
    so the kept values sum EXACTLY as integer cents (no float association
    order) and one IEEE division yields the identical double any SQL engine
    computes — a float-sum mean can land on a rounding boundary and diverge
    in the last printed digit."""
    s = v.dropna().sort_values()
    n = len(s)
    if n == 0:
        return float("nan")
    k = int(n * 0.1)
    kept = s.iloc[k : n - k] if n - 2 * k > 0 else s
    cents = (kept * 100).round().astype("int64").sum()
    return float(cents) / (100.0 * len(kept))
