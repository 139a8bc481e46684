"""Probe-set normalization: ``indexes_to_check`` as list OR DataFrame.

The reference API takes a Python list (``url.py:42``, ``pdq_hash.py:99``)
and both operators here accept that unchanged — a small list embeds as a
plan literal, which is the cheapest shape for the reference's
interactive probe sizes. At cluster scale a probe set can itself be the
output of a query (millions of ids); a driver-side literal list then
bloats the plan and serializes through the driver. For that case both
operators also accept a DataFrame, which joins as a broadcast semi-join
— distributed end to end, no driver round-trip.

:func:`restrict_to_probes` is the one place that choice is made: the
PDQ operators restrict their probe side with it, and the URL operator
restricts the normalized-url rows it takes group keys from.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, functions as F


def probe_column_frame(probe: DataFrame) -> DataFrame:
    """Normalize a probe DataFrame to one distinct string ``index`` column.

    Accepts a frame with an ``index`` column, or any single-column frame
    (the column is taken as the probe ids).
    """
    if "index" in probe.columns:
        col = "index"
    elif len(probe.columns) == 1:
        col = probe.columns[0]
    else:
        raise ValueError(
            "probe DataFrame must have an `index` column or exactly one "
            f"column; got {probe.columns}"
        )
    return probe.select(
        F.col(col).cast("string").alias("index")
    ).dropDuplicates(["index"])


def restrict_to_probes(
    df: DataFrame, indexes_to_check: list[str] | DataFrame | None
) -> DataFrame:
    """Rows of ``df`` whose ``index`` is in the probe set; ``df`` itself
    when there is none. A list becomes a plan-literal ``isin``; a
    DataFrame becomes a broadcast semi-join."""
    if indexes_to_check is None:
        return df
    if isinstance(indexes_to_check, DataFrame):
        return df.join(
            F.broadcast(probe_column_frame(indexes_to_check)), "index", "semi"
        )
    return df.where(F.col("index").isin([str(i) for i in indexes_to_check]))


def is_empty_probe_list(indexes_to_check) -> bool:
    """True, with a warning, for an empty list probe set: the operators
    then return an empty result without planning anything."""
    if indexes_to_check is None or isinstance(indexes_to_check, DataFrame):
        return False
    if len(indexes_to_check):
        return False
    warnings.warn("indexes_to_check is empty; returning empty result")
    return True
