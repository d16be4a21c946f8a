"""P9 validity filter.

Reference semantics (instageo/data/stac_utils.py:53-69 `is_valid_entry` +
hls_utils.py:275-291): an observation's granule sequence is valid iff every
timestep matched (no nulls) AND all matched granules are pairwise distinct.
A4 (stac_utils.py:310, distinct granule-sets) is not a separate operator:
operators/chips.extract_chips regroups chip work by granule, and the
registry's q09_granule_sets builds the stac_items_str sets inline.

Pure array column expressions — no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def validity_filter(records: DataFrame, num_steps: int | None = None) -> DataFrame:
    g = F.col("granules")
    no_nulls = ~F.exists(g, lambda x: x.isNull())
    distinct = F.size(F.array_distinct(g)) == F.size(g)
    cond = no_nulls & distinct
    if num_steps is not None:
        cond = cond & (F.size(g) == F.lit(num_steps))
    return records.filter(cond)
