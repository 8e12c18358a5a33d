"""Anchor-set sources (the BED-file analog, SURVEY.md §2.1 S3-S5).

The reference recenters BED intervals to midpoints and expands windows
(``utils.py:238-288``); same semantics here as a declarative DataFrame
op. Multi-set runs need no helper: a name-tagged ``unionByName`` of the
sets is one anchor frame, and ``extract_features`` keys its per-set
summaries by ``name``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

def recenter_expand(
    df: DataFrame, start: str = "start_ts", end: str = "end_ts", extra: int = 0
) -> DataFrame:
    """Interval → recentered anchor point ± slack (midpoint recenter +
    ``extra_bases`` expansion, ``utils.py:238-258``): emits anchor_ts =
    floor((start+end)/2) and keeps the slack for later trim (P7)."""
    return df.withColumn(
        "anchor_ts", F.floor((F.col(start) + F.col(end)) / 2).cast("long")
    ).withColumn("slack", F.lit(extra).cast("long"))
