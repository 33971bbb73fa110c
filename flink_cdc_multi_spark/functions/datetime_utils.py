"""Epoch-millis formatting helpers (reference: java/utils/DateTimeUtils.java:9-25
and java/bucketassigners/DateBucketAssigner.java:32-41).

The reference formats with the system default zone; we pin UTC (session TZ)
so output layout is deterministic across machines — SURVEY.md §7.5.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dt_bucket(ts_millis: Column) -> Column:
    """epoch ms → 'yyyy-MM-dd' partition value (T7)."""
    return F.date_format(F.timestamp_millis(ts_millis), "yyyy-MM-dd")
