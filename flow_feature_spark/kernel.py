"""Feature availability timestamps for the point-in-time joins.

The 72-feature kernel itself is ``kernel_fast.sessionize_and_extract_fast``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def attach_feature_ts(features: DataFrame) -> DataFrame:
    """Feature availability timestamp for point-in-time joins.

    A session's final vector becomes knowable at its last turn, so
    ``feature_ts = session_end_ts`` — using anything earlier would leak.
    (round() recovers the exact integer micros from the double seconds.)
    """
    return features.withColumn(
        "feature_ts",
        F.timestamp_micros(F.round(F.col("session_end_ts") * 1e6, 0).cast("long")),
    )
