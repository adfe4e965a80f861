"""Per-partition lineage + metrics (north-rule stage D10).

``udf.parse_df(..., tag_lineage=True)`` tags every row with its input
partition and line byte count inside the parse's own Arrow pass;
``partition_metrics`` aggregates those tagged rows into per-partition
counters: (partition_id, rows_in, rows_ok, rows_rejected, bytes_in).

The counters are computed from the tagged rows themselves (one groupBy),
so they are exact under retries/speculation — a re-run partition simply
reproduces the same rows, unlike accumulator-based counting which
double-counts retried tasks. Lineage = (doc_id -> partition_id, batch_ts)
is queryable and joins back to the checkpoint manifest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def partition_metrics(parsed_tagged: DataFrame) -> DataFrame:
    """Aggregate tagged+parsed rows into the per-partition metrics table."""
    return (
        parsed_tagged.groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("rows_in"),
            F.sum(
                F.when(F.col("parse_error").isNull(), 1).otherwise(0)
            ).alias("rows_ok"),
            F.sum(
                F.when(F.col("parse_error").isNotNull(), 1).otherwise(0)
            ).alias("rows_rejected"),
            F.sum("bytes_in").alias("bytes_in"),
        )
        .orderBy("partition_id")
    )
