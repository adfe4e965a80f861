"""Per-partition lineage + metrics (north-rule stage D10).

``udf.parse_df(..., tag_lineage=True)`` tags every row with its input
partition and line byte count inside the parse's own Arrow pass;
``partition_metrics`` aggregates those tagged rows into the chunk's whole
lineage record, one row per non-empty input partition:
(partition_id, rows_in, rows_ok, rows_rejected, bytes_in, fingerprint).
The chunk's content fingerprint is the sum of the per-partition ones, so
it costs no job of its own.

The counters are computed from the tagged rows themselves (one groupBy),
so they are exact under retries/speculation — a re-run partition simply
reproduces the same rows, unlike accumulator-based counting which
double-counts retried tasks. The result has at most one row per input
partition and is unordered: callers sort the collected rows. Lineage =
(doc_id -> partition_id, batch_ts) is queryable and joins back to the
checkpoint manifest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparklog import checkpoint as CK


def partition_metrics(parsed_tagged: DataFrame) -> DataFrame:
    """Aggregate tagged+parsed rows into the per-partition lineage table."""
    ok = F.col("parse_error").isNull()
    return parsed_tagged.groupBy("partition_id").agg(
        F.count(F.lit(1)).alias("rows_in"),
        F.count_if(ok).alias("rows_ok"),
        F.count_if(~ok).alias("rows_rejected"),
        F.sum("bytes_in").alias("bytes_in"),
        CK.content_fingerprint().alias("fingerprint"),
    )
