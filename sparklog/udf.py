"""Spark bindings for the vectorized parser.

The pandas UDF is the ONLY Python-crossing boundary of the whole pipeline
(SURVEY.md §3): JVM -> Arrow batch -> pandas parse -> Arrow -> JVM.
Everything upstream (synthesis) and downstream (enrich/route/aggregate)
stays in whole-stage-codegen'd JVM expressions.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparklog.parse import parse_lines
from sparklog.schema import PARSED_SCHEMA


@F.pandas_udf(PARSED_SCHEMA)
def parse_syslog_udf(lines: pd.Series) -> pd.DataFrame:
    """Vectorized RFC5424 parse: Series[str] -> DataFrame[PARSED_SCHEMA]."""
    return parse_lines(lines)


def register_sql(spark: SparkSession, name: str = "parse_syslog") -> None:
    """Make the parser available to SQL: SELECT parse_syslog(line).* ...

    Analog of the reference's dual entry points parse_message /
    str::parse::<SyslogMessage> (parser.rs:405-407, message.rs:163-172).
    """
    spark.udf.register(name, parse_syslog_udf)


def parse_df(df: DataFrame, line_col: str = "line",
             tag_lineage: bool = False) -> DataFrame:
    """Parse a line column, keeping all other columns as passthrough.

    Output: passthrough columns + the 13 PARSED_COLUMNS, flattened; with
    tag_lineage=True also (partition_id, bytes_in) — fused into the SAME
    Arrow pass, so the lineage-tagged pipeline still crosses into Python
    exactly once.

    Uses mapInPandas rather than a struct-returning pandas UDF: Catalyst
    pushes downstream filters (e.g. the reject split) through a Project of
    UDF struct fields and re-evaluates the UDF per reference — every row
    would be PARSED TWICE. mapInPandas is a pushdown barrier, so the parse
    runs exactly once per row (plan-audited in tests: one ArrowEvalPython /
    MapInPandas node even with filters on parse_error downstream).
    """
    from pyspark.sql import types as T

    passthrough = [c for c in df.columns if c != line_col]
    fields = [df.schema[c] for c in passthrough]
    if tag_lineage:
        fields += [
            T.StructField("partition_id", T.IntegerType()),
            T.StructField("bytes_in", T.LongType()),
        ]
    schema = T.StructType(fields + list(PARSED_SCHEMA.fields))

    def run(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if tag_lineage else None
        for pdf in batches:
            parsed = parse_lines(pdf[line_col])
            base = pdf[passthrough].reset_index(drop=True)
            if tag_lineage:
                base["partition_id"] = pid
                base["bytes_in"] = [
                    len(s.encode("utf-8")) if isinstance(s, str) else 0
                    for s in pdf[line_col]
                ]
            yield pd.concat([base, parsed], axis=1)

    return df.mapInPandas(run, schema)
