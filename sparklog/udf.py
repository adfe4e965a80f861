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
from sparklog.schema import ERR_UNICODE, PARSED_SCHEMA


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

    The line crosses into Python as BINARY and is decoded per row, the
    reference's decode-then-parse order (lib.rs:18-24): text sources keep
    raw bytes, and a line that is not valid UTF-8 becomes one reject row
    (parse_error = UnicodeError) instead of failing the batch's Arrow
    conversion. bytes_in is the raw byte length.
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
            raw = pdf[line_col].tolist()
            lines, bad = _decode(raw)
            parsed = parse_lines(pd.Series(lines, dtype="object"))
            if bad:
                parsed.loc[bad, "parse_error"] = ERR_UNICODE
            base = pdf[passthrough].reset_index(drop=True)
            if tag_lineage:
                base["partition_id"] = pid
                base["bytes_in"] = [0 if b is None else len(b) for b in raw]
            yield pd.concat([base, parsed], axis=1)

    binary = df.withColumn(line_col, F.col(line_col).cast("binary"))
    return binary.mapInPandas(run, schema)


def _decode(raw: list) -> tuple[list, list[int]]:
    """UTF-8 decode a batch of raw lines: (lines, indexes of the lines
    that are not valid UTF-8). Nulls stay None; an invalid line becomes
    None too, so its parse row is all-null like every reject."""
    try:
        return [None if b is None else b.decode() for b in raw], []
    except UnicodeDecodeError:
        pass
    lines, bad = [], []
    for i, b in enumerate(raw):
        try:
            lines.append(None if b is None else b.decode())
        except UnicodeDecodeError:
            lines.append(None)
            bad.append(i)
    return lines, bad
