"""Generic grok-style regex parsing (north rule: 'grok/regex parse').

The RFC5424 parser (sparklog/parse.py) is the hand-tuned specialized
instance; this module is the generic operator for everything else: a
named-group pattern becomes typed columns, entirely JVM-side
(regexp_extract — no Python in the hot path), with non-matching lines
surfaced errors-as-data style via a ``_grok_matched`` flag.

Grok-alias support: ``%{WORD:name}``-style aliases expand to named regex
groups before compilation, so common patterns read like logstash grok.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# the handful of grok primitives needed for log work; extend freely
GROK_PATTERNS: dict[str, str] = {
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "INT": r"[+-]?\d+",
    "NUMBER": r"[+-]?\d+(?:\.\d+)?",
    "IP": r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}",
    "TIMESTAMP_ISO8601": r"\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(?:\.\d+)?(?:Z|[+-]\d{2}:?\d{2})?",
    "LOGLEVEL": r"(?:TRACE|DEBUG|INFO|NOTICE|WARN(?:ING)?|ERROR|CRIT(?:ICAL)?|FATAL|SEVERE|EMERG(?:ENCY)?|ALERT)",
    "HOSTNAME": r"(?:[A-Za-z0-9](?:[A-Za-z0-9-]{0,62})?\.)*[A-Za-z0-9](?:[A-Za-z0-9-]{0,62})?",
    "URIPATH": r"/[^\s?#]*",
    "UUID": r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}",
    "QUOTEDSTRING": r'"(?:[^"\\]|\\.)*"',
    "SYSLOGTIMESTAMP": r"[A-Z][a-z]{2} +\d{1,2} \d{2}:\d{2}:\d{2}",
}

_ALIAS_RE = re.compile(r"%\{(\w+)(?::(\w+))?(?::(\w+))?\}")

# types honored in %{PAT:name:type} — extracted strings are cast JVM-side
_CASTS = {"int": "long", "long": "long", "float": "double", "double": "double"}


def _expand(pattern: str) -> tuple[str, dict[str, str]]:
    """Expand %{PRIMITIVE:name[:type]} aliases into named regex groups,
    collecting the inline :type declarations."""
    inferred: dict[str, str] = {}

    def sub(m: re.Match) -> str:
        prim, name, typ = m.group(1), m.group(2), m.group(3)
        if prim not in GROK_PATTERNS:
            raise ValueError(f"unknown grok primitive %{{{prim}}}")
        body = GROK_PATTERNS[prim]
        if typ and name:
            inferred[name] = typ
        return f"(?<{name}>{body})" if name else f"(?:{body})"

    return _ALIAS_RE.sub(sub, pattern), inferred


def expand_grok(pattern: str) -> str:
    """Expand %{PRIMITIVE:name} aliases into named regex groups."""
    return _expand(pattern)[0]


def _group_names(java_style_pattern: str) -> list[tuple[str, int]]:
    # convert (?<name>...) (java) to (?P<name>...) (python) only to let
    # python's re tell us group names and their REAL group numbers; the JVM
    # gets the java form. Using groupindex (not enumeration order) keeps
    # extraction correct when the pattern mixes in unnamed capturing groups
    # like '(?<a>\\d+) (foo|bar) (?<b>\\d+)'.
    py = re.sub(r"\(\?<([A-Za-z][A-Za-z0-9]*)>", r"(?P<\1>", java_style_pattern)
    compiled = re.compile(py)
    return sorted(compiled.groupindex.items(), key=lambda kv: kv[1])


def grok(df: DataFrame, col: str, pattern: str,
         types: dict[str, str] | None = None) -> DataFrame:
    """Extract named-group columns from ``col`` using a grok/regex pattern.

    Output: every input column, then one column per named group, then
    _grok_matched.

    - pattern may use %{PRIM:name} or %{PRIM:name:type} aliases, or raw
      (?<name>...) groups
    - non-matching rows get null fields and _grok_matched = false
    - types maps group name -> spark cast type ("long", "double", ...),
      merged over any inline :type declarations
    - one regexp_extract per group: unused groups are column-pruned away
      by Catalyst, so a query touching 2 of 10 groups pays for 2
    """
    java_pat, inferred_types = _expand(pattern)
    types = {**inferred_types, **(types or {})}
    names = _group_names(java_pat)
    if not names:
        raise ValueError("pattern has no named groups")
    anchored = java_pat if java_pat.startswith("^") else f"^{java_pat}$"
    matched = F.col(col).rlike(anchored).alias("_grok_matched")
    cols: list[Column] = []
    for name, i in names:
        c = F.regexp_extract(F.col(col), anchored, i)
        # regexp_extract returns '' on no-match; null it out
        c = F.when(F.col("_grok_matched"), c)
        t = types.get(name)
        if t:
            # try_cast: under ANSI mode a bad fit ('0.5' as int, '' from an
            # unmatched optional group) would throw; grok wants null
            c = c.try_cast(_CASTS.get(t, t))
        cols.append(c.alias(name))
    base = df.withColumn("_grok_matched", matched)
    return base.select(*df.columns, *cols, F.col("_grok_matched"))
