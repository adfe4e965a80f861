"""JSON serialization matching the reference's serde output byte-for-byte.

serde shape (message.rs:210-232, facility.rs:117-122, severity.rs:71-76,
message.rs:41-49):
  - struct field order: severity, facility, version, timestamp,
    timestamp_nanos, hostname, appname, procid, msgid, sd, msg
  - enums serialize as their name strings ("info", "kern")
  - procid serializes as a bare int (PID) or string (Name)
  - null fields are INCLUDED (serde emits "timestamp":null) — this is why
    Spark's built-in to_json (which drops nulls) cannot be used
  - sd map keys are sorted (BTreeMap order, message.rs:196-206); the parser
    already stores sd key-sorted
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparklog.schema import FACILITY_NAMES, SEVERITY_NAMES


def _plain(v):
    if v is None or (isinstance(v, float) and v != v):
        return None
    if isinstance(v, float):
        return int(v)
    return v


def _sd_to_dict(sd):
    """serde's BTreeMap order: SD-IDs and param names sorted, whatever
    order the map arrives in (Arrow hands maps to pandas as lists of
    (k, v) tuples; collect() hands them over as hash-ordered dicts)."""
    if sd is None:
        return {}
    items = sd.items() if isinstance(sd, dict) else sd
    return {k: dict(sorted(dict(v).items()))
            for k, v in sorted(items, key=lambda kv: kv[0])}


def message_to_json(row: dict) -> str:
    """One parsed record -> the reference's exact serde JSON string."""
    sev = _plain(row["severity"])
    fac = _plain(row["facility"])
    pid = _plain(row["procid_pid"])
    obj = {
        "severity": None if sev is None else SEVERITY_NAMES[sev],
        "facility": None if fac is None else FACILITY_NAMES[fac],
        "version": _plain(row["version"]),
        "timestamp": _plain(row["timestamp"]),
        "timestamp_nanos": _plain(row["timestamp_nanos"]),
        "hostname": row["hostname"],
        "appname": row["appname"],
        "procid": pid if pid is not None else row["procid_name"],
        "msgid": row["msgid"],
        "sd": _sd_to_dict(row["sd"]),
        "msg": row["msg"],
    }
    return json.dumps(obj, separators=(",", ":"), ensure_ascii=False)


def _jstr(col_sql: str) -> str:
    """JSON-encode one STRING expression JVM-side, nulls kept.

    Spark's to_json cannot emit a bare string, so we wrap the value in a
    one-field struct — '{"v":<json>}' — and slice the prefix/suffix off.
    Jackson's escaping matches json.dumps(ensure_ascii=False): quotes,
    backslashes and control chars escaped, non-ASCII passed through raw
    (asserted against the Python path in tests/test_serialize.py)."""
    e = f"to_json(named_struct('v', {col_sql}))"
    return (f"CASE WHEN {col_sql} IS NULL THEN 'null' "
            f"ELSE substring({e}, 6, length({e}) - 6) END")


def _jnum(col_sql: str) -> str:
    return f"COALESCE(CAST({col_sql} AS STRING), 'null')"


def _jenum(col_sql: str, names) -> str:
    arr = "array(" + ", ".join(f"'{n}'" for n in names) + ")"
    return (f"CASE WHEN {col_sql} IS NULL THEN 'null' "
            f"ELSE concat('\"', element_at({arr}, {col_sql} + 1), '\"') END")


def json_col(parsed: DataFrame) -> Column:
    """serde-byte-identical JSON, fully JVM-side (whole-stage codegen).

    Null fields are KEPT (serde emits "timestamp":null — Spark's plain
    to_json would drop them, hence the field-by-field concat); enums
    serialize as name strings; procid is the bare-int/string union; sd's
    key order is the parser's sorted storage, which to_json preserves.
    tests/test_serialize.py checks it byte for byte against the Python
    reference, message_to_json."""
    procid = (
        "CASE WHEN procid_pid IS NOT NULL THEN CAST(procid_pid AS STRING) "
        f"WHEN procid_name IS NOT NULL THEN {_jstr('procid_name')} "
        "ELSE 'null' END"
    )
    pieces = ", ".join([
        "'{\"severity\":'", _jenum("severity", SEVERITY_NAMES),
        "',\"facility\":'", _jenum("facility", FACILITY_NAMES),
        "',\"version\":'", _jnum("version"),
        "',\"timestamp\":'", _jnum("timestamp"),
        "',\"timestamp_nanos\":'", _jnum("timestamp_nanos"),
        "',\"hostname\":'", _jstr("hostname"),
        "',\"appname\":'", _jstr("appname"),
        "',\"procid\":'", procid,
        "',\"msgid\":'", _jstr("msgid"),
        "',\"sd\":'", "COALESCE(to_json(sd), '{}')",
        "',\"msg\":'", _jstr("msg"),
        "'}'",
    ])
    return F.expr(f"concat({pieces})")

