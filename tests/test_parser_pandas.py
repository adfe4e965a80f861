"""Golden-corpus + differential tests for the pure-pandas parser core.

Runs without Spark (fast). The same corpus is re-run through the Spark UDF
in test_parser_spark.py.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from sparklog import parse as P
from sparklog import schema as S

from golden_corpus import GOLDEN


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if pd.api.types.is_scalar(v) and pd.isna(v):
        return None
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return int(v)
    return v


def _check(name, expected, row: dict):
    if isinstance(expected, str):
        assert expected.startswith("ERROR")
        got = row["parse_error"]
        assert got is not None, f"{name}: expected error, parsed ok: {row}"
        if ":" in expected[5:] or expected != "ERROR":
            want = expected.split(":", 1)[1]
            assert got == want, f"{name}: error variant {got!r} != {want!r}"
        for c in S.PARSED_COLUMNS:
            if c != "parse_error":
                assert _norm(row[c]) is None, f"{name}: field {c} not null on error"
    else:
        assert row["parse_error"] is None, f"{name}: unexpected error {row['parse_error']}"
        for k, want in expected.items():
            got = _norm(row[k])
            assert got == _norm(want), f"{name}.{k}: {got!r} != {want!r}"


@pytest.mark.parametrize("name,line,expected", GOLDEN, ids=[g[0] for g in GOLDEN])
def test_golden_slow_path(name, line, expected):
    _check(name, expected, P._parse_slow(line))


@pytest.mark.parametrize("name,line,expected", GOLDEN, ids=[g[0] for g in GOLDEN])
def test_golden_vectorized(name, line, expected):
    df = P.parse_lines(pd.Series([line]))
    _check(name, expected, df.iloc[0].to_dict())


def test_vectorized_batch_matches_slow():
    """Whole corpus in one batch: fast path must agree with slow path."""
    lines = pd.Series([g[1] for g in GOLDEN])
    fast = P.parse_lines(lines)
    for i, (name, line, _) in enumerate(GOLDEN):
        slow = P._parse_slow(line)
        row = fast.iloc[i].to_dict()
        for c in S.PARSED_COLUMNS:
            assert _norm(row[c]) == _norm(slow[c]), (
                f"{name}.{c}: fast={row[c]!r} slow={slow[c]!r}"
            )


def test_null_input_line():
    df = P.parse_lines(pd.Series([None, "<1>1 - - - - - -"]))
    assert df.iloc[0]["parse_error"] == S.ERR_UNEXPECTED_EOF
    assert df.iloc[1]["parse_error"] is None


def test_ymd_cache_stays_bounded():
    """More distinct valid dates than the cache holds: it is cleared on a
    full miss instead of growing, and every timestamp is still exact."""
    import numpy as np

    n = P._YMD_DAYS_CACHE_MAX + 20_000
    dates = np.datetime_as_string(
        np.datetime64("1700-01-01") + np.arange(n), unit="D")
    lines = pd.Series([f"<13>1 {d}T01:02:03Z h a - - - m" for d in dates])
    out = P.parse_lines(lines)
    assert out["parse_error"].isna().all()
    assert len(P._YMD_DAYS_CACHE) <= P._YMD_DAYS_CACHE_MAX
    ymd = np.array([d.split("-") for d in dates], dtype=np.int64)
    want = (P._days_from_civil(ymd[:, 0], ymd[:, 1], ymd[:, 2]) * 86400
            + 3723)
    assert (out["timestamp"].to_numpy(dtype=np.int64) == want).all()


def test_differential_fuzz():
    """Property test: fast path == slow path on mutated corpus lines."""
    import random

    rng = random.Random(42)
    base = [g[1] for g in GOLDEN]
    mutated = []
    for _ in range(500):
        s = rng.choice(base)
        op = rng.randrange(4)
        if op == 0 and s:  # truncate
            s = s[: rng.randrange(len(s) + 1)]
        elif op == 1 and s:  # flip one char
            i = rng.randrange(len(s))
            s = s[:i] + rng.choice(' <>[]"\\-:.Z0199abz+\u00e9') + s[i + 1 :]
        elif op == 2:  # insert
            i = rng.randrange(len(s) + 1)
            s = s[:i] + rng.choice(' <>[]"\\-=@:+.語m79') + s[i:]
        # op==3: unchanged
        mutated.append(s)
    fast = P.parse_lines(pd.Series(mutated))
    for i, line in enumerate(mutated):
        slow = P._parse_slow(line)
        row = fast.iloc[i].to_dict()
        for c in S.PARSED_COLUMNS:
            assert _norm(row[c]) == _norm(slow[c]), (
                f"line {line!r} col {c}: fast={row[c]!r} slow={slow[c]!r}"
            )


def test_differential_fuzz_structured():
    """Adversarial STRUCTURED generator: boundary-length terms, odd offsets,
    fraction widths 1-10, SD escapes at value edges, deep/duplicate SD —
    fast path must equal the exact slow path on every one."""
    import random

    rng = random.Random(1337)

    def term(maxlen):
        k = rng.choice([0, 1, 2])
        if k == 0:
            return "-"
        if k == 1:  # boundary length
            return "x" * rng.choice([1, maxlen - 1, maxlen, maxlen + 1])
        return "".join(rng.choice("-aZ9._!~") for _ in range(rng.randrange(1, 9)))

    def ts():
        k = rng.randrange(6)
        if k == 0:
            return "-"
        frac = ""
        if k >= 3:
            frac = "." + "9" * rng.randrange(1, 11)  # 10 digits = error
        off = rng.choice(["Z", "+00:00", "-05:00", "+25:59", "+26:00",
                          "-04:90", "+0", "", "x"])
        date = rng.choice(["2016-01-10", "2016-13-01", "2015-02-29",
                           "2016-02-29", "2016-00-10"])
        clock = rng.choice(["00:00:00", "23:59:59", "24:00:00",
                            "00:60:00", "00:00:60"])
        return f"{date}T{clock}{frac}{off}"

    def sd():
        k = rng.randrange(5)
        if k == 0:
            return "-"
        parts = []
        for _ in range(rng.randrange(1, 4)):
            sid = rng.choice(["m", "meta", "ex@9", "meta"])  # dups likely
            params = ""
            for _ in range(rng.randrange(0, 3)):
                val = rng.choice(['a', 'q\\"v', 'a\\\\b', 'br\\]kt', '',
                                  'sp ace', 'e\\'])
                params += f' k{rng.randrange(3)}="{val}"'
            parts.append(f"[{sid}{params}]")
        return "".join(parts)

    lines = []
    for _ in range(2000):
        pri = rng.choice(["1", "191", "192", "0", "999", "12"])
        ver = rng.choice(["1", "10", "0", "99"])
        msg = rng.choice(["", " ", "hello world", " leading", "﻿tail"])
        lines.append(
            f"<{pri}>{ver} {ts()} {term(255)} {term(48)} {term(128)} "
            f"{term(32)} {sd()}{msg}"
        )
    fast = P.parse_lines(pd.Series(lines))
    for i, line in enumerate(lines):
        slow = P._parse_slow(line)
        row = fast.iloc[i].to_dict()
        for c in S.PARSED_COLUMNS:
            assert _norm(row[c]) == _norm(slow[c]), (
                f"line {line!r} col {c}: fast={row[c]!r} slow={slow[c]!r}"
            )
