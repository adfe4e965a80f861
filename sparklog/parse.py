"""Vectorized RFC 5424 parser (pure pandas/numpy — no Spark imports here).

Semantics are a from-scratch re-expression of the reference grammar
(/root/reference/src/parser.rs — see SURVEY.md §2A/§2B for the line-by-line
inventory). Two paths:

* ``_parse_slow(line)`` — an exact recursive-descent implementation of the
  grammar, producing the same accept/reject decisions and error taxonomy as
  the reference (parser.rs:343-384 and helpers). Used for lines the fast
  path cannot prove well-formed, so error variants are always exact.

* ``parse_lines(pd.Series)`` — the vectorized fast path: one anchored
  mega-regex over the whole header (pandas ``str.extract``, C-speed),
  numpy arithmetic for the timestamp (days-from-civil, no datetime range
  limits), and a compiled-regex SD scanner only for rows that carry
  structured data. Rows that fail any strictness check are re-parsed by
  ``_parse_slow`` so behavior is identical on every input.

Key grammar facts preserved (all verified by tests/golden_corpus.py):
  - PRI is 1-3 digits; prival>191 ⇒ facility>23 ⇒ BadFacilityInPri
    (parser.rs:206-210); `<4096>` fails earlier with ExpectedTokenErr('>').
  - TIMESTAMP: strict digit widths, real-calendar validation, 1-9
    fractional digits scaled to NANOSECONDS (parser.rs:244-254), offsets
    `Z`/`±HH:MM` with the sign applied to both fields (parser.rs:291-308),
    missing offset ⇒ UTC.
  - Header terms (HOSTNAME/APPNAME/PROCID/MSGID): nil iff the term is `-`
    followed by space/EOF — `-web1west` is a real hostname
    (parser.rs:318-341); chars are printable ASCII 33..126; length caps
    255/48/128/32.
  - PROCID: numeric-i32 terms become PID, everything else Name
    (parser.rs:357-360). Exact i32 semantics (optional sign, range check).
  - STRUCTURED-DATA: `-` ⇒ empty; repeated SD-IDs merge into one element;
    repeated param names last-write-wins (parser.rs:187-204,195-198);
    param values un-escape `\\x` ⇒ `x` for ANY x (parser.rs:120-157);
    empty elements like `[meta@1234]` are legal.
  - MSG: optional single space after SD, remainder taken verbatim —
    including a UTF-8 BOM (parser.rs:365-369); empty MSG when the line
    ends right after SD.
  - Parse failures become rows: all fields null, ``parse_error`` set to
    the reference's error-variant name (errors-as-data, SURVEY.md §1.4).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from sparklog import schema as S

I32_MIN = -(2**31)
I32_MAX = 2**31 - 1

# ---------------------------------------------------------------------------
# Fast path: one anchored header regex.
#
# Groups: 1 pri, 2 version, (3 y, 4 mo, 5 d, 6 h, 7 mi, 8 s, 9 frac, 10 tz),
# 11 hostname, 12 appname, 13 procid, 14 msgid, 15 remainder (SD + MSG).
# Any line this does not match goes to the exact slow path; terms equal to
# "-" are mapped to null afterwards (the nil rule).
# ---------------------------------------------------------------------------
_HEADER_RE = re.compile(
    # NOTE: the offset is mandatory here. In the reference, the "missing
    # offset => UTC" branch (parser.rs:286) only fires at EOF; inside a
    # full message the timestamp is always followed by ' ', which makes an
    # offsetless timestamp an InvalidUTCOffset error (parser.rs:296-298).
    r"\A<(\d{1,3})>"
    r"(\d{1,2}) "
    r"(?:-|(\d{4})-(\d{2})-(\d{2})T(\d{2}):(\d{2}):(\d{2})"
    r"(?:\.(\d{1,9}))?(Z|[+-]\d{2}:\d{2})) "
    r"([!-~]{1,255}) "
    r"([!-~]{1,48}) "
    r"([!-~]{1,128}) "
    r"([!-~]{1,32}) "
    r"(.*)\Z",
    # ASCII: \d must mean [0-9] exactly — Python's unicode \d would accept
    # digits the reference's is_ascii_digit scan rejects
    re.DOTALL | re.ASCII,
)

# SD-ELEMENT scanned in ONE pass: the id at the match position, then
# params matched one-by-one at the cursor (no element-level pre-match
# followed by a param re-scan — that double-scanned every param region)
_SDID_RE = re.compile(r"\[([^ =\]]{0,128})")
_PARAM_RE = re.compile(r" ([^ =\]]{1,128})=\"((?:[^\"\\]|\\.)*)\"", re.DOTALL)
_UNESCAPE_RE = re.compile(r"\\(.)", re.DOTALL)

# ASCII-only digits: Python's \d matches unicode digits, Rust's
# i32::from_str does not — [0-9] keeps the PID/Name split identical.
_PROCID_INT_RE = re.compile(r"[+-]?[0-9]+\Z")


def _days_from_civil(y, m, d):
    """Proleptic-Gregorian days since 1970-01-01 (vectorized, any year).

    Howard Hinnant's public days_from_civil algorithm; works on numpy
    int64 arrays and on Python ints alike.
    """
    y = y - (m <= 2)
    era = y // 400
    yoe = y - era * 400
    doy = (153 * (m + (m > 2) * -3 + (m <= 2) * 9) + 2) // 5 + d - 1
    doe = yoe * 365 + yoe // 4 - yoe // 100 + doy
    return era * 146097 + doe - 719468


_DAYS_IN_MONTH = np.array([0, 31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31])

# k fractional digits scale by 10^(9-k) to nanoseconds (parser.rs:244-254)
_FRAC_SCALE = [None] + [10 ** (9 - k) for k in range(1, 10)]

# (year_str, month, day) -> epoch days, for VALID dates only (invalid
# dates never enter, so the validation branch still runs for them).
# Real logs touch thousands of distinct dates, but a Python worker lives
# across tasks, so adversarial input could grow it without limit: a miss
# that finds it full clears it first (hits never pay for the bound).
_YMD_DAYS_CACHE: dict = {}
_YMD_DAYS_CACHE_MAX = 100_000


def _is_leap(y):
    return (y % 4 == 0) & ((y % 100 != 0) | (y % 400 == 0))


# ---------------------------------------------------------------------------
# Exact slow path (recursive descent; authoritative for error variants)
# ---------------------------------------------------------------------------


class _Err(Exception):
    def __init__(self, variant: str):
        self.variant = variant
        super().__init__(variant)


def _take_num(s: str, pos: int, min_d: int, max_d: int) -> tuple[int, int]:
    """Bounded ASCII-digit integer (parser.rs:213-226 semantics).

    Scans at most max_d digits; hitting EOF while still matching is
    UnexpectedEndOfInput (the reference's take_while returns None rest).
    """
    i = pos
    end = len(s)
    lim = pos + max_d
    while i < end and i < lim and "0" <= s[i] <= "9":
        i += 1
    if i == end:
        raise _Err(S.ERR_UNEXPECTED_EOF)
    if i - pos < min_d:
        raise _Err(S.ERR_TOO_FEW_DIGITS)
    return int(s[pos:i]), i


def _take_char(s: str, pos: int, c: str) -> int:
    if pos >= len(s):
        raise _Err(S.ERR_UNEXPECTED_EOF)
    if s[pos] != c:
        raise _Err(S.err_expected_token(c))
    return pos + 1


def _parse_i8(tok: str) -> int:
    """i8::from_str semantics: optional sign, digits, range -128..127."""
    if not _PROCID_INT_RE.fullmatch(tok):
        raise _Err(S.ERR_INT_CONVERSION)
    v = int(tok)
    if not (-128 <= v <= 127):
        raise _Err(S.ERR_INT_CONVERSION)
    return v


def _take_timestamp(s: str, pos: int):
    """parser.rs:256-316. Returns ((secs, nanos) | None, new_pos)."""
    if pos < len(s) and s[pos] == "-":
        return None, pos + 1
    year, pos = _take_num(s, pos, 4, 4)
    pos = _take_char(s, pos, "-")
    month, pos = _take_num(s, pos, 2, 2)
    if not (1 <= month <= 12):
        raise _Err(S.err_invalid_month(month))
    pos = _take_char(s, pos, "-")
    mday, pos = _take_num(s, pos, 2, 2)
    dim = _DAYS_IN_MONTH[month] + (1 if (month == 2 and _is_leap(year)) else 0)
    if not (1 <= mday <= dim):
        raise _Err(S.err_invalid_date("day"))
    pos = _take_char(s, pos, "T")
    hour, pos = _take_num(s, pos, 2, 2)
    pos = _take_char(s, pos, ":")
    minute, pos = _take_num(s, pos, 2, 2)
    pos = _take_char(s, pos, ":")
    second, pos = _take_num(s, pos, 2, 2)
    nanos = 0
    if pos < len(s) and s[pos] == ".":
        pos += 1
        start = pos
        # 1-9 digits; a 10th digit is left unconsumed and then rejected by
        # the offset matcher below (parser.rs:277-278 caps at 9, then
        # parser.rs:296-298 sees a digit => InvalidUTCOffset).
        val, pos = _take_num(s, pos, 1, 9)
        nanos = val * (10 ** (9 - (pos - start)))
    # hour/minute/second validated like time::Time::from_hms_nano; the
    # InvalidDate payload is the failing component's name, exactly what the
    # time crate's ComponentRange::name() yields (parser.rs:283)
    if hour > 23:
        raise _Err(S.err_invalid_date("hour"))
    if minute > 59:
        raise _Err(S.err_invalid_date("minute"))
    if second > 59:
        raise _Err(S.err_invalid_date("second"))
    # UTC offset (parser.rs:285-308): EOF => UTC, 'Z' => UTC, '±HH?MM' with
    # the separator byte skipped unchecked (irest[3..5], parser.rs:300-302);
    # ANY other char (including the ' ' of a full message) is an error.
    # Known divergence: an offset tail shorter than 5 chars (e.g.
    # '...T00:00:00+0') PANICS in the reference on the irest[0..2]/[3..5]
    # byte slices; here the same input becomes an IntConversionErr error
    # row (errors-as-data) — deliberate, recorded in SURVEY.md §1.4 so
    # parity fuzzing doesn't flag it as a regression.
    offset = 0
    if pos < len(s):
        c = s[pos]
        if c == "Z":
            pos += 1
        elif c in "+-":
            sign = -1 if c == "-" else 1
            rest = s[pos + 1 :]
            oh = _parse_i8(rest[0:2])
            om = _parse_i8(rest[3:5])
            oh, om = oh * sign, om * sign
            # time::UtcOffset::from_hms component validation (±25:59 range,
            # consistent signs)
            if abs(oh) > 25 or abs(om) > 59 or (oh > 0 and om < 0) or (
                oh < 0 and om > 0
            ):
                raise _Err(S.ERR_INVALID_OFFSET)
            offset = oh * 3600 + om * 60
            pos = pos + 1 + 5
        else:
            raise _Err(S.ERR_INVALID_UTC_OFFSET)
    days = _days_from_civil(year, month, mday)
    secs = int(days) * 86400 + hour * 3600 + minute * 60 + second - offset
    return (secs, nanos), pos


def _take_term(s: str, pos: int, min_len: int, max_len: int):
    """parser.rs:318-341. Returns (value | None, new_pos)."""
    n = len(s)
    if pos < n and s[pos] == "-" and (pos + 1 >= n or s[pos + 1] == " "):
        return None, pos + 1
    i = pos
    while i < n:
        o = ord(s[i])
        if o < 33 or o > 126:
            if i - pos < min_len:
                raise _Err(S.ERR_TOO_FEW_DIGITS)
            return s[pos:i], i
        if i - pos >= max_len:
            return s[pos:i], i
        i += 1
    raise _Err(S.ERR_UNEXPECTED_EOF)


def _take_sd_id(s: str, pos: int):
    """parser.rs:108-117: scan until space/'='/']' (max 128); EOF is an error."""
    i = pos
    n = len(s)
    lim = pos + 128
    while i < n and i < lim and s[i] not in " =]":
        i += 1
    if i == n:
        raise _Err(S.ERR_UNEXPECTED_EOF)
    return s[pos:i], i


def _take_param_value(s: str, pos: int):
    """parser.rs:120-157: quoted string; backslash escapes ANY next char."""
    pos = _take_char(s, pos, '"')
    out = []
    i = pos
    n = len(s)
    while i < n:
        c = s[i]
        if c == "\\":
            if i + 1 >= n:
                raise _Err(S.ERR_UNEXPECTED_EOF)
            out.append(s[i + 1])
            i += 2
            continue
        if c == '"':
            return "".join(out), i + 1
        out.append(c)
        i += 1
    raise _Err(S.ERR_UNEXPECTED_EOF)


def _take_sd(s: str, pos: int):
    """parser.rs:187-204. Returns (dict, new_pos)."""
    sd: dict[str, dict[str, str]] = {}
    n = len(s)
    if pos < n and s[pos] == "-":
        return sd, pos + 1
    while pos < n:
        pos = _take_char(s, pos, "[")
        sd_id, pos = _take_sd_id(s, pos)
        sub = sd.setdefault(sd_id, {})
        while pos < n and s[pos] == " ":
            pos += 1
            pname, pos = _take_sd_id(s, pos)
            pos = _take_char(s, pos, "=")
            pval, pos = _take_param_value(s, pos)
            sub[pname] = pval
        pos = _take_char(s, pos, "]")
        if pos < n and s[pos] == " ":
            break
    return sd, pos


def _procid_cols(term):
    """parser.rs:357-360: i32-parseable => PID else Name."""
    if term is None:
        return None, None
    if _PROCID_INT_RE.fullmatch(term):
        v = int(term)
        if I32_MIN <= v <= I32_MAX:
            return v, None
    return None, term


def _sort_sd(sd: dict[str, dict[str, str]]):
    """BTreeMap key order (message.rs:69) for byte-identical JSON output."""
    return {k: dict(sorted(v.items())) for k, v in sorted(sd.items())}


_NULL_ROW = {c: None for c in S.PARSED_COLUMNS}


def _parse_slow(line: str) -> dict:
    """Exact full-grammar parse of one line (parser.rs:343-384 order)."""
    try:
        pos = _take_char(line, 0, "<")
        prival, pos = _take_num(line, pos, 1, 3)
        pos = _take_char(line, pos, ">")
        sev = prival & 0x7
        fac = prival >> 3
        if fac > 23:
            raise _Err(S.ERR_BAD_FACILITY)
        version, pos = _take_num(line, pos, 1, 2)
        pos = _take_char(line, pos, " ")
        ts, pos = _take_timestamp(line, pos)
        pos = _take_char(line, pos, " ")
        hostname, pos = _take_term(line, pos, 1, 255)
        pos = _take_char(line, pos, " ")
        appname, pos = _take_term(line, pos, 1, 48)
        pos = _take_char(line, pos, " ")
        procid, pos = _take_term(line, pos, 1, 128)
        pos = _take_char(line, pos, " ")
        msgid, pos = _take_term(line, pos, 1, 32)
        pos = _take_char(line, pos, " ")
        sd, pos = _take_sd(line, pos)
        if pos < len(line) and line[pos] == " ":
            pos += 1
        msg = line[pos:]
        pid, pname = _procid_cols(procid)
        return {
            "severity": sev,
            "facility": fac,
            "version": version,
            "timestamp": None if ts is None else ts[0],
            "timestamp_nanos": None if ts is None else ts[1],
            "hostname": hostname,
            "appname": appname,
            "procid_pid": pid,
            "procid_name": pname,
            "msgid": msgid,
            "sd": _sort_sd(sd),
            "msg": msg,
            "parse_error": None,
        }
    except _Err as e:
        row = dict(_NULL_ROW)
        row["parse_error"] = e.variant
        return row


def parse_message(line: str) -> dict:
    """Single-message entry point (analog of parser.rs:405-407)."""
    return _parse_slow(line)


# ---------------------------------------------------------------------------
# SD fast scanner (per-line, compiled regex; falls back to slow path)
# ---------------------------------------------------------------------------


def _parse_sd_fast(rem: str):
    """Parse remainder that starts with '['. Returns (sd, msg) or None.

    Tracks whether SD-IDs and param names were already encountered in
    BTreeMap (sorted) order while building; when they were — the
    overwhelmingly common case — the _sort_sd rebuild is skipped
    entirely (it was ~20% of the whole parse loop). The check is
    conservative: any doubt (duplicate ids, out-of-order keys) falls
    back to the exact sort, so output order is byte-identical either
    way."""
    sd: dict[str, dict[str, str]] = {}
    pos = 0
    n = len(rem)
    srt = True
    prev_id = ""
    id_match = _SDID_RE.match
    p_match = _PARAM_RE.match
    while pos < n:
        m = id_match(rem, pos)
        if m is None:
            return None
        sd_id = m.group(1)
        pos = m.end()
        if sd_id in sd:
            sub = sd[sd_id]
            # merged duplicate: param order vs the existing keys is not
            # tracked — take the exact-sort path
            srt = False
        else:
            if sd_id < prev_id:
                srt = False
            prev_id = sd_id
            sub = sd[sd_id] = {}
        prev_k = ""
        while True:
            pm = p_match(rem, pos)
            if pm is None:
                break
            k, v = pm.group(1, 2)
            if "\\" in v:
                v = _UNESCAPE_RE.sub(r"\1", v)
            if k < prev_k:
                srt = False
            prev_k = k
            sub[k] = v
            pos = pm.end()
        if pos >= n or rem[pos] != "]":
            return None
        pos += 1
        if pos < n and rem[pos] == " ":
            break
    if pos < n and rem[pos] == " ":
        pos += 1
    return (sd if srt else _sort_sd(sd)), rem[pos:]


# ---------------------------------------------------------------------------
# Vectorized driver
# ---------------------------------------------------------------------------


_EMPTY_SD: dict = {}  # shared: rows are never mutated downstream


def parse_lines(lines: pd.Series) -> pd.DataFrame:
    """Parse a Series of raw lines into a DataFrame with PARSED_COLUMNS.

    One compiled header-regex match per line + direct scalar extraction in
    a single tight loop, exact slow-path fallback per line. This layout
    benchmarks ~4-5x faster than pandas `.str` pipelines (each pandas str
    op is itself a python loop, so chaining them multiplies passes).
    Null/None inputs yield UnexpectedEndOfInput error rows.
    """
    vals = lines.tolist()
    n = len(vals)
    sev_a = [None] * n
    fac_a = [None] * n
    ver_a = [None] * n
    ts_a = [None] * n
    nanos_a = [None] * n
    host_a = [None] * n
    app_a = [None] * n
    pid_a = [None] * n
    pname_a = [None] * n
    msgid_a = [None] * n
    sd_a = [None] * n
    msg_a = [None] * n
    err_a = [None] * n

    header_match = _HEADER_RE.match
    pid_match = _PROCID_INT_RE.fullmatch
    dim_tab = _DAYS_IN_MONTH
    # (y, mo, d) -> epoch days: log timestamps cluster on few distinct
    # dates, so the civil-date arithmetic amortizes to one dict hit/row
    ymd_days = _YMD_DAYS_CACHE
    frac_scale = _FRAC_SCALE

    for i in range(n):
        s = vals[i]
        if not isinstance(s, str):
            s = ""
        m = header_match(s)
        if m is None:
            row = _parse_slow(s)
        else:
            g = m.groups()
            pri = int(g[0])
            fac = pri >> 3
            row = None
            while True:  # single-pass block; break=accept, row=fallback
                if fac > 23:
                    row = dict(_NULL_ROW)
                    row["parse_error"] = S.ERR_BAD_FACILITY
                    break
                # --- timestamp
                y = g[2]
                if y is None:
                    secs = nanos = None
                else:
                    mo = int(g[3])
                    d = int(g[4])
                    h = int(g[5])
                    mi = int(g[6])
                    sec = int(g[7])
                    days = ymd_days.get((y, mo, d))
                    if days is None:
                        if not 1 <= mo <= 12:
                            row = _parse_slow(s)
                            break
                        dim = dim_tab[mo] + (
                            1 if (mo == 2 and _is_leap(int(y))) else 0
                        )
                        if not 1 <= d <= dim:
                            row = _parse_slow(s)
                            break
                        days = int(_days_from_civil(int(y), mo, d))
                        if len(ymd_days) >= _YMD_DAYS_CACHE_MAX:
                            ymd_days.clear()
                        ymd_days[(y, mo, d)] = days
                    if h > 23 or mi > 59 or sec > 59:
                        row = _parse_slow(s)
                        break
                    tz = g[9]
                    if tz == "Z":
                        off = 0
                    else:
                        oh = int(tz[1:3])
                        om = int(tz[4:6])
                        if oh > 25 or om > 59:  # UtcOffset::from_hms range
                            row = _parse_slow(s)
                            break
                        off = oh * 3600 + om * 60
                        if tz[0] == "-":
                            off = -off
                    secs = days * 86400 + h * 3600 + mi * 60 + sec - off
                    frac = g[8]
                    nanos = 0 if frac is None else int(frac) * frac_scale[len(frac)]
                # --- terms (regex guarantees '-' capture is the nil form)
                host = g[10]
                app = g[11]
                procid = g[12]
                msgid = g[13]
                # --- SD + MSG from the remainder
                rem = g[14]
                c0 = rem[0] if rem else ""
                if c0 == "-":
                    sd = _EMPTY_SD
                    rest = rem[1:]
                    msg = rest[1:] if rest.startswith(" ") else rest
                elif c0 == "[":
                    res = _parse_sd_fast(rem)
                    if res is None:
                        row = _parse_slow(s)
                        break
                    sd, msg = res
                elif rem == "":
                    # parse_sd("") => empty sd, empty msg (parser.rs:193)
                    sd = _EMPTY_SD
                    msg = ""
                else:
                    # ExpectedTokenErr('[') — exact variant via slow path
                    row = _parse_slow(s)
                    break
                # --- accept: write fields directly
                sev_a[i] = pri & 0x7
                fac_a[i] = fac
                ver_a[i] = int(g[1])
                ts_a[i] = secs
                nanos_a[i] = nanos
                if host != "-":
                    host_a[i] = host
                if app != "-":
                    app_a[i] = app
                if procid != "-":
                    pm = pid_match(procid)
                    if pm is not None:
                        v = int(procid)
                        if I32_MIN <= v <= I32_MAX:
                            pid_a[i] = v
                        else:
                            pname_a[i] = procid
                    else:
                        pname_a[i] = procid
                if msgid != "-":
                    msgid_a[i] = msgid
                sd_a[i] = sd
                msg_a[i] = msg
                row = None
                break
            if row is None:
                continue
        # fallback / error row
        sev_a[i] = row["severity"]
        fac_a[i] = row["facility"]
        ver_a[i] = row["version"]
        ts_a[i] = row["timestamp"]
        nanos_a[i] = row["timestamp_nanos"]
        host_a[i] = row["hostname"]
        app_a[i] = row["appname"]
        pid_a[i] = row["procid_pid"]
        pname_a[i] = row["procid_name"]
        msgid_a[i] = row["msgid"]
        sd_a[i] = row["sd"]
        msg_a[i] = row["msg"]
        err_a[i] = row["parse_error"]

    return pd.DataFrame(
        {
            "severity": pd.array(sev_a, dtype="Int32"),
            "facility": pd.array(fac_a, dtype="Int32"),
            "version": pd.array(ver_a, dtype="Int32"),
            "timestamp": pd.array(ts_a, dtype="Int64"),
            "timestamp_nanos": pd.array(nanos_a, dtype="Int64"),
            "hostname": pd.Series(host_a, dtype="object"),
            "appname": pd.Series(app_a, dtype="object"),
            "procid_pid": pd.array(pid_a, dtype="Int32"),
            "procid_name": pd.Series(pname_a, dtype="object"),
            "msgid": pd.Series(msgid_a, dtype="object"),
            "sd": pd.Series(sd_a, dtype="object"),
            "msg": pd.Series(msg_a, dtype="object"),
            "parse_error": pd.Series(err_a, dtype="object"),
        }
    )
