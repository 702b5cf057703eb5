"""Vectorized multi-pattern datetime extraction (the parse stage core).

Re-expresses the reference's per-line scan
(src/readers/syslinereader.rs:1733-1990 ``find_datetime_in_line`` →
src/data/datetime.rs:1892 ``bytes_to_regex_to_datetime`` →
:1368 ``captures_to_buffer_bytes`` → :956 ``datetime_parse_from_str``)
as one pure-pandas function applied to Arrow batches:

 * prefix bounding  — only the first MAX_SCAN chars are inspected
   (range_regex, ere_datetimes_impl.rs:2106-2119)
 * cheap prefilter  — rows without two consecutive digits in the
   prefix skip the whole bank (EZCHECKD2, syslinereader.rs:1618-1721)
 * first-match-wins — patterns tried in bank order, matched rows are
   masked out of later patterns (syslinereader.rs:1782-1830)
 * canonicalize     — month-name map, day zero-pad, epoch split,
   named-tz → offset, year fill (datetime.rs:1368-1890)

The pure function ``parse_series`` is importable without Spark (unit
tests); ``make_parse_udf`` wraps it as an Arrow-batched pandas UDF.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from ..patterns import (
    ANCHOR_YEAR_DEFAULT,
    CONTINUATION_SINK,
    MAX_SCAN,
    MONTHS,
    MONTHS_FULL,
    PATTERNS,
    SCAN_MAX,
    SCAN_PATTERNS,
    TZ_OFFSET_MIN,
    TZ_OFFSET_MIN_UNAMBIG,
)

ANCHORED_PATTERNS = [p for p in PATTERNS if not p.scan]

RESULT_FIELDS = (
    "ts_parsed timestamp, pattern_id int, sink string, "
    "dt_beg int, dt_end int, uptime_us long"
)


_TZ_NUM_MEMO: dict[str, int] = {}


def _tz_num_one(v: str) -> int:
    """Scalar form of the numeric-tz conversion, memoized: a batch
    carries a handful of DISTINCT offset strings, so the six chained
    object-dtype str passes the vector form paid (replace/where/pad/
    slice×3) collapse to one dict hit per row (pure value→value memo —
    no corpus state)."""
    m = _TZ_NUM_MEMO.get(v)
    if m is None:
        s = v.replace(":", "").replace("−", "-")
        if s in ("Z", "z"):  # RFC3339 Zulu
            s = "+0000"
        # bare-hours offsets (pattern 39 '+08') zero-fill the minutes
        s = s.ljust(5, "0")
        m = (-1 if s[0] == "-" else 1) * (int(s[1:3]) * 60 + int(s[3:5]))
        _TZ_NUM_MEMO[v] = m
    return m


def _tz_minutes_numeric(tz: pd.Series) -> pd.Series:
    """'+0530' / '-08:00' / '+08' / 'Z' → signed minutes.  The U+2212
    minus sign is accepted like the reference's [+-−] classes
    (ere_datetimes_impl.rs:1798)."""
    return pd.Series(
        [_tz_num_one(v) for v in tz.to_numpy()],
        index=tz.index,
        dtype="int64",
    )


def _frac_us(frac: pd.Series) -> pd.Series:
    """1-9 captured fraction digits → integer microseconds (pad right
    to 6, truncate past 6 — chrono %f parity, ere_datetimes_impl.rs:
    520-525; Spark timestamps are µs so ns digits truncate)."""
    return (
        frac.fillna("")
        .str.slice(0, 6)
        .str.pad(6, side="right", fillchar="0")
        .astype("int64")
    )


_RX_CACHE: dict[int, re.Pattern] = {}


def _extract_matches(strs: list, cand_pos, index, p):
    """Compiled-regex group extraction: semantically
    ``series.str.extract(p.regex)`` over the candidate subset with the
    non-matching rows dropped, but ~2x faster — pandas' extract wraps
    every row's groups in a Python list, materializes a full
    candidate-sized frame (NaN rows for misses) and then copies the
    hit subset; here one C-level ``search`` per row feeds matched
    group tuples straight into one object ndarray.  Unmatched OPTIONAL
    groups surface as None (pandas used NaN) — every consumer in
    ``_canonicalize`` treats the two identically (isna/fillna/str/map/
    == all do).

    Positional calling convention (round 6): ``strs`` is the batch's
    Python string list materialized ONCE (the per-pattern
    ``series[mask]`` Arrow→object conversions this replaces were ~15%
    of the kernel), ``cand_pos`` a plain int list of candidate
    positions into it, ``index`` the batch's label index (only used to
    label the groups frame so ``_canonicalize``'s per-row anchor-year
    reindex still aligns).

    Returns (groups frame, pre_len, dt_len, hit_pos) or None: the two
    int64 span arrays come free from the C match object (span
    subtraction), hit_pos are the matched positions into the batch.
    """
    rx = _RX_CACHE.get(p.pid)
    if rx is None:
        rx = _RX_CACHE.setdefault(p.pid, re.compile(p.regex))
    search = rx.search
    gi_dt = rx.groupindex["dt"]
    gi_pre = rx.groupindex.get("pre")
    hits: list[int] = []
    rows: list[tuple] = []
    spans: list[int] = []
    pres: list[int] = []
    for i in cand_pos:
        s = strs[i]
        if s is not None:
            m = search(s)
            if m is not None:
                hits.append(i)
                rows.append(m.groups())
                b, e = m.span(gi_dt)
                spans.append(e - b)
                if gi_pre is not None:
                    b, e = m.span(gi_pre)
                    pres.append(e - b)
    if not hits:
        return None
    hit_pos = np.asarray(hits, dtype="int64")
    arr = np.array(rows, dtype=object)
    g = pd.DataFrame(
        {name: arr[:, gi - 1] for name, gi in rx.groupindex.items()},
        index=index[hit_pos],
        copy=False,
    )
    dt_len = np.asarray(spans, dtype="int64")
    pre_len = (
        np.asarray(pres, dtype="int64") if gi_pre is not None else None
    )
    return g, pre_len, dt_len, hit_pos


# days-in-month lookup, 1-indexed (index 0 unused); Feb leap handled
# separately
_DIM = np.array(
    [31, 31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31], dtype="int64"
)
_NAT_I8 = np.iinfo("int64").min


def _days_from_civil(y, m, d):
    """(year, month, day) int64 arrays → days since 1970-01-01
    (Howard Hinnant's public-domain civil-from-days inverse); valid
    for y >= 1 (callers restrict to [1678, 2261])."""
    y = y - (m <= 2)
    era = y // 400
    yoe = y - era * 400
    mp = (m + 9) % 12
    doy = (153 * mp + 2) // 5 + d - 1
    doe = yoe * 365 + yoe // 4 - yoe // 100 + doy
    return era * 146097 + doe - 719468


def _assemble_ts(year, month, day, hour, minute, second, index):
    """Vectorized replacement for
    ``pd.to_datetime(component_frame, errors="coerce")`` (measured
    ~8µs/row there, dominated by int→str→strptime round-trips).

    Replicates pandas' assemble semantics exactly (probed, and pinned
    by tests): the DATE part is calendar-validated (month 1-12, day
    within the real month incl. leap years; any NaN component → NaT),
    while the TIME parts are added as unvalidated timedeltas (hour 99
    rolls into the next days — chrono/pandas parity).  Years outside
    [1678, 2261] fall back to pandas row-wise: the Timestamp ns range
    ends mid-year at 1677/2262, and sub-1000 years hit pandas'
    %Y%m%d 7-digit reinterpretation quirk — delegating keeps those
    pathological rows bit-identical.
    """
    n = len(index)

    def farr(x):
        if not isinstance(x, (pd.Series, np.ndarray)):
            return np.full(n, float(x), dtype="float64")
        a = x.to_numpy() if isinstance(x, pd.Series) else x
        return a.astype("float64")

    yf, mf, df_, hf, mif, sf = (
        farr(v) for v in (year, month, day, hour, minute, second)
    )
    ok = ~(
        np.isnan(yf) | np.isnan(mf) | np.isnan(df_)
        | np.isnan(hf) | np.isnan(mif) | np.isnan(sf)
    )
    yi = np.where(ok, yf, 2000).astype("int64")
    mo = np.where(ok, mf, 1).astype("int64")
    dd = np.where(ok, df_, 1).astype("int64")
    hh = np.where(ok, hf, 0).astype("int64")
    mi = np.where(ok, mif, 0).astype("int64")
    ss = np.where(ok, sf, 0).astype("int64")
    in_range = (yi >= 1678) & (yi <= 2261)
    mo_ok = (mo >= 1) & (mo <= 12)
    dim = _DIM[np.where(mo_ok, mo, 1)]
    leap = ((yi % 4 == 0) & (yi % 100 != 0)) | (yi % 400 == 0)
    dim = np.where((mo == 2) & leap, 29, dim)
    fast = ok & in_range & mo_ok & (dd >= 1) & (dd <= dim)
    ns = np.full(n, _NAT_I8, dtype="int64")
    if fast.any():
        days = _days_from_civil(yi[fast], mo[fast], dd[fast])
        ns[fast] = (
            days * 86400 + hh[fast] * 3600 + mi[fast] * 60 + ss[fast]
        ) * 1_000_000_000
    out = pd.Series(ns.view("datetime64[ns]"), index=index)
    slow = ok & ~in_range
    if slow.any():
        comp = pd.DataFrame(
            {
                "year": yf[slow], "month": mf[slow], "day": df_[slow],
                "hour": hf[slow], "minute": mif[slow], "second": sf[slow],
            }
        )
        out.iloc[np.flatnonzero(slow)] = pd.to_datetime(
            comp, errors="coerce"
        ).to_numpy()
    return out


MONTH_NUM = {k: int(v) for k, v in MONTHS.items()}
MONTH_FULL_NUM = {k: int(v) for k, v in MONTHS_FULL.items()}
# scan-tier month group matches abbreviated AND full names in any of
# the three case spellings; normalize via capitalize + dot-strip
MONTH_ANY_NUM = {**MONTH_NUM, **MONTH_FULL_NUM}


def _canonicalize(
    p, g: pd.DataFrame, anchor_year: int, default_offmin: int = 0
):
    """Captured groups → (utc timestamps, uptime_us or None).

    Vectorized equivalent of captures_to_buffer_bytes
    (src/data/datetime.rs:1368-1890).  Timestamps are assembled from
    integer components (pd.to_datetime on a component frame — numeric
    fast path), never by string formatting + strptime.
    """
    if p.kind == "uptime":
        # _frac_us right-pads sub-6-digit fractions (gc_uptime_s has
        # ms precision); identical to the raw int for 6-digit dmesg
        up = g["us_"].astype("int64") * 1_000_000 + _frac_us(g["f"])
        return pd.Series(pd.NaT, index=g.index, dtype="datetime64[ns]"), up

    # epoch kinds: errors='coerce' — a digit run at the epoch
    # pattern's edge can exceed the datetime range (found on a real
    # log corpus); the coerced NaT falls through to later patterns
    # exactly like an out-of-range calendar component below
    if p.kind == "epoch":
        frac_us = _frac_us(g["f"]) if "f" in g.columns else 0
        us = g["es"].astype("int64") * 1_000_000 + frac_us
        return pd.Series(
            pd.to_datetime(us, unit="us", errors="coerce"),
            index=g.index,
        ), None

    if p.kind == "epoch_ms":
        us = g["ems"].astype("int64") * 1_000
        return pd.Series(
            pd.to_datetime(us, unit="us", errors="coerce"),
            index=g.index,
        ), None

    if p.kind == "epoch_us":
        us = g["eu"].astype("int64")
        return pd.Series(
            pd.to_datetime(us, unit="us", errors="coerce"),
            index=g.index,
        ), None

    # ymd / mon_name / mdy12 / mon12 — component source is capture-
    # group-driven: 'b' = abbreviated month name, 'bf' = full month
    # name (%B), 'h12'+'ampm' = 12-hour clock, missing 's' = minute
    # resolution (second defaults to 0)
    if "b" in g.columns:
        # capitalize folds 'jan'/'JAN'/'JANUARY' onto the map; the
        # scan tier's month group also matches full names and the
        # dotted 'Jan.' spelling (CGP_MONTHBb, ere_datetimes_impl.rs:1605)
        # — one Python pass (≡ .str.replace + .str.capitalize + .map,
        # which each walked the object array separately); unmapped
        # names → NaN exactly like Series.map
        month = pd.Series(
            [
                MONTH_ANY_NUM.get(v.replace(".", "").capitalize())
                if v is not None
                else None
                for v in g["b"].to_numpy()
            ],
            index=g.index,
            dtype="float64",
        )
    elif "bf" in g.columns:
        month = pd.Series(
            [
                MONTH_FULL_NUM.get(v.capitalize()) if v is not None
                else None
                for v in g["bf"].to_numpy()
            ],
            index=g.index,
            dtype="float64",
        )
    else:
        month = g["M"].astype("int64")
    if "h12" in g.columns:  # 12-hour clock (s4 DTFS_Hour::I, %I + %p)
        h12 = g["h12"].astype("int64") % 12
        hour = h12 + np.where(g["ampm"] == "PM", 12, 0)
    else:
        hour = g["h"].astype("int64")
        if "ampm" in g.columns:  # OPTIONAL 12-hour marker (scan tier)
            ap = g["ampm"].str.upper().fillna("")
            hour = pd.Series(
                np.where(
                    ap != "",
                    hour % 12 + np.where(ap == "PM", 12, 0),
                    hour,
                ),
                index=g.index,
            )
    if "y2" in g.columns:  # chrono %y pivot: 00-68 -> 20xx, 69-99 -> 19xx
        y2 = g["y2"].astype("int64")
        year = pd.Series(
            np.where(y2 <= 68, 2000 + y2, 1900 + y2), index=g.index
        )
    elif p.noyear:
        # anchor_year may be a per-row Series (per-source mtime year,
        # syslogprocessor.rs:628-734 seeds no-year formats from the
        # file's mtime) or a scalar (table corpus)
        if isinstance(anchor_year, pd.Series):
            year = anchor_year.reindex(g.index)
        else:
            year = pd.Series(anchor_year, index=g.index)
    else:
        year = g["Y"].astype("int64")
    # 'Jan  1' space pad → int in one pass (≡ .str.replace + astype)
    day = pd.Series(
        [int(v.replace(" ", "")) for v in g["D"].to_numpy()],
        index=g.index,
        dtype="int64",
    )
    # coerce: an out-of-range component (month 13, day 32) must mean
    # "this pattern did not match" (s4 semantics), never kill the
    # batch — at 10^12 rows one malformed line would fail the job
    ts = _assemble_ts(
        year,
        month,
        day,
        hour,
        g["mi"].astype("int64"),
        g["s"].astype("int64") if "s" in g.columns else 0,
        g.index,
    )
    if "f" in g.columns:
        frac = g["f"]
        has = frac.notna()
        if has.any():
            us = _frac_us(frac[has])
            ts = ts.copy()
            ts[has] = ts[has] + pd.to_timedelta(us, unit="us")
    # tz → UTC (named map or ±hhmm), else apply the job's DEFAULT
    # offset (s4 -t/--tz-offset, s4.rs:2985-3008: every timestamp
    # without its own tz — including an AMBIGUOUS or unknown named tz,
    # datetime.rs:1850-1872 — is interpreted in the default zone;
    # default 0 = UTC).  tz groups may be optional (angle_dd_mon,
    # every scan pattern): un-captured rows keep the default rather
    # than tripping NA boolean logic.  A pattern may carry BOTH a
    # numeric tz and a named tzn group (scan tier's any-kind tz
    # alternation) — numeric wins where captured.
    offmin = pd.Series(default_offmin, index=g.index, dtype="int64")
    done = pd.Series(False, index=g.index)
    # a pattern may carry several alternative tz groups (scan 62 has
    # numeric/named, before/after the year); first captured wins
    for col, numeric in (
        ("tz", True), ("tz2", True),
        ("tzn", False), ("tzn2", False), ("tznu", False),
    ):
        if col not in g.columns:
            continue
        has = g[col].notna() & ~done
        if not has.any():
            continue
        if numeric:
            offmin[has] = _tz_minutes_numeric(g[col][has]).astype("int64")
        else:
            offmin[has] = (
                g[col][has]
                .str.upper()
                .map(TZ_OFFSET_MIN_UNAMBIG)
                .fillna(default_offmin)
                .astype("int64")
            )
        done |= has
    if (offmin != 0).any():
        ts = ts - pd.to_timedelta(offmin, unit="m")
    return ts, None


def _dispatch_masks(prefix: pd.Series) -> dict[int, "np.ndarray"]:
    """Cheap vectorized candidate masks per pattern — the EZCHECK
    idea (syslinereader.rs:1618-1721, slice_contains.rs SIMD
    prefilters) done with C-speed string slices: each row then runs
    ~1 regex instead of the whole bank."""
    # every positional probe is computed ONCE and shared across the
    # pattern masks below (slice(2,3) alone fed 9 masks as separate
    # Arrow kernel calls before; the dedup cuts the mask pass ~30%).
    # Each boolean probe is converted to a plain numpy array right
    # away (NA → False): the pattern masks then combine with numpy
    # ops instead of pandas masked/Arrow logical kernels — faster,
    # and immune to the masked-&-Arrow NA ambiguity a null text row
    # used to trip (tests/test_parse_positional.py)
    def b(x) -> np.ndarray:
        return x.to_numpy(dtype=bool, na_value=False)

    c0 = prefix.str.slice(0, 1)
    first3 = prefix.str.slice(0, 3)
    s23 = prefix.str.slice(2, 3)
    s34 = prefix.str.slice(3, 4)
    s45 = prefix.str.slice(4, 5)
    s56 = prefix.str.slice(5, 6)
    s89 = prefix.str.slice(8, 9)
    s10_11 = prefix.str.slice(10, 11)
    digit4 = b(prefix.str.slice(0, 4).str.isdigit())
    digit8 = b(prefix.str.slice(0, 8).str.isdigit())
    digit0 = b(c0.str.isdigit())
    iso = digit4 & b(s45 == "-")
    bracket = b(c0 == "[")
    from ..patterns import MONTHS as _M, TZ_OFFSET_MIN as _T  # noqa: F401

    dows = {"Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun"}
    mons_ci = {m.lower() for m in MONTHS} | {m.upper() for m in MONTHS}
    first2_digit = b(prefix.str.slice(0, 2).str.isdigit())
    sp3 = b(s34 == " ")
    dow_sp = b(first3.isin(dows)) & sp3
    mon_sp = b(first3.isin(MONTHS)) & sp3
    # ---- second-level discriminators: with 37 bank entries a shared
    # coarse mask (8 patterns share `iso`) costs ~8 extracts per row;
    # these positional checks keep candidates a strict SUPERSET of
    # true matches (false positives only cost one extract; a false
    # negative would misroute a row to continuation, so every check
    # below covers the pattern's full legal width range).
    iso_t = iso & b(s10_11.isin(["T", " "]))
    iso_dash = iso & b(s10_11 == "-")
    slash4 = digit4 & b(s45 == "/")
    # tz sign / Zulu live within chars 19..35 for any 0-9-digit frac
    # (worst case: '.123456789 -0800' puts the sign's digits at 31-32)
    after = prefix.str.slice(19, 36)
    has_signed_tz = b(after.str.contains(r"[+-]\d\d", regex=True, na=False))
    has_z = b(after.str.contains("Z", regex=False, na=False))
    comma19 = b(prefix.str.slice(19, 20) == ",")
    ampm20 = b(prefix.str.slice(20, 22).isin(["AM", "PM"]))
    colon9 = b(prefix.str.slice(9, 10) == ":")  # Mon [d]d hh: time colon
    comma6 = b(prefix.str.slice(6, 7) == ",")   # Mon dd, yyyy (JUL)
    # strace dot sits at 9-11 depending on the 9-11-digit second width
    dot9_11 = b(
        prefix.str.slice(9, 12).str.contains(".", regex=False, na=False)
    )
    f2_dash = first2_digit & b(s23 == "-")
    f2_slash = first2_digit & b(s23 == "/")
    f2_space = first2_digit & b(s23 == " ")
    br_dash5 = bracket & b(s56 == "-")
    return {
        0: iso_t & has_signed_tz,
        1: iso_t,  # catch-all of the ISO cluster (lookaheads reject)
        2: b(first3.isin(dows)) & b(prefix.str.slice(3, 5) == ", "),
        3: mon_sp & colon9,
        4: bracket & b(s34 == "/"),
        5: f2_dash,
        6: b(prefix.str.startswith("type=", na=False)),
        7: digit0 & ~iso & dot9_11,
        8: bracket,
        9: iso_t & comma19,
        10: slash4,
        11: f2_slash,
        12: digit8,
        13: iso_t & has_signed_tz,
        14: digit0 & ~iso,
        15: b(prefix.str.slice(0, 13).str.isdigit()),
        16: dow_sp,
        17: b(first3.isin(mons_ci)) & sp3,
        18: f2_slash,
        19: first2_digit & b(s23 == "."),
        20: iso_t,
        21: b(c0 == "<"),
        22: mon_sp & ~colon9,
        23: f2_dash,
        24: bracket & b(prefix.str.slice(1, 4).isin(dows)),
        25: iso_t & ampm20,
        26: b(prefix.str.slice(0, 16).str.isdigit()),
        27: dow_sp,
        28: br_dash5,
        29: iso_t & has_z,
        30: bracket & b(prefix.str.slice(1, 10).str.isdigit()),
        31: b(c0 == "#"),
        32: f2_space,
        33: b(first3.isin(MONTHS)) & comma6,
        34: br_dash5,
        35: iso_dash,
        36: digit8 & b(s89 == " "),
        37: dow_sp,
        38: f2_slash,
        39: iso_t & has_signed_tz,
        40: bracket,
        41: iso_t,
        42: f2_space,
        43: iso_t & comma19,
        44: f2_slash,
        45: slash4 & has_signed_tz,
        46: slash4,
        47: b(prefix.str.contains(" [", regex=False, na=False)),
        48: slash4,
        49: iso_t,
        50: b(prefix.str.contains("\t<", regex=False, na=False)),
        51: b(prefix.str.contains(" {", regex=False, na=False)),
        52: digit8 & b(s89 == ":"),
        53: iso & b(s10_11 == "+"),
        54: f2_slash,
        55: b(c0 == "("),
        56: b(c0 == "*"),
        57: first2_digit
        & b(prefix.str.slice(2, 5).isin([m.upper() for m in MONTHS])),
    }


_Y4_GATE = r"1969|19[7-9]\d|20\d\d"
_MON_GATE = "|".join(
    v for m in MONTHS for v in (m, m.lower(), m.upper())
)


def _scan_masks(sub: pd.Series) -> dict[int, pd.Series]:
    """Cheap gates for the scan tier, computed only on the rows the
    anchored tier rejected — the EZCHECK idea applied to mid-line
    search (a row without a plausible year / month name / time shape
    skips the bounded-backtracking regex entirely)."""
    has_y4 = sub.str.contains(_Y4_GATE, regex=True, na=False)
    has_mon = sub.str.contains(_MON_GATE, regex=True, na=False)
    has_time = sub.str.contains(r"\d:[0-5]\d", regex=True, na=False)
    out = {}
    for p in SCAN_PATTERNS:
        if p.gate is not None:
            out[p.pid] = sub.str.contains(p.gate, regex=True, na=False)
        elif p.kind == "mon_name":
            out[p.pid] = has_mon & has_time
        elif "(?P<Y>" in p.regex:
            out[p.pid] = has_y4
        else:
            out[p.pid] = has_time
    return out


PATTERN_BY_ID = {p.pid: p for p in PATTERNS}


def parse_series(
    texts: pd.Series,
    anchor_year: int = ANCHOR_YEAR_DEFAULT,
    winner_pids: pd.Series | None = None,
    tz_offset_min: int = 0,
    anchor_years: pd.Series | None = None,
) -> pd.DataFrame:
    """text → (ts_parsed, pattern_id, sink, dt_beg, dt_end, uptime_us).

    Rows matching no pattern are continuation lines
    (src/data/mod.rs:34-44): null ts, null pattern_id,
    sink='continuation'.

    winner_pids (optional; NaN = unknown) is the frozen per-source
    dominant pattern, aligned by POSITION with texts (row i's winner
    is winner_pids' i-th value, whatever the index says): those rows
    try their winner FIRST and skip the bank walk on a hit — s4's
    learned single-DTPD fast path (syslinereader.rs:920, dt_patterns
    freeze at :2090-2172).  Bank entries are constructed
    pairwise-disjoint (lookaheads on the catch-all families), so
    winner-first output equals strict bank-order output; misses fall
    through to the normal walk.
    """
    idx = texts.index
    # per-row anchor years (index-aligned; NaN → the scalar default)
    # — s4 seeds each file's no-year formats from that file's mtime
    if anchor_years is not None:
        anchor_year = (
            anchor_years.reindex(idx).fillna(anchor_year).astype("int64")
        )
    # result buffers: positional numpy arrays assembled into the
    # output frame ONCE at the end — six .loc label-writes per pattern
    # per batch measured ~9% of the parse (337 __setitem__ calls on a
    # 200k-row batch); numpy fancy assignment replaces them
    n = len(texts)
    ts_arr = np.full(n, np.datetime64("NaT"), dtype="datetime64[ns]")
    pid_arr = np.full(n, -1, dtype="int32")
    sink_arr = np.full(n, CONTINUATION_SINK, dtype=object)
    beg_arr = np.zeros(n, dtype="int32")
    end_arr = np.zeros(n, dtype="int32")
    up_arr = np.zeros(n, dtype="int64")
    up_mask = np.zeros(n, dtype=bool)
    # Arrow-backed strings: .str.slice/isdigit/startswith run in C
    # instead of a per-row Python lambda — measured 4.4× on the mask
    # pass, which is half the parse cost at 29 patterns.  The astype
    # is one cheap buffer re-encode (the data arrived as Arrow anyway).
    texts = texts.astype("string[pyarrow]")
    wide = texts.str.slice(0, SCAN_MAX)  # scan-tier region
    prefix = wide.str.slice(0, MAX_SCAN)
    # EZCHECKD2: every bank entry needs two consecutive digits — gated
    # on the WIDE region so a datetime past MAX_SCAN (mid-line, scan
    # tier) still qualifies; tier-1 masks are positional within the
    # narrow prefix and reject those rows cheaply.
    #
    # Dispatch state is POSITIONAL numpy from here on (round 6): the
    # per-pattern `series[mask]` Arrow-take + label-aligned `.loc`
    # writes were ~15% of the kernel; one batch-wide `.tolist()` plus
    # plain int positions replaces them (bit-identical output, pinned
    # by the DTPD audit + the saved-corpus regression check).
    remaining = wide.str.contains(r"\d\d", regex=True, na=False).to_numpy(
        dtype=bool, na_value=False
    )
    masks = _dispatch_masks(prefix)  # plain numpy bool arrays
    prefix_list = prefix.tolist()

    def try_pattern(p, cand: np.ndarray) -> None:
        if not cand.any():
            return
        res = _extract_matches(
            prefix_list, np.flatnonzero(cand).tolist(), idx, p
        )
        if res is None:
            return
        g, pre_len, dt_len, hit_pos = res
        ts, up = _canonicalize(p, g, anchor_year, tz_offset_min)
        if up is None:
            valid = ts.notna()
            if not valid.all():  # invalid date → pattern didn't match;
                vm = valid.to_numpy()
                g = g[valid]     # row falls through to later patterns
                ts = ts[valid]
                dt_len = dt_len[vm]
                hit_pos = hit_pos[vm]
                if pre_len is not None:
                    pre_len = pre_len[vm]
                if g.empty:
                    return
        ts_arr[hit_pos] = ts.to_numpy(dtype="datetime64[ns]")
        pid_arr[hit_pos] = p.pid
        sink_arr[hit_pos] = p.name
        beg = pre_len if p.dt_beg is None else p.dt_beg
        beg_arr[hit_pos] = beg
        end_arr[hit_pos] = beg + dt_len
        if up is not None:
            up_arr[hit_pos] = up.to_numpy(dtype="int64")
            up_mask[hit_pos] = True
        remaining[hit_pos] = False

    if winner_pids is not None:
        wnp = winner_pids.to_numpy(dtype="float64", na_value=np.nan)
        for w in pd.unique(winner_pids.dropna()):
            p = PATTERN_BY_ID.get(int(w))
            if p is not None and not p.scan:
                try_pattern(p, remaining & (wnp == w) & masks[p.pid])
    for p in ANCHORED_PATTERNS:
        if not remaining.any():
            break
        try_pattern(p, remaining & masks[p.pid])
    # scan tier (ids 58+): bounded mid-line search over the leftovers
    # only — the hot path (anchored corpus shapes) never reaches here.
    # It inspects a wider region (SCAN_MAX) than the anchored tier,
    # mirroring the reference's per-entry range_regex widths.
    if remaining.any():
        rem_pos = np.flatnonzero(remaining)
        scan_prefix = wide.iloc[rem_pos]
        scan_idx = idx[rem_pos]
        smasks = _scan_masks(scan_prefix)
        scan_list = scan_prefix.tolist()
        sub_remaining = np.ones(len(rem_pos), dtype=bool)

        def try_scan(p, cand_sub: pd.Series) -> None:
            sub = (
                cand_sub.to_numpy(dtype=bool, na_value=False)
                & sub_remaining
            )
            if not sub.any():
                return
            res = _extract_matches(
                scan_list, np.flatnonzero(sub).tolist(), scan_idx, p
            )
            if res is None:
                return
            g, pre_len, dt_len, hit_sub = res
            ts, up = _canonicalize(p, g, anchor_year, tz_offset_min)
            valid = ts.notna() if up is None else pd.Series(
                True, index=g.index
            )
            vm = valid.to_numpy()
            g, ts = g[valid], ts[valid]
            if g.empty:
                return
            hit_sub = hit_sub[vm]
            ppos = rem_pos[hit_sub]
            ts_arr[ppos] = ts.to_numpy(dtype="datetime64[ns]")
            pid_arr[ppos] = p.pid
            sink_arr[ppos] = p.name
            beg = pre_len[vm]
            beg_arr[ppos] = beg
            end_arr[ppos] = beg + dt_len[vm]
            sub_remaining[hit_sub] = False

        for p in SCAN_PATTERNS:
            if not sub_remaining.any():
                break
            try_scan(p, smasks[p.pid])
    no_match = pid_arr < 0
    return pd.DataFrame(
        {
            "ts_parsed": pd.Series(ts_arr, index=idx),
            "pattern_id": pd.Series(
                pd.arrays.IntegerArray(pid_arr, mask=no_match),
                index=idx,
            ),
            "sink": pd.Series(sink_arr, index=idx, dtype="object"),
            "dt_beg": pd.Series(
                pd.arrays.IntegerArray(beg_arr, mask=no_match),
                index=idx,
            ),
            "dt_end": pd.Series(
                pd.arrays.IntegerArray(end_arr, mask=no_match),
                index=idx,
            ),
            "uptime_us": pd.Series(
                pd.arrays.IntegerArray(up_arr, mask=~up_mask),
                index=idx,
            ),
        }
    )


def make_parse_udf(
    anchor_year: int = ANCHOR_YEAR_DEFAULT,
    frozen=False,
    tz_offset_min: int = 0,
    anchor_from_ts: bool = False,
):
    """Arrow-batched pandas UDF over the text column.

    The JVM ships Arrow batches to a long-lived Python worker — the
    same architecture the reference uses for its child-Python readers
    (src/readers/pyeventreader.rs:629, src/python/pyrunner.rs:653),
    but vectorized instead of line-protocol-per-record.

    frozen=True switches the UDF to (winner_pid, text) input — the
    winner pid arrives as a broadcast-joined COLUMN (operators/
    parse.py), not a driver-collected dict — and enables the
    winner-first fast path.
    """
    from pyspark.sql.functions import pandas_udf

    if anchor_from_ts:
        # (ts, text) variant: each row's no-year anchor comes from its
        # source's mtime stand-in ts (syslogprocessor.rs:628-734)
        assert not frozen, "anchor_from_ts + frozen not supported"

        @pandas_udf(RESULT_FIELDS)
        def parse_text_mtime(
            ts: pd.Series, texts: pd.Series
        ) -> pd.DataFrame:
            return parse_series(
                texts,
                anchor_year=anchor_year,
                tz_offset_min=tz_offset_min,
                anchor_years=ts.dt.year,
            )

        return parse_text_mtime

    if not frozen:

        @pandas_udf(RESULT_FIELDS)
        def parse_text(texts: pd.Series) -> pd.DataFrame:
            return parse_series(
                texts,
                anchor_year=anchor_year,
                tz_offset_min=tz_offset_min,
            )

        return parse_text

    @pandas_udf(RESULT_FIELDS)
    def parse_text_frozen(
        winner_pids: pd.Series, texts: pd.Series
    ) -> pd.DataFrame:
        return parse_series(
            texts,
            anchor_year=anchor_year,
            winner_pids=winner_pids,
            tz_offset_min=tz_offset_min,
        )

    return parse_text_frozen
