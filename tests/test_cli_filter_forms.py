"""CLI datetime-filter grammar coverage vs the reference's 95 forms.

s4 accepts exactly CLI_FILTER_PATTERNS_COUNT = 95 strftime-shaped
filter forms for -a/-b (src/s4/s4.rs:552-2609) plus relative-offset
strings with '!hh:mm' exact-time overrides (s4.rs:3537).  This test
enumerates every pattern string straight from the reference source,
renders a concrete sample for each, and checks parse_dt_filter
resolves it to the instant the form's strftime semantics dictate.
"""

import datetime as dt
import re

import pytest

from super_speedy_syslog_searcher_spark.cli import parse_dt_filter

S4 = "/root/reference/src/s4/s4.rs"

pytestmark = pytest.mark.requires_reference

NOW = dt.datetime(2024, 6, 15, 12, 0, 0)

# sample component values; PST = -08:00 in the bank table
_SUBS = [
    ("%3f", "123"), ("%6f", "123456"),
    ("%:z", "+05:30"), ("%#z", "+05"), ("%z", "+0530"),
    ("%Y", "2000"), ("%m", "01"), ("%d", "02"),
    ("%H", "03"), ("%M", "04"), ("%S", "05"),
    ("%Z", "PST"), ("%s", "1704112402"),
]


def _forms() -> list[str]:
    src = open(S4, encoding="utf-8").read()
    n = int(re.search(r"CLI_FILTER_PATTERNS_COUNT: usize = (\d+)", src).group(1))
    # pattern strings inside the CLI_DT_Filter_Pattern table
    table = src.split("CLI_FILTER_PATTERNS:")[1]
    forms = re.findall(r'pattern: "([^"]+)"', table)[:n]
    assert len(forms) == n == 95
    return forms


def _expected(pat: str) -> dt.datetime:
    if pat == "+%s":
        return dt.datetime(1970, 1, 1) + dt.timedelta(seconds=1704112402)
    y, mo, d = (2000, 1, 2) if "%Y" in pat else (NOW.year, 1, 2)
    if "%m" not in pat:
        y, mo, d = NOW.year, NOW.month, NOW.day
    h = 3 if "%H" in pat else 0
    mi = 4 if "%M" in pat else 0
    s = 5 if "%S" in pat else 0
    us = 123000 if "%3f" in pat else (123456 if "%6f" in pat else 0)
    out = dt.datetime(y, mo, d, h, mi, s, us)
    if "%Z" in pat:
        out += dt.timedelta(minutes=480)  # PST -08:00 → UTC
    elif "%z" in pat or "%:z" in pat or "%#z" in pat:
        off = 330 if ("%z" in pat or "%:z" in pat) else 300
        out -= dt.timedelta(minutes=off)
    return out


def _render(pat: str) -> str:
    s = pat
    for k, v in _SUBS:
        s = s.replace(k, v)
    return s


def test_cli_filter_forms_coverage():
    forms = _forms()
    ok, failed = 0, []
    for pat in forms:
        sample = _render(pat)
        try:
            got = parse_dt_filter(sample, now=NOW)
        except ValueError:
            failed.append((pat, sample, "unrecognized"))
            continue
        exp = _expected(pat)
        if got == exp:
            ok += 1
        else:
            failed.append((pat, sample, f"got {got} want {exp}"))
    detail = "\n".join(f"  {p!r} ({s!r}): {why}" for p, s, why in failed)
    # round-3 bar: ≥80 of the 95 reference forms resolve correctly
    assert ok >= 80, f"only {ok}/95 CLI filter forms pass:\n{detail}"


@pytest.mark.parametrize(
    "value,expected",
    [
        # '!hh:mm' exact-time override on relative offsets (s4.rs:3537)
        ("-1d!05:30", dt.datetime(2024, 6, 14, 5, 30, 0)),
        ("-1w2d!00:00:30", dt.datetime(2024, 6, 6, 0, 0, 30)),
        ("+1d!12:00", dt.datetime(2024, 6, 16, 12, 0, 0)),
        # tz swap after the override: wall clock kept, zone swapped
        ("-2d!05:30 +08:00", dt.datetime(2024, 6, 12, 21, 30, 0)),
        # md / time-only shorthands fill from 'now'
        ("01-02", dt.datetime(2024, 1, 2)),
        ("01/02", dt.datetime(2024, 1, 2)),
        ("03:04:05", dt.datetime(2024, 6, 15, 3, 4, 5)),
        ("03:04", dt.datetime(2024, 6, 15, 3, 4, 0)),
        # slash-date ISO family
        ("2000/01/02 03:04:05", dt.datetime(2000, 1, 2, 3, 4, 5)),
        ("2000/01/02T03:04:05.123 +0530",
         dt.datetime(2000, 1, 1, 21, 34, 5, 123000)),
    ],
)
def test_filter_override_and_shorthand_forms(value, expected):
    assert parse_dt_filter(value, now=NOW) == expected


def test_rel_at_with_override():
    other = dt.datetime(2024, 1, 10, 8, 0, 0)
    got = parse_dt_filter("@+1d!06:00", now=NOW, other=other)
    assert got == dt.datetime(2024, 1, 11, 6, 0, 0)
