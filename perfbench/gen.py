"""Seeded inputs for every workload.

All randomness comes from ``numpy.random.default_rng``; nothing reads
the clock or the host.  The ``events`` rows are drawn here; the
transcripts rows and log lines follow from them through the package's
engine-portable derivation (``datagen.transcripts_sql`` /
``expected_sql``), evaluated in DuckDB.  The program under test
receives only what this module writes: a transcripts parquet table,
the dt window, and for ``cli_files`` a directory of log files.
"""

from __future__ import annotations

import datetime as dt
import gzip
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from super_speedy_syslog_searcher_spark.datagen import (
    expected_sql,
    transcripts_sql,
)

ANCHOR_YEAR = 2024  # the derivation's year-fill; CLI file mtimes sit in it
_JAN1_US = (
    int(dt.datetime(ANCHOR_YEAR, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    * 1_000_000
)
_SPAN_US = 30 * 86_400 * 1_000_000  # events cover 30 days of January
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_N_USERS = 1500
UPTIME_FAM = 8  # dmesg-style uptime family, see TableInput/FileInput notes


def _fmt_us(us: int) -> str:
    return (
        dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(us))
    ).strftime("%Y-%m-%d %H:%M:%S")


def events_table(rng: np.random.Generator, n: int) -> pa.Table:
    """The driver's ``events`` schema with seeded contents: ids in
    order, timestamps sorted over January, users, types and 2-decimal
    values drawn from the generator."""
    ts_us = _JAN1_US + np.sort(rng.integers(0, _SPAN_US, n, dtype=np.int64))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts_us, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, _N_USERS, n, dtype=np.int64)),
            "event_type": pa.array(
                np.array(_EVENT_TYPES, dtype=object)[
                    rng.integers(0, len(_EVENT_TYPES), n)
                ]
            ),
            "value": pa.array(np.round(rng.exponential(60.0, n), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
            ),
        }
    )


def window(rng: np.random.Generator, width_days: float) -> tuple[str, str]:
    """A fixed-width dt window at a seeded position inside January."""
    width_us = int(width_days * 86_400 * 1_000_000)
    start = _JAN1_US + int(rng.integers(0, _SPAN_US - width_us))
    return _fmt_us(start), _fmt_us(start + width_us)


def _write_events(con, rng, n: int, out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "events.parquet")
    pq.write_table(events_table(rng, n), path)
    con.execute(
        f"CREATE OR REPLACE VIEW events AS SELECT * FROM read_parquet('{path}')"
    )
    return path


@dataclass(frozen=True)
class TableInput:
    """``repl`` copies of the derivation over ``n_events`` events, each
    copy its own conversation space: conv_id gets ``#<salt>-<copy>``."""

    events_path: str
    transcripts_path: str
    n_events: int
    repl: int
    salt: str
    after: str  # dt window, "YYYY-MM-DD HH:MM:SS" (UTC)
    before: str

    @property
    def n_turns(self) -> int:
        return self.n_events * self.repl


def conv_salt_sql(salt: str) -> str:
    """Salted conv_id of copy ``r`` (DuckDB), shared with the oracle."""
    return f"conv_id || '#{salt}-' || CAST(r AS VARCHAR)"


def table_input(
    con, seed: int, out_dir: str, n_events: int, repl: int, window_days: float
) -> TableInput:
    rng = np.random.default_rng([seed, 1])
    events_path = _write_events(con, rng, n_events, out_dir)
    salt = f"{int(rng.integers(0, 1 << 32)):08x}"
    after, before = window(rng, window_days)
    out = os.path.join(out_dir, "transcripts.parquet")
    con.execute(
        f"COPY (SELECT {conv_salt_sql(salt)} AS conv_id, turn_idx, role, text,"
        f" tool, ts FROM ({transcripts_sql('duckdb')}) CROSS JOIN range({repl})"
        f" AS copies(r) ORDER BY r, conv_id, turn_idx)"
        f" TO '{out}' (FORMAT parquet)"
    )
    return TableInput(
        events_path, out, n_events, repl, salt, after, before
    )


@dataclass(frozen=True)
class FileInput:
    """One log file per host (``host-N`` in the payload), lines in
    event order, every odd file gzip-compressed, all sharing one mtime
    in the anchor year after every event.

    Uptime-family lines are left out: a file source anchors uptime to
    the file mtime, the table source to the event time, so their
    timestamps legitimately differ (see ``q_logfile_merge``)."""

    events_path: str
    paths: list
    mtime: float  # epoch seconds
    after: str
    before: str
    n_lines: int


def file_input(
    con,
    seed: int,
    out_dir: str,
    n_events: int,
    n_files: int,
    window_days: float,
) -> FileInput:
    rng = np.random.default_rng([seed, 2])
    events_path = _write_events(con, rng, n_events, out_dir)
    rows = con.execute(
        f"SELECT CAST(regexp_extract(text, ' host-(\\d+) ', 1) AS INT) % {n_files},"
        f" text FROM ({expected_sql('duckdb')}) WHERE _fam <> {UPTIME_FAM}"
        f" ORDER BY ts, turn_idx, conv_id"
    ).fetchall()
    by_file: list[list[str]] = [[] for _ in range(n_files)]
    for f, text in rows:
        by_file[f].append(text)
    mtime = (_JAN1_US + _SPAN_US) / 1e6 + float(
        rng.integers(86_400, 300 * 86_400)
    )
    paths = []
    for i, lines in enumerate(by_file):
        body = ("\n".join(lines) + "\n").encode("utf-8")
        name = f"host{i:02d}.log"
        if i % 2:
            name += ".gz"
            body = gzip.compress(body, mtime=0)
        path = os.path.join(out_dir, name)
        with open(path, "wb") as f:
            f.write(body)
        os.utime(path, (mtime, mtime))
        paths.append(path)
    after, before = window(rng, window_days)
    return FileInput(events_path, paths, mtime, after, before, len(rows))
