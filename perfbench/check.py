"""Oracle checks: DuckDB over ``oracle.base()`` on the same seeded rows.

Every check returns a list of problems; an empty list is a pass.  The
Spark side reduces its output to the same shapes as the oracle side
(row count, an order-insensitive digest, ordered keys, per-group
counts, printed lines), so the two engines never exchange rows.

Digest: per row, md5 of ``conv_id|turn_idx|epoch_us(ts_eff)|text``;
the first and second 8 hex digits, summed separately over all rows.
"""

from __future__ import annotations

from collections import Counter

from super_speedy_syslog_searcher_spark.datagen import expected_sql
from super_speedy_syslog_searcher_spark.oracle import base

from gen import UPTIME_FAM, FileInput, TableInput, conv_salt_sql


def _asm_replicated(ti: TableInput) -> str:
    """oracle.base() (expected parse + assembly) over ``events``,
    replicated into the salted conversation spaces of the input."""
    return (
        f"{base()} SELECT * REPLACE ({conv_salt_sql(ti.salt)} AS conv_id)"
        f" FROM asm CROSS JOIN range({ti.repl}) AS copies(r)"
    )


def _in_window(after: str, before: str) -> str:
    return (
        f"ts_eff >= TIMESTAMP '{after}' AND ts_eff <= TIMESTAMP '{before}'"
    )


def merge_expected(con, ti: TableInput) -> tuple[int, int, int]:
    """(rows, digest_hi, digest_lo) of the dt-filtered merge output."""
    h = (
        "md5(conv_id || '|' || CAST(turn_idx AS VARCHAR) || '|'"
        " || CAST(epoch_us(ts_eff) AS VARCHAR) || '|' || text)"
    )
    n, hi, lo = con.execute(
        f"SELECT count(*),"
        f" sum(CAST('0x' || substr(h, 1, 8) AS BIGINT)),"
        f" sum(CAST('0x' || substr(h, 9, 8) AS BIGINT))"
        f" FROM (SELECT {h} AS h FROM ({_asm_replicated(ti)})"
        f" WHERE {_in_window(ti.after, ti.before)})"
    ).fetchone()
    return int(n), int(hi or 0), int(lo or 0)


def spark_digest_cols():
    """Spark columns giving per-row (epoch_us, conv_id, turn_idx, hi, lo)."""
    from pyspark.sql import functions as F

    h = F.md5(
        F.concat_ws(
            "|",
            "conv_id",
            F.col("turn_idx").cast("string"),
            F.unix_micros("ts_eff").cast("string"),
            "text",
        )
    )
    return [
        F.unix_micros("ts_eff").alias("us"),
        "conv_id",
        "turn_idx",
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint").alias("hi"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint").alias("lo"),
    ]


def spark_digest(df) -> tuple[int, int, int]:
    """The order-insensitive (rows, hi, lo) digest, computed in Spark."""
    from pyspark.sql import functions as F

    r = df.select(*spark_digest_cols()).agg(
        F.count("*"), F.sum("hi"), F.sum("lo")
    ).first()
    return int(r[0]), int(r[1] or 0), int(r[2] or 0)


def check_digest(got: tuple, want: tuple) -> list[str]:
    if got[0] != want[0]:
        return [f"row count {got[0]} != oracle {want[0]}"]
    if got != want:
        return ["row digest differs from oracle"]
    return []


def check_ordered(rows: list, want: tuple) -> list[str]:
    """rows: (us, conv_id, turn_idx, hi, lo) in output order.  Checks
    the digest and the global (ts_eff, conv_id, turn_idx) order."""
    got = (
        len(rows),
        sum(r[3] for r in rows),
        sum(r[4] for r in rows),
    )
    problems = check_digest(got, want)
    keys = [(r[0], r[1], r[2]) for r in rows]
    bad = sum(1 for a, b in zip(keys, keys[1:]) if a > b)
    if bad:
        problems.append(f"{bad} adjacent rows out of (ts_eff, conv_id, turn_idx) order")
    return problems


def summary_expected(con, ti: TableInput) -> Counter:
    """Per-(sink, role) routed row counts."""
    rows = con.execute(
        f"SELECT sink_eff, role, count(*) * {ti.repl} FROM ({base()} SELECT * FROM asm)"
        f" GROUP BY ALL"
    ).fetchall()
    return Counter({(s, r): int(n) for s, r, n in rows})


def check_summary(rows: list, want: Counter) -> list[str]:
    got = Counter()
    for sink, role, n in rows:
        got[(sink, role)] += int(n)
    if got == want:
        return []
    diff = sorted(k for k in set(got) | set(want) if got[k] != want[k])
    return [f"{len(diff)} (sink, role) counts differ from oracle, e.g. {diff[:3]}"]


def cli_expected(con, fi: FileInput, n_files: int) -> Counter:
    """Lines the CLI prints with ``-u``: ``<yyyymmddThhmmssZ> <text>``
    for every line whose file-order assembled timestamp is in the
    window.  Continuations take the last timestamp above them in their
    own file, as the file source assembles per file."""
    rows = con.execute(
        f"""
        WITH exp AS ({expected_sql('duckdb')}),
        lines AS (
          SELECT CAST(regexp_extract(text, ' host-(\\d+) ', 1) AS INT) % {n_files} AS f,
                 ts, turn_idx, conv_id, text, _ts_parsed
          FROM exp WHERE _fam <> {UPTIME_FAM}
        ),
        asm AS (
          SELECT text, last_value(_ts_parsed IGNORE NULLS) OVER (
                   PARTITION BY f ORDER BY ts, turn_idx, conv_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ts_eff
          FROM lines
        )
        SELECT strftime(ts_eff, '%Y%m%dT%H%M%SZ') || ' ' || text FROM asm
        WHERE {_in_window(fi.after, fi.before)}
        """
    ).fetchall()
    return Counter(r[0] for r in rows)


def check_cli(lines: list, want: Counter) -> list[str]:
    problems = []
    got = Counter(lines)
    if got != want:
        problems.append(
            f"printed {len(lines)} lines, oracle {sum(want.values())};"
            f" {sum((got - want).values())} unexpected,"
            f" {sum((want - got).values())} missing"
        )
    stamps = [x.split(" ", 1)[0] for x in lines]
    bad = sum(1 for a, b in zip(stamps, stamps[1:]) if a > b)
    if bad:
        problems.append(f"{bad} adjacent lines with decreasing timestamps")
    return problems
