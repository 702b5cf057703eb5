"""Self-tests of the benchmark's own parts (no Spark session needed).

    python3 perfbench/selftest.py

1. The generator: the same seed gives byte-identical transcripts rows,
   log files and dt windows; another seed gives different ones.
2. The oracle checks: a correct result passes, and each corrupted
   result fails and lands in the error rate.
3. The event-log parser on a small recorded log
   (fixtures/eventlog_small.jsonl.gz: one merge op and one summary op
   over 2,000 turns, recorded as in a ``--trace 1`` run and stripped to
   the events the parser reads; the op spans are in
   fixtures/eventlog_small_ops.json).
"""

from __future__ import annotations

import gzip
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import duckdb  # noqa: E402

import check  # noqa: E402
import eventlog  # noqa: E402
import gen  # noqa: E402
from run import Tally  # noqa: E402

N_EVENTS = 2000


def _table_rows(con, seed: int, d: str):
    ti = gen.table_input(con, seed, d, N_EVENTS, 2, 5.0)
    rows = con.execute(
        f"SELECT * FROM read_parquet('{ti.transcripts_path}')"
    ).fetchall()
    return ti, rows


def _files(con, seed: int, d: str):
    fi = gen.file_input(con, seed, d, N_EVENTS, 4, 5.0)
    blobs = []
    for p in fi.paths:
        with open(p, "rb") as f:
            blobs.append((os.path.basename(p), f.read(), os.path.getmtime(p)))
    return fi, blobs


def test_generator(con, tmp: str) -> None:
    a, rows_a = _table_rows(con, 11, os.path.join(tmp, "a"))
    b, rows_b = _table_rows(con, 11, os.path.join(tmp, "b"))
    c, rows_c = _table_rows(con, 12, os.path.join(tmp, "c"))
    assert rows_a == rows_b and len(rows_a) == 2 * N_EVENTS
    assert (a.salt, a.after, a.before) == (b.salt, b.after, b.before)
    assert rows_a != rows_c
    assert (a.salt, a.after) != (c.salt, c.after)
    fa, files_a = _files(con, 11, os.path.join(tmp, "fa"))
    fb, files_b = _files(con, 11, os.path.join(tmp, "fb"))
    fc, files_c = _files(con, 12, os.path.join(tmp, "fc"))
    assert files_a == files_b and (fa.after, fa.before) == (fb.after, fb.before)
    assert [x[1] for x in files_a] != [x[1] for x in files_c]
    assert fa.after != fc.after
    assert any(name.endswith(".gz") for name, _, _ in files_a)


def test_oracle_checks(con, tmp: str) -> None:
    ti = gen.table_input(con, 21, os.path.join(tmp, "t"), N_EVENTS, 2, 5.0)
    tally = Tally()

    # merge op: ordered rows built from the oracle side itself
    want = check.merge_expected(con, ti)
    rows = [
        tuple(r)
        for r in con.execute(
            f"""SELECT epoch_us(ts_eff), conv_id, turn_idx,
                  CAST('0x' || substr(h, 1, 8) AS BIGINT),
                  CAST('0x' || substr(h, 9, 8) AS BIGINT)
                FROM (SELECT *, md5(conv_id || '|' || CAST(turn_idx AS VARCHAR)
                   || '|' || CAST(epoch_us(ts_eff) AS VARCHAR) || '|' || text) AS h
                  FROM ({check._asm_replicated(ti)})
                  WHERE {check._in_window(ti.after, ti.before)})
                ORDER BY 1, 2, 3"""
        ).fetchall()
    ]
    assert want[0] == len(rows) > 0
    assert tally.record(check.check_ordered(rows, want))
    swapped = rows[:]
    swapped[0], swapped[-1] = swapped[-1], swapped[0]
    dropped = rows[1:]
    altered = [rows[0][:3] + (rows[0][3] + 1, rows[0][4])] + rows[1:]
    for bad in (swapped, dropped, altered):
        assert not tally.record(check.check_ordered(bad, want))
    assert not tally.record(check.check_digest((want[0], want[1], want[2] + 1), want))

    # summary op
    counts = check.summary_expected(con, ti)
    good = [(s, r, n) for (s, r), n in counts.items()]
    assert tally.record(check.check_summary(good, counts))
    off = [(good[0][0], good[0][1], good[0][2] + 1)] + good[1:]
    assert not tally.record(check.check_summary(off, counts))

    # cli_files
    fi = gen.file_input(con, 21, os.path.join(tmp, "f"), N_EVENTS, 4, 5.0)
    lines_want = check.cli_expected(con, fi, 4)
    lines = sorted(lines_want.elements())
    assert lines and tally.record(check.check_cli(lines, lines_want))
    assert not tally.record(check.check_cli(lines[1:], lines_want))
    assert not tally.record(check.check_cli(lines[::-1], lines_want))

    assert (tally.attempted, tally.failed) == (10, 7)
    assert abs(tally.error_rate - 0.7) < 1e-12


def test_eventlog() -> None:
    fx = os.path.join(HERE, "fixtures")
    with gzip.open(os.path.join(fx, "eventlog_small.jsonl.gz"), "rt") as f:
        events = [json.loads(line) for line in f]
    with open(os.path.join(fx, "eventlog_small_ops.json")) as f:
        ops = json.load(f)
    for key, present, absent in (
        ("merge_ops_ms", ("parse", "repair_assemble", "merge"), ("route", "enrich")),
        ("summary_ops_ms", ("parse", "repair_assemble", "enrich", "route"), ("merge",)),
    ):
        m = eventlog.attribute(events, [tuple(w) for w in ops[key]])
        for layer in present:
            assert m.get(f"{layer}.busy_s", 0) > 0, (key, layer)
        for layer in absent:
            assert m.get(f"{layer}.busy_s", 0) == 0, (key, layer)
        layers = sum(m.get(f"{x}.busy_s", 0) for x in eventlog.LAYERS)
        total = layers + m["driver.plan_s"] + m["driver.sched_s"]
        assert abs(total - m["wall_s"]) < 1e-6, (key, total, m["wall_s"])
        assert 0 < m["stage_coverage"] <= 1
        assert m["parse.rows_in"] == ops["n_turns"]
        assert m["spark.tasks"] > 0 and m["spark.task_failures"] == 0
    merge = eventlog.attribute(events, [tuple(w) for w in ops["merge_ops_ms"]])
    assert 0 < merge["merge.filter_keep_ratio"] < 1
    assert merge["merge.sort_busy_s"] > 0 and merge["merge.shuffle_bytes"] > 0


def main() -> int:
    con = duckdb.connect()
    work = os.path.join(os.path.dirname(HERE), ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=work) as tmp:
        for name, fn in (
            ("generator", lambda: test_generator(con, tmp)),
            ("oracle checks", lambda: test_oracle_checks(con, tmp)),
            ("event log", test_eventlog),
        ):
            fn()
            print(f"ok  {name}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
