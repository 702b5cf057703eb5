"""Seeded end-to-end benchmark for the s4-style Spark log pipeline.

    python3 perfbench/run.py --workload table_merge --seed 1 --seconds 10 --trace 0

Run from the repository root.  Workloads (closed loop: one client, one
operation at a time, Spark at ``local[<cores>]``):

  table_merge    one op = pipeline.full_merge(t, after, before) into a
                 noop sink, over the seeded transcripts table
  cli_files      one op = a fresh ``python -m ...cli`` process over 10
                 seeded log files (half gzip) with an -a/-b window

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` repeats the
run with Spark's event log on and prints the per-layer table instead
(perfbench/eventlog.py), plus the single-core parse-kernel µs/row; on
table_merge it also times summary ops (enrich, route) for their layers.
Every op's output is checked against the DuckDB oracle; the last line
of stdout is one JSON object, and the exit code is non-zero when any
op failed or the oracle disagreed.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

T_PROC = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "super_speedy_syslog_searcher_spark"

# sizes (see perfbench/README.md for why)
TABLE_EVENTS = 75_000
TABLE_REPL = 2
TABLE_WINDOW_DAYS = 12.0
CLI_EVENTS = 50_000
CLI_FILES = 10
CLI_WINDOW_DAYS = 2.0
KERNEL_ROWS = 100_000
SETUP_REPS = 3
WARM_OPS = 3
SUMMARY_OPS = 2
CLI_TIMEOUT_S = 150

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "turns_per_s": "1/s",
    "first_line_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.worker_start_s": "s",
    "sources.logfiles.rows_out": "count",
    "sources.logfiles.busy_s": "s",
    "parse.rows_in": "count",
    "parse.busy_s": "s",
    "parse.udf_exec_s": "s",
    "parse.arrow_io_s": "s",
    "parse.arrow_bytes": "B",
    "parse.scatter_bytes": "B",
    "parse.kernel_us_per_row": "us",
    "repair_assemble.busy_s": "s",
    "repair_assemble.shuffle_bytes": "B",
    "repair_assemble.spill_bytes": "B",
    "repair_assemble.fetch_wait_s": "s",
    "merge.busy_s": "s",
    "merge.filter_keep_ratio": "ratio",
    "merge.persist_bytes": "B",
    "merge.sample_s": "s",
    "merge.sort_busy_s": "s",
    "merge.shuffle_bytes": "B",
    "merge.spill_bytes": "B",
    "enrich.busy_s": "s",
    "route.busy_s": "s",
    "route.shuffle_bytes": "B",
    "other.busy_s": "s",
    "driver.plan_s": "s",
    "driver.sched_s": "s",
    "cli.jobs": "count",
    "cli.stages": "count",
    "cli.drain_s": "s",
    "spark.tasks": "count",
    "spark.task_failures": "count",
    "spark.gc_s": "s",
    "spark.executor_cpu_s": "s",
    "mem.jvm_peak_mb": "MB",
    "mem.worker_peak_mb": "MB",
    "mem.workers": "count",
    "trace.stage_coverage": "ratio",
    "trace.overhead_ratio": "ratio",
}


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T_PROC:7.1f}s] {msg}", file=sys.stderr, flush=True)


class Tally:
    """Ops attempted and failed; an op fails when it raises or when its
    output disagrees with the oracle."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def record(self, problems: list[str]) -> bool:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems)
        return not problems

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def timed_loop(seconds: float, op, tally: Tally) -> list[float]:
    """Closed loop: run ``op`` until ``seconds`` have passed (at least
    once).  ``op`` returns (wall_s, problems); walls of passing ops."""
    walls = []
    t_end = time.perf_counter() + seconds
    while True:
        try:
            wall, problems = op()
        except Exception:  # an op that raises is a failed op, not a crash
            wall, problems = None, [traceback.format_exc(limit=3)]
        if tally.record(problems) and wall is not None:
            walls.append(wall)
        if time.perf_counter() >= t_end:
            return walls


def percentile_note(walls: list[float]) -> str:
    """Reported beside the median: the highest percentile that has at
    least ten samples beyond it; with fewer than 11 samples, the max."""
    n = len(walls)
    if n == 0:
        return "n=0"
    if n < 11:
        return f"max {max(walls):.3f} s of n={n}"
    k = n - 11  # ten samples lie above this one
    return f"p{100 * (k + 1) / n:.0f} {sorted(walls)[k]:.3f} s of n={n}"


# --------------------------------------------------------------- tables


class TableRun:
    """One Spark session over the seeded transcripts table.

    The timed op is ``full_merge``; the traced run also times a few
    summary ops (s4's ``--summary``: enrich, route, count) on the same
    session, the only place the enrich and route layers run."""

    def __init__(self, args, size: dict, env: dict, con) -> None:
        self.args = args
        self.size = size
        self.con = con
        os.environ.update(env)  # read by get_spark and inherited by the JVM
        self.ti = None
        self.want = None  # oracle answer for the merge op
        self.want_summary = None
        self.spark = None
        self.t = None
        self.windows: list = []  # epoch-ms span of each timed action
        self.persist_bytes: list = []

    def _timed(self, action):
        """Run the op's action; record its wall time and epoch span."""
        e0 = time.time()
        t0 = time.perf_counter()
        out = action()
        wall = time.perf_counter() - t0
        self.windows.append((e0 * 1e3, (e0 + wall) * 1e3))
        return wall, out

    def _cached_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)

    def start(
        self,
        event_dir: str | None = None,
        reps: int = SETUP_REPS,
        warm_ops: int = WARM_OPS,
    ) -> dict:
        """Session, input cache (loaded ``reps`` times) and ``warm_ops``
        warm-up ops; returns their timings."""
        from super_speedy_syslog_searcher_spark.session import get_spark

        # explicit "false": a conf given at JVM launch becomes a JVM
        # system property that every later session would inherit
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        }
        if event_dir:
            os.makedirs(event_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + event_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        # the seeded input and the oracle's answer are computed while
        # the JVM starts
        with ThreadPoolExecutor(1) as pool:
            prepared = None if self.ti else pool.submit(self._prepare)
            t0 = time.perf_counter()
            self.spark = get_spark(app_name="perfbench", extra_conf=conf)
            session_s = time.perf_counter() - t0
            if prepared is not None:
                prepared.result()
        log(f"session up in {session_s:.1f}s")
        loads = []
        for _ in range(reps):
            if self.t is not None:
                self.t.unpersist(blocking=True)
            t0 = time.perf_counter()
            self.t = self._load()
            loads.append(time.perf_counter() - t0)
        self.input_bytes = self._cached_bytes()
        worker_s = 0.0
        if event_dir:  # a span for session.worker_start_s
            t0 = time.perf_counter()
            self._warm_workers()
            worker_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        self._ordered = self._collect_ordered()
        # op times still fall ~20% over the next few ops (JIT)
        for _ in range(warm_ops - 1):
            self.merge_op(verify=False)
        warm_op_s = time.perf_counter() - t0
        self.windows.clear()
        self.persist_bytes.clear()
        log(f"input loads {[round(x, 1) for x in loads]}, workers {worker_s:.1f}s,"
            f" warm-up ops {warm_op_s:.1f}s")
        return {
            "session_s": session_s,
            "loads": loads,
            "worker_start_s": worker_s,
        }

    def _prepare(self) -> None:
        import check
        import gen

        self.ti = gen.table_input(
            self.con, self.args.seed, os.path.join(WORK, "input"),
            TABLE_EVENTS, TABLE_REPL, TABLE_WINDOW_DAYS,
        )
        self.want = check.merge_expected(self.con, self.ti)

    def _load(self):
        from pyspark.sql import functions as F

        t = (
            self.spark.read.parquet(self.ti.transcripts_path)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .cache()
        )
        n = t.count()
        if n != self.ti.n_turns:
            raise RuntimeError(f"input has {n} rows, expected {self.ti.n_turns}")
        return t

    def _warm_workers(self) -> None:
        """Fork one Python worker per core: a pandas UDF over one
        partition per core (hyperfine-style warm-up)."""
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("long")
        def _ident(s):
            return s

        cpus = self.size["cpus"]
        self.spark.range(0, cpus * 10, 1, cpus).select(_ident("id")).write.format(
            "noop"
        ).mode("overwrite").save()

    def merge_op(self, verify: bool = True):
        """full_merge into a noop sink (timed), then the staged
        (dt-filtered, pre-sort) rows' digest against the oracle."""
        import check
        from super_speedy_syslog_searcher_spark import pipeline as P

        staged: list = []
        wall, _ = self._timed(
            lambda: P.full_merge(
                self.t, self.ti.after, self.ti.before, staging=staged
            ).write.format("noop").mode("overwrite").save()
        )
        try:
            if not verify:
                return wall, []
            self.persist_bytes.append(self._cached_bytes() - self.input_bytes)
            problems = check.check_digest(check.spark_digest(staged[0]), self.want)
        finally:
            for s in staged:
                s.unpersist(blocking=True)
        return wall, problems

    def _collect_ordered(self) -> list:
        """An untimed full_merge whose sorted output's keys and digests
        are collected, for the global-order check in final_check."""
        import check
        from super_speedy_syslog_searcher_spark import pipeline as P

        staged: list = []
        out = P.full_merge(self.t, self.ti.after, self.ti.before, staging=staged)
        try:
            return out.select(*check.spark_digest_cols()).collect()
        finally:
            for s in staged:
                s.unpersist(blocking=True)

    def final_check(self) -> list[str]:
        import check

        return check.check_ordered(self._ordered, self.want)

    def summary_op(self, verify: bool = True):
        """routed_counts(enrich_stage(assembled(narrow))) collected, then
        the per-(sink, role) counts against the oracle."""
        import check
        from super_speedy_syslog_searcher_spark import pipeline as P
        from super_speedy_syslog_searcher_spark.operators.enrich import (
            enrich_stage,
        )
        from super_speedy_syslog_searcher_spark.operators.route import (
            routed_counts,
        )

        wall, rows = self._timed(
            lambda: routed_counts(
                enrich_stage(P.assembled(self.t, narrow=True))
            ).collect()
        )
        if not verify:
            return wall, []
        if self.want_summary is None:
            self.want_summary = check.summary_expected(self.con, self.ti)
        return wall, check.check_summary(
            [(r["sink"], r["role"], r["rows"]) for r in rows], self.want_summary
        )

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
            self.t = None

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.stop()
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def run_table(args, size, env, con) -> tuple[dict, Tally, list]:
    import host

    tally = Tally()
    run = TableRun(args, size, env, con)
    try:
        if not args.trace:
            setup = run.start()
            # process start to ready, counting the repeated input load
            # once, at its median
            loads = setup["loads"]
            setup_s = (
                time.perf_counter() - T_PROC - sum(loads)
                + statistics.median(loads)
            )
            walls = timed_loop(args.seconds, run.merge_op, tally)
            log(f"timed ops {[round(w, 2) for w in walls]}")
            tally.record(run.final_check())
            wall = statistics.median(walls) if walls else float("nan")
            metrics = {
                "setup_s": setup_s,
                "wall_s": wall,
                "turns_per_s": run.ti.n_turns / wall,
                "first_line_s": wall,  # the op returns its output in one piece
            }
        else:
            # traced phase first, in the same state as an untraced run
            # (fresh JVM, same warm-up); then SUMMARY_OPS summary ops
            # after one warm-up; then the merge ops again with the event
            # log off, in a new session on the warm JVM
            event_dir = os.path.join(WORK, "eventlog")
            with host.TreeMemory(os.getpid()) as mem:
                setup = run.start(event_dir, reps=1)
                traced = timed_loop(args.seconds, run.merge_op, tally)
            merge_windows = list(run.windows)
            persist = list(run.persist_bytes)
            run.summary_op(verify=False)
            run.windows.clear()
            for _ in range(SUMMARY_OPS):
                tally.record(run.summary_op()[1])
            summary_windows = list(run.windows)
            run.stop()
            run.start(reps=1, warm_ops=1)  # the JVM is warm already
            walls = timed_loop(args.seconds, run.merge_op, tally)
            run.stop()
            log(f"traced ops {[round(w, 2) for w in traced]},"
                f" untraced ops {[round(w, 2) for w in walls]}")
            events = event_log(event_dir)
            metrics = layer_metrics(events, merge_windows)
            summary = layer_metrics(events, summary_windows)
            for k in ("enrich.busy_s", "route.busy_s", "route.shuffle_bytes"):
                metrics[k] = summary.get(k, 0.0)
            metrics.update(mem.metrics())
            metrics["session.start_s"] = setup["session_s"]
            metrics["session.worker_start_s"] = setup["worker_start_s"]
            if persist:
                metrics["merge.persist_bytes"] = statistics.median(persist)
            metrics["trace.overhead_ratio"] = statistics.median(
                traced
            ) / statistics.median(walls)
    finally:
        run.shutdown()
    return metrics, tally, walls


# ------------------------------------------------------------------ cli


def cli_op(env: dict, fi, event_dir: str | None = None) -> dict:
    """One fresh CLI process; stdout lines with first/last-line times."""
    import host

    argv = [
        sys.executable, "-m", f"{PACKAGE}.cli", *fi.paths,
        "-a", fi.after, "-b", fi.before, "-u", "-t", "+00:00",
    ]
    env = dict(env)
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        env["PYSPARK_SUBMIT_ARGS"] = " ".join(
            [
                "--conf spark.eventLog.enabled=true",
                "--conf " + shlex.quote("spark.eventLog.dir=file://" + event_dir),
                "--conf spark.eventLog.compress=false",
                "--conf spark.eventLog.rolling.enabled=false",
                "pyspark-shell",
            ]
        )
    with open(os.path.join(WORK, "cli-stderr.log"), "ab") as err:
        e0 = time.time()
        t0 = time.perf_counter()
        p = subprocess.Popen(
            argv, stdout=subprocess.PIPE, stderr=err, env=env, cwd=WORK,
            start_new_session=True,
        )
        killer = threading.Timer(CLI_TIMEOUT_S, _kill_group, args=(p,))
        killer.daemon = True
        killer.start()
        first = last = None
        lines = []
        try:
            with host.TreeMemory(p.pid) as mem:
                for raw in p.stdout:
                    last = time.perf_counter() - t0
                    if first is None:
                        first = last
                    lines.append(raw.decode("utf-8").rstrip("\n"))
                rc = p.wait()
        finally:
            killer.cancel()
            if p.poll() is None:
                _kill_group(p)
                p.wait()
        wall = time.perf_counter() - t0
    return {
        "rc": rc, "lines": lines, "wall": wall, "first": first, "last": last,
        "mem": mem.metrics(), "epoch": (e0 * 1e3, e0 * 1e3 + wall * 1e3),
    }


def _kill_group(p) -> None:
    """Kill the CLI's process group (its JVM and Python workers too)."""
    if p.poll() is None:
        os.killpg(p.pid, signal.SIGKILL)


def cli_inputs(args, con):
    """Write the seeded files SETUP_REPS times; median write time."""
    import gen

    times, fi = [], None
    for _ in range(SETUP_REPS):
        shutil.rmtree(os.path.join(WORK, "logs"), ignore_errors=True)
        t0 = time.perf_counter()
        fi = gen.file_input(
            con, args.seed, os.path.join(WORK, "logs"), CLI_EVENTS, CLI_FILES,
            CLI_WINDOW_DAYS,
        )
        times.append(time.perf_counter() - t0)
    return fi, statistics.median(times)


def run_cli(args, size, env, con) -> tuple[dict, Tally, list]:
    import check

    fi, setup_s = cli_inputs(args, con)
    want = check.cli_expected(con, fi, CLI_FILES)
    tally = Tally()
    results: list[dict] = []

    def one(event_dir=None):
        r = cli_op(env, fi, event_dir)
        problems = [] if r["rc"] == 0 else [f"cli exited {r['rc']}"]
        problems += check.check_cli(r["lines"], want)
        if r["first"] is None:
            problems.append("cli printed nothing")
        r["ok"] = not problems
        results.append(r)
        return r["wall"], problems

    if not args.trace:
        walls = timed_loop(args.seconds, one, tally)
        ok = [r for r in results if r["ok"]]
        wall = statistics.median(walls) if walls else float("nan")
        metrics = {
            "setup_s": setup_s,
            "wall_s": wall,
            "turns_per_s": fi.n_lines / wall,
            "first_line_s": statistics.median(r["first"] for r in ok) if ok else float("nan"),
        }
        return metrics, tally, walls
    # traced: alternate plain and traced processes, each its own event log
    plain, traced, logs = [], [], []
    t_end = time.perf_counter() + args.seconds
    i = 0
    while True:
        ev = os.path.join(WORK, "eventlog", f"cli{i}")
        shutil.rmtree(ev, ignore_errors=True)
        for event_dir, walls in ((None, plain), (ev, traced)):
            wall, problems = one(event_dir)
            if tally.record(problems):
                walls.append(wall)
                if event_dir:
                    logs.append((event_log(ev), results[-1]))
        i += 1
        if time.perf_counter() >= t_end:
            break
    tables = []
    for events, r in logs:
        m = layer_metrics(events, [r["epoch"]])
        app = [e["Timestamp"] for e in events if e["Event"] == "SparkListenerApplicationStart"]
        m["session.start_s"] = (app[0] - r["epoch"][0]) / 1e3 if app else 0.0
        m["cli.jobs"] = m.pop("jobs", 0.0)
        m["cli.stages"] = m.pop("stages", 0.0)
        m["cli.drain_s"] = r["last"] - r["first"]
        m.update(r["mem"])
        tables.append(m)
    metrics = {k: statistics.median(t.get(k, 0.0) for t in tables) for k in PER_LAYER}
    if plain and traced:
        metrics["trace.overhead_ratio"] = statistics.median(traced) / statistics.median(plain)
    return metrics, tally, plain


# --------------------------------------------------------------- layers


def event_log(event_dir: str) -> list[dict]:
    """The events of the one application logged under ``event_dir``."""
    from eventlog import read_events

    files = glob.glob(os.path.join(event_dir, "*"))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log, found {files}")
    return read_events(files[0])


def layer_metrics(events: list[dict], windows: list) -> dict:
    from eventlog import attribute

    m = attribute(events, windows)
    m["trace.stage_coverage"] = m.pop("stage_coverage")
    m.pop("wall_s")
    return m


def kernel_us_per_row(seed: int, con) -> float:
    """Single-core parse_series on a seeded batch of derived texts, no
    Spark: median of three passes, in µs per row."""
    import gen
    import pandas as pd

    from super_speedy_syslog_searcher_spark.functions.datetime_parse import (
        parse_series,
    )

    gen.table_input(
        con, seed, os.path.join(WORK, "kernel"), KERNEL_ROWS, 1, 1.0
    )
    texts = pd.Series(
        [r[0] for r in con.execute(
            f"SELECT text FROM read_parquet('{WORK}/kernel/transcripts.parquet')"
        ).fetchall()]
    )
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        parse_series(texts)
        times.append(time.perf_counter() - t0)
    return statistics.median(times) / len(texts) * 1e6


# ----------------------------------------------------------------- main


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["table_merge", "cli_files"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"error: package {PACKAGE}/ not found under {ROOT}")
        return 2
    sys.path.insert(0, ROOT)
    import duckdb

    import host

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    size = host.sizing()
    env = host.launch_env(ROOT, WORK, size)
    load_start = os.getloadavg()
    cpu_start = host.cpu_times()
    con = duckdb.connect()
    con.execute(f"SET threads = 2; SET memory_limit = '1GB'; SET temp_directory = '{WORK}/duckdb'")
    # the JVM inherits fd 2: keep its log in the work dir, ours on stderr
    real_err = os.dup(2)
    spark_log = os.open(os.path.join(WORK, "spark.log"), os.O_WRONLY | os.O_CREAT | os.O_APPEND)
    os.dup2(spark_log, 2)
    sys.stderr = os.fdopen(real_err, "w", buffering=1)
    try:
        if args.workload == "cli_files":
            metrics, tally, walls = run_cli(args, size, env, con)
        else:
            metrics, tally, walls = run_table(args, size, env, con)
        if args.trace:
            metrics["parse.kernel_us_per_row"] = kernel_us_per_row(args.seed, con)
            metrics["parse.arrow_io_s"] = max(
                0.0,
                metrics.get("parse.udf_exec_s", 0.0)
                - metrics.get("parse.rows_in", 0.0)
                * metrics["parse.kernel_us_per_row"] / 1e6,
            )
    except Exception:
        log(traceback.format_exc())
        return 1
    finally:
        con.close()

    names = PER_LAYER if args.trace else END_TO_END
    out_metrics = {
        k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in names.items()
    }
    correct = tally.failed == 0 and all(
        v["value"] == v["value"] for v in out_metrics.values()  # no NaN
    )
    print(f"# workload={args.workload} seed={args.seed} trace={args.trace}"
          f" cores={size['cpus']} driver_mem={size['driver_mem']}"
          f" mem_total_mb={size['mem_total_mb']} cgroup_limit_mb={size['cgroup_limit_mb']}"
          f" loadavg_start={load_start[0]:.2f} loadavg_end={os.getloadavg()[0]:.2f}"
          f" steal_pct={host.steal_pct(cpu_start, host.cpu_times()):.1f}")
    for k, v in out_metrics.items():
        note = ""
        if k == "wall_s":
            note = percentile_note(walls)
        print(f"# {k:32s} {v['value']:14.6g} {v['unit']:6s} {note}")
    print(f"# error_rate {tally.error_rate:.4f} ({tally.failed}/{tally.attempted})")
    for p in tally.problems[:5]:
        print(f"# FAIL {p.strip().splitlines()[-1]}")
    print(json.dumps({
        "correct": correct,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": out_metrics,
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
