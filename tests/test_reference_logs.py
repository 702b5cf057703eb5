"""Robustness over the reference's OWN real-world log corpus
(/root/reference/logs/programs — public sample data shipped with s4;
used here strictly as INPUT).  No oracle exists for these files, so
the assertions are calibrated floors: known-clean formats parse at
high rates, the overall corpus rate stays above its measured floor,
and the end-to-end file-mode merge is globally ordered.
"""

import glob
import os

import pytest

from pyspark.sql import functions as F

REF_LOGS = "/root/reference/logs/programs"

pytestmark = pytest.mark.requires_reference


def _files():
    return sorted(
        p
        for p in glob.glob(f"{REF_LOGS}/**/*.log", recursive=True)
        if os.path.getsize(p) < 300_000
    )


def test_real_log_corpus_parse_rates(spark):
    from super_speedy_syslog_searcher_spark.operators.parse import (
        parse_stage,
    )
    from super_speedy_syslog_searcher_spark.sources.logfiles import (
        read_log_files_decoded,
    )

    files = _files()
    assert len(files) >= 15
    src = read_log_files_decoded(spark, files)
    parsed = parse_stage(src, anchor_from_ts=True)
    agg = {
        r["conv_id"].rsplit("/", 1)[-1]: (r["ok"], r["lines"])
        for r in parsed.groupBy("conv_id")
        .agg(
            F.count("*").alias("lines"),
            F.count("ts_parsed").alias("ok"),
        )
        .collect()
    }
    tot_ok = sum(a for a, _ in agg.values())
    tot = sum(b for _, b in agg.values())
    # measured 63.8% at round 4 — the remainder is wrapped-record
    # continuation lines (AWS ALB), tables (cloud-init ci-info), and
    # formats outside the reference's own DTPD table (MSI time-only)
    assert tot_ok / tot >= 0.55, f"corpus parse rate fell: {tot_ok}/{tot}"
    # known-clean single-format files parse fully
    for name in (
        "pacman.log",
        "proftpd.log",
        "server.log",  # flask (also AWS S3 — both ≥80%)
        "rsyslog.1.log",
    ):
        ok, lines = agg[name]
        assert ok / lines >= 0.8, (name, ok, lines)
    # the BOM'd UTF-16 Crowdstrike sensor log decodes AND parses
    cs = "CrowdStrike Windows Sensor_20240321000238.log"
    ok, lines = agg[cs]
    assert lines >= 50 and ok / lines >= 0.9, (cs, ok, lines)


def test_real_log_corpus_merge_is_ordered(spark):
    from super_speedy_syslog_searcher_spark.operators.merge import (
        merge_ordered,
    )
    from super_speedy_syslog_searcher_spark.sources.logfiles import (
        assembled_from_paths,
    )

    files = [
        f"{REF_LOGS}/pacman/pacman.log",
        f"{REF_LOGS}/proftpd/proftpd.log",
        f"{REF_LOGS}/digital-ocean-cloud-init/cloud-init.log",
    ]
    merged = merge_ordered(assembled_from_paths(spark, files))
    rows = merged.select("ts_eff", "conv_id").collect()
    ts = [r["ts_eff"] for r in rows if r["ts_eff"] is not None]
    assert ts == sorted(ts)
    assert len({r["conv_id"] for r in rows}) == 3


REF_ALL = "/root/reference/logs"


def test_real_evtx_file_decodes():
    """Genuine Windows event log from the reference corpus: 168
    records, monotone record ids, sane 2023 timestamps; the
    no-events file yields zero records."""
    from super_speedy_syslog_searcher_spark.operators.evtx import (
        decode_evtx_file,
    )

    df = decode_evtx_file(
        open(
            f"{REF_ALL}/programs/evtx/"
            "Microsoft-Windows-Kernel-PnP__Configuration.evtx",
            "rb",
        ).read()
    )
    assert len(df) == 168
    assert (df["record_id"].diff().dropna() > 0).all()
    assert str(df["ts"].min()).startswith("2023-03-10")
    assert str(df["ts"].max()).startswith("2023-03-16")
    empty = decode_evtx_file(
        open(f"{REF_ALL}/programs/evtx/NoEvents.evtx", "rb").read()
    )
    assert len(empty) == 0


def test_real_journal_file_decodes():
    """Genuine systemd journal (Ubuntu 16): every entry carries a
    MESSAGE, the hostname resolves, timestamps are sane."""
    from super_speedy_syslog_searcher_spark.operators.journal import (
        decode_journal_file,
    )

    df = decode_journal_file(
        open(
            f"{REF_ALL}/Ubuntu16/6c6ab73d82464b9493892c81fc732b3a/"
            "system.journal",
            "rb",
        ).read()
    )
    assert len(df) == 289
    assert (df["message"] != "").all()
    assert set(df["hostname"]) == {"fink"}
    assert str(df["ts"].min()).startswith("2023-12-15")


def test_real_wtmp_fixtures_match_reference_verdicts():
    """The reference's own utmp fixtures: the corrupt/degenerate ones
    yield ZERO valid records (s4's expected stderr says 'no valid
    fixed-structure records' for host-entry1.wtmp), the clean 6-entry
    file decodes fully with correct fields."""
    from super_speedy_syslog_searcher_spark.operators.fixedstruct import (
        decode_records,
    )

    U = f"{REF_ALL}/programs/utmp"
    for name in (
        "host-entry1.wtmp",
        "host-entry1_(all_0x00).wtmp",
        "host-entry1_(all_0xFF).wtmp",
        "1-byte.wtmp",
        "empty (invalid).wtmp",
    ):
        assert len(decode_records(open(f"{U}/{name}", "rb").read())) == 0, name
    df = decode_records(open(f"{U}/host-entry6.wtmp", "rb").read())
    assert len(df) == 6
    assert list(df["ut_user"][:2]) == ["admin", "admin"]
    assert list(df["ut_line"]) == [
        "pts/0", "pts/1", "pts/2", "pts/3", "pts/1", "pts/0",
    ]
    assert str(df["ts"].iloc[0]).startswith("2023-02-24 08:40:27")


def test_real_compressed_journal_routes_and_decodes(spark):
    """'.journal.gz' routes as journal (compression peeled like s4's
    decompress_to_ntf), and the GENUINE RHEL-9.1 journal inside
    decodes: 2081 entries, every one with a MESSAGE."""
    from super_speedy_syslog_searcher_spark.operators.journal import (
        read_journal,
    )
    from super_speedy_syslog_searcher_spark.sources.logfiles import (
        path_to_filetype,
    )

    p = f"{REF_ALL}/programs/journal/RHE_91_system.journal.gz"
    assert path_to_filetype(p) == "journal"
    assert path_to_filetype("x.evtx.xz") == "evtx"
    assert path_to_filetype("wtmp.gz") == "fixedstruct"
    assert path_to_filetype("app.log.gz") == "text"
    df = read_journal(spark, p).toPandas()
    assert len(df) == 2081
    assert (df["message"] != "").all()
    assert set(df["hostname"]) == {"drano"}
    assert str(df["ts"].min()).startswith("2023-04-10")


def test_whole_corpus_end_to_end(spark):
    """The ENTIRE bounded real-world corpus (~1,100 files across ~30
    operating systems and dozens of programs, including compressed
    and archived files) processes end-to-end: per-file fault
    isolation skips undecodable files with a warning instead of
    killing the job, epoch overflows coerce instead of raising, and
    the aggregate parse rate clears its floor."""
    import glob as _glob

    from super_speedy_syslog_searcher_spark.operators.parse import (
        parse_stage,
    )
    from super_speedy_syslog_searcher_spark.sources.logfiles import (
        path_to_filetype,
        read_log_files_decoded,
    )

    cands = []
    for p in _glob.glob(f"{REF_ALL}/*/**", recursive=True):
        if (
            os.path.isfile(p)
            and os.path.getsize(p) < 200_000
            and path_to_filetype(p) == "text"
        ):
            base = p.rsplit("/", 1)[-1].lower()
            if (
                base.endswith((".log", ".gz", ".xz", ".bz2"))
                or "log" in base
                or "messages" in base
                or "syslog" in base
            ):
                cands.append(p)
    assert len(cands) >= 1000
    src = read_log_files_decoded(spark, cands)
    parsed = parse_stage(src, anchor_from_ts=True)
    r = parsed.agg(
        F.count("*").alias("lines"),
        F.count("ts_parsed").alias("ok"),
        F.countDistinct("conv_id").alias("files"),
    ).collect()[0]
    # measured round 4: 1,076 files, 170,329 lines, 86.7% parsed
    assert r["files"] >= 1000
    assert r["lines"] >= 100_000
    assert r["ok"] / r["lines"] >= 0.8


def test_reference_mixed_wtmp_tar_decodes_members(spark):
    """The reference corpus's own multi-member wtmp archives: s4's
    expected output for these files is a processing ERROR ('streamed
    block 0 was previously dropped', tools/compare-current-and-
    expected/logs/programs/utmp/host-entry6_1_(b1).wtmp.tar.stderr) —
    two readers contend for the same archive stream.  The Spark
    member fan-out decodes each member independently: the clean
    host-entry6.wtmp member yields its 6 valid records, the
    intentionally-corrupt host-entry1.wtmp member validates to zero
    records (same verdict as the standalone file)."""
    from super_speedy_syslog_searcher_spark.sources.logfiles import (
        assembled_from_paths,
    )

    p = "/root/reference/logs/programs/utmp/host-entry6_1_(b1).wtmp.tar"
    asm = assembled_from_paths(spark, [p])
    rows = asm.collect()
    members = {}
    for r in rows:
        members.setdefault(r.conv_id.split("!", 1)[1], []).append(r)
    assert set(members) == {"host-entry6.wtmp"}
    assert len(members["host-entry6.wtmp"]) == 6
    assert all(r.sink_eff == "utmpx" for r in rows)


def test_lz4_routed_binaries_decode(spark):
    """.lz4 inputs decode through the pure-Python LZ4 frame decoder
    (functions/lz4frame, public-spec implementation — no lz4 wheel in
    this container): the compressed real wtmp/evtx/odl corpus files
    yield the same records as their uncompressed twins."""
    from super_speedy_syslog_searcher_spark.functions import lz4frame
    from super_speedy_syslog_searcher_spark.operators.evtx import (
        read_evtx,
    )
    from super_speedy_syslog_searcher_spark.operators.odl import (
        read_odl,
    )
    from super_speedy_syslog_searcher_spark.sources.logfiles import (
        assembled_from_paths,
    )

    L = "/root/reference/logs"
    # byte-exact vs the uncompressed twin
    got = lz4frame.decompress(
        open(f"{L}/programs/utmp/host-entry6.wtmp.lz4", "rb").read()
    )
    want = open(f"{L}/programs/utmp/host-entry6.wtmp", "rb").read()
    assert got == want
    # end-to-end through routing: wtmp.lz4 -> 6 utmp records
    asm = assembled_from_paths(
        spark, [f"{L}/programs/utmp/host-entry6.wtmp.lz4"]
    )
    rows = asm.collect()
    assert len(rows) == 6
    assert all(r.sink_eff == "utmpx" for r in rows)
    # evtx.lz4 decodes the same records as the genuine evtx
    plain = read_evtx(
        spark,
        [f"{L}/programs/evtx/Microsoft-Windows-Kernel-PnP__Configuration.evtx"],
    ).count()
    lz = read_evtx(
        spark,
        [f"{L}/programs/evtx/Microsoft-Windows-Kernel-PnP__Configuration.evtx.lz4"],
    ).count()
    assert plain == lz > 0
    # odl.lz4 = the 11-record expected file, compressed
    odl = read_odl(
        spark,
        [
            f"{L}/programs/OneDrive/Local/Microsoft/OneDrive/logs/"
            "Common/FileCoAuth-2025-12-21.1214.4056.1.odl.lz4"
        ],
    ).collect()
    assert len(odl) == 11
    assert odl[0].code_file == "TelemetryProxyConfigurationFile.cpp"
