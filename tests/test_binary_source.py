"""Whole-file binary source (sources/binary.py): per-file fault
isolation across every binary format."""

from __future__ import annotations

import tarfile

import pytest

from super_speedy_syslog_searcher_spark.operators import (
    asl,
    etl,
    evtx,
    fixedstruct,
    journal,
    odl,
)
from super_speedy_syslog_searcher_spark.sources.logfiles import (
    assembled_from_paths,
)

TS_US = 1_704_423_610_000_000  # 2024-01-05T03:00:10Z

# format → (reader, good file name, good file bytes, records in it)
FORMATS = {
    "asl": (
        asl.read_asl, "good.asl",
        asl.encode_asl(
            [{"rid": 1, "ts_us": TS_US, "level": 5, "sender": "d1",
              "message": "ok"}]
        ),
        1,
    ),
    "etl": (
        etl.read_etl, "good.etl",
        etl.encode_etl(
            [{"ts_us": TS_US,
              "provider": "2451d230-68a4-5c50-de82-8411646eb8b5"}],
            start_us=TS_US,
        ),
        2,  # logfile header event + 1
    ),
    "odl": (
        odl.read_odl, "good.odl",
        odl.encode_odl(
            [{"ts_ms": TS_US // 1000, "code_file": "A.cpp", "line": 1,
              "function": "F::One", "params": ["hello world"]}]
        ),
        1,
    ),
    "evtx": (
        evtx.read_evtx, "good.evtx",
        evtx.encode_evtx(
            [{"record_id": 1, "ts_us": TS_US, "payload": "<E>ok</E>"}]
        ),
        1,
    ),
    "journal": (
        journal.read_journal, "good.journal",
        journal.encode_journal(
            [{"seqnum": 1, "ts_us": TS_US,
              "fields": {"MESSAGE": "ok", "SYSLOG_IDENTIFIER": "jd"}}]
        ),
        1,
    ),
    "fixedstruct": (
        fixedstruct.read_fixedstruct, "good.wtmp",
        fixedstruct.encode_records(
            [{"ut_user": "root", "ut_line": "pts/1", "ut_host": "box",
              "tv_sec": TS_US // 1_000_000, "tv_usec": 0}]
        ),
        1,
    ),
}

JUNK = b"\x00\x05\x16\x07 appledouble junk"


@pytest.mark.parametrize(
    "fmt, in_tar",
    [(f, False) for f in FORMATS] + [("asl", True)],
    ids=list(FORMATS) + ["asl-in-tar"],
)
def test_undecodable_binary_file_is_fault_isolated(
    spark, tmp_path, fmt, in_tar
):
    """A wrong-magic file routed to a binary reader warns and skips —
    never kills the job, and never costs the good file next to it its
    rows.  Holds for the format's own reader, for directory routing,
    and for bad members inside a .tar.  The bad files: an AppleDouble
    '._' sidecar (Spark's file listing drops '.'/'_'-prefixed names,
    so it reaches the decoder only as a tar member), a wrong-magic
    file, and a torn stream (not gzip behind '.gz') — the one failure
    every format's decode raises on, where a lenient decoder (evtx,
    journal, fixedstruct) reads wrong magic as zero records."""
    reader, good_name, good_bytes, n_good = FORMATS[fmt]
    ext = good_name.rsplit(".", 1)[1]
    files = {good_name: good_bytes}
    for bad in (f"._junk.{ext}", f"junk.{ext}", f"torn.{ext}.gz"):
        files[bad] = JUNK
    src = tmp_path / "in"
    src.mkdir()
    if in_tar:
        staged = tmp_path / "staged"
        staged.mkdir()
        with tarfile.open(src / "bundle.tar", "w") as tf:
            for name, data in files.items():
                (staged / name).write_bytes(data)
                tf.add(staged / name, arcname=name)
    else:
        for name, data in files.items():
            (src / name).write_bytes(data)
        rows = reader(
            spark, [str(src / name) for name in files]
        ).collect()
        assert len(rows) == n_good
        assert {r.source.rsplit("/", 1)[-1] for r in rows} == {good_name}
    rows = assembled_from_paths(spark, [str(src)]).collect()
    assert len(rows) == n_good
    assert {r.conv_id.rsplit("/", 1)[-1] for r in rows} == {
        f"bundle.tar!{good_name}" if in_tar else good_name
    }
