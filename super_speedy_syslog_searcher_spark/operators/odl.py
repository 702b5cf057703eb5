"""OneDrive ODL log decode (.odl / .odlgz / .aodl / .odlsent).

The reference processes ODL files through a vendored Python reader
(src/readers — behavior surfaced in the CLI as
``<epoch_ms> <code_file>:<function>; <string params>`` lines; see
tools/compare-current-and-expected/logs/programs/OneDrive/**.stdout).
This module is written from the PUBLICLY documented layout (Yogesh
Khatri's OneDrive ODL format research, plus direct inspection of the
genuine files in the reference corpus) — the reference's vendored
parser code was deliberately not read or ported.

File layout (version 3, all observed corpus files):

- 0x100-byte file header: magic ``EBFGONED``, u32 version, u32
  unknown, u64 zero, u32 one, 0x40-byte app version string, 0x40-byte
  OS version string, zero padding.
- Body: raw data blocks, or gzip member(s) of data blocks (.odlgz —
  and note multi-member gzip streams occur, so decompression loops
  over members).
- Data block: u32 signature 0xFFEEDDCC, u32 flags, u64 timestamp
  (unix epoch MILLISECONDS), u32 pid, u32 tid, u32 data_size, u32
  zero — then data_size bytes:
  - flags == 0: 16-byte GUID, u32 id, u32 param-count, then
    (u32 len + bytes) code_file, u32 line, (u32 len + bytes)
    function, then the params blob.
  - flags != 0 (high byte a tag, low 24 bits a prefix length): the
    prefix replaces the GUID/id/count header; code_file onward is
    identical.

Param rendering (validated BYTE-IDENTICAL against all 1,455 records
of the reference's three expected-output ODL files — see
tests/test_odl.py::test_real_odl_files_match_reference_stdout):
scan the params blob; at each position try u32 length n — if
4 <= n <= remaining and the n bytes are printable ASCII (tab
allowed), emit the string and jump past it, else slide one byte.
Join emitted strings with single spaces.  This renders exactly the
string params (numeric/bool/pointer params are skipped), matching
the reference's output.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from ..sources.binary import read_binary

MAGIC = b"EBFGONED"
BLOCK_SIG = 0xFFEEDDCC
HEADER_SIZE = 0x100

RECORDS_SCHEMA = (
    "source string, rec_idx long, ts timestamp, pid int, tid int, "
    "code_file string, line int, function string, params string"
)


def _decompress_members(body: bytes) -> bytes:
    """gzip body of .odlgz — observed files carry one or more gzip
    MEMBERS back to back; gzip.decompress stops after the first, so
    loop with zlib and chase unused_data."""
    if body[:2] != b"\x1f\x8b":
        return body
    out = []
    buf = body
    while buf[:2] == b"\x1f\x8b":
        d = zlib.decompressobj(31)
        out.append(d.decompress(buf))
        buf = d.unused_data
    return b"".join(out)


def render_params(params: bytes) -> str:
    """Length-prefixed-string extraction with one-byte resync (see
    module docstring; byte-identical to the reference's rendering on
    its own expected outputs)."""
    out: list[str] = []
    pos = 0
    n_total = len(params)
    while pos + 4 <= n_total:
        n = struct.unpack_from("<I", params, pos)[0]
        if 4 <= n <= n_total - pos - 4:
            s = params[pos + 4 : pos + 4 + n]
            if all(c == 9 or 0x20 <= c <= 0x7E for c in s):
                out.append(s.decode("ascii"))
                pos += 4 + n
                continue
        pos += 1
    return " ".join(out)


def decode_odl_file(data: bytes) -> pd.DataFrame:
    """One ODL container → records frame (enumeration order).

    Torn-tail tolerant: a truncated final block (or trailing
    garbage) ends the walk cleanly, mirroring the torn-chunk
    recovery of the evtx/journal decoders."""
    if data[:8] != MAGIC:
        raise ValueError("not an ODL file (missing EBFGONED magic)")
    body = _decompress_members(data[HEADER_SIZE:])
    rows: list[tuple] = []
    off = 0
    n = len(body)
    while off + 32 <= n:
        sig, flags = struct.unpack_from("<II", body, off)
        if sig != BLOCK_SIG:
            break
        ts_ms, pid, tid, size, _z = struct.unpack_from(
            "<QIIII", body, off + 8
        )
        if off + 32 + size > n:
            break  # torn tail
        blob = body[off + 32 : off + 32 + size]
        off += 32 + size
        try:
            p = (flags & 0xFFFFFF) if flags else 24
            flen = struct.unpack_from("<I", blob, p)[0]
            code_file = blob[p + 4 : p + 4 + flen].decode("ascii")
            p += 4 + flen
            line = struct.unpack_from("<I", blob, p)[0]
            p += 4
            fnlen = struct.unpack_from("<I", blob, p)[0]
            func = blob[p + 4 : p + 4 + fnlen].decode("ascii")
            p += 4 + fnlen
        except (struct.error, UnicodeDecodeError):
            continue  # malformed record: skip, keep walking
        rows.append(
            (len(rows), ts_ms, pid, tid, code_file, line, func,
             render_params(blob[p:]))
        )
    if not rows:
        return pd.DataFrame(
            {
                "rec_idx": pd.Series(dtype="int64"),
                "ts": pd.Series(dtype="datetime64[ns]"),
                "pid": pd.Series(dtype="int32"),
                "tid": pd.Series(dtype="int32"),
                "code_file": pd.Series(dtype="object"),
                "line": pd.Series(dtype="int32"),
                "function": pd.Series(dtype="object"),
                "params": pd.Series(dtype="object"),
            }
        )
    arr = list(zip(*rows))
    return pd.DataFrame(
        {
            "rec_idx": np.asarray(arr[0], dtype="int64"),
            "ts": pd.to_datetime(
                np.asarray(arr[1], dtype="int64"), unit="ms",
                errors="coerce",
            ),
            "pid": np.asarray(arr[2], dtype="uint32").astype("int32"),
            "tid": np.asarray(arr[3], dtype="uint32").astype("int32"),
            "code_file": pd.Series(arr[4], dtype="object"),
            "line": np.asarray(arr[5], dtype="uint32").astype("int32"),
            "function": pd.Series(arr[6], dtype="object"),
            "params": pd.Series(arr[7], dtype="object"),
        }
    )


def read_odl(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    """ODL files → records DataFrame (one container walk per file;
    sources/binary.py owns the whole-file read)."""
    return read_binary(spark, paths, decode_odl_file, RECORDS_SCHEMA)


def encode_odl(
    records: list[dict], gz: bool = False, version: int = 3
) -> bytes:
    """Inverse encoder (fixtures/tests): dict rows with ``ts_ms``,
    ``code_file``, ``line``, ``function`` and optional ``params``
    (list of strings) / ``pid`` / ``tid`` → an ODL byte string in the
    flags==0 block layout; gz=True gzips the body (.odlgz shape)."""
    import gzip as _gzip

    hdr = bytearray(HEADER_SIZE)
    hdr[0:8] = MAGIC
    struct.pack_into("<II", hdr, 8, version, 0xC7)
    struct.pack_into("<I", hdr, 0x18, 1)
    ver = b"99.0.0.1"
    hdr[0x1C : 0x1C + len(ver)] = ver
    osver = b"10.0.0"
    hdr[0x5C : 0x5C + len(osver)] = osver
    blocks = []
    for r in records:
        cf = r["code_file"].encode("ascii")
        fn = r["function"].encode("ascii")
        data = bytearray(16)  # zero GUID
        data += struct.pack("<II", 0, len(r.get("params", [])))
        data += struct.pack("<I", len(cf)) + cf
        data += struct.pack("<I", int(r.get("line", 0)))
        data += struct.pack("<I", len(fn)) + fn
        for p in r.get("params", []):
            pb = p.encode("ascii")
            data += struct.pack("<I", len(pb)) + pb
        blk = struct.pack(
            "<IIQIIII",
            BLOCK_SIG,
            0,
            int(r["ts_ms"]),
            int(r.get("pid", 1000)),
            int(r.get("tid", 2000)),
            len(data),
            0,
        ) + bytes(data)
        blocks.append(blk)
    body = b"".join(blocks)
    if gz:
        body = _gzip.compress(body)
    return bytes(hdr) + body
