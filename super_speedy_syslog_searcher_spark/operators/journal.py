"""systemd journal (.journal) binary decode.

The reference drives libsystemd through a dlopen FFI
(src/readers/journalreader.rs:550 ``load_library_systemd``,
:1705 per-entry field reads) — it never parses the file format
itself.  The format IS public (systemd.io "Journal File Format"):

 * 8-byte signature ``LPKSHHRH``; little-endian header with
   ``header_size`` u64 at offset 88 and ``n_objects``/``n_entries``
   after the offsets block
 * a sequence of 8-byte-aligned OBJECTs, each with a 16-byte header
   (type u8, flags u8, 6 reserved, size u64):
   DATA(1) carries ``FIELD=value`` payloads, ENTRY(3) carries
   (seqnum, realtime µs, monotonic µs, boot_id, xor_hash) + an item
   list of DATA offsets; hash/entry-array tables (4,5,6) index them
 * an incompatible COMPACT flag switches ENTRY items from 16-byte
   (offset u64, hash u64) pairs to 4-byte u32 offsets

Spark-first shape, same recipe as every binary decoder here (the
shared whole-file source is ``sources/binary.py``): ONE sequential
object walk per file (no hash-table chasing — the walk
visits every object once, which is also how `journalctl --verify`
iterates), entries resolved against the in-file DATA offset map.
Compressed DATA payloads (XZ/LZ4/ZSTD object flags) are decoded for
XZ/zstd-via-stdlib where available and surfaced as empty otherwise —
a declared seam, like the reference gating on libsystemd presence.

The inverse encoder emits a REGULAR-layout (non-compact,
uncompressed) file with a correct header, aligned objects, and
consistent tail offsets; hash fields are zeroed (we do not implement
the jenkins/siphash keyed hashing — the reader never consults hash
tables).
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from ..sources.binary import read_binary, stream_binary

SIGNATURE = b"LPKSHHRH"
HEADER_SIZE_V187 = 240  # through n_entry_arrays (systemd 187+ layout)
OBJECT_HEADER = 16

OBJECT_UNUSED = 0
OBJECT_DATA = 1
OBJECT_FIELD = 2
OBJECT_ENTRY = 3
OBJECT_DATA_HASH_TABLE = 4
OBJECT_FIELD_HASH_TABLE = 5
OBJECT_ENTRY_ARRAY = 6
OBJECT_TAG = 7

# incompatible_flags bits (journal-def.h)
FLAG_COMPRESSED_XZ = 1 << 0
FLAG_COMPRESSED_LZ4 = 1 << 1
FLAG_KEYED_HASH = 1 << 2
FLAG_COMPRESSED_ZSTD = 1 << 3
FLAG_COMPACT = 1 << 4

OBJECT_COMPRESSED_XZ = 1 << 0
OBJECT_COMPRESSED_LZ4 = 1 << 1
OBJECT_COMPRESSED_ZSTD = 1 << 2

RECORDS_SCHEMA = (
    "source string, rec_idx int, seqnum long, ts timestamp, "
    "monotonic_us long, message string, hostname string, "
    "identifier string, pid int"
)

_ENTRY_FIXED = struct.Struct("<QQQ16sQ")  # seqnum, realtime, monotonic,
#                                           boot_id, xor_hash


def _decompress_payload(flags: int, data: bytes) -> bytes:
    if flags & OBJECT_COMPRESSED_XZ:
        import lzma

        return lzma.decompress(data)
    if flags & OBJECT_COMPRESSED_ZSTD:
        try:  # stdlib in 3.14+, else the zstandard package, else seam
            from compression import zstd  # type: ignore

            return zstd.decompress(data)
        except ImportError:
            try:
                import zstandard

                return zstandard.ZstdDecompressor().decompress(data)
            except ImportError:
                return b""
    if flags & OBJECT_COMPRESSED_LZ4:
        try:
            import lz4.block

            return lz4.block.decompress(data)
        except ImportError:
            return b""
    return data


def decode_journal_file(content: bytes) -> pd.DataFrame:
    """One .journal file's bytes → entry frame (file order).

    Sequential object walk collecting DATA payloads and ENTRY item
    lists; entries resolve against the complete DATA offset map after
    the walk, so forward references work too.
    """
    cols: dict[str, list] = {
        "rec_idx": [], "seqnum": [], "ts_us": [], "monotonic_us": [],
        "message": [], "hostname": [], "identifier": [], "pid": [],
    }
    if len(content) < HEADER_SIZE_V187 or not content.startswith(SIGNATURE):
        return _frame(cols)
    (incompatible,) = struct.unpack_from("<I", content, 12)
    compact = bool(incompatible & FLAG_COMPACT)
    (header_size,) = struct.unpack_from("<Q", content, 88)
    data_payloads: dict[int, bytes] = {}
    entries: list[tuple] = []  # (seqnum, realtime, monotonic, offsets)
    off = max(header_size, HEADER_SIZE_V187)
    n = len(content)
    while off + OBJECT_HEADER <= n:
        otype, oflags = content[off], content[off + 1]
        (osize,) = struct.unpack_from("<Q", content, off + 8)
        if osize < OBJECT_HEADER or off + osize > n:
            break  # torn tail — keep what decoded (lenient, evtx-style)
        body = off + OBJECT_HEADER
        if otype == OBJECT_DATA:
            # hash, next_hash, next_field, entry_offset,
            # entry_array_offset, n_entries (6×u64; compact adds 2×u32)
            skip = 48 + (8 if compact else 0)
            payload = content[body + skip : off + osize]
            data_payloads[off] = _decompress_payload(oflags, payload)
        elif otype == OBJECT_ENTRY:
            seqnum, realtime, monotonic, _boot, _xor = (
                _ENTRY_FIXED.unpack_from(content, body)
            )
            items = content[body + _ENTRY_FIXED.size : off + osize]
            if compact:
                offs = np.frombuffer(
                    items[: len(items) & ~3], dtype="<u4"
                ).astype("int64")
            else:
                pairs = np.frombuffer(
                    items[: len(items) & ~15], dtype="<u8"
                )
                offs = pairs[::2].astype("int64")
            entries.append((seqnum, realtime, monotonic, offs))
        elif otype == OBJECT_UNUSED:
            break
        off += (osize + 7) & ~7  # 8-byte alignment
    for i, (seqnum, realtime, monotonic, offs) in enumerate(entries):
        fields: dict[str, str] = {}
        for o in offs:
            payload = data_payloads.get(int(o))
            if not payload:
                continue
            k, _, v = payload.partition(b"=")
            fields[k.decode("ascii", "replace")] = v.decode(
                "utf-8", "replace"
            )
        cols["rec_idx"].append(i)
        cols["seqnum"].append(seqnum)
        cols["ts_us"].append(realtime)
        cols["monotonic_us"].append(monotonic)
        cols["message"].append(fields.get("MESSAGE", ""))
        cols["hostname"].append(fields.get("_HOSTNAME", ""))
        cols["identifier"].append(fields.get("SYSLOG_IDENTIFIER", ""))
        pid = fields.get("_PID", "")
        cols["pid"].append(int(pid) if pid.isdigit() else 0)
    return _frame(cols)


def _frame(cols: dict[str, list]) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "rec_idx": np.asarray(cols["rec_idx"], dtype="int32"),
            "seqnum": np.asarray(cols["seqnum"], dtype="int64"),
            "ts": pd.to_datetime(
                np.asarray(cols["ts_us"], dtype="int64"), unit="us"
            ),
            "monotonic_us": np.asarray(
                cols["monotonic_us"], dtype="int64"
            ),
            "message": pd.Series(cols["message"], dtype="object"),
            "hostname": pd.Series(cols["hostname"], dtype="object"),
            "identifier": pd.Series(cols["identifier"], dtype="object"),
            "pid": np.asarray(cols["pid"], dtype="int32"),
        }
    )


def read_journal(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    """.journal files → entries DataFrame (one walk per file;
    sources/binary.py owns the whole-file read)."""
    return read_binary(spark, paths, decode_journal_file, RECORDS_SCHEMA)


def encode_journal(records: list[dict]) -> bytes:
    """Inverse encoder (fixtures/tests): dict rows with ``seqnum``,
    ``ts_us``, ``monotonic_us`` and a ``fields`` dict → a
    regular-layout .journal byte string (non-compact, uncompressed,
    hash fields zeroed)."""
    objects: list[bytes] = []
    offsets: list[int] = []
    pos = HEADER_SIZE_V187

    def add(obj: bytes) -> int:
        nonlocal pos
        here = pos
        objects.append(obj)
        pad = (-len(obj)) % 8
        objects.append(b"\x00" * pad)
        offsets.append(here)
        pos += len(obj) + pad
        return here

    def obj_header(otype: int, size: int) -> bytes:
        return struct.pack("<BB6xQ", otype, 0, size)

    n_entries = 0
    data_off: dict[bytes, int] = {}
    entry_offsets: list[int] = []
    for r in records:
        item_offs = []
        for k, v in r.get("fields", {}).items():
            payload = f"{k}={v}".encode()
            if payload not in data_off:
                body = struct.pack("<6Q", 0, 0, 0, 0, 0, 0) + payload
                size = OBJECT_HEADER + len(body)
                data_off[payload] = add(
                    obj_header(OBJECT_DATA, size) + body
                )
            item_offs.append(data_off[payload])
        fixed = _ENTRY_FIXED.pack(
            int(r["seqnum"]), int(r["ts_us"]),
            int(r.get("monotonic_us", 0)), b"\x00" * 16, 0,
        )
        items = b"".join(struct.pack("<QQ", o, 0) for o in item_offs)
        size = OBJECT_HEADER + len(fixed) + len(items)
        entry_offsets.append(
            add(obj_header(OBJECT_ENTRY, size) + fixed + items)
        )
        n_entries += 1

    body = b"".join(objects)
    tail_obj = offsets[-1] if offsets else 0
    hdr = bytearray(HEADER_SIZE_V187)
    hdr[0:8] = SIGNATURE
    # compatible_flags=0, incompatible_flags=0 (regular layout),
    # state=1 (ONLINE→OFFLINE irrelevant for reads)
    # journal-def.h Header field offsets: header_size@88,
    # arena_size@96, tail_object_offset@136, n_objects@144,
    # n_entries@152, tail/head_entry_seqnum@160/168,
    # head/tail_entry_realtime@184/192
    struct.pack_into("<Q", hdr, 88, HEADER_SIZE_V187)
    struct.pack_into("<Q", hdr, 96, len(body))
    struct.pack_into("<Q", hdr, 136, tail_obj)
    struct.pack_into("<Q", hdr, 144, len(offsets))
    struct.pack_into("<Q", hdr, 152, n_entries)
    if records:
        struct.pack_into("<Q", hdr, 160, int(records[-1]["seqnum"]))
        struct.pack_into("<Q", hdr, 168, int(records[0]["seqnum"]))
        struct.pack_into("<Q", hdr, 184, int(records[0]["ts_us"]))
        struct.pack_into("<Q", hdr, 192, int(records[-1]["ts_us"]))
    return bytes(hdr) + body


def read_journal_stream(spark: SparkSession, in_dir: str) -> DataFrame:
    """Structured-Streaming journal ingestion — see
    evtx.read_evtx_stream; same shape over the journal object walk,
    compressed variants (.journal.gz etc.) included."""
    return stream_binary(
        spark, in_dir, "*.journal{,.gz,.bz2,.xz,.lzma,.lz4}",
        decode_journal_file, RECORDS_SCHEMA,
    )
