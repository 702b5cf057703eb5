"""Pure-Python LZ4 decompression (frame + block formats).

Written from the public LZ4 specifications
(https://github.com/lz4/lz4/blob/dev/doc/lz4_Frame_format.md and
lz4_Block_format.md) so `.lz4` inputs decode without the optional
`lz4` wheel — the reference handles `.lz4` via the lz4_flex crate
(src/readers/blockreader.rs FileLz4).  When the real `lz4` package
IS importable, sources/binary._decompress prefers it (C speed);
this module is the dependency-free fallback, plenty for log-sized
files (~5-10 MB/s in CPython).

Scope: decompression only.  Checksums (xxHash32 header/block/content)
are skipped, matching the robustness-over-strictness stance of the
other binary readers; a truncated stream raises ValueError.  Both the
current frame format (magic 0x184D2204, incl. skippable frames and
linked blocks) and the legacy format (magic 0x184C2102) decode.
"""

from __future__ import annotations

import struct

FRAME_MAGIC = 0x184D2204
LEGACY_MAGIC = 0x184C2102
SKIPPABLE_BASE = 0x184D2A50  # ..0x184D2A5F


def block_decompress(src: bytes, out: bytearray) -> None:
    """LZ4 block format: token-driven literal+match sequences,
    appending to ``out`` (which may already hold history for
    match copies — linked-block mode needs that)."""
    ip = 0
    n = len(src)
    while ip < n:
        token = src[ip]
        ip += 1
        lit_len = token >> 4
        if lit_len == 15:
            while True:
                b = src[ip]
                ip += 1
                lit_len += b
                if b != 255:
                    break
        if lit_len:
            out += src[ip : ip + lit_len]
            ip += lit_len
        if ip >= n:
            break  # last sequence: literals only
        offset = src[ip] | (src[ip + 1] << 8)
        ip += 2
        if offset == 0:
            raise ValueError("lz4: zero match offset")
        match_len = (token & 0xF) + 4
        if (token & 0xF) == 15:
            while True:
                b = src[ip]
                ip += 1
                match_len += b
                if b != 255:
                    break
        start = len(out) - offset
        if start < 0:
            raise ValueError("lz4: match offset beyond output")
        if offset >= match_len:
            out += out[start : start + match_len]
        else:
            # overlapping match: the source region grows as we copy;
            # replicate the period then trim
            chunk = out[start:]
            reps = -(-match_len // offset)
            out += (chunk * reps)[:match_len]


def decompress(data: bytes) -> bytes:
    """LZ4 frame(s) → original bytes.  Concatenated frames and
    skippable frames are consumed in sequence like the reference
    tooling does."""
    pos = 0
    out = bytearray()
    n = len(data)
    while pos + 4 <= n:
        magic = struct.unpack_from("<I", data, pos)[0]
        if (magic & 0xFFFFFFF0) == SKIPPABLE_BASE:
            size = struct.unpack_from("<I", data, pos + 4)[0]
            pos += 8 + size
            continue
        if magic == LEGACY_MAGIC:
            pos += 4
            while pos + 4 <= n:
                bsize = struct.unpack_from("<I", data, pos)[0]
                if bsize in (FRAME_MAGIC, LEGACY_MAGIC) or (
                    bsize & 0xFFFFFFF0
                ) == SKIPPABLE_BASE:
                    break  # next frame begins
                pos += 4
                block_decompress(data[pos : pos + bsize], out)
                pos += bsize
            continue
        if magic != FRAME_MAGIC:
            raise ValueError(f"lz4: bad magic {magic:#x}")
        pos += 4
        flg = data[pos]
        pos += 2  # FLG + BD
        if (flg >> 6) != 0b01:
            raise ValueError("lz4: unsupported frame version")
        b_indep = (flg >> 5) & 1
        b_checksum = (flg >> 4) & 1
        c_size = (flg >> 3) & 1
        c_checksum = (flg >> 2) & 1
        dict_id = flg & 1
        if c_size:
            pos += 8
        if dict_id:
            pos += 4
        pos += 1  # HC byte (xxh32 of the descriptor — not verified)
        frame_start = len(out)
        while True:
            if pos + 4 > n:
                raise ValueError("lz4: truncated frame")
            bsize = struct.unpack_from("<I", data, pos)[0]
            pos += 4
            if bsize == 0:  # EndMark
                break
            uncompressed = bsize >> 31
            bsize &= 0x7FFFFFFF
            block = data[pos : pos + bsize]
            if len(block) != bsize:
                raise ValueError("lz4: truncated block")
            pos += bsize
            if uncompressed:
                out += block
            elif b_indep:
                # independent blocks may not reference earlier output
                sub = bytearray()
                block_decompress(block, sub)
                out += sub
            else:
                block_decompress(block, out)
            if b_checksum:
                pos += 4
        if c_checksum:
            pos += 4
        del frame_start
    return bytes(out)
