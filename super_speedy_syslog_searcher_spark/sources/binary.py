"""Whole-file binary source: the one scaffold every binary reader uses.

s4 gives every file its own reader; when that reader fails it records
a per-file error and moves on (syslogprocessor FileErr).  Here each
binary format (asl, etl, odl, evtx, journal, fixedstruct) is a pure
``decode_file(bytes) -> pandas.DataFrame`` in ``operators/``, and this
module owns the Spark side they share:

 * whole files via the binaryFile source — it never splits a file,
   so a file is the unit of parallelism (s4's one-reader-per-file
   model) and one decode walks it start to end;
 * an Arrow-batched ``mapInPandas`` that decompresses by extension
   (BlockReader codec parity), decodes, and puts the file path first
   as ``source``;
 * per-file fault isolation: a file that fails to decode (wrong
   magic, torn stream, AppleDouble "._" sidecar, missing codec)
   prints a warning on the executor's stderr and is skipped — it
   never kills the job.  The text source (``sources/logfiles.py``)
   uses the same isolation.

The streaming reader is the same decode over a binaryFile file
stream: the stream checkpoint tracks processed FILES, so a restart
decodes only new arrivals.
"""

from __future__ import annotations

import gzip
import sys
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

BINARYFILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, "
    "content binary"
)


def hadoop_glob_escape(path: str) -> str:
    """Escape glob metacharacters in a LITERAL path for Hadoop's
    GlobFilter (binaryFile/text .load treat paths as glob patterns —
    a real file named 'entry6_1_(b1_xz).wtmp.tar' or 'a[4-0].log'
    otherwise errors or silently matches nothing)."""
    out = []
    for c in path:
        if c in '*?[]{}\\':
            out.append('\\' + c)
        else:
            out.append(c)
    return "".join(out)


def _decompress(path: str, data: bytes) -> bytes:
    """Per-codec whole-file decompression by extension — BlockReader
    codec parity (blockreader.rs:3382 bz2, :3959 lz4, :4155 xz; gz
    handled by its own reader).  lz4 prefers the C-backed ``lz4``
    package when importable and otherwise uses the dependency-free
    pure-Python frame decoder (functions/lz4frame, written from the
    public LZ4 spec; validated against the reference corpus's real
    .lz4 files)."""
    if path.endswith(".gz"):
        return gzip.decompress(data)
    if path.endswith(".bz2"):
        import bz2

        return bz2.decompress(data)
    if path.endswith((".xz", ".lzma")):
        import lzma

        return lzma.decompress(data)
    if path.endswith(".lz4"):
        try:
            import lz4.frame  # optional C-speed fast path
        except ImportError:
            from ..functions import lz4frame

            return lz4frame.decompress(data)
        return lz4.frame.decompress(data)
    return data


def decode_isolated(path: str, decode: Callable[[], object]):
    """Per-file fault isolation: ``decode()`` for one file, or — if it
    raises — a warning on stderr and None, so the caller skips the
    file and the job goes on."""
    try:
        return decode()
    except Exception as ex:  # noqa: BLE001
        print(
            f"WARNING: failed to decode {path!r}: "
            f"{type(ex).__name__}: {ex}",
            file=sys.stderr,
        )
        return None


def load_binary_files(
    spark: SparkSession, paths: list[str] | str
) -> DataFrame:
    """Literal paths → binaryFile rows (path, modificationTime,
    length, content), one row per whole file."""
    if isinstance(paths, str):
        paths = [paths]
    return spark.read.format("binaryFile").load(
        [hadoop_glob_escape(p) for p in paths]
    )


def _decode_batches(
    batches: Iterator[pd.DataFrame],
    decode_file: Callable[[bytes], pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        frames = []
        for path, content in zip(pdf["path"], pdf["content"]):
            f = decode_isolated(
                path, lambda: decode_file(_decompress(path, bytes(content)))
            )
            if f is None:
                continue
            f.insert(0, "source", path)
            frames.append(f)
        if frames:
            yield pd.concat(frames, ignore_index=True)


def decode_binary_df(
    files: DataFrame,
    decode_file: Callable[[bytes], pd.DataFrame],
    schema: str,
) -> DataFrame:
    """(path, content) rows → ``schema`` records: ``source`` (the
    path) followed by ``decode_file``'s columns, per file in input
    order."""
    return files.select("path", "content").mapInPandas(
        lambda batches: _decode_batches(batches, decode_file), schema
    )


def read_binary(
    spark: SparkSession,
    paths: list[str] | str,
    decode_file: Callable[[bytes], pd.DataFrame],
    schema: str,
) -> DataFrame:
    """Batch read: files (literal paths, optionally compressed) →
    records DataFrame."""
    return decode_binary_df(
        load_binary_files(spark, paths), decode_file, schema
    )


def stream_binary(
    spark: SparkSession,
    in_dir: str,
    glob: str,
    decode_file: Callable[[bytes], pd.DataFrame],
    schema: str,
) -> DataFrame:
    """Stream read: files matching ``glob`` that appear under
    ``in_dir`` → records, decoded incrementally with exactly-once
    file accounting from the stream checkpoint."""
    files = (
        spark.readStream.format("binaryFile")
        .schema(BINARYFILE_SCHEMA)
        .option("pathGlobFilter", glob)
        .load(in_dir)
    )
    return decode_binary_df(files, decode_file, schema)


def drain_available_now(
    stream: DataFrame, out_dir: str, checkpoint_dir: str
) -> None:
    """Drain a file stream with Trigger.AvailableNow to a parquet sink
    — the batch-equivalence harness shape (process every file
    currently present, checkpoint, stop)."""
    (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
