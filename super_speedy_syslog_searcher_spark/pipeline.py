"""End-to-end pipeline composition (SURVEY.md §3 lifecycle).

scan → parse (pandas-UDF bank) → repair (uptime/year) → assemble
(continuation attach) → enrich (broadcast dims) → dt-filter → merge
(range-partitioned global sort) — the Spark expression of s4's
processing_loop (src/s4/s4.rs:5410).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.assemble import assemble_stage
from .operators.enrich import enrich_stage
from .operators.merge import dt_filter, merge_ordered
from .operators.parse import learn_winners, parse_stage
from .operators.repair import repair_stage


def parse_repair(
    df: DataFrame,
    anchor_year: int = 2024,
    narrow: bool = False,
    freeze: bool = False,
    scatter: bool = True,
    tz_offset_min: int = 0,
) -> DataFrame:
    """narrow=True drops the text payload right after the parse UDF
    (keeping text_len for the summary stats) so the window/shuffle
    stages move ~30% of the bytes.  Nothing joins text back: narrow
    output serves summary-style consumers (the CLI's --summary), and
    full_merge never sets it.

    freeze=True runs s4's sample-then-freeze fast path
    (syslinereader.rs:920): a bounded head sample learns each conv's
    dominant pattern, which the main parse then tries before the bank
    walk.  Output is identical either way (bank entries are pairwise
    disjoint; differentially verified + tested).  Default OFF because
    measured A/B at 3M turns shows the vectorized dispatch masks
    already deliver the freeze's benefit (~1 regex/row): bank walk
    5.5 s vs frozen 10.7 s (scattered batches mix ~all winners) /
    6.3 s (conv-clustered batches) — see BENCH/BASELINE.md.  On a
    conv-bucketed Iceberg layout where a batch holds one conversation
    the frozen path degenerates to a single extract per batch and
    becomes the right choice; the plumbing is here for that layout."""
    winners = learn_winners(df, anchor_year=anchor_year) if freeze else None
    p = parse_stage(
        df,
        anchor_year=anchor_year,
        winners=winners,
        scatter=scatter,
        tz_offset_min=tz_offset_min,
    )
    if narrow:
        p = p.withColumn("text_len", F.octet_length("text").cast("int")).drop(
            "text"
        )
    return repair_stage(p)


def assembled(
    df: DataFrame,
    anchor_year: int = 2024,
    narrow: bool = False,
    freeze: bool = False,
    scatter: bool = True,
    tz_offset_min: int = 0,
) -> DataFrame:
    """scatter=False is the conv-bucketed-layout fast path: when the
    input is bucketed (and sorted) by conv_id — the Iceberg
    bucket(conv_id) table layout — the parse keeps the bucket
    partitioning and every repair/assembly window reuses it, so the
    whole stage runs with ZERO Exchange (asserted in
    tests/test_round3_ops.py::test_bucketed_layout_assembles_without_shuffle)."""
    return assemble_stage(
        parse_repair(
            df, anchor_year, narrow, freeze, scatter=scatter,
            tz_offset_min=tz_offset_min,
        )
    )


def assembled_files(
    df: DataFrame, tz_offset_min: int = 0
) -> DataFrame:
    """File-source variant of ``assembled``: no-year formats anchor to
    each SOURCE's mtime year (parse_stage(anchor_from_ts=True),
    syslogprocessor.rs:628-734) instead of the table corpus's global
    anchor, and the default tz offset threads through."""
    p = parse_stage(
        df, anchor_from_ts=True, tz_offset_min=tz_offset_min
    )
    return assemble_stage(repair_stage(p))


def full_merge(
    df: DataFrame,
    after: str | None = None,
    before: str | None = None,
    enrich: bool = False,
    num_partitions: int | None = None,
    persist_before_sort: bool = True,
    staging: list | None = None,
    freeze: bool = False,
    tz_offset_min: int = 0,
) -> DataFrame:
    """persist_before_sort: a global sort range-partitions by sampling
    its child, which would re-run the parse UDF and window stages a
    second time; staging the (already dt-filtered) output first
    trades one materialization for that full re-compute.  Measured on
    5M turns at local[32]: persist 7.8s vs a narrow-windows+join-back
    variant 24.3s (the sampling job does not reuse the join's shuffle
    files) vs no-persist 11-17s.  At 10^12 rows the same role is
    played by the routed Iceberg sink staging table
    (route.write_routed) — sort from columnar storage, parse once."""
    out = assembled(df, freeze=freeze, tz_offset_min=tz_offset_min)
    if enrich:
        out = enrich_stage(out)
    else:
        # prune parse internals (ts_parsed, dt spans, uptime, sink)
        # before the persist + range shuffle: the merge output schema
        # needs only the transcript columns + assembly results, and
        # the dropped ~30% of bytes would otherwise ride through the
        # cache AND the sort exchange
        out = out.select(
            "conv_id", "turn_idx", "role", "tool", "text", "ts",
            "ts_eff", "sink_eff", "msg_turn_idx",
        )
    out = dt_filter(out, after, before)
    if persist_before_sort:
        from pyspark import StorageLevel

        out = out.persist(StorageLevel.MEMORY_AND_DISK)
        if staging is not None:
            staging.append(out)  # caller unpersists after its action
    return merge_ordered(out, num_partitions=num_partitions)
