"""Coverage family: depth aggregation, run-length collapse, binning.

Reference semantics: AlignmentDataset.toCoverage (AlignmentDataset.scala:
529-556) computes per-base depth; CoverageDataset.collapse (:300-348)
run-length merges adjacent equal-count intervals; flatten (:474-489)
explodes back to per-base rows; coverage(bpPerBin) (:382-393) and
aggregatedCoverage(bpPerBin) (:420-446) downsample.

Scale design. The reference (and a naive Spark translation) explodes
every read into per-base rows — at 100 TB a 100× row multiplier into
the shuffle. We instead emit events: each read contributes TWO rows
(+count at start, −count at end); depth is a running prefix sum over
the event positions. The shuffle carries 2 rows/read instead of ~100,
and the output is already run-length-collapsed intervals. The
window's partition key is (referenceName, sampleId) — with ~25 contigs
per genome that is coarse, so the prefix sum is computed per-bin with
a per-bin offset (two narrow aggregations) rather than one giant
window partition; no single-task bottleneck at scale. The literal
per-base explode lives in the tests as the cross-check oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_BIN = 1_000_000  # positions per prefix-sum bin


def to_coverage(
    alignments: DataFrame,
    collapse: bool = False,
    by_sample: bool = False,
) -> DataFrame:
    """Per-base read depth over mapped reads → Coverage rows
    (referenceName, start, end, count, optSampleId).

    With ``collapse=False`` emits per-base rows (width-1 intervals,
    matching the reference's toCoverage output shape); with
    ``collapse=True`` emits run-length-merged intervals (the
    composition toCoverage → collapse, which is how the reference's
    Coverage CLI uses it).
    """
    sample = F.col("readGroupSampleId") if by_sample else F.lit(None).cast("string")
    reads = (
        alignments.where(F.col("readMapped") & F.col("referenceName").isNotNull())
        .select(
            "referenceName",
            "start",
            "end",
            sample.alias("optSampleId"),
        )
        .where(F.col("start").isNotNull() & (F.col("end") > F.col("start")))
    )
    # ±delta at read boundaries, prefix sum over positions
    deltas = (
        reads.select(
            "referenceName",
            "optSampleId",
            F.explode(
                F.array(
                    F.struct(F.col("start").alias("pos"), F.lit(1).alias("delta")),
                    F.struct(F.col("end").alias("pos"), F.lit(-1).alias("delta")),
                )
            ).alias("ev"),
        )
        .select("referenceName", "optSampleId", "ev.pos", "ev.delta")
        .groupBy("referenceName", "optSampleId", "pos")
        .agg(F.sum("delta").alias("delta"))
        # canceling events (a read ends exactly where another starts) leave
        # depth unchanged — drop them so output intervals are maximal runs
        .where(F.col("delta") != 0)
        .withColumn("bin", F.floor(F.col("pos") / F.lit(float(_BIN))))
    )
    # two-level prefix sum: within-bin running total + exclusive per-bin offset
    w_bin = (
        Window.partitionBy("referenceName", "optSampleId", "bin")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_off = (
        Window.partitionBy("referenceName", "optSampleId")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bin_totals = (
        deltas.groupBy("referenceName", "optSampleId", "bin")
        .agg(F.sum("delta").alias("bin_total"))
        .withColumn("offset", F.coalesce(F.sum("bin_total").over(w_off), F.lit(0)))
        .select(
            F.col("referenceName").alias("__ref"),
            F.col("optSampleId").alias("__sid"),
            F.col("bin").alias("__bin"),
            "offset",
        )
    )
    w_next = Window.partitionBy("referenceName", "optSampleId", "bin").orderBy("pos")
    # null-safe join keys: optSampleId is legitimately null when not
    # aggregating per sample
    run = (
        deltas.withColumn("within", F.sum("delta").over(w_bin))
        .join(
            bin_totals,
            F.col("referenceName").eqNullSafe(F.col("__ref"))
            & F.col("optSampleId").eqNullSafe(F.col("__sid"))
            & F.col("bin").eqNullSafe(F.col("__bin")),
        )
        .drop("__ref", "__sid", "__bin")
        .withColumn("depth", F.col("within") + F.col("offset"))
        .withColumn("next_pos", F.lead("pos").over(w_next))
    )
    # a bin's last event extends to the first event of the next bin; stitch
    # by falling back to a per-(ref,sample) lead where next_pos is null
    w_all = Window.partitionBy("referenceName", "optSampleId").orderBy("pos")
    run = run.withColumn(
        "next_pos", F.coalesce(F.col("next_pos"), F.lead("pos").over(w_all))
    )
    intervals = run.where(
        (F.col("depth") > 0) & F.col("next_pos").isNotNull() & (F.col("next_pos") > F.col("pos"))
    ).select(
        "referenceName",
        F.col("pos").alias("start"),
        F.col("next_pos").alias("end"),
        F.col("depth").cast("double").alias("count"),
        "optSampleId",
    )
    return intervals if collapse else flatten_coverage(intervals)


def collapse_coverage(coverage: DataFrame) -> DataFrame:
    """Run-length merge of adjacent intervals with equal count
    (reference: CoverageDataset.collapse, CoverageDataset.scala:300-348).

    Window lag → change flag → running group id → group bounds. Requires
    non-overlapping input (true for per-base coverage), like the
    reference, which sorts then merges per partition.
    """
    w = Window.partitionBy("referenceName", "optSampleId").orderBy("start")
    flagged = coverage.withColumn(
        "is_new",
        (
            ~F.lag("end").over(w).eqNullSafe(F.col("start"))
            | ~F.lag("count").over(w).eqNullSafe(F.col("count"))
        ).cast("int"),
    ).withColumn(
        "grp",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return (
        flagged.groupBy("referenceName", "optSampleId", "grp", "count")
        .agg(F.min("start").alias("start"), F.max("end").alias("end"))
        .select("referenceName", "start", "end", "count", "optSampleId")
    )


def flatten_coverage(coverage: DataFrame) -> DataFrame:
    """Explode intervals to per-base width-1 rows
    (reference: CoverageDataset.flatten, :474-489)."""
    return coverage.select(
        "referenceName",
        F.explode(F.sequence("start", F.col("end") - 1)).alias("start"),
        "count",
        "optSampleId",
    ).select(
        "referenceName",
        "start",
        (F.col("start") + 1).alias("end"),
        "count",
        "optSampleId",
    )


def downsample_coverage(coverage: DataFrame, bp_per_bin: int) -> DataFrame:
    """Keep per-base rows at bin boundaries
    (reference: CoverageDataset.coverage(bpPerBin), :382-393)."""
    return flatten_coverage(coverage).where(F.col("start") % F.lit(bp_per_bin) == 0)


def aggregated_coverage(coverage: DataFrame, bp_per_bin: int) -> DataFrame:
    """Mean per-base coverage per fixed-width bin
    (reference: CoverageDataset.aggregatedCoverage, :420-446).

    Computed without flattening: each interval contributes
    width × count to every bin it covers (intervals are clipped at bin
    edges), divided by the bin's covered-base count — identical to the
    reference's flatten → keyBy(bin) → mean, but the shuffle carries
    interval rows, not per-base rows.
    """
    binned = coverage.select(
        "referenceName",
        "optSampleId",
        "count",
        "start",
        "end",
        F.explode(
            F.sequence(
                F.floor(F.col("start") / F.lit(float(bp_per_bin))),
                F.floor((F.col("end") - 1) / F.lit(float(bp_per_bin))),
            )
        ).alias("bin"),
    )
    clipped_width = F.least(
        F.col("end"), (F.col("bin") + 1) * F.lit(bp_per_bin)
    ) - F.greatest(F.col("start"), F.col("bin") * F.lit(bp_per_bin))
    return (
        binned.groupBy("referenceName", "optSampleId", "bin")
        .agg(
            (F.sum(clipped_width * F.col("count")) / F.sum(clipped_width)).alias("count"),
            F.sum(clipped_width).alias("covered"),
        )
        .select(
            "referenceName",
            (F.col("bin") * F.lit(bp_per_bin)).alias("start"),
            ((F.col("bin") + 1) * F.lit(bp_per_bin)).alias("end"),
            "count",
            "optSampleId",
        )
    )
