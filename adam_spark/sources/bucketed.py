"""Bucketed pre-binned layout: exchange-free repeated region joins.

The reference reuses a sort across joins through its partition map +
``copartitionByReferenceRegion`` (GenomicDataset.scala:2919-3076) —
sort once, then every subsequent join against the sorted side skips the
shuffle. The Spark-native equivalent is BUCKETING (SURVEY §7 step 9):
materialize each frequently-joined dataset once as a pre-binned table
bucketed on ``(referenceName, __bin)``; any two tables written with the
same bucket spec then region-join with ZERO Exchange in the plan — at
the 100 TB design point the shuffle is the dominant cost of every
repeated join, and this removes it entirely for the
curated-annotation-set workloads (genes × reads, variants × features,
…) that run daily against the same layouts.

Layout contract (recorded in a ``_binned_bucketed.json`` sidecar and
validated at join time):

- narrow intervals are EXPLODED over their covered bins (one row per
  bin, ``__bin`` column added) and written with
  ``bucketBy(buckets, referenceName, __bin).sortBy(...)``;
- intervals wider than ``large_span_bins`` bins (chromosome-scale
  spans that would explode into millions of copies) go UNEXPLODED to a
  ``<table>__wide`` side table, broadcast at join time — the same
  three-way pair-space partition the online builder uses
  (operators/region_join.py).

The online :func:`adam_spark.operators.region_join.region_join` stays
the general path (all 11 variants, no precomputation);
:func:`bucketed_region_join` is the scale path for inner joins between
two pre-materialized layouts.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from adam_spark.operators.region_join import _bins
from adam_spark.schemas import sql_ident

SIDECAR = "_binned_bucketed.json"


def save_binned_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bin_size: int = 64,
    buckets: int = 32,
    region: tuple[str, str, str] = ("referenceName", "start", "end"),
    large_span_bins: int = 512,
) -> None:
    """Materialize ``df`` as a pre-binned bucketed table (+ wide side
    table) under ``path``, registered as ``table`` in the session
    catalog. One shuffle now buys exchange-free joins forever after."""
    if not os.path.isabs(path) and "://" in path:
        raise ValueError(
            "save_binned_bucketed writes its sidecar with local-file I/O; "
            f"non-local warehouse URI {path!r} is not supported (materialize "
            "to a local/NFS path, or extend the sidecar IO to the Hadoop FS API)"
        )
    ref, start, end = region
    span = int(large_span_bins) * int(bin_size)
    # null-safe routing: rows with null start/end cannot bin, but they
    # must survive in the layout (it is a queryable table, not only a
    # join input) — they ride the wide side table, which stores rows
    # verbatim and is consulted for every join
    is_wide = ((F.col(end) - F.col(start)) > F.lit(span)) | F.col(start).isNull() | F.col(
        end
    ).isNull()
    narrow = df.where(~is_wide)
    wide = df.where(is_wide)
    binned = narrow.withColumn(
        "__bin", F.expr(f"explode({_bins(sql_ident(start), sql_ident(end), bin_size)})")
    )
    (
        binned.repartition(buckets, F.col(ref), F.col("__bin"))
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(buckets, ref, "__bin")
        .sortBy(ref, "__bin", start)
        .option("path", os.path.abspath(path))
        .saveAsTable(table)
    )
    (
        wide.write.mode("overwrite")
        .format("parquet")
        .option("path", os.path.abspath(path) + "__wide")
        .saveAsTable(table + "__wide")
    )
    meta = {
        "bin_size": bin_size,
        "buckets": buckets,
        "region": list(region),
        "large_span_bins": large_span_bins,
    }
    with open(os.path.join(path, SIDECAR), "w") as fh:
        json.dump(meta, fh)


def _layout(spark: SparkSession, table: str) -> dict:
    loc = (
        spark.sql(f"DESCRIBE FORMATTED {table}")
        .where(F.col("col_name") == "Location")
        .first()["data_type"]
    )
    p = loc.removeprefix("file:")
    with open(os.path.join(p, SIDECAR)) as fh:
        return json.load(fh)


def _unexploded(binned: DataFrame, ref: str, start: str, bin_size: int) -> DataFrame:
    """Original rows from the exploded table: keep each interval's first
    covered bin only (no distinct — a narrow filter)."""
    return binned.where(
        F.col("__bin") == F.floor(F.col(start) / F.lit(float(bin_size)))
    ).drop("__bin")


def bucketed_region_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    suffixes: tuple[str, str] = ("", "_r"),
) -> DataFrame:
    """Inner interval-overlap join of two :func:`save_binned_bucketed`
    layouts. Both tables must share the bucket spec (validated); the
    narrow×narrow branch is a bucket-local sort-merge join with NO
    Exchange (pinned by tests/test_bucketed.py's plan gate); the wide
    branches broadcast, mirroring the online builder's pair-space
    partition."""
    lm, rm = _layout(spark, left_table), _layout(spark, right_table)
    if (lm["bin_size"], lm["buckets"]) != (rm["bin_size"], rm["buckets"]):
        raise ValueError(
            f"bucket specs differ: {left_table}={lm} vs {right_table}={rm}; "
            "rewrite one side with the other's bin_size/buckets"
        )
    bin_size = lm["bin_size"]
    l_ref, l_start, l_end = lm["region"]
    r_ref, r_start, r_end = rm["region"]

    lb = spark.table(left_table)
    rb = spark.table(right_table)
    l_wide = spark.table(left_table + "__wide")
    r_wide = spark.table(right_table + "__wide")

    lcols = [c for c in lb.columns if c != "__bin"]
    rcols = [c for c in rb.columns if c != "__bin"]
    lmap = {c: f"__l_{c}" for c in lcols}
    rmap = {c: f"__r_{c}" for c in rcols}

    def relabeled(df: DataFrame, m: dict, with_bin: bool) -> DataFrame:
        cols = [F.col(c).alias(m[c]) for c in m]
        if with_bin:
            cols.append(F.col("__bin"))
        return df.select(cols)

    lbx = relabeled(lb, lmap, True)
    rbx = relabeled(rb, rmap, True)
    ls, le = F.col(lmap[l_start]), F.col(lmap[l_end])
    rs, re_ = F.col(rmap[r_start]), F.col(rmap[r_end])
    overlap = (F.col(lmap[l_ref]) == F.col(rmap[r_ref])) & (ls < re_) & (rs < le)
    pair_first_bin = F.floor(F.greatest(ls, rs) / F.lit(float(bin_size)))
    cond = (
        (F.col(lmap[l_ref]) == F.col(rmap[r_ref]))
        & (lbx["__bin"] == rbx["__bin"])
        & (ls < re_)
        & (rs < le)
        & (lbx["__bin"] == pair_first_bin)
    )
    matched = lbx.join(rbx, cond, "inner").drop("__bin")

    l_plain = relabeled(_unexploded(lb, l_ref, l_start, bin_size), lmap, False)
    r_plain = relabeled(_unexploded(rb, r_ref, r_start, bin_size), rmap, False)
    lw = relabeled(l_wide, lmap, False)
    rw = relabeled(r_wide, rmap, False)
    r_all = r_plain.unionByName(rw)
    matched = matched.unionByName(F.broadcast(lw).join(r_all, overlap, "inner"))
    matched = matched.unionByName(l_plain.join(F.broadcast(rw), overlap, "inner"))

    out = []
    for c in lcols:
        name = c + suffixes[0] if (c in rcols and suffixes[0]) else c
        out.append(F.col(lmap[c]).alias(name))
    for c in rcols:
        name = c + suffixes[1] if c in lcols else c
        out.append(F.col(rmap[c]).alias(name))
    return matched.select(out)


def save_queryname_bucketed(
    alignments: DataFrame,
    table: str,
    path: str,
    buckets: int = 32,
) -> None:
    """Persist alignments bucketed + sorted by ``readName`` — the
    layout that makes fragment grouping SHUFFLE-FREE.

    The reference's queryname-grouped fast path (FragmentDataset /
    docs/benchmarks/algorithms.rst:44-51: 'removes the first shuffle
    when input is queryname-grouped') re-expressed as a Spark layout
    contract: aligners emit queryname-grouped output; landing it with
    ``bucketBy(readName).sortBy(readName)`` records that clustering in
    the catalog, and any later ``groupBy(readName)`` —
    alignments_to_fragments, mark_duplicate_fragments' first stage —
    satisfies its required distribution from the layout, so Catalyst
    plans it with ZERO Exchange (pinned in
    tests/test_bucketed.py::test_queryname_bucketed_fragments_no_exchange).
    """
    (
        alignments.write.format("parquet")
        .bucketBy(buckets, "readName")
        .sortBy("readName")
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(table)
    )
