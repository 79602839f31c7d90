"""GenomicFrame — the engine's core abstraction.

A thin wrapper pairing a Spark ``DataFrame`` with driver-side
:class:`GenomicMetadata`. This replaces the reference's triple-bound
GenomicDataset (RDD + Dataset + metadata, GenomicDataset.scala:130):
in a DataFrame-first engine there is exactly ONE binding — a Catalyst
logical plan — so the ParquetUnbound/DatasetBound/RDDBound machinery
collapses away and every operator is a pure ``DataFrame → DataFrame``
function with metadata propagation rules.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from adam_spark.core.metadata import GenomicMetadata, ProcessingStep

#: kinds whose rows carry (referenceName, start, end) locus columns directly
LOCATABLE_KINDS = {
    "alignment",
    "feature",
    "coverage",
    "variant",
    "genotype",
    "variant_context",
    "slice",
}


class GenomicFrame:
    """A DataFrame of genomic records + metadata."""

    def __init__(self, df: DataFrame, meta: GenomicMetadata | None = None, kind: str | None = None):
        self.df = df
        self.meta = meta if meta is not None else GenomicMetadata()
        if kind is not None:
            self.meta.kind = kind

    # --- basic plumbing ---------------------------------------------------
    @property
    def kind(self) -> str | None:
        return self.meta.kind

    @property
    def spark(self):
        return self.df.sparkSession

    def to_df(self) -> DataFrame:
        """Escape hatch to plain Spark SQL (GenomicDataset.scala:147-149)."""
        return self.df

    def project(self, *fields: str) -> GenomicFrame:
        """Column projection (reference: Projection(fields...),
        projections/Projection.scala:27-45) — Catalyst prunes the scan."""
        return GenomicFrame(self.df.select(*fields), self.meta.copy())

    def transform_df(self, fn: Callable[[DataFrame], DataFrame]) -> GenomicFrame:
        """Apply an arbitrary DataFrame function, keeping metadata
        (reference: transformDataFrame, GenomicDataset.scala:509-530)."""
        return GenomicFrame(fn(self.df), self.meta.copy())

    def with_processing_step(self, step: ProcessingStep) -> GenomicFrame:
        return GenomicFrame(self.df, self.meta.with_processing_step(step))

    def cache(self) -> GenomicFrame:
        self.df = self.df.cache()
        return self

    def count(self) -> int:
        return self.df.count()

    # --- region extraction ------------------------------------------------
    def region_columns(self) -> tuple[str, str, str]:
        """Names of the (referenceName, start, end) locus columns.

        The analogue of ``getReferenceRegions`` (GenomicDataset.scala:1018):
        instead of a per-record Scala function, locatable kinds expose
        their locus as three columns so predicates stay in Catalyst.
        """
        cols = set(self.df.columns)
        if {"referenceName", "start", "end"} <= cols:
            return ("referenceName", "start", "end")
        raise ValueError(
            f"kind {self.kind!r} has no (referenceName, start, end) columns; "
            "convert first (e.g. fragments → alignments)"
        )

    # --- filters ----------------------------------------------------------
    def filter_by_overlapping_region(self, region: tuple[str, int, int]) -> GenomicFrame:
        return self.filter_by_overlapping_regions([region])

    def filter_by_overlapping_regions(
        self, regions: Sequence[tuple[str, int, int]]
    ) -> GenomicFrame:
        """Keep records overlapping any query region
        (reference: GenomicDataset.scala:1034-1081). The OR-of-ANDs
        predicate is pushed by Catalyst into the Parquet scan, matching
        the reference's hand-built FilterPredicate
        (ReferenceRegion.scala:392-398, 768-775)."""
        ref, start, end = self.region_columns()
        pred = None
        for name, rstart, rend in regions:
            p = (
                (F.col(ref) == F.lit(name))
                & (F.col(start) < F.lit(rend))
                & (F.col(end) > F.lit(rstart))
            )
            pred = p if pred is None else (pred | p)
        if pred is None:
            pred = F.lit(False)
        return self.transform_df(lambda df: df.where(pred))

    # --- set ops ----------------------------------------------------------
    def union(self, *others: GenomicFrame) -> GenomicFrame:
        """Row union with metadata union-merge
        (reference: AlignmentDataset.scala:459-471)."""
        df = self.df
        meta = self.meta.copy()
        for o in others:
            df = df.unionByName(o.df, allowMissingColumns=True)
            meta = meta.merge(o.meta)
        return GenomicFrame(df, meta)

    # --- operator bindings (reference-style ergonomics) -------------------
    def region_join(
        self,
        other: GenomicFrame,
        how: str = "inner",
        group: str | None = None,
        flank: int = 0,
        broadcast: str | None = None,
        **kwargs,
    ) -> GenomicFrame:
        """All 11 reference join variants (see operators.region_join)."""
        from adam_spark.operators.region_join import region_join as _rj

        df = _rj(
            self.df, other.df, how=how, group=group, flank=flank,
            broadcast=broadcast, **kwargs,
        )
        return GenomicFrame(df, self.meta.merge(other.meta))

    def broadcast_region_join(self, other: GenomicFrame, **kw) -> GenomicFrame:
        return self.region_join(other, broadcast="left", **kw)

    def shuffle_region_join(self, other: GenomicFrame, **kw) -> GenomicFrame:
        return self.region_join(other, **kw)

    def broadcast(self) -> "GenomicBroadcast":
        """Pre-materialize this frame for REPEATED broadcast region joins
        (GenomicDataset.broadcast, GenomicDataset.scala:1087-1091: collect
        once into an interval tree, ship once, probe many). The DataFrame
        analogue: persist() pins the one-time materialization so each
        subsequent join's BroadcastExchange rebuilds from cached blocks,
        not from the source scan; within a single plan Catalyst already
        reuses the exchange (ReuseExchange)."""
        return GenomicBroadcast(self)

    def broadcast_region_join_against(
        self, bc: "GenomicBroadcast", how: str = "inner",
        group: str | None = None, flank: int = 0, **kw
    ) -> GenomicFrame:
        """Join THIS frame (probe side) against a pre-broadcast frame
        (GenomicDataset.scala:1228-1245 broadcastRegionJoinAgainst and
        :1368/:1530/:1655 variants): the broadcast side is the LEFT of
        the result, matching ``bc.gf.region_join(self, ...)`` exactly —
        'Against' only swaps which operand was collected."""
        return bc.gf.region_join(
            self, how=how, group=group, flank=flank, broadcast="left", **kw
        )

    # --- metadata mutators (GenomicDataset addX/replaceX families) -------
    def _with_meta(self, meta) -> GenomicFrame:
        return GenomicFrame(self.df, meta)

    def add_references(self, refs) -> GenomicFrame:
        return self._with_meta(self.meta.add_references(refs))

    def replace_references(self, refs) -> GenomicFrame:
        return self._with_meta(self.meta.replace_references(refs))

    def add_read_groups(self, groups) -> GenomicFrame:
        return self._with_meta(self.meta.add_read_groups(groups))

    def replace_read_groups(self, groups) -> GenomicFrame:
        return self._with_meta(self.meta.replace_read_groups(groups))

    def add_samples(self, samples) -> GenomicFrame:
        return self._with_meta(self.meta.add_samples(samples))

    def replace_samples(self, samples) -> GenomicFrame:
        return self._with_meta(self.meta.replace_samples(samples))

    def add_header_lines(self, lines) -> GenomicFrame:
        return self._with_meta(self.meta.add_header_lines(lines))

    def replace_header_lines(self, lines) -> GenomicFrame:
        return self._with_meta(self.meta.replace_header_lines(lines))

    def replace_processing_steps(self, steps) -> GenomicFrame:
        return self._with_meta(self.meta.replace_processing_steps(steps))

    def sort(self) -> GenomicFrame:
        """Global (reference-index, start) sort (GenomicDataset.sort:635)."""
        from adam_spark.operators.sorts import sort as _sort

        return self.transform_df(lambda df: _sort(df, self.meta.references))

    def sort_lexicographically(self) -> GenomicFrame:
        from adam_spark.operators.sorts import sort_lexicographically as _s

        return self.transform_df(_s)

    def to_coverage(self) -> GenomicFrame:
        from adam_spark.operators.coverage import to_coverage as _cov

        out = GenomicFrame(_cov(self.df), self.meta.copy())
        out.meta.kind = "coverage"
        return out

    def flagstat(self):
        from adam_spark.operators.flagstat import flagstat as _fs

        return _fs(self.df)

    def count_kmers(self, k: int):
        from adam_spark.operators.kmers import count_kmers as _ck

        return _ck(self.df, k)

    def mark_duplicates(self) -> GenomicFrame:
        from adam_spark.operators.mark_duplicates import mark_duplicates as _md

        lib = {g.id: (g.library or g.id) for g in self.meta.read_groups}
        return self.transform_df(lambda df: _md(df, lib))

    def recalibrate_base_qualities(
        self, known_snps: GenomicFrame | None = None, min_acceptable_quality: int = 5
    ) -> GenomicFrame:
        from adam_spark.operators.bqsr import recalibrate_base_qualities as _bq

        snps = known_snps.df if known_snps is not None else None
        return self.transform_df(lambda df: _bq(df, snps, min_acceptable_quality))

    def realign_indels(self, **kw) -> GenomicFrame:
        from adam_spark.operators.realignment import realign_indels as _ri

        return self.transform_df(lambda df: _ri(df, **kw))

    def pipe(self, cmd, **kw) -> GenomicFrame:
        from adam_spark.operators.pipe import pipe as _pipe

        return _pipe(self, cmd, **kw)

    def save(self, path: str, **kw) -> None:
        from adam_spark import context as _ctx

        _ctx.save(self, path, **kw)


class GenomicBroadcast:
    """Reusable broadcast side for region joins (the DataFrame twin of
    GenomicBroadcast, GenomicDataset.scala:1087-1091 + models/
    GenomicBroadcast). Holds the frame persisted so repeated
    ``*RegionJoinAgainst`` calls rebuild their BroadcastExchange from
    cached blocks instead of re-running the source plan. ``unpersist``
    releases the blocks when the probe sequence is done."""

    def __init__(self, gf: GenomicFrame):
        self.gf = GenomicFrame(gf.df.persist(), gf.meta)

    @property
    def backing_frame(self) -> GenomicFrame:
        return self.gf

    def unpersist(self) -> None:
        self.gf.df.unpersist()
