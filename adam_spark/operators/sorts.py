"""Genome sorts and repartitioning.

Reference: GenomicDataset.scala:635-753 (sort / sortLexicographically),
AlignmentDataset.scala:999-1067 (read-name and position sorts with
unmapped-last hacks), GenomicDataset.scala:577-604 (evenlyRepartition).

Scale note: every global sort here is ``repartitionByRange`` + local
sort under the hood (Spark orderBy), i.e. a range-partition shuffle
with sampled bounds — the exact replacement for the reference's
partition-map machinery; downstream operators rely on Catalyst
``outputOrdering``/AQE instead of ADAM's optPartitionMap metadata.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from adam_spark.core.metadata import SequenceDictionary
from adam_spark.schemas import sql_literal


def _index_expr(references: SequenceDictionary) -> Column:
    """contig name → dictionary index as a Catalyst CASE expression.

    The dictionary is driver-side, so it compiles into the plan as one
    flat ``CASE referenceName WHEN ... END`` — no join, no broadcast.
    Flat matters: a nested when/otherwise chain overflows the JVM stack
    at a few hundred contigs (GRCh38 with alts has 3,366)."""
    m = references.index_map()
    if not m:
        return F.expr("CAST(NULL AS INT)")
    whens = " ".join(f"WHEN {sql_literal(name)} THEN {idx}" for name, idx in m.items())
    return F.expr(f"CASE referenceName {whens} END")


def sort(df: DataFrame, references: SequenceDictionary, drop_unmapped: bool = True) -> DataFrame:
    """Global sort by (reference index, start)
    (reference: GenomicDataset.sort, :635-687). Records on contigs
    absent from the dictionary (or unmapped) are dropped, mirroring the
    default STRICT/LENIENT stringency behavior."""
    idx = _index_expr(references)
    out = df.withColumn("__refIdx", idx)
    if drop_unmapped:
        out = out.where(F.col("__refIdx").isNotNull() & F.col("start").isNotNull())
    return out.orderBy("__refIdx", "start").drop("__refIdx")


def sort_lexicographically(df: DataFrame) -> DataFrame:
    """Global sort by (referenceName, start)
    (reference: sortLexicographically, :697-753)."""
    return df.where(F.col("referenceName").isNotNull()).orderBy("referenceName", "start")


def sort_by_read_name(df: DataFrame) -> DataFrame:
    """orderBy(readName, readInFragment)
    (reference: AlignmentDataset.sortByReadName, :999-1003)."""
    return df.orderBy("readName", "readInFragment")


def reference_position_sort_keys(df: DataFrame) -> list[Column]:
    """The composite sort key of :func:`sort_by_reference_position`,
    exposed so rank/contract queries can order by exactly the
    operator's keys."""
    return [
        _true_last(F.col("readMapped")),
        F.when(F.col("readMapped").eqNullSafe(F.lit(True)), F.col("referenceName")).otherwise(
            F.col("readName")
        ),
        F.col("start"),
    ]


def sort_by_reference_position(df: DataFrame) -> DataFrame:
    """Position sort with unmapped reads LAST, ordered by read name —
    the reference implements this with a tilde-prefixed-name hack
    (AlignmentDataset.scala:1016-1040); a composite sort key expresses
    it directly."""
    return df.orderBy(*reference_position_sort_keys(df))


def sort_by_reference_position_and_index(
    df: DataFrame, references: SequenceDictionary
) -> DataFrame:
    """Same, but contigs ordered by dictionary index
    (reference: AlignmentDataset.scala:1042-1067)."""
    idx = _index_expr(references)
    return df.orderBy(
        _true_last(F.col("readMapped")),
        F.when(F.col("readMapped").eqNullSafe(F.lit(True)), idx).otherwise(F.lit(2**31 - 1)),
        F.when(~F.col("readMapped").eqNullSafe(F.lit(True)), F.col("readName")),
        F.col("start"),
    )


def _true_last(c: Column) -> Column:
    # mapped (true) sorts first, unmapped/null last
    return F.when(c.eqNullSafe(F.lit(True)), F.lit(0)).otherwise(F.lit(1))


def evenly_repartition(df: DataFrame, partitions: int, sort_cols: list[str] | None = None) -> DataFrame:
    """Equalize rows per partition while preserving a sort
    (reference: evenlyRepartition, GenomicDataset.scala:577-604 — done
    there with zipWithIndex + a manual partitioner; repartitionByRange
    on the sort key is the Catalyst-native equivalent)."""
    cols = sort_cols or ["referenceName", "start"]
    return df.repartitionByRange(partitions, *[F.col(c) for c in cols]).sortWithinPartitions(
        *[F.col(c) for c in cols]
    )


def repartition_by_genome(
    df: DataFrame,
    references: SequenceDictionary,
    partitions: int | None = None,
) -> DataFrame:
    """Genome-aware range partitioning (the reference's
    GenomicPositionPartitioner / GenomicRegionPartitioner family,
    ds/GenomicPartitioners.scala:39-224): records laid out by global
    genome coordinate (contig index from the sequence dictionary, then
    start), unmapped records last. Downstream per-partition work then
    sees contiguous genome ranges — the layout every genome-ordered
    scan and the partitioned writer want."""
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    idx = _index_expr(references)
    key_idx = F.coalesce(idx, F.lit(2**31 - 1))  # unmapped → last
    key_pos = F.coalesce(F.col("start"), F.lit(2**62))
    return (
        df.withColumn("__gidx", key_idx)
        .withColumn("__gpos", key_pos)
        .repartitionByRange(n, "__gidx", "__gpos")
        .sortWithinPartitions("__gidx", "__gpos")
        .drop("__gidx", "__gpos")
    )


def sort_features_by_reference(
    df: DataFrame, ascending: bool = True, num_partitions: int | None = None
) -> DataFrame:
    """FeatureDataset.sortByReference (FeatureDataset.scala:935, custom
    FeatureOrdering at :70-106): region first, then feature fields,
    then gene-model structure with numeric exon/intron/rank tiebreaks
    from the attributes map — nulls last at every level.

    ``num_partitions`` mirrors the reference's ``sortBy(..,
    numPartitions)``: a globally range-partitioned sort with the
    requested partition count (repartitionByRange +
    sortWithinPartitions — one shuffle, same as orderBy, just with an
    explicit count instead of spark.sql.shuffle.partitions)."""
    def _i(attr: str) -> Column:
        # try_element_at / try_cast: ANSI element_at throws on a missing
        # map key and ANSI cast throws on non-numeric attribute values.
        return F.try_element_at(F.col("attributes"), F.lit(attr)).try_cast("int")

    # strand compares by ENUM ORDINAL (FORWARD < REVERSE < INDEPENDENT
    # < UNKNOWN — FeatureDatasetSuite 'sort by reference' pins REVERSE
    # before INDEPENDENT), not by the string column's alphabetical order
    strand_ord = (
        F.when(F.col("strand") == "FORWARD", 0)
        .when(F.col("strand") == "REVERSE", 1)
        .when(F.col("strand") == "INDEPENDENT", 2)
        .when(F.col("strand") == "UNKNOWN", 3)
    )
    keys = [
        F.col("referenceName"),
        F.col("start"),
        F.col("end"),
        strand_ord,
        F.col("featureId"),
        F.col("featureType"),
        F.col("name"),
        F.col("source"),
        F.col("phase"),
        F.col("frame"),
        F.col("score"),
        F.col("geneId"),
        F.col("transcriptId"),
        F.col("exonId"),
        _i("exon_number"),
        _i("intron_number"),
        _i("rank"),
    ]
    ordered = [
        (k.asc_nulls_last() if ascending else k.desc_nulls_last()) for k in keys
    ]
    if num_partitions is not None:
        return df.repartitionByRange(num_partitions, *ordered).sortWithinPartitions(
            *ordered
        )
    return df.orderBy(*ordered)


# --- GenomicPositionPartitioner boundary math -------------------------------
class GenomicPositionPartitioner:
    """Pure boundary math of the reference's custom RDD partitioner
    (ds/GenomicPartitioners.scala:39-124). DESIGN-SUPERSEDED here: the
    DataFrame sorts use repartitionByRange, which samples real keys and
    so beats fixed genome-fraction boundaries under skew — this class
    exists to pin the reference's exact partition arithmetic (alphabetic
    contig order, cumulative offsets, min(parts, totalLength) clamp,
    unmapped → extra top partition) against its suite vectors.

    ``get_partition(None)`` (or ``(None, pos)``) is the UNMAPPED key.
    """

    def __init__(self, num_parts: int, seq_lengths: dict[str, int]):
        self.seq_lengths = dict(seq_lengths)
        names = sorted(self.seq_lengths)
        self._cumulative: dict[str, int] = {}
        acc = 0
        for n in names:
            self._cumulative[n] = acc
            acc += self.seq_lengths[n]
        self.total_length = acc
        self.parts = int(min(num_parts, self.total_length))

    @property
    def num_partitions(self) -> int:
        return self.parts + 1

    @property
    def cumulative_lengths(self) -> dict[str, int]:
        return dict(self._cumulative)

    def get_partition(self, key) -> int:
        if key is None or (isinstance(key, tuple) and key[0] is None):
            return self.parts
        name, pos = key
        if name not in self.seq_lengths:
            raise ValueError(
                "Received key (%s) that did not map to a known contig" % name
            )
        frac = (self._cumulative[name] + pos) / self.total_length
        import math as _math

        return min(int(_math.floor(frac * self.parts)), self.num_partitions)
