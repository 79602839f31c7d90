"""ReferenceRegion algebra as Catalyst column expressions.

The reference's workhorse interval type (models/ReferenceRegion.scala:
411-775) carries a rich algebra; here every operation is a pure column
expression over (referenceName, start, end[, strand]) triples so it
vectorizes inside whole-stage codegen — no region objects ever
materialize. Strand semantics follow the reference: positional
operators are strand-blind unless the *stranded* variant is used
(strand ∈ FORWARD/REVERSE/INDEPENDENT; INDEPENDENT matches anything).

Coordinates are 0-based half-open ``[start, end)`` longs
(ReferenceRegion.scala:401-421).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F


@dataclass(frozen=True)
class RegionCols:
    """Column handle for one region operand."""

    referenceName: Column
    start: Column
    end: Column
    strand: Column | None = None

    @staticmethod
    def of(prefix: str = "", strand: bool = False) -> "RegionCols":
        p = prefix
        return RegionCols(
            F.col(f"{p}referenceName"),
            F.col(f"{p}start"),
            F.col(f"{p}end"),
            F.col(f"{p}strand") if strand else None,
        )


def _same_contig(a: RegionCols, b: RegionCols) -> Column:
    return a.referenceName.eqNullSafe(b.referenceName) & a.referenceName.isNotNull()


def _strands_match(a: RegionCols, b: RegionCols) -> Column:
    """Stranded comparison rule (ReferenceRegion.sameStrand):
    INDEPENDENT is a wildcard."""
    if a.strand is None or b.strand is None:
        return F.lit(True)
    ind = F.lit("INDEPENDENT")
    return (
        a.strand.eqNullSafe(b.strand)
        | a.strand.eqNullSafe(ind)
        | b.strand.eqNullSafe(ind)
    )


def overlaps(a: RegionCols, b: RegionCols, threshold: int = 0) -> Column:
    """Overlap of at least ``threshold`` bases (default: any overlap;
    ReferenceRegion.overlaps/overlapsBy :648-692)."""
    if threshold <= 0:
        return _same_contig(a, b) & (a.start < b.end) & (b.start < a.end)
    return _same_contig(a, b) & (
        (F.least(a.end, b.end) - F.greatest(a.start, b.start)) >= F.lit(threshold)
    )


def covers(a: RegionCols, b: RegionCols, threshold: int = 0) -> Column:
    """Strand-blind overlap (covers == overlaps modulo strand in the
    reference; :648-668)."""
    return overlaps(a, b, threshold)


def contains(a: RegionCols, b: RegionCols) -> Column:
    """b entirely inside a (:635-646)."""
    return _same_contig(a, b) & (a.start <= b.start) & (a.end >= b.end)


def intersection(a: RegionCols, b: RegionCols) -> tuple[Column, Column]:
    """(start, end) of the overlap — caller guards with overlaps()
    (:469-497)."""
    return F.greatest(a.start, b.start), F.least(a.end, b.end)


def intersection_length(a: RegionCols, b: RegionCols) -> Column:
    """Overlap width, 0 when disjoint/different contigs."""
    w = F.least(a.end, b.end) - F.greatest(a.start, b.start)
    return F.when(_same_contig(a, b) & (w > 0), w).otherwise(F.lit(0))


def hull(a: RegionCols, b: RegionCols) -> tuple[Column, Column]:
    """Convex hull (merge; :439-497): caller guards same contig."""
    return F.least(a.start, b.start), F.greatest(a.end, b.end)


def is_adjacent(a: RegionCols, b: RegionCols) -> Column:
    """Abutting without overlap (:499-516)."""
    return _same_contig(a, b) & ((a.end == b.start) | (b.end == a.start))


def is_nearby(a: RegionCols, b: RegionCols, distance: int) -> Column:
    """Within ``distance`` bases or overlapping (:518-532)."""
    ap = pad(a, distance)
    return overlaps(ap, b) | is_adjacent(ap, b)


def unstranded_distance(a: RegionCols, b: RegionCols) -> Column:
    """Base-pair gap; 0 when overlapping/adjacent; null across contigs
    (:534-577)."""
    gap = F.greatest(a.start, b.start) - F.least(a.end, b.end)
    return F.when(_same_contig(a, b), F.greatest(gap, F.lit(0))).otherwise(
        F.lit(None).cast("long")
    )


def pad(a: RegionCols, flank: int, flank_end: int | None = None) -> RegionCols:
    """Widen by ``flank`` on both sides — or unevenly by
    ``(flank, flank_end)`` — clamped at 0 (:612-633; uneven variant
    ReferenceRegionSuite.scala:589-604)."""
    if flank_end is None:
        flank_end = flank
    return RegionCols(
        a.referenceName,
        F.greatest(a.start - F.lit(flank), F.lit(0)),
        a.end + F.lit(flank_end),
        a.strand,
    )


def subtract(a: RegionCols, b: RegionCols) -> Column:
    """a minus b → array of up-to-2 (start, end) structs (:733-766)."""
    left = F.when(
        overlaps(a, b) & (a.start < b.start),
        F.struct(a.start.alias("start"), b.start.alias("end")),
    )
    right = F.when(
        overlaps(a, b) & (a.end > b.end),
        F.struct(b.end.alias("start"), a.end.alias("end")),
    )
    whole = F.struct(a.start.alias("start"), a.end.alias("end"))
    return F.when(
        ~overlaps(a, b), F.array(whole)
    ).otherwise(F.filter(F.array(left, right), lambda x: x.isNotNull()))


def compare(a: RegionCols, b: RegionCols) -> Column:
    """Total order: (referenceName, start, end) (:693-712)."""
    return (
        F.when(a.referenceName < b.referenceName, -1)
        .when(a.referenceName > b.referenceName, 1)
        .when(a.start < b.start, -1)
        .when(a.start > b.start, 1)
        .when(a.end < b.end, -1)
        .when(a.end > b.end, 1)
        .otherwise(0)
    )


def region_predicate(regions: list[tuple[str, int, int]]) -> Column:
    """OR-of-overlaps pushdown predicate for a scan
    (ReferenceRegion.toPredicate :768-775 / createPredicate :392-398):
    Catalyst pushes the per-contig conjuncts to Parquet."""
    pred = F.lit(False)
    for name, start, end in regions:
        pred = pred | (
            (F.col("referenceName") == F.lit(name))
            & (F.col("start") < F.lit(end))
            & (F.col("end") > F.lit(start))
        )
    return pred


# --- NonoverlappingRegions (models/NonoverlappingRegions.scala) ------------
def alternating(seq: list, include_first: bool) -> list:
    """Every other element (NonoverlappingRegions.alternating): the
    covered/gap bucket selector for the endpoint sweep."""
    start = 0 if include_first else 1
    return list(seq[start::2])


class NonoverlappingRegions:
    """Driver-side nonoverlapping-bucket index over one contig's regions
    (reference models/NonoverlappingRegions.scala — the broadcast-join
    bucket structure). Overlapping AND adjacent regions merge; the
    merged clusters' boundaries become ``endpoints``, and queries return
    the covered (non-gap) buckets they overlap. Our distributed joins
    bucket by genome bins instead (operators/region_join.py), so this
    class exists as the exact-semantics pin for the reference suite's
    vectors and for driver-sized region lists
    (filter_by_overlapping_regions inputs)."""

    def __init__(self, regions: list[tuple[str, int, int]]):
        if not regions:
            raise ValueError("Regions list must be non-empty")
        names = {r[0] for r in regions}
        if len(names) != 1:
            raise ValueError("All regions must be on one contig, saw %s" % names)
        self.reference_name = next(iter(names))
        ivs = sorted((int(s), int(e)) for _, s, e in regions)
        clusters: list[list[int]] = []
        for s, e in ivs:
            if clusters and s <= clusters[-1][1]:  # overlap or adjacency
                clusters[-1][1] = max(clusters[-1][1], e)
            else:
                clusters.append([s, e])
        self._clusters = [(s, e) for s, e in clusters]
        eps: list[int] = []
        for s, e in self._clusters:
            eps.extend((s, e))
        self.endpoints = sorted(set(eps))

    def find_overlapping_regions(
        self, query: tuple[str, int, int]
    ) -> list[tuple[str, int, int]]:
        qname, qs, qe = query
        if qname != self.reference_name:
            return []
        out = []
        for s, e in zip(self.endpoints, self.endpoints[1:]):
            covered = any(cs <= s and e <= ce for cs, ce in self._clusters)
            if covered and s < qe and qs < e:
                out.append((self.reference_name, s, e))
        return out
