"""MarkDuplicatesSuite ported scenario-by-scenario (reference
adam-core/src/test/.../ds/read/MarkDuplicatesSuite.scala:107-340, all
21 tests). The suite's createMappedRead/createPair builders become row
tuples; `markDuplicates` runs the alignment path and
`markDuplicateFragments` the toFragments → markDuplicates →
toAlignments cycle, exactly as the reference helpers do (:101-105,
:211-217).
"""

import pytest

from adam_spark import schemas
from adam_spark.operators.conversions import (
    alignments_to_fragments,
    fragments_to_alignments,
)
from adam_spark.operators.mark_duplicates import (
    _phred_score,
    mark_duplicate_fragments,
    mark_duplicates,
)

SCH = (
    "readName string, readInFragment int, referenceName string, start long, "
    "end long, cigar string, readNegativeStrand boolean, qualityScores string, "
    "sequence string, readMapped boolean, primaryAlignment boolean, "
    "secondaryAlignment boolean, supplementaryAlignment boolean, readPaired boolean, "
    "mateMapped boolean, mateReferenceName string, mateAlignmentStart long, "
    "mateNegativeStrand boolean, readGroupId string"
)


def mapped_read(
    ref,
    start,
    end,
    name,
    phred=20,
    clipped=0,
    neg=False,
    primary=True,
    supplementary=False,
):
    """createMappedRead (suite :43-69): 100-char quals at the given
    phred, cigar 'NSxM' when clipped, read group 'machine foo'."""
    qual = chr(phred + 33) * 100
    cigar = "%dS%dM" % (clipped, 100 - clipped) if clipped else "100M"
    return (
        name, 0, ref, start, end, cigar, neg, qual, "ACGT", True, primary,
        False, supplementary, False, None, None, None, None, "machine foo",
    )


def unmapped_read(name):
    return (
        name, 0, None, None, None, None, None, None, "ACGT", False, True,
        False, False, False, None, None, None, None, "machine foo",
    )


def pair(ref1, start1, end1, ref2, start2, end2, name, phred=20):
    """createPair (suite :71-99): read1 forward, read2 reverse, mates
    cross-linked."""
    r1 = list(mapped_read(ref1, start1, end1, name, phred=phred))
    r2 = list(mapped_read(ref2, start2, end2, name, phred=phred, neg=True))
    r1[1], r2[1] = 0, 1
    for r, oref, ostart, oneg in ((r1, ref2, start2, True), (r2, ref1, start1, False)):
        r[13] = True  # readPaired
        r[14] = True  # mateMapped
        r[15] = oref
        r[16] = ostart
        r[17] = oneg
    return [tuple(r1), tuple(r2)]


def _mark(spark, rows, fragments=False):
    aln = schemas.conform(spark.createDataFrame(rows, SCH), schemas.ALIGNMENT)
    if fragments:
        out = fragments_to_alignments(
            mark_duplicate_fragments(alignments_to_fragments(aln))
        )
    else:
        out = mark_duplicates(aln, {"machine foo": None})
    return [
        (r["readName"], bool(r["duplicateRead"]))
        for r in out.collect()
    ]


@pytest.mark.parametrize("fragments", [False, True])
def test_single_read(spark, fragments):
    """'single read' (:107) / 'single fragment' (:218)."""
    got = _mark(spark, [mapped_read("0", 100, 200, "r")], fragments)
    assert got == [("r", False)]


@pytest.mark.parametrize("fragments", [False, True])
def test_reads_at_different_positions(spark, fragments):
    """'reads/fragments at different positions' (:114/:225)."""
    rows = [mapped_read("0", 42, 142, "a"), mapped_read("0", 43, 143, "b")]
    assert dict(_mark(spark, rows, fragments)) == {"a": False, "b": False}


@pytest.mark.parametrize("fragments", [False, True])
def test_reads_at_same_position(spark, fragments):
    """'reads/fragments at the same position' (:122/:233): ten phred-20
    fragments vs one phred-30 — only the best survives."""
    rows = [mapped_read("1", 42, 142, "poor%d" % i, phred=20) for i in range(10)]
    rows.append(mapped_read("1", 42, 142, "best", phred=30))
    got = dict(_mark(spark, rows, fragments))
    assert got["best"] is False
    assert all(got["poor%d" % i] for i in range(10))


@pytest.mark.parametrize("fragments", [False, True])
def test_same_position_with_clipping(spark, fragments):
    """'... with clipping' (:133/:244): 2S-clipped reads starting at 44
    share the unclipped 5' site 42 and compete with unclipped reads."""
    rows = [
        mapped_read("1", 44, 142, "poorClipped%d" % i, phred=20, clipped=2)
        for i in range(5)
    ]
    rows += [mapped_read("1", 42, 142, "poorUnclipped%d" % i, phred=20) for i in range(5)]
    rows.append(mapped_read("1", 42, 142, "best", phred=30))
    got = dict(_mark(spark, rows, fragments))
    assert got["best"] is False
    assert sum(got.values()) == 10 and all(
        v for k, v in got.items() if k.startswith("poor")
    )


@pytest.mark.parametrize("fragments", [False, True])
def test_reads_on_reverse_strand(spark, fragments):
    """'reads/fragments on reverse strand' (:147/:258): the 5' site of a
    reverse read is its unclipped END."""
    rows = [
        mapped_read("10", 42, 142, "poor%d" % i, phred=20, neg=True) for i in range(7)
    ]
    rows.append(mapped_read("10", 42, 142, "best", phred=30, neg=True))
    got = dict(_mark(spark, rows, fragments))
    assert got["best"] is False and sum(got.values()) == 7


@pytest.mark.parametrize("fragments", [False, True])
def test_unmapped_reads_never_marked(spark, fragments):
    """'unmapped reads/fragments' (:158/:269) — even ten identical
    unmapped reads stay unmarked."""
    rows = [unmapped_read("u%d" % i) for i in range(10)]
    got = _mark(spark, rows, fragments)
    assert len(got) == 10 and not any(d for _, d in got)


@pytest.mark.parametrize("fragments", [False, True])
def test_read_pairs(spark, fragments):
    """'read pairs' (:166) / 'read pairs as fragments' (:277): both ends
    of the losing pairs are marked."""
    rows = []
    for i in range(10):
        rows += pair("0", 10, 110, "0", 110, 210, "poor%d" % i, phred=20)
    rows += pair("0", 10, 110, "0", 110, 210, "best", phred=30)
    got = _mark(spark, rows, fragments)
    nondup = [n for n, d in got if not d]
    assert nondup == ["best", "best"]
    assert sum(d for _, d in got) == 20


@pytest.mark.parametrize("fragments", [False, True])
def test_read_pairs_beat_fragments(spark, fragments):
    """'read pairs with fragments' (:178/:289): pairs ALWAYS outrank
    single-end fragments at the shared 5' site, even at lower phred."""
    rows = [mapped_read("2", 33, 133, "fragment%d" % i, phred=40) for i in range(10)]
    rows += pair("2", 33, 133, "2", 100, 200, "pair", phred=20)
    got = _mark(spark, rows, fragments)
    nondup = sorted(n for n, d in got if not d)
    assert nondup == ["pair", "pair"]
    assert sum(d for _, d in got) == 10


def test_quality_scores():
    """'quality scores' (:190): MarkDuplicates.score of 100 chars at
    ascii 53 (phred 20) is 2000 — pinned on the SQL implementation."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    df = spark.createDataFrame([(chr(53) * 100,)], "q string")
    assert df.select(_phred_score("q").alias("s")).first()["s"] == 2000


@pytest.mark.parametrize("fragments", [False, True])
def test_read_pairs_cross_chromosomes(spark, fragments):
    """'read pairs that cross chromosomes' (:197) / 'chimeric
    fragments' (:301)."""
    rows = []
    for i in range(10):
        rows += pair("ref0", 10, 110, "ref1", 110, 210, "poor%d" % i, phred=20)
    rows += pair("ref0", 10, 110, "ref1", 110, 210, "best", phred=30)
    got = _mark(spark, rows, fragments)
    nondup = [n for n, d in got if not d]
    assert nondup == ["best", "best"] and sum(d for _, d in got) == 20


def test_inverse_pairs(spark):
    """'inverse pairs' (:313): a pair with swapped read order and
    strands keys the same oriented (left-fwd, right-rev) position pair,
    so one of the two pairs is marked."""
    p1 = pair("0", 100, 251, "0", 1100, 1251, "pair1")
    p2 = pair("0", 1100, 1251, "0", 100, 251, "pair2")
    # flip strands: first read reverse, second forward (suite :314-318)
    a, b = list(p2[0]), list(p2[1])
    a[6], a[17] = True, False
    b[6], b[17] = False, True
    got = _mark(spark, p1 + [tuple(a), tuple(b)], fragments=True)
    assert sum(d for _, d in got) == 2


def test_supplemental_reads(spark):
    """'supplemental reads' (:326): a supplementary alignment rides
    with its fragment — the equal-scoring 'best' pair survives and the
    supplementalPoor fragment (pair + supplementary read) is fully
    marked."""
    supp = mapped_read(
        "ref0", 10, 110, "supplementalPoor", phred=10, supplementary=True
    )
    rows = (
        pair("ref0", 10, 110, "ref1", 110, 210, "supplementalPoor", phred=30)
        + [supp]
        + pair("ref0", 10, 110, "ref1", 110, 210, "best", phred=30)
    )
    got = _mark(spark, rows, fragments=True)
    nondup = [n for n, d in got if not d]
    assert nondup == ["best", "best"]
