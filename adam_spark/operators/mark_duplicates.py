"""Picard-compatible duplicate marking, DataFrame-native.

Reference algorithm (ds/read/MarkDuplicates.scala:27-171,
ReferencePositionPair.scala:32-114, AlignmentDataset.scala:1075-1077):

1. bucket reads by fragment (readName + read group),
2. key each fragment by its oriented 5' position pair — the 5' end is
   the alignment start adjusted for clipping on the forward strand, or
   the clipped end on the reverse strand,
3. group fragments by (library, left 5' position), subgroup by right
   position, keep the fragment with the highest sum of base qualities
   ≥ 15 (the Picard score), mark every other fragment's reads as
   duplicates; fragments with only unmapped reads are never marked;
   secondary/supplementary alignments inherit their fragment's flag.

Spark mapping: clipped-5'-position arithmetic as Catalyst expressions
over the CIGAR string (regexp parsing of leading/trailing soft/hard
clips — no UDF), fragment scores via groupBy, then ONE window
``row_number`` per (library, posL, posR) ordered by (score desc,
readName) — fully shuffle-parallel on the position key, matching the
reference's groupBy-then-argmax but with Picard's deterministic
tiebreak and no per-group materialization.

Known simplifications vs the reference (documented, not silent):
(1) when one mate is unmapped and the mapped read is on the "wrong"
strand for a slot, the positionForStrand fallback can assign the mapped
read's position to BOTH slots, dropping the unmapped mate's
sequence-keyed pseudo-position from the key (the reference keeps it —
pairs differing only in unmapped-mate sequence would collapse here);
(2) a fragment whose only read is a reverse-strand read2 keys
posL=null and is exempted from marking; (3) the (score, readName)
tiebreak is nondeterministic if two fragments in one subgroup share a
readName (merged BAMs with colliding names across read groups).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _clip_len(cigar: Column, pat: str) -> Column:
    """Length captured by ``pat`` in the CIGAR string, 0 on no match.

    regexp_extract yields '' on no-match and a plain cast('' as long)
    THROWS under ANSI mode (Spark 4 default — the driver harness runs
    ANSI-on). nullif BEFORE the try_cast matters: try_cast('') still
    throws-and-catches a cast exception internally per row, which
    measured 15µs/row — 4.4 s vs 0.56 s over 150k unclipped cigars at
    sf0.1 (most reads match no clip pattern, so the exception path ran
    ~2×/row). try_cast stays for the (theoretical) >19-digit clip
    length, which maps to 0 exactly as before.
    """
    return F.coalesce(
        F.nullif(F.regexp_extract(cigar, pat, 1), F.lit("")).try_cast("long"),
        F.lit(0),
    )


def unclipped_start(start: Column, cigar: Column) -> Column:
    """RichAlignment.unclippedStart: alignment start minus ALL leading
    soft+hard clipped bases ('3H2S5M' unclips by 5).

    BOTH clip elements on an edge count (SAM order puts H outside S) —
    a single-element regex would place a hard+soft-clipped read and its
    soft-only duplicate in different position groups."""
    return (
        start
        - _clip_len(cigar, r"^(\d+)H")
        - _clip_len(cigar, r"^(?:\d+H)?(\d+)S")
    )


def unclipped_end(end: Column, cigar: Column) -> Column:
    """RichAlignment.unclippedEnd: alignment end plus ALL trailing
    soft+hard clipped bases."""
    return (
        end
        + _clip_len(cigar, r"(\d+)S(?:\d+H)?$")
        + _clip_len(cigar, r"(\d+)H$")
    )


def five_prime_position(
    start: Column, end: Column, cigar: Column, negative: Column
) -> Column:
    """Unclipped 5' position of an aligned read.

    Forward strand: :func:`unclipped_start`.
    Reverse strand: :func:`unclipped_end`.
    (reference: ReferencePositionPair.scala:32-114 via
    RichAlignment.fivePrimePosition)
    """
    return F.when(
        negative.eqNullSafe(F.lit(True)), unclipped_end(end, cigar)
    ).otherwise(unclipped_start(start, cigar))


def _phred_score(quals: Column, min_q: int = 15) -> Column:
    """Sum of phred qualities ≥ 15 (Picard duplicate score;
    reference: MarkDuplicates score via SingleReadBucket)."""
    return F.aggregate(
        F.transform(F.split(quals, ""), lambda ch: F.ascii(ch) - 33),
        F.lit(0),
        lambda acc, q: acc + F.when(q >= min_q, q).otherwise(0),
    )


def mark_duplicates(alignments: DataFrame, library_by_rg: dict[str, str] | None = None) -> DataFrame:
    """Return the input with ``duplicateRead`` set.

    ``library_by_rg`` maps readGroupId → library (from the read-group
    dictionary); same-library fragments compete with each other.

    Faithful to the reference (MarkDuplicates.scala:90-161,
    ReferencePositionPair.scala:41-69):

    - read1/read2 positions come from the mapped primary read for that
      ``readInFragment`` slot, else from the unmapped read keyed by its
      SEQUENCE at position 0 (how the reference dedups unmapped reads);
    - leftPos prefers the FORWARD-strand position of the pair, rightPos
      the REVERSE-strand one (``positionForStrand``);
    - fragments group by (library, leftPos) then subgroup by rightPos;
      a null rightPos is the single-end/fragment subgroup: it is scored
      only when it is the ONLY subgroup at the site — if any complete
      pair shares the leftPos, every fragment in it is a duplicate
      (MarkDuplicates.scala:140-155);
    - in scored subgroups the best Picard score survives (ties broken
      by readName for determinism), secondary/supplementary alignments
      are always flagged in marked groups, unmapped reads never are.
    """
    lib = F.lit(None).cast("string")
    if library_by_rg:
        for rg, lb in library_by_rg.items():
            lib = F.when(F.col("readGroupId") == F.lit(rg), F.lit(lb)).otherwise(lib)
    df = alignments.withColumn("__lib", lib)

    primary = F.col("primaryAlignment").eqNullSafe(F.lit(True)) | (
        ~F.col("secondaryAlignment").eqNullSafe(F.lit(True))
        & ~F.col("supplementaryAlignment").eqNullSafe(F.lit(True))
    )
    mapped = F.col("readMapped").eqNullSafe(F.lit(True))
    primary_mapped = primary & mapped
    fp = five_prime_position(
        F.col("start"), F.col("end"), F.col("cigar"), F.col("readNegativeStrand")
    )

    # a read's contribution to its fragment's position pair: mapped
    # primary → oriented 5' position; unmapped → (sequence, 0) pseudo-
    # position with INDEPENDENT strand (ReferencePositionPair.scala:48-55)
    seq = (
        F.col("sequence")
        if "sequence" in alignments.columns
        else F.lit(None).cast("string")
    )
    pos = F.when(
        primary_mapped,
        F.struct(
            F.col("referenceName").alias("ref"),
            fp.alias("pos"),
            F.when(
                F.col("readNegativeStrand").eqNullSafe(F.lit(True)), F.lit("R")
            ).otherwise(F.lit("F")).alias("strand"),
        ),
    ).when(
        ~mapped,
        F.struct(
            seq.alias("ref"),
            F.lit(0).cast("long").alias("pos"),
            F.lit("I").alias("strand"),
        ),
    )
    score = F.when(
        primary_mapped & ~F.col("supplementaryAlignment").eqNullSafe(F.lit(True)),
        _phred_score(F.col("qualityScores")),
    ).otherwise(F.lit(0))
    rif = F.coalesce(F.col("readInFragment"), F.lit(0))

    # join key null-proofed: readGroupId may be null, and null keys
    # don't match in an equi-join
    reads = (
        df.withColumn("__rg", F.coalesce(F.col("readGroupId"), F.lit("")))
        .withColumn("__pos", pos)
        .withColumn("__score", score)
        .withColumn("__rif", rif)
    )
    frag = (
        reads.where(primary_mapped | ~mapped)
        .groupBy("readName", "__rg", "__lib")
        .agg(
            F.sum("__score").alias("fragScore"),
            # mapped-primary position wins the slot over the unmapped
            # pseudo-position (primaryMapped ++ unmapped head order)
            F.coalesce(
                F.max(F.when((F.col("__rif") == 0) & primary_mapped, F.col("__pos"))),
                F.max(F.when((F.col("__rif") == 0) & ~mapped, F.col("__pos"))),
            ).alias("r1"),
            F.coalesce(
                F.max(F.when((F.col("__rif") == 1) & primary_mapped, F.col("__pos"))),
                F.max(F.when((F.col("__rif") == 1) & ~mapped, F.col("__pos"))),
            ).alias("r2"),
        )
        # positionForStrand: leftPos prefers FORWARD, rightPos REVERSE
        .withColumn(
            "posL",
            F.when(F.col("r1.strand") == "F", F.col("r1"))
            .when(F.col("r2.strand") == "F", F.col("r2"))
            .otherwise(F.col("r1")),
        )
        .withColumn(
            "posR",
            F.when(F.col("r2.strand") == "R", F.col("r2"))
            .when(F.col("r1.strand") == "R", F.col("r1"))
            .otherwise(F.col("r2")),
        )
    )

    w_left = Window.partitionBy(
        "__lib", F.col("posL.ref"), F.col("posL.pos"), F.col("posL.strand")
    )
    w_sub = Window.partitionBy(
        "__lib",
        F.col("posL.ref"),
        F.col("posL.pos"),
        F.col("posL.strand"),
        F.col("posR.ref"),
        F.col("posR.pos"),
        F.col("posR.strand"),
    ).orderBy(F.col("fragScore").desc(), F.col("readName"))
    # does any subgroup with a non-null rightPos share this leftPos?
    has_pairs = F.max(F.when(F.col("posR").isNotNull(), 1).otherwise(0)).over(w_left)
    rank = F.row_number().over(w_sub)
    marked_frags = frag.withColumn(
        "__isDup",
        F.when(F.col("posL").isNull(), F.lit(False))
        .when(F.col("posR").isNull(), (has_pairs == 1) | (rank > 1))
        .otherwise(rank > 1),
    ).select(
        "readName", "__rg", "__isDup", F.col("posL").isNotNull().alias("__graded")
    )

    df = df.withColumn("__rg", F.coalesce(F.col("readGroupId"), F.lit("")))
    out = df.join(marked_frags, ["readName", "__rg"], "left").withColumn(
        "duplicateRead",
        F.when(~mapped, F.lit(False))
        .when(primary, F.coalesce("__isDup", F.lit(False)))
        # secondary/supplementary: flagged whenever their fragment was in
        # a marked (graded) left group (markReadsInBucket secondaryAreDups)
        .otherwise(F.coalesce("__graded", F.lit(False))),
    )
    return out.drop(
        "__isDup", "__graded", "__lib", "__rg", "__pos", "__score", "__rif"
    )


def mark_duplicate_fragments(
    fragments: DataFrame, library_by_rg: dict[str, str] | None = None
) -> DataFrame:
    """Duplicate marking for Fragment datasets
    (reference: FragmentDataset.markDuplicates :369): explode the
    nested alignments, mark, regroup. When the input is already
    fragment-grouped this trades the reference's saved first shuffle
    for one regroup — same asymptotics, one operator."""
    from adam_spark.operators.conversions import (
        alignments_to_fragments,
        fragments_to_alignments,
    )

    aln = fragments_to_alignments(fragments)
    marked = mark_duplicates(aln, library_by_rg)
    return alignments_to_fragments(marked.select(*aln.columns))
