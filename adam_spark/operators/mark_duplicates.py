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

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from adam_spark.schemas import sql_ident, sql_literal


def _clip_len_sql(cigar: str, pat: str) -> str:
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
    return (
        f"coalesce(try_cast(nullif(regexp_extract({cigar}, {sql_literal(pat)}, 1), '')"
        " AS BIGINT), 0)"
    )


#: leading/trailing clip elements; BOTH elements on an edge count (SAM
#: order puts H outside S)
_LEAD_H, _LEAD_S = r"^(\d+)H", r"^(?:\d+H)?(\d+)S"
_TRAIL_S, _TRAIL_H = r"(\d+)S(?:\d+H)?$", r"(\d+)H$"


def _unclipped_start_sql(start: str, cigar: str) -> str:
    return (
        f"{start} - {_clip_len_sql(cigar, _LEAD_H)}"
        f" - {_clip_len_sql(cigar, _LEAD_S)}"
    )


def _unclipped_end_sql(end: str, cigar: str) -> str:
    return (
        f"{end} + {_clip_len_sql(cigar, _TRAIL_S)}"
        f" + {_clip_len_sql(cigar, _TRAIL_H)}"
    )


def _five_prime_sql(start: str, end: str, cigar: str, negative: str) -> str:
    return (
        f"CASE WHEN {negative} <=> true THEN {_unclipped_end_sql(end, cigar)}"
        f" ELSE {_unclipped_start_sql(start, cigar)} END"
    )


def _phred_score_sql(quals: str, min_q: int = 15) -> str:
    return (
        f"aggregate(transform(split({quals}, ''), ch -> ascii(ch) - 33), 0,"
        f" (acc, q) -> acc + CASE WHEN q >= {int(min_q)} THEN q ELSE 0 END)"
    )


def unclipped_start(start: str, cigar: str) -> Column:
    """RichAlignment.unclippedStart: alignment start minus ALL leading
    soft+hard clipped bases ('3H2S5M' unclips by 5). Takes column names.

    BOTH clip elements on an edge count (SAM order puts H outside S) —
    a single-element regex would place a hard+soft-clipped read and its
    soft-only duplicate in different position groups."""
    return F.expr(_unclipped_start_sql(sql_ident(start), sql_ident(cigar)))


def unclipped_end(end: str, cigar: str) -> Column:
    """RichAlignment.unclippedEnd: alignment end plus ALL trailing
    soft+hard clipped bases. Takes column names."""
    return F.expr(_unclipped_end_sql(sql_ident(end), sql_ident(cigar)))


def five_prime_position(start: str, end: str, cigar: str, negative: str) -> Column:
    """Unclipped 5' position of an aligned read. Takes column names.

    Forward strand: :func:`unclipped_start`.
    Reverse strand: :func:`unclipped_end`.
    (reference: ReferencePositionPair.scala:32-114 via
    RichAlignment.fivePrimePosition)
    """
    return F.expr(
        _five_prime_sql(*(sql_ident(c) for c in (start, end, cigar, negative)))
    )


def _phred_score(quals: str, min_q: int = 15) -> Column:
    """Sum of phred qualities ≥ 15 of the named column (Picard duplicate
    score; reference: MarkDuplicates score via SingleReadBucket)."""
    return F.expr(_phred_score_sql(sql_ident(quals), min_q))


#: read-class predicates (null-safe: every flag column is nullable)
_PRIMARY = (
    "(primaryAlignment <=> true OR (NOT (secondaryAlignment <=> true)"
    " AND NOT (supplementaryAlignment <=> true)))"
)
_MAPPED = "(readMapped <=> true)"
_PRIMARY_MAPPED = f"({_PRIMARY} AND {_MAPPED})"


def _slot_sql(rif: int) -> str:
    # mapped-primary position wins the slot over the unmapped
    # pseudo-position (primaryMapped ++ unmapped head order)
    return (
        f"coalesce(max(CASE WHEN __rif = {rif} AND {_PRIMARY_MAPPED} THEN __pos END),"
        f" max(CASE WHEN __rif = {rif} AND NOT {_MAPPED} THEN __pos END))"
    )


_LEFT_KEY = "__lib, posL.ref, posL.pos, posL.strand"
_SUB_WINDOW = (
    f"(PARTITION BY {_LEFT_KEY}, posR.ref, posR.pos, posR.strand"
    " ORDER BY fragScore DESC, readName)"
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

    Every expression is SQL text, so the plan builds in a few dozen
    gateway calls.
    """
    lib = "CAST(NULL AS STRING)"
    if library_by_rg:
        whens = " ".join(
            f"WHEN {sql_literal(rg)} THEN {sql_literal(lb)}"
            for rg, lb in library_by_rg.items()
        )
        lib = f"CASE readGroupId {whens} ELSE {lib} END"
    columns = alignments.columns
    # join key null-proofed: readGroupId may be null, and null keys
    # don't match in an equi-join
    df = alignments.selectExpr(
        "*", f"{lib} AS __lib", "coalesce(readGroupId, '') AS __rg"
    )

    # a read's contribution to its fragment's position pair: mapped
    # primary → oriented 5' position; unmapped → (sequence, 0) pseudo-
    # position with INDEPENDENT strand (ReferencePositionPair.scala:48-55)
    seq = "sequence" if "sequence" in columns else "CAST(NULL AS STRING)"
    fp = _five_prime_sql("`start`", "`end`", "cigar", "readNegativeStrand")
    pos = (
        f"CASE WHEN {_PRIMARY_MAPPED} THEN struct(referenceName AS ref,"
        f" {fp} AS pos,"
        " CASE WHEN readNegativeStrand <=> true THEN 'R' ELSE 'F' END AS strand)"
        f" WHEN NOT {_MAPPED} THEN struct({seq} AS ref,"
        " CAST(0 AS BIGINT) AS pos, 'I' AS strand) END"
    )
    score = (
        f"CASE WHEN {_PRIMARY_MAPPED} AND NOT (supplementaryAlignment <=> true)"
        f" THEN {_phred_score_sql('qualityScores')} ELSE 0 END"
    )
    reads = df.selectExpr(
        "*", f"{pos} AS __pos", f"{score} AS __score",
        "coalesce(readInFragment, 0) AS __rif",
    )
    frag = (
        reads.where(f"{_PRIMARY_MAPPED} OR NOT {_MAPPED}")
        .groupBy("readName", "__rg", "__lib")
        .agg(
            F.expr("sum(__score) AS fragScore"),
            F.expr(f"{_slot_sql(0)} AS r1"),
            F.expr(f"{_slot_sql(1)} AS r2"),
        )
        # positionForStrand: leftPos prefers FORWARD, rightPos REVERSE
        .selectExpr(
            "*",
            "CASE WHEN r1.strand = 'F' THEN r1 WHEN r2.strand = 'F' THEN r2"
            " ELSE r1 END AS posL",
            "CASE WHEN r2.strand = 'R' THEN r2 WHEN r1.strand = 'R' THEN r1"
            " ELSE r2 END AS posR",
        )
    )
    # does any subgroup with a non-null rightPos share this leftPos?
    has_pairs = (
        "max(CASE WHEN posR IS NOT NULL THEN 1 ELSE 0 END)"
        f" OVER (PARTITION BY {_LEFT_KEY})"
    )
    rank = f"row_number() OVER {_SUB_WINDOW}"
    marked_frags = frag.selectExpr(
        "*",
        f"CASE WHEN posL IS NULL THEN false WHEN posR IS NULL"
        f" THEN ({has_pairs} = 1) OR ({rank} > 1) ELSE {rank} > 1 END AS __isDup",
    ).selectExpr("readName", "__rg", "__isDup", "posL IS NOT NULL AS __graded")

    duplicate = (
        f"CASE WHEN NOT {_MAPPED} THEN false"
        f" WHEN {_PRIMARY} THEN coalesce(__isDup, false)"
        # secondary/supplementary: flagged whenever their fragment was in
        # a marked (graded) left group (markReadsInBucket secondaryAreDups)
        " ELSE coalesce(__graded, false) END AS duplicateRead"
    )
    # the join puts readName first; duplicateRead keeps its place
    out_cols = ["readName"] + [c for c in columns if c != "readName"]
    if "duplicateRead" not in out_cols:
        out_cols.append("duplicateRead")
    return df.join(marked_frags, ["readName", "__rg"], "left").selectExpr(
        *(duplicate if c == "duplicateRead" else sql_ident(c) for c in out_cols)
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
