"""Domain filters — one-liner DataFrame predicates.

Mirrors the reference's filter families (null-safe everywhere, because
every field is nullable — the reference uses ``eqNullSafe``/``isin`` on
its Dataset-bound overrides, e.g. FeatureDataset.scala:360-375):

- alignments: AlignmentDataset.scala:1805-1918
- genotypes/variants: GenotypeDataset.scala:468-566, VariantDataset.scala:362-475
- features: FeatureDataset.scala:551-762
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _true(c: Column) -> Column:
    # null-safe "is true": null never passes
    return c.eqNullSafe(F.lit(True))


# --- alignment filters ----------------------------------------------------
def filter_by_mapping_quality(df: DataFrame, minimum: int) -> DataFrame:
    return df.where(F.col("mappingQuality") >= minimum)


def filter_unaligned_reads(df: DataFrame) -> DataFrame:
    return df.where(_true(F.col("readMapped")))


def filter_unpaired_reads(df: DataFrame) -> DataFrame:
    return df.where(_true(F.col("readPaired")))


def filter_duplicate_reads(df: DataFrame) -> DataFrame:
    return df.where(~_true(F.col("duplicateRead")))


def filter_to_primary_alignments(df: DataFrame) -> DataFrame:
    return df.where(_true(F.col("primaryAlignment")))


def filter_to_read_groups(df: DataFrame, read_group_ids: Sequence[str]) -> DataFrame:
    return df.where(F.col("readGroupId").isin(list(read_group_ids)))


def filter_to_samples(df: DataFrame, sample_ids: Sequence[str], col: str = "readGroupSampleId") -> DataFrame:
    return df.where(F.col(col).isin(list(sample_ids)))


def filter_to_reference_name(df: DataFrame, reference_name: str) -> DataFrame:
    return df.where(F.col("referenceName").eqNullSafe(F.lit(reference_name)))


# --- samtools-style flag-bit view filters (adam-cli/View.scala:31-148) ----
_PAIRED = "readPaired <=> true"

#: SAM flag bit → the alignment columns that set it (bit 0x1 .. 0x800).
#: Pair-context bits are only defined when 0x1 is set — the reference
#: only sets them inside `if (readPaired)` (AlignmentConverter.scala:
#: 476-492); without the gate an unpaired read's null mateMapped would
#: raise 0x8.
_FLAG_BITS = [
    (0x1, _PAIRED),
    (0x2, f"properPair <=> true AND {_PAIRED}"),
    (0x4, "NOT (readMapped <=> true)"),  # the bit means UNmapped
    (0x8, f"NOT (mateMapped <=> true) AND {_PAIRED}"),
    (0x10, "readNegativeStrand <=> true"),
    (0x20, f"mateNegativeStrand <=> true AND {_PAIRED}"),
    (0x40, f"readInFragment <=> 0 AND {_PAIRED}"),
    (0x80, f"readInFragment <=> 1 AND {_PAIRED}"),
    (0x100, "secondaryAlignment <=> true"),
    (0x200, "failedVendorQualityChecks <=> true"),
    (0x400, "duplicateRead <=> true"),
    (0x800, "supplementaryAlignment <=> true"),
]

#: the 12-bit SAM flag word as one SQL expression
SAM_FLAGS_SQL = " + ".join(
    ["0"] + [f"CASE WHEN {cond} THEN {bit} ELSE 0 END" for bit, cond in _FLAG_BITS]
)


def sam_flags(df: DataFrame) -> Column:
    """Reconstruct the 12-bit SAM flag word from the boolean columns."""
    return F.expr(SAM_FLAGS_SQL)


def view_filter(
    df: DataFrame,
    match_all_bits: int = 0,
    mismatch_all_bits: int = 0,
    match_some_bits: int = 0,
    mismatch_some_bits: int = 0,
) -> DataFrame:
    """samtools view -f/-F/-g/-G flag algebra (adam-cli/View.scala)."""
    flags = sam_flags(df)
    out = df
    if match_all_bits:
        out = out.where(flags.bitwiseAND(F.lit(match_all_bits)) == F.lit(match_all_bits))
    if mismatch_all_bits:
        out = out.where(flags.bitwiseAND(F.lit(mismatch_all_bits)) == F.lit(0))
    if match_some_bits:
        out = out.where(flags.bitwiseAND(F.lit(match_some_bits)) != F.lit(0))
    if mismatch_some_bits:
        out = out.where(flags.bitwiseAND(F.lit(mismatch_some_bits)) != F.lit(mismatch_some_bits))
    return out


# --- genotype / variant filters -------------------------------------------
def filter_to_filters_passed(df: DataFrame) -> DataFrame:
    return df.where(_true(F.col("filtersPassed")))


def filter_by_quality(df: DataFrame, minimum: float) -> DataFrame:
    return df.where(F.col("quality") >= minimum)


def filter_by_genotype_quality(df: DataFrame, minimum: int) -> DataFrame:
    return df.where(F.col("genotypeQuality") >= minimum)


def filter_by_read_depth(df: DataFrame, minimum: int) -> DataFrame:
    return df.where(F.col("readDepth") >= minimum)


def filter_by_alternate_read_depth(df: DataFrame, minimum: int) -> DataFrame:
    return df.where(F.col("alternateReadDepth") >= minimum)


def filter_by_reference_read_depth(df: DataFrame, minimum: int) -> DataFrame:
    return df.where(F.col("referenceReadDepth") >= minimum)


def filter_no_calls(df: DataFrame) -> DataFrame:
    """Drop genotypes containing ANY NO_CALL allele
    (GenotypeDataset.filterNoCalls — `!array_contains(alleles,
    'NO_CALL')`, GenotypeDataset.scala:298-300; pinned on the real
    gvcf_multiallelic fixture in tests/test_reference_goldens.py where
    half-called `./1` split rows must drop too)."""
    return df.where(
        ~F.exists(F.col("alleles"), lambda a: a == F.lit("NO_CALL")).eqNullSafe(
            F.lit(True)
        )
    )


def _allele_len(c: str) -> Column:
    return F.length(F.col(c))


def filter_single_nucleotide_variants(df: DataFrame) -> DataFrame:
    """Drop SNVs (reference: VariantDataset.filterSingleNucleotideVariants)."""
    return df.where(~_is_snv())


def filter_to_single_nucleotide_variants(df: DataFrame) -> DataFrame:
    return df.where(_is_snv())


def filter_multiple_nucleotide_variants(df: DataFrame) -> DataFrame:
    return df.where(~_is_mnv())


def filter_to_multiple_nucleotide_variants(df: DataFrame) -> DataFrame:
    return df.where(_is_mnv())


def filter_indels(df: DataFrame) -> DataFrame:
    return df.where(~_is_indel())


def filter_to_indels(df: DataFrame) -> DataFrame:
    return df.where(_is_indel())


def _is_snv() -> Column:
    return (
        (_allele_len("referenceAllele") == 1) & (_allele_len("alternateAllele") == 1)
    ).eqNullSafe(F.lit(True))


def _is_mnv() -> Column:
    return (
        (_allele_len("referenceAllele") > 1)
        & (_allele_len("referenceAllele") == _allele_len("alternateAllele"))
    ).eqNullSafe(F.lit(True))


def _is_indel() -> Column:
    return (
        _allele_len("referenceAllele") != _allele_len("alternateAllele")
    ).eqNullSafe(F.lit(True))


# --- feature filters ------------------------------------------------------
def filter_to_feature_types(df: DataFrame, types: Sequence[str]) -> DataFrame:
    return df.where(F.col("featureType").isin(list(types)))


def filter_to_genes(df: DataFrame, gene_ids: Sequence[str]) -> DataFrame:
    return df.where(F.col("geneId").isin(list(gene_ids)))


def filter_to_transcripts(df: DataFrame, transcript_ids: Sequence[str]) -> DataFrame:
    return df.where(F.col("transcriptId").isin(list(transcript_ids)))


def filter_to_exons(df: DataFrame, exon_ids: Sequence[str]) -> DataFrame:
    return df.where(F.col("exonId").isin(list(exon_ids)))


def filter_by_score(df: DataFrame, minimum: float) -> DataFrame:
    return df.where(F.col("score") >= minimum)


def filter_by_attribute(df: DataFrame, key: str, value: str) -> DataFrame:
    return df.where(F.col("attributes").getItem(key).eqNullSafe(F.lit(value)))


def filter_to_parent(df: DataFrame, parent_ids: Sequence[str]) -> DataFrame:
    return df.where(F.arrays_overlap(F.col("parentIds"), F.array(*[F.lit(p) for p in parent_ids])))


def filter_to_proteins(df: DataFrame, protein_ids: Sequence[str]) -> DataFrame:
    """(reference: FeatureDataset.filterToProteins :486-495)."""
    return df.where(F.col("proteinId").isin(list(protein_ids)))
