"""StructType schemas mirroring the bdg-formats Avro record model.

Field inventory recovered from the reference's converters (see SURVEY.md
§1.2; reference: adam-core .../converters/AlignmentConverter.scala,
VariantContextConverter.scala, ds/feature/FeatureParser.scala,
models/Coverage.scala:87). Design rules preserved: every field nullable
(no invariants at the schema layer), nesting where the model nests
(Fragment ⊃ Alignment[], Genotype ⊃ Variant, VariantContext ⊃
Genotype[]), extensibility via ``attributes: map<string,string>``.

Coordinates are 0-based half-open ``[start, end)`` longs
(reference: models/ReferenceRegion.scala:401-421);
``strand ∈ {FORWARD, REVERSE, INDEPENDENT}`` (enums → strings).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)


def _f(name: str, dtype, nullable: bool = True) -> StructField:
    return StructField(name, dtype, nullable)


def sql_literal(value: str | None) -> str:
    """``value`` as a Spark SQL string literal (None → NULL). Backslash
    and single quote are escaped, so header-derived text (read-group
    IDs, samples, libraries, contig names) can be placed into SQL
    expressions."""
    if value is None:
        return "NULL"
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_double(value: float) -> str:
    """``value`` as a Spark SQL DOUBLE literal (a bare ``0.9`` parses as
    DECIMAL, which changes the type of the expression around it)."""
    return f"{float(value)!r}D"


def sql_ident(name: str) -> str:
    """``name`` as a back-quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_type(dtype) -> str:
    """``dtype`` as SQL type text. Type text cannot mark a nested
    element, value or field non-null; every schema here is nullable
    throughout (the model's rule, above), so it states them exactly."""
    if isinstance(dtype, ArrayType):
        return f"array<{sql_type(dtype.elementType)}>"
    if isinstance(dtype, MapType):
        return f"map<{sql_type(dtype.keyType)},{sql_type(dtype.valueType)}>"
    if isinstance(dtype, StructType):
        fields = ",".join(f"{sql_ident(f.name)}:{sql_type(f.dataType)}" for f in dtype.fields)
        return f"struct<{fields}>"
    return dtype.simpleString()


def project(df, schema: StructType, exprs: dict[str, str]):
    """Select ``schema``'s fields from ``df``: each field is its SQL
    text in ``exprs`` (a typed null when absent) cast to the field's
    type. One SQL projection: one gateway call for the whole list."""
    return df.selectExpr(
        *(
            f"CAST({exprs.get(f.name, 'NULL')} AS {sql_type(f.dataType)})"
            f" AS {sql_ident(f.name)}"
            for f in schema.fields
        )
    )


def conform(df, schema: StructType):
    """Project ``df`` onto ``schema``: present columns are cast, missing
    columns become typed nulls. The nullable-everything model (SURVEY §1.2)
    makes this safe for every record type."""
    return project(df, schema, {c: sql_ident(c) for c in df.columns})


_ATTRS = MapType(StringType(), StringType(), True)

# --- Alignment (reference: converters/AlignmentConverter.scala) -----------
ALIGNMENT = StructType(
    [
        _f("referenceName", StringType()),
        _f("start", LongType()),
        _f("end", LongType()),
        _f("mappingQuality", IntegerType()),
        _f("readName", StringType()),
        _f("sequence", StringType()),
        _f("qualityScores", StringType()),
        _f("cigar", StringType()),
        _f("originalCigar", StringType()),
        _f("originalStart", LongType()),
        _f("originalQualityScores", StringType()),
        _f("basesTrimmedFromStart", IntegerType()),
        _f("basesTrimmedFromEnd", IntegerType()),
        _f("readPaired", BooleanType()),
        _f("properPair", BooleanType()),
        _f("readMapped", BooleanType()),
        _f("mateMapped", BooleanType()),
        _f("failedVendorQualityChecks", BooleanType()),
        _f("duplicateRead", BooleanType()),
        _f("readNegativeStrand", BooleanType()),
        _f("mateNegativeStrand", BooleanType()),
        _f("primaryAlignment", BooleanType()),
        _f("secondaryAlignment", BooleanType()),
        _f("supplementaryAlignment", BooleanType()),
        _f("mismatchingPositions", StringType()),
        _f("readGroupId", StringType()),
        _f("readGroupSampleId", StringType()),
        _f("mateAlignmentStart", LongType()),
        _f("mateReferenceName", StringType()),
        _f("insertSize", LongType()),
        _f("readInFragment", IntegerType()),
        _f("attributes", _ATTRS),
    ]
)

# --- Fragment (nested alignments; reference: ds/fragment/FragmentDataset) --
FRAGMENT = StructType(
    [
        _f("name", StringType()),
        _f("insertSize", LongType()),
        _f("alignments", ArrayType(ALIGNMENT, True)),
    ]
)

# --- Read / Sequence / Slice (reference: ds/read/ReadDataset,
#     ds/sequence/SequenceDataset, SliceDataset) ---------------------------
READ = StructType(
    [
        _f("name", StringType()),
        _f("description", StringType()),
        _f("alphabet", StringType()),  # DNA | RNA | PROTEIN
        _f("sequence", StringType()),
        _f("length", LongType()),
        _f("qualityScores", StringType()),
        _f("qualityScoreVariant", StringType()),
        _f("sampleId", StringType()),
        _f("attributes", _ATTRS),
    ]
)

SEQUENCE = StructType(
    [
        _f("name", StringType()),
        _f("description", StringType()),
        _f("alphabet", StringType()),
        _f("sequence", StringType()),
        _f("length", LongType()),
        _f("sampleId", StringType()),
        _f("attributes", _ATTRS),
    ]
)

SLICE = StructType(
    [
        _f("name", StringType()),
        _f("description", StringType()),
        _f("alphabet", StringType()),
        _f("sequence", StringType()),
        _f("start", LongType()),
        _f("end", LongType()),
        _f("strand", StringType()),
        _f("length", LongType()),
        _f("totalLength", LongType()),
        _f("index", IntegerType()),  # index of this slice in the parent
        _f("slices", IntegerType()),  # total number of slices of the parent
        _f("sampleId", StringType()),
        _f("attributes", _ATTRS),
    ]
)

# --- Feature (reference: ds/feature/FeatureParser.scala, Features.scala) --
FEATURE = StructType(
    [
        _f("featureId", StringType()),
        _f("name", StringType()),
        _f("source", StringType()),
        _f("featureType", StringType()),
        _f("referenceName", StringType()),
        _f("start", LongType()),
        _f("end", LongType()),
        _f("strand", StringType()),
        _f("phase", IntegerType()),
        _f("frame", IntegerType()),
        _f("score", DoubleType()),
        _f("geneId", StringType()),
        _f("transcriptId", StringType()),
        _f("exonId", StringType()),
        _f("proteinId", StringType()),
        _f("sampleId", StringType()),
        _f("target", StringType()),
        _f("gap", StringType()),
        _f("derivesFrom", StringType()),
        _f("aliases", ArrayType(StringType(), True)),
        _f("notes", ArrayType(StringType(), True)),
        _f("parentIds", ArrayType(StringType(), True)),
        _f("dbxrefs", ArrayType(StringType(), True)),
        _f("ontologyTerms", ArrayType(StringType(), True)),
        _f("circular", BooleanType()),
        _f("attributes", _ATTRS),
    ]
)

# --- Coverage (reference: models/Coverage.scala:87 — flat case class) -----
COVERAGE = StructType(
    [
        _f("referenceName", StringType()),
        _f("start", LongType()),
        _f("end", LongType()),
        _f("count", DoubleType()),
        _f("optSampleId", StringType()),
    ]
)

# --- Variant / Genotype (reference: converters/VariantContextConverter) ---
TRANSCRIPT_EFFECT = StructType(
    [
        _f("alternateAllele", StringType()),
        _f("effects", ArrayType(StringType(), True)),
        _f("geneName", StringType()),
        _f("geneId", StringType()),
        _f("featureType", StringType()),
        _f("featureId", StringType()),
        _f("biotype", StringType()),
        _f("rank", IntegerType()),
        _f("total", IntegerType()),
        _f("transcriptHgvs", StringType()),
        _f("proteinHgvs", StringType()),
        _f("cdnaPosition", IntegerType()),
        _f("cdnaLength", IntegerType()),
        _f("cdsPosition", IntegerType()),
        _f("cdsLength", IntegerType()),
        _f("proteinPosition", IntegerType()),
        _f("proteinLength", IntegerType()),
        _f("distance", IntegerType()),
        _f("messages", ArrayType(StringType(), True)),
    ]
)

VARIANT_ANNOTATION = StructType(
    [
        _f("ancestralAllele", StringType()),
        _f("alleleCount", IntegerType()),
        _f("readDepth", IntegerType()),
        _f("forwardReadDepth", IntegerType()),
        _f("reverseReadDepth", IntegerType()),
        _f("referenceReadDepth", IntegerType()),
        _f("referenceForwardReadDepth", IntegerType()),
        _f("referenceReverseReadDepth", IntegerType()),
        _f("alleleFrequency", DoubleType()),
        _f("cigar", StringType()),
        _f("dbSnp", BooleanType()),
        _f("hapMap2", BooleanType()),
        _f("hapMap3", BooleanType()),
        _f("validated", BooleanType()),
        _f("thousandGenomes", BooleanType()),
        _f("somatic", BooleanType()),
        _f("transcriptEffects", ArrayType(TRANSCRIPT_EFFECT, True)),
        _f("attributes", _ATTRS),
    ]
)

VARIANT = StructType(
    [
        _f("referenceName", StringType()),
        _f("start", LongType()),
        _f("end", LongType()),
        _f("names", ArrayType(StringType(), True)),
        _f("splitFromMultiAllelic", BooleanType()),
        _f("referenceAllele", StringType()),
        _f("alternateAllele", StringType()),
        _f("quality", DoubleType()),
        _f("filtersApplied", BooleanType()),
        _f("filtersPassed", BooleanType()),
        _f("filtersFailed", ArrayType(StringType(), True)),
        _f("annotation", VARIANT_ANNOTATION),
    ]
)

VARIANT_CALLING_ANNOTATIONS = StructType(
    [
        _f("filtersApplied", BooleanType()),
        _f("filtersPassed", BooleanType()),
        _f("filtersFailed", ArrayType(StringType(), True)),
        _f("downsampled", BooleanType()),
        _f("baseQRankSum", DoubleType()),
        _f("fisherStrandBiasPValue", DoubleType()),
        _f("rmsMapQ", DoubleType()),
        _f("mapq0Reads", IntegerType()),
        _f("mqRankSum", DoubleType()),
        _f("readPositionRankSum", DoubleType()),
        _f("genotypePriors", ArrayType(DoubleType(), True)),
        _f("genotypePosteriors", ArrayType(DoubleType(), True)),
        _f("vqslod", DoubleType()),
        _f("culprit", StringType()),
        _f("attributes", _ATTRS),
    ]
)

GENOTYPE = StructType(
    [
        _f("variant", VARIANT),
        _f("referenceName", StringType()),
        _f("start", LongType()),
        _f("end", LongType()),
        _f("variantCallingAnnotations", VARIANT_CALLING_ANNOTATIONS),
        _f("sampleId", StringType()),
        _f("sampleDescription", StringType()),
        _f("processingDescription", StringType()),
        _f("alleles", ArrayType(StringType(), True)),  # REF|ALT|NO_CALL|OTHER_ALT
        _f("expectedAlleleDosage", DoubleType()),
        _f("referenceReadDepth", IntegerType()),
        _f("alternateReadDepth", IntegerType()),
        _f("readDepth", IntegerType()),
        _f("minReadDepth", IntegerType()),
        _f("genotypeQuality", IntegerType()),
        _f("genotypeLikelihoods", ArrayType(DoubleType(), True)),
        _f("nonReferenceLikelihoods", ArrayType(DoubleType(), True)),
        _f("strandBiasComponents", ArrayType(IntegerType(), True)),
        _f("splitFromMultiAllelic", BooleanType()),
        _f("phased", BooleanType()),
        _f("phaseSetId", IntegerType()),
        _f("phaseQuality", IntegerType()),
    ]
)

# --- VariantContext (reference: sql/VariantContext.scala:37-41) -----------
VARIANT_CONTEXT = StructType(
    [
        _f("referenceName", StringType()),
        _f("start", LongType()),
        _f("end", LongType()),
        _f("variant", VARIANT),
        _f("genotypes", ArrayType(GENOTYPE, True)),
    ]
)

#: schema registry keyed by dataset kind
SCHEMAS: dict[str, StructType] = {
    "alignment": ALIGNMENT,
    "fragment": FRAGMENT,
    "read": READ,
    "sequence": SEQUENCE,
    "slice": SLICE,
    "feature": FEATURE,
    "coverage": COVERAGE,
    "variant": VARIANT,
    "genotype": GENOTYPE,
    "variant_context": VARIANT_CONTEXT,
}
