"""Feature text formats: BED, GTF, GFF3, NarrowPeak, IntervalList.

Loaders are pure DataFrame text pipelines (spark.read.text → split /
regexp column expressions), mirroring the reference's per-line parsers
(ds/feature/FeatureParser.scala, 411 LoC; loaders ADAMContext.scala:
3181-3280; savers FeatureDataset.scala:784-933). Coordinate
conventions preserved exactly: BED/NarrowPeak are 0-based half-open on
disk (pass-through); GTF/GFF3/IntervalList are 1-based closed on disk
(start−1 on load, +1 on save).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from adam_spark import schemas
from adam_spark.core.genomic_frame import GenomicFrame
from adam_spark.core.metadata import GenomicMetadata
from adam_spark.sources.merge import write_lines


def _conform(df: DataFrame, keep=()) -> DataFrame:
    """Project onto the canonical FEATURE schema (missing cols → null),
    after the pass-through columns named in ``keep``."""
    return schemas.conform(df, schemas.FEATURE, keep)


def _strand(col):
    """Features.toStrand (Features.scala:37-45): '?' is UNKNOWN, not
    missing; anything else unparsable is null."""
    return (
        F.when(col == "+", "FORWARD")
        .when(col == "-", "REVERSE")
        .when(col == ".", "INDEPENDENT")
        .when(col == "?", "UNKNOWN")
        .otherwise(F.lit(None).cast("string"))
    )


def _strand_out(col):
    """Features.asString (Features.scala:55-67, emptyUnknown=false as
    every feature text sink passes): UNKNOWN and missing both emit '?'
    — only INDEPENDENT writes '.'."""
    return (
        F.when(col == "FORWARD", "+")
        .when(col == "REVERSE", "-")
        .when(col == "INDEPENDENT", ".")
        .otherwise("?")
    )


# --- BED ------------------------------------------------------------------
def load_bed(spark: SparkSession, path: str) -> GenomicFrame:
    """BED3..BED12 (reference: FeatureParser BEDParser; 0-based half-open)."""
    return GenomicFrame(
        bed_lines_to_features(spark.read.text(path)), GenomicMetadata(kind="feature")
    )


def bed_lines_to_features(raw: DataFrame, keep=()) -> DataFrame:
    """BED text lines (column ``value``) → FEATURE rows, after the
    pass-through columns named in ``keep``."""
    lines = raw.where(
        ~F.col("value").startswith("#")
        & ~F.col("value").startswith("track")
        & ~F.col("value").startswith("browser")
        & (F.length(F.trim(F.col("value"))) > 0)
    )
    t = F.split(F.col("value"), "\t")
    df = lines.select(
        *keep,
        F.try_element_at(t, F.lit(1)).alias("referenceName"),
        F.try_element_at(t, F.lit(2)).try_cast("long").alias("start"),
        F.try_element_at(t, F.lit(3)).try_cast("long").alias("end"),
        F.try_element_at(t, F.lit(4)).alias("name"),
        F.when(F.try_element_at(t, F.lit(5)) == ".", None)
        .otherwise(F.try_element_at(t, F.lit(5)))
        .try_cast("double")
        .alias("score"),
        _strand(F.try_element_at(t, F.lit(6))).alias("strand"),
        F.when(
            F.size(t) >= 12,
            # BED12 (ADAMContextSuite "Can read a BED 12 file"): block
            # structure joins the display fields in attributes
            F.map_from_arrays(
                F.array(
                    F.lit("thickStart"), F.lit("thickEnd"), F.lit("itemRgb"),
                    F.lit("blockCount"), F.lit("blockSizes"), F.lit("blockStarts"),
                ),
                F.array(*[F.try_element_at(t, F.lit(i)) for i in range(7, 13)]),
            ),
        )
        .otherwise(
            F.when(
                F.size(t) >= 9,
                F.map_from_arrays(
                    F.array(F.lit("thickStart"), F.lit("thickEnd"), F.lit("itemRgb")),
                    F.array(F.try_element_at(t, F.lit(7)), F.try_element_at(t, F.lit(8)), F.try_element_at(t, F.lit(9))),
                ),
            )
        )
        .alias("attributes"),
    )
    return _conform(df, keep)


def save_bed(
    gf: GenomicFrame,
    path: str,
    single_file: bool = False,
    minimum_score: float | None = None,
    maximum_score: float | None = None,
    missing_value: int | None = None,
) -> None:
    """BED6 by default; rows whose attributes carry the BED12 block
    fields re-emit all 12 columns (FeatureDatasetSuite 'round trip
    BED12 format'). When the score bounds are given, scores interpolate
    to 0..1000 integers (Features.interpolateScore — the
    saveAsUcscBed path, FeatureDataset.scala:232-246)."""
    lines = bed_lines(
        gf.df, minimum_score=minimum_score, maximum_score=maximum_score,
        missing_value=missing_value,
    )
    write_lines(lines, path, single_file)


def bed_lines(
    df: DataFrame,
    keep=(),
    minimum_score: float | None = None,
    maximum_score: float | None = None,
    missing_value: int | None = None,
) -> DataFrame:
    """FEATURE rows → BED lines (column ``value``, after ``keep``); see
    :func:`save_bed`."""
    a = F.col("attributes")

    def _attr(k: str) -> Column:
        return F.try_element_at(a, F.lit(k))

    if minimum_score is not None and maximum_score is not None and missing_value is not None:
        # least/greatest SKIP nulls, so a missing score must branch
        # before the clamp or it would interpolate as the max bound
        clamped = F.greatest(
            F.lit(float(minimum_score)),
            F.least(F.lit(float(maximum_score)), F.col("score")),
        )
        score = F.when(
            F.col("score").isNull(), F.lit(str(int(missing_value)))
        ).otherwise(
            (
                1000.0
                * (clamped - float(minimum_score))
                / (float(maximum_score) - float(minimum_score))
            )
            .cast("int")
            .cast("string")
        )
    else:
        score = F.coalesce(F.col("score").cast("string"), F.lit("."))
    bed6 = F.concat_ws(
        "\t",
        F.col("referenceName"),
        F.col("start").cast("string"),
        F.col("end").cast("string"),
        _name_of(),
        score,
        _strand_out(F.col("strand")),
    )
    has12 = a.isNotNull() & _attr("blockCount").isNotNull()
    bed12 = F.concat_ws(
        "\t",
        bed6,
        F.coalesce(_attr("thickStart"), F.col("start").cast("string")),
        F.coalesce(_attr("thickEnd"), F.col("end").cast("string")),
        F.coalesce(_attr("itemRgb"), F.lit("0")),
        _attr("blockCount"),
        F.coalesce(_attr("blockSizes"), F.lit(".")),
        F.coalesce(_attr("blockStarts"), F.lit(".")),
    )
    return _conform(df, keep).select(
        *keep, F.when(has12, bed12).otherwise(bed6).alias("value")
    )


# --- NarrowPeak -----------------------------------------------------------
def load_narrowpeak(spark: SparkSession, path: str) -> GenomicFrame:
    """ENCODE narrowPeak (BED6+4; reference: NarrowPeakParser)."""
    return GenomicFrame(
        narrowpeak_lines_to_features(spark.read.text(path)),
        GenomicMetadata(kind="feature"),
    )


def narrowpeak_lines_to_features(raw: DataFrame, keep=()) -> DataFrame:
    """narrowPeak text lines (column ``value``) → FEATURE rows, after
    the pass-through columns named in ``keep``."""
    lines = raw.where(F.length(F.trim("value")) > 0)
    t = F.split(F.col("value"), "\t")
    df = lines.select(
        *keep,
        F.try_element_at(t, F.lit(1)).alias("referenceName"),
        F.try_element_at(t, F.lit(2)).try_cast("long").alias("start"),
        F.try_element_at(t, F.lit(3)).try_cast("long").alias("end"),
        F.try_element_at(t, F.lit(4)).alias("name"),
        F.try_element_at(t, F.lit(5)).try_cast("double").alias("score"),
        _strand(F.try_element_at(t, F.lit(6))).alias("strand"),
        F.map_from_arrays(
            F.array(F.lit("signalValue"), F.lit("pValue"), F.lit("qValue"), F.lit("peak")),
            F.array(
                F.try_element_at(t, F.lit(7)), F.try_element_at(t, F.lit(8)), F.try_element_at(t, F.lit(9)), F.try_element_at(t, F.lit(10))
            ),
        ).alias("attributes"),
    )
    return _conform(df, keep)


def save_narrowpeak(gf: GenomicFrame, path: str, single_file: bool = False) -> None:
    write_lines(narrowpeak_lines(gf.df), path, single_file)


def narrowpeak_lines(df: DataFrame, keep=()) -> DataFrame:
    """FEATURE rows → narrowPeak lines (column ``value``, after
    ``keep``)."""
    a = F.col("attributes")
    return _conform(df, keep).select(
        *keep,
        F.concat_ws(
            "\t",
            F.col("referenceName"),
            F.col("start").cast("string"),
            F.col("end").cast("string"),
            _name_of(),
            F.coalesce(F.col("score").try_cast("long").cast("string"), F.lit("0")),
            _strand_out(F.col("strand")),
            F.coalesce(a.getItem("signalValue"), F.lit("0")),
            F.coalesce(a.getItem("pValue"), F.lit("-1")),
            F.coalesce(a.getItem("qValue"), F.lit("-1")),
            F.coalesce(a.getItem("peak"), F.lit("-1")),
        ).alias("value"),
    )


# --- GTF / GFF3 -----------------------------------------------------------
# Attribute keys recognized by Features.assignAttributes
# (reference Features.scala:125-170); everything else stays in the
# attributes map. On save, Features.gatherAttributes
# (Features.scala:188-212) re-emits the typed fields in this order,
# followed by the attributes map.
_SCALAR_ATTR_FIELDS = [
    ("ID", "featureId"),
    ("Name", "name"),
    ("Target", "target"),
    ("Gap", "gap"),
    ("Derives_from", "derivesFrom"),
    ("gene_id", "geneId"),
    ("transcript_id", "transcriptId"),
    ("exon_id", "exonId"),
    ("protein_id", "proteinId"),
    ("sampleId", "sampleId"),
]
_LIST_ATTR_FIELDS = [
    ("Alias", "aliases"),
    ("Note", "notes"),
    ("Parent", "parentIds"),
    ("Dbxref", "dbxrefs"),
    ("Ontology_term", "ontologyTerms"),
]
_RECOGNIZED_ATTR_KEYS = (
    [k for k, _ in _SCALAR_ATTR_FIELDS]
    + [k for k, _ in _LIST_ATTR_FIELDS]
    + ["Is_circular"]
)

_EMPTY_ATTR_MAP = "cast(map() as map<string,string>)"


def _assign_attributes(kvs: Column) -> dict:
    """Split parsed ``array<struct<k,v>>`` attribute entries into typed
    feature columns + the residual attributes map, mirroring
    Features.assignAttributes (Features.scala:125-170): scalars take the
    last occurrence (repeated setX calls), list fields collect every
    occurrence and are null when empty, unrecognized keys fall through
    to ``attributes`` with last-one-wins dedup."""

    def vals_of(key: str) -> Column:
        return F.transform(
            F.filter(kvs, lambda x: x["k"] == key), lambda x: x["v"]
        )

    cols = {}
    for key, field in _SCALAR_ATTR_FIELDS:
        cols[field] = F.try_element_at(vals_of(key), F.lit(-1))
    for key, field in _LIST_ATTR_FIELDS:
        vals = vals_of(key)
        if field in ("dbxrefs", "ontologyTerms"):
            # toDbxref/toOntologyTerm (Features.scala:78-111) drop values
            # lacking ':'. Deliberate divergence: the reference splits the
            # value into (db, ':accession') keeping the colon, so its own
            # re-save doubles the colon ("EMBL::AA816246"); we keep the raw
            # string, which round-trips bit-exactly.
            vals = F.filter(vals, lambda v: F.instr(v, ":") > 0)
        cols[field] = F.when(F.size(vals) > 0, vals)
    circ = F.lower(F.try_element_at(vals_of("Is_circular"), F.lit(-1)))
    cols["circular"] = (
        F.when(circ == "true", F.lit(True)).when(circ == "false", F.lit(False))
    )
    remaining = F.filter(
        kvs, lambda x: ~x["k"].isin(_RECOGNIZED_ATTR_KEYS)
    )
    # Fold map_filter+map_concat so duplicate keys never collide under the
    # default EXCEPTION dedup policy; last occurrence wins like the
    # reference's `remaining += entry` into a mutable map.
    cols["attributes"] = F.when(
        F.size(remaining) > 0,
        F.aggregate(
            remaining,
            F.expr(_EMPTY_ATTR_MAP),
            lambda m, x: F.map_concat(
                F.map_filter(m, lambda k, _: k != x["k"]),
                F.map_from_arrays(F.array(x["k"]), F.array(x["v"])),
            ),
        ),
    )
    return cols


def _gather_attributes() -> Column:
    """Rebuild the attribute entry list from the typed feature columns,
    as ``array<struct<k,v>>`` in Features.gatherAttributes order
    (Features.scala:188-212): ID, Name, Target, Gap, Derives_from,
    Is_circular, gene_id, transcript_id, exon_id, protein_id, sampleId,
    then each list field one entry per element, then the attributes map
    (sorted by key — the reference emits hash order; its suite pins a
    sorted-looking sequence, so we sort deterministically)."""

    def kv(key: str, col: Column) -> Column:
        return F.when(
            col.isNotNull(),
            F.struct(F.lit(key).alias("k"), col.cast("string").alias("v")),
        )

    order = [
        ("ID", F.col("featureId")),
        ("Name", F.col("name")),
        ("Target", F.col("target")),
        ("Gap", F.col("gap")),
        ("Derives_from", F.col("derivesFrom")),
        (
            "Is_circular",
            F.when(F.col("circular"), "true").when(~F.col("circular"), "false"),
        ),
        ("gene_id", F.col("geneId")),
        ("transcript_id", F.col("transcriptId")),
        ("exon_id", F.col("exonId")),
        ("protein_id", F.col("proteinId")),
        ("sampleId", F.col("sampleId")),
    ]
    scalars = F.filter(
        F.array(*[kv(k, c) for k, c in order]), lambda x: x.isNotNull()
    )

    def list_kv(key: str, field: str) -> Column:
        return F.transform(
            F.coalesce(F.col(field), F.expr("cast(array() as array<string>)")),
            lambda v: F.struct(F.lit(key).alias("k"), v.alias("v")),
        )

    attrs_sorted = F.transform(
        F.array_sort(
            F.map_entries(F.coalesce(F.col("attributes"), F.expr(_EMPTY_ATTR_MAP)))
        ),
        lambda e: F.struct(e["key"].alias("k"), e["value"].alias("v")),
    )
    return F.concat(
        scalars,
        *[list_kv(k, f) for k, f in _LIST_ATTR_FIELDS],
        attrs_sorted,
    )


def _gxf_base(raw: DataFrame):
    lines = raw.where(
        ~F.col("value").startswith("#")
        & (F.length(F.trim("value")) > 0)
        # GFF3 files may embed a ##FASTA section (headers + sequence
        # lines, no tabs) — only 9-field records are features
        # (FeatureDatasetSuite "ignore FASTA sequence in GFF3 file")
        & (F.size(F.split(F.col("value"), "\t")) >= 8)
    )
    t = F.split(F.col("value"), "\t")
    return lines, t


def _dotnull(c):
    return F.when(c == ".", None).otherwise(c)


def _name_of() -> Column:
    """Features.nameOf (Features.scala:216-229): the display name for
    lossy formats (BED, NarrowPeak, IntervalList) — name, else
    featureId, else the type-specific id for exon/transcript/gene
    (SO:0000147/0000673/0000704 synonyms), else the featureType itself,
    else the SO root term 'sequence_feature'."""
    ft = F.col("featureType")
    typed = (
        F.when(ft.isin("exon", "SO:0000147"), F.col("exonId"))
        .when(ft.isin("transcript", "SO:0000673"), F.col("transcriptId"))
        .when(ft.isin("gene", "SO:0000704"), F.col("geneId"))
        .otherwise(ft)
    )
    return F.coalesce(
        F.col("name"), F.col("featureId"), typed, F.lit("sequence_feature")
    )


def load_gtf(spark: SparkSession, path: str) -> GenomicFrame:
    """GTF2 with `key "value";` attributes (reference: GTFParser);
    1-based closed → 0-based half-open."""
    return GenomicFrame(
        gtf_lines_to_features(spark.read.text(path)), GenomicMetadata(kind="feature")
    )


def gtf_lines_to_features(raw: DataFrame, keep=()) -> DataFrame:
    """GTF text lines (column ``value``) → FEATURE rows, after the
    pass-through columns named in ``keep``."""
    lines, t = _gxf_base(raw)
    # `key "value"; ...` → entries; tokens that don't match the
    # GTFParser PATTERN `\s*([^\s]+)\s"([^"]+)"` are dropped
    # (FeatureParser.scala:60-74).
    kvs = F.expr(
        r"""filter(
          transform(
            split(try_element_at(split(value, '\t'), 9), ';'),
            x -> struct(
              trim(regexp_extract(x, '^\\s*(\\S+)\\s+', 1)) as k,
              regexp_extract(x, '"([^"]+)"', 1) as v)),
          x -> length(x.k) > 0 and length(x.v) > 0)"""
    )
    assigned = _assign_attributes(kvs)
    df = lines.select(
        *keep,
        F.try_element_at(t, F.lit(1)).alias("referenceName"),
        _dotnull(F.try_element_at(t, F.lit(2))).alias("source"),
        _dotnull(F.try_element_at(t, F.lit(3))).alias("featureType"),
        (F.try_element_at(t, F.lit(4)).try_cast("long") - 1).alias("start"),
        F.try_element_at(t, F.lit(5)).try_cast("long").alias("end"),
        _dotnull(F.try_element_at(t, F.lit(6))).try_cast("double").alias("score"),
        _strand(F.try_element_at(t, F.lit(7))).alias("strand"),
        _dotnull(F.try_element_at(t, F.lit(8))).try_cast("int").alias("frame"),
        *[c.alias(name) for name, c in assigned.items()],
    )
    return _conform(df, keep)


def save_gtf(gf: GenomicFrame, path: str, single_file: bool = False) -> None:
    """GTF save with full gatherAttributes parity: every typed field plus
    the attributes map re-emitted as `key "value"; ...`
    (FeatureDataset.scala:161-176 toGtf)."""
    write_lines(gtf_lines(gf.df), path, single_file)


def gtf_lines(df: DataFrame, keep=()) -> DataFrame:
    """FEATURE rows → GTF lines (column ``value``, after ``keep``)."""
    attr = F.array_join(
        F.transform(
            _gather_attributes(),
            lambda x: F.concat(x["k"], F.lit(' "'), x["v"], F.lit('"')),
        ),
        "; ",
    )
    return _conform(df, keep).select(
        *keep,
        F.concat_ws(
            "\t",
            F.col("referenceName"),
            F.coalesce(F.col("source"), F.lit(".")),
            F.coalesce(F.col("featureType"), F.lit(".")),
            (F.col("start") + 1).cast("string"),
            F.col("end").cast("string"),
            F.coalesce(F.col("score").cast("string"), F.lit(".")),
            _strand_out(F.col("strand")),
            F.coalesce(F.col("frame").cast("string"), F.lit(".")),
            attr,
        ).alias("value"),
    )


def load_gff3(spark: SparkSession, path: str) -> GenomicFrame:
    """GFF3 with `key=value;` attributes (reference: GFF3Parser)."""
    return GenomicFrame(
        gff3_lines_to_features(spark.read.text(path)), GenomicMetadata(kind="feature")
    )


def gff3_lines_to_features(raw: DataFrame, keep=()) -> DataFrame:
    """GFF3 text lines (column ``value``) → FEATURE rows, after the
    pass-through columns named in ``keep``."""
    lines, t = _gxf_base(raw)
    # `key=value;...` → entries, split on the FIRST '=' only so values
    # containing '=' survive (GFF3Parser.parseAttributes,
    # FeatureParser.scala:135-147). Multi-valued keys (repeated entries)
    # are preserved; comma-joined values stay one entry, matching the
    # reference (which never comma-splits) so they round-trip verbatim.
    kvs = F.expr(
        r"""transform(
          filter(split(try_element_at(split(value, '\t'), 9), ';'),
                 x -> instr(x, '=') > 0),
          x -> struct(
            trim(substr(x, 1, instr(x, '=') - 1)) as k,
            substr(x, instr(x, '=') + 1) as v))"""
    )
    assigned = _assign_attributes(kvs)
    df = lines.select(
        *keep,
        F.try_element_at(t, F.lit(1)).alias("referenceName"),
        _dotnull(F.try_element_at(t, F.lit(2))).alias("source"),
        _dotnull(F.try_element_at(t, F.lit(3))).alias("featureType"),
        (F.try_element_at(t, F.lit(4)).try_cast("long") - 1).alias("start"),
        F.try_element_at(t, F.lit(5)).try_cast("long").alias("end"),
        _dotnull(F.try_element_at(t, F.lit(6))).try_cast("double").alias("score"),
        _strand(F.try_element_at(t, F.lit(7))).alias("strand"),
        _dotnull(F.try_element_at(t, F.lit(8))).try_cast("int").alias("phase"),
        *[c.alias(name) for name, c in assigned.items()],
    )
    return _conform(df, keep)


GFF3_HEADER = "##gff-version 3.2.1"  # GFF3HeaderWriter.scala:28


def save_gff3(gf: GenomicFrame, path: str, single_file: bool = False) -> None:
    """GFF3 save with full gatherAttributes parity (`key=value;...`,
    FeatureDataset.scala:259-274 toGff3). Single-file saves start with
    the `##gff-version 3.2.1` pragma (GFF3HeaderWriter, wired at
    FeatureDataset.scala:806-812 — header only when asSingleFile)."""
    write_lines(gff3_lines(gf.df), path, single_file, header_lines=[GFF3_HEADER])


def gff3_lines(df: DataFrame, keep=()) -> DataFrame:
    """FEATURE rows → GFF3 lines (column ``value``, after ``keep``)."""
    attr = F.array_join(
        F.transform(
            _gather_attributes(),
            lambda x: F.concat(x["k"], F.lit("="), x["v"]),
        ),
        ";",
    )
    return _conform(df, keep).select(
        *keep,
        F.concat_ws(
            "\t",
            F.col("referenceName"),
            F.coalesce(F.col("source"), F.lit(".")),
            F.coalesce(F.col("featureType"), F.lit(".")),
            (F.col("start") + 1).cast("string"),
            F.col("end").cast("string"),
            F.coalesce(F.col("score").cast("string"), F.lit(".")),
            _strand_out(F.col("strand")),
            F.coalesce(F.col("phase").cast("string"), F.lit(".")),
            attr,
        ).alias("value"),
    )


# --- IntervalList ---------------------------------------------------------
def load_interval_list(spark: SparkSession, path: str) -> GenomicFrame:
    """Picard interval_list: @-header (SAM dict) + 5 columns, 1-based
    closed (reference: IntervalListParser)."""
    raw = spark.read.text(path)
    lines = raw.where(~F.col("value").startswith("@") & (F.length(F.trim("value")) > 0))
    t = F.split(F.col("value"), "\t")
    df = lines.select(
        F.try_element_at(t, F.lit(1)).alias("referenceName"),
        (F.try_element_at(t, F.lit(2)).try_cast("long") - 1).alias("start"),
        F.try_element_at(t, F.lit(3)).try_cast("long").alias("end"),
        _strand(F.try_element_at(t, F.lit(4))).alias("strand"),
        F.try_element_at(t, F.lit(5)).alias("name"),
    )
    # header → sequence dictionary (driver-side; header is small).
    # Stream the file heads on the driver when local — O(header bytes),
    # not a distributed filter over the whole input (same treatment as
    # the SAM/VCF header reads)
    from adam_spark.core.metadata import Reference, SequenceDictionary
    from adam_spark.sources.sam import _header_lines_driver

    head = _header_lines_driver(path)
    if head is not None:
        hdr = [h for h in head if h.startswith("@SQ")]
    else:
        hdr = [
            r["value"]
            for r in raw.where(F.col("value").startswith("@SQ")).collect()
        ]
    refs = []
    for line in hdr:
        fields = dict(
            kv.split(":", 1) for kv in line.split("\t")[1:] if ":" in kv
        )
        if "SN" in fields:
            refs.append(
                Reference(name=fields["SN"], length=int(fields["LN"]) if "LN" in fields else None)
            )
    meta = GenomicMetadata(references=SequenceDictionary(refs), kind="feature")
    return GenomicFrame(_conform(df), meta)


def save_interval_list(gf: GenomicFrame, path: str, single_file: bool = True) -> None:
    header_lines = [
        "@HD\tVN:1.6\tSO:coordinate",
        *(
            f"@SQ\tSN:{r.name}\tLN:{r.length}"
            for r in gf.meta.references.references
            if r.length is not None
        ),
    ]
    df = _conform(gf.df).select(
        F.concat_ws(
            "\t",
            F.col("referenceName"),
            (F.col("start") + 1).cast("string"),
            F.col("end").cast("string"),
            _strand_out(F.col("strand")),
            _name_of(),
        ).alias("value")
    )
    write_lines(df, path, True, header_lines=header_lines)


def save_ucsc_bed(
    gf: GenomicFrame,
    path: str,
    minimum_score: float,
    maximum_score: float,
    missing_value: int = 0,
    single_file: bool = False,
) -> None:
    """FeatureDataset.saveAsUcscBed (:251-270): BED with scores
    interpolated to integers in [0, 1000]."""
    save_bed(
        gf,
        path,
        single_file=single_file,
        minimum_score=minimum_score,
        maximum_score=maximum_score,
        missing_value=missing_value,
    )
