"""VariantContextConverterSuite breadth pass (round 9): the per-allele
attribute-type matrix in the adam->htsjdk (save) direction, ±Inf/NaN
float semantics on the reference's real fixture files, allele-count
vectors, and the FORMAT Number=G/Float type cells left after the r8
math core (reference adam-core/src/test/.../converters/
VariantContextConverterSuite.scala + VariantContextDatasetSuite.scala,
cited per test)."""

import math
import os

import pytest
from pyspark.sql import functions as F

from adam_spark.sources import vcf as vcf_io

R = "/root/reference/adam-core/src/test/resources"

CONTIG = "##fileformat=VCFv4.3\n##contig=<ID=chr1,length=1000000>\n"


def _save_text(gf, tmp_path, name="out.vcf"):
    out = str(tmp_path / name)
    vcf_io.save_vcf(gf, out, single_file=True)
    part = [f for f in sorted(os.listdir(out)) if f.startswith("part-")][0]
    return open(os.path.join(out, part)).read()


def _info_of(text, pos):
    (line,) = [
        l for l in text.splitlines()
        if not l.startswith("#") and l.split("\t")[1] == str(pos)
    ]
    return line.split("\t")[7]


def _fmt_cell(text, pos):
    (line,) = [
        l for l in text.splitlines()
        if not l.startswith("#") and l.split("\t")[1] == str(pos)
    ]
    p = line.split("\t")
    return dict(zip(p[8].split(":"), p[9].split(":")))


# --- ±Inf / NaN on the reference's real fixtures ----------------------------
# VariantContextDatasetSuite "support VCFs with +Inf/-Inf float values"
# (:195-207) and "support VCFs with `nan` instead of `NaN` float values"
# (:209-220); string attributes re-render via Float.toString
# (toFloat, VariantContextConverter.scala:1332-1345).


@pytest.mark.needs_reference
def test_inf_float_fixture_vectors(spark):
    v = vcf_io.load_vcf_variants(spark, f"{R}/inf_float_values.vcf").df
    row = v.where(F.col("start") == 14396).first()
    assert row["annotation"]["alleleFrequency"] == math.inf
    assert row["annotation"]["attributes"]["BaseQRankSum"] == "-Infinity"

    g = vcf_io.load_vcf_genotypes(spark, f"{R}/inf_float_values.vcf").df
    grow = g.where(F.col("start") == 14396).first()
    assert grow["variantCallingAnnotations"]["rmsMapQ"] == -math.inf
    assert grow["variantCallingAnnotations"]["attributes"]["float"] == "Infinity"


@pytest.mark.needs_reference
def test_nan_float_fixture_vectors(spark):
    v = vcf_io.load_vcf_variants(spark, f"{R}/nan_float_values.vcf").df
    row = v.where(F.col("start") == 14396).first()
    assert math.isnan(row["annotation"]["alleleFrequency"])
    assert row["annotation"]["attributes"]["BaseQRankSum"] == "NaN"
    assert row["annotation"]["attributes"]["ClippingRankSum"] == "NaN"

    g = vcf_io.load_vcf_genotypes(spark, f"{R}/nan_float_values.vcf").df
    grow = g.where(F.col("start") == 14396).first()
    assert math.isnan(grow["variantCallingAnnotations"]["rmsMapQ"])
    assert grow["variantCallingAnnotations"]["attributes"]["float"] == "NaN"


@pytest.mark.needs_reference
def test_bad_header_fixture_loads_leniently(spark):
    """VariantContextDatasetSuite 'transform a vcf file with bad
    header' (:162-173): 7 rows survive, no phase sets."""
    gf = vcf_io.load_vcf(spark, f"{R}/invalid/truth_small_variants.vcf")
    assert gf.df.count() == 7
    assert (
        gf.df.select(F.explode("genotypes").alias("g"))
        .where(F.col("g.phaseSetId").isNotNull())
        .count()
        == 0
    )


def test_allele_frequency_inf_literals(spark, tmp_path):
    """'single allele frequency is +Inf/-Inf going htsjdk->adam'
    (:1522-1535): the htsjdk '+Inf'/'-Inf' literal forms parse into the
    typed alleleFrequency."""
    p = tmp_path / "af.vcf"
    p.write_text(
        CONTIG
        + "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
        + "chr1\t100\t.\tA\tG\t50\tPASS\tAF=+Inf\n"
        + "chr1\t200\t.\tA\tG\t50\tPASS\tAF=-Inf\n"
    )
    rows = {
        r["start"]: r["annotation"]["alleleFrequency"]
        for r in vcf_io.load_vcf_variants(spark, str(p)).df.collect()
    }
    assert rows[99] == math.inf
    assert rows[199] == -math.inf


# --- allele count (:1485-1507) ----------------------------------------------


def test_allele_count_vectors(spark, tmp_path):
    """'no/single/multiple allele counts going htsjdk->adam': AC is
    Number=A — the split gives each row its own alt's count."""
    p = tmp_path / "ac.vcf"
    p.write_text(
        CONTIG
        + "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
        + "chr1\t100\t.\tA\tG\t50\tPASS\tAC=10\n"
        + "chr1\t200\t.\tA\tG,T,C\t50\tPASS\tAC=10,13,16\n"
        + "chr1\t300\t.\tA\tG\t50\tPASS\t.\n"
    )
    rows = vcf_io.load_vcf_variants(spark, str(p)).df.collect()
    single = [r for r in rows if r["start"] == 99]
    assert single[0]["annotation"]["alleleCount"] == 10
    multi = {
        r["alternateAllele"]: r["annotation"]["alleleCount"]
        for r in rows
        if r["start"] == 199
    }
    assert multi == {"G": 10, "T": 13, "C": 16}
    none = [r for r in rows if r["start"] == 299]
    assert none[0]["annotation"]["alleleCount"] is None


# --- INFO attribute matrix adam->htsjdk (:1929-2101) ------------------------


def test_info_attribute_matrix_save_direction(spark, tmp_path):
    """'VCF INFO attribute Number=0 Flag / 1 / 4 / A / R Integer /
    R String adam->htsjdk': attribute values re-emit verbatim into
    INFO (Flag as a bare key), and the full text round-trips."""
    hdr = (
        CONTIG
        + '##INFO=<ID=FLAG,Number=0,Type=Flag,Description="">\n'
        + '##INFO=<ID=ONE_INT,Number=1,Type=Integer,Description="">\n'
        + '##INFO=<ID=FOUR_INTS,Number=4,Type=Integer,Description="">\n'
        + '##INFO=<ID=A_INT,Number=A,Type=Integer,Description="">\n'
        + '##INFO=<ID=R_INT,Number=R,Type=Integer,Description="">\n'
        + '##INFO=<ID=R_STRING,Number=R,Type=String,Description="">\n'
        + "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
    )
    p = tmp_path / "im.vcf"
    p.write_text(
        hdr
        + "chr1\t100\t.\tA\tG\t50\tPASS\t"
        + "FLAG;ONE_INT=42;FOUR_INTS=5,10,15,20;A_INT=42;R_INT=5,10;R_STRING=foo,bar\n"
    )
    gf = vcf_io.load_vcf(spark, str(p))
    info = set(_info_of(_save_text(gf, tmp_path), 100).split(";"))
    assert "FLAG" in info
    assert "ONE_INT=42" in info
    assert "FOUR_INTS=5,10,15,20" in info
    assert "A_INT=42" in info
    assert "R_INT=5,10" in info
    assert "R_STRING=foo,bar" in info


def test_info_number_g_unsupported(spark, tmp_path):
    """'VCF INFO attribute Number=G Type=String htsjdk->adam not
    supported' (:2236-2251): a Number=G INFO key drops on load (the
    lenient arm of the reference's strict IllegalArgumentException)."""
    hdr = (
        CONTIG
        + '##INFO=<ID=STRING_G,Number=G,Type=String,Description="">\n'
        + "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
    )
    p = tmp_path / "g.vcf"
    p.write_text(hdr + "chr1\t100\t.\tA\tG\t50\tPASS\tSTRING_G=foo,bar\n")
    (row,) = vcf_io.load_vcf_variants(spark, str(p)).df.collect()
    assert "STRING_G" not in row["annotation"]["attributes"]


# --- FORMAT attribute matrix adam->htsjdk (:2252-2410) ----------------------


def test_format_attribute_matrix_save_direction(spark, tmp_path):
    """'VCF FORMAT attribute Number=1/4/A/R Integer + R String
    adam->htsjdk': genotype attributes re-emit in the sample cell and
    the text round-trips."""
    hdr = (
        CONTIG
        + '##FORMAT=<ID=GT,Number=1,Type=String,Description="">\n'
        + '##FORMAT=<ID=ONE_INT,Number=1,Type=Integer,Description="">\n'
        + '##FORMAT=<ID=FOUR_INTS,Number=4,Type=Integer,Description="">\n'
        + '##FORMAT=<ID=A_INT,Number=A,Type=Integer,Description="">\n'
        + '##FORMAT=<ID=R_INT,Number=R,Type=Integer,Description="">\n'
        + '##FORMAT=<ID=R_STRING,Number=R,Type=String,Description="">\n'
        + "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tNA12878\n"
    )
    p = tmp_path / "fm.vcf"
    p.write_text(
        hdr
        + "chr1\t100\t.\tA\tG\t50\tPASS\t.\t"
        + "GT:ONE_INT:FOUR_INTS:A_INT:R_INT:R_STRING\t"
        + "0/1:42:5,10,15,20:42:5,10:foo,bar\n"
    )
    gf = vcf_io.load_vcf(spark, str(p))
    cell = _fmt_cell(_save_text(gf, tmp_path), 100)
    assert cell["ONE_INT"] == "42"
    assert cell["FOUR_INTS"] == "5,10,15,20"
    assert cell["A_INT"] == "42"
    assert cell["R_INT"] == "5,10"
    assert cell["R_STRING"] == "foo,bar"


def test_format_flag_unsupported(spark, tmp_path):
    """'VCF FORMAT attribute Number=0 Type=Flag htsjdk->adam is not
    supported' (:2411-2431): FORMAT-level Flags drop on load."""
    hdr = (
        CONTIG
        + '##FORMAT=<ID=GT,Number=1,Type=String,Description="">\n'
        + '##FORMAT=<ID=FLAG,Number=0,Type=Flag,Description="">\n'
        + "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tNA12878\n"
    )
    p = tmp_path / "ff.vcf"
    p.write_text(hdr + "chr1\t100\t.\tA\tG\t50\tPASS\t.\tGT:FLAG\t0/1:1\n")
    (row,) = vcf_io.load_vcf_genotypes(spark, str(p)).df.collect()
    assert "FLAG" not in row["variantCallingAnnotations"]["attributes"]


def test_format_four_floats_vector(spark, tmp_path):
    """'VCF FORMAT attribute Number=4 Type=Float htsjdk->adam'
    (:2478-2500): '5.0,10.1,15.2,20.3' survives with Float.toString
    rendering element-wise."""
    hdr = (
        CONTIG
        + '##FORMAT=<ID=GT,Number=1,Type=String,Description="">\n'
        + '##FORMAT=<ID=FOUR_FLOATS,Number=4,Type=Float,Description="">\n'
        + "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tNA12878\n"
    )
    p = tmp_path / "f4.vcf"
    p.write_text(
        hdr + "chr1\t100\t.\tA\tG\t50\tPASS\t.\tGT:FOUR_FLOATS\t0/1:5.0,10.1,15.2,20.3\n"
    )
    (row,) = vcf_io.load_vcf_genotypes(spark, str(p)).df.collect()
    attrs = row["variantCallingAnnotations"]["attributes"]
    assert attrs["FOUR_FLOATS"] == "5.0,10.1,15.2,20.3"


def test_info_four_floats_vector(spark, tmp_path):
    """'VCF INFO attribute Number=4 Type=Float htsjdk->adam'
    (:2160-2178): same rendering at INFO level; integer-form input
    re-renders through Float.toString ('5'→'5.0')."""
    hdr = (
        CONTIG
        + '##INFO=<ID=FOUR_FLOATS,Number=4,Type=Float,Description="">\n'
        + "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
    )
    p = tmp_path / "i4.vcf"
    p.write_text(hdr + "chr1\t100\t.\tA\tG\t50\tPASS\tFOUR_FLOATS=5,10.1,15.2,20.3\n")
    (row,) = vcf_io.load_vcf_variants(spark, str(p)).df.collect()
    assert row["annotation"]["attributes"]["FOUR_FLOATS"] == "5.0,10.1,15.2,20.3"


def test_format_g_string_biallelic_vector(spark, tmp_path):
    """'VCF FORMAT attribute Number=G Type=String htsjdk->adam'
    (:2570-2592): on a biallelic row the diploid G indices are (0,1,2)
    — the whole 'foo,bar,baz' survives."""
    hdr = (
        CONTIG
        + '##FORMAT=<ID=GT,Number=1,Type=String,Description="">\n'
        + '##FORMAT=<ID=STRING_G,Number=G,Type=String,Description="">\n'
        + "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tNA12878\n"
    )
    p = tmp_path / "gs.vcf"
    p.write_text(hdr + "chr1\t100\t.\tA\tG\t50\tPASS\t.\tGT:STRING_G\t0/1:foo,bar,baz\n")
    (row,) = vcf_io.load_vcf_genotypes(spark, str(p)).df.collect()
    assert row["variantCallingAnnotations"]["attributes"]["STRING_G"] == "foo,bar,baz"


def test_format_r_short_array_goes_empty(spark, tmp_path):
    """filterArray all-or-nothing (VariantContextConverter.scala:
    1400-1409): a Number=R FORMAT value too short for this row's alt
    index lands as an EMPTY attribute value, never a partial subset
    (the GIAB malformed-ADALL shape, VariantContextDatasetSuite
    'read a vcf file with multi-allelic variants to split')."""
    hdr = (
        CONTIG
        + '##FORMAT=<ID=GT,Number=1,Type=String,Description="">\n'
        + '##FORMAT=<ID=PERR,Number=R,Type=Integer,Description="">\n'
        + "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tNA12878\n"
    )
    p = tmp_path / "rs.vcf"
    # 3 alts but only 3 R-values (needs 4): alts G,T keep ref+own, C empty
    p.write_text(hdr + "chr1\t100\t.\tA\tG,T,C\t50\tPASS\t.\tGT:PERR\t1/2:7,8,9\n")
    rows = vcf_io.load_vcf_genotypes(spark, str(p)).df.collect()
    attrs = {
        r["variant"]["alternateAllele"]: r["variantCallingAnnotations"]["attributes"].get("PERR")
        for r in rows
    }
    assert attrs == {"G": "7,8", "T": "7,9", "C": ""}


# --- somatic save direction --------------------------------------------------


def test_somatic_save_direction(spark, tmp_path):
    """'somatic going htsjdk->adam' (:1479) with the emit side: a
    somatic=true annotation re-emits the bare SOMATIC flag; false emits
    nothing."""
    p = tmp_path / "so.vcf"
    p.write_text(
        CONTIG
        + "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
        + "chr1\t100\t.\tA\tG\t50\tPASS\tSOMATIC\n"
        + "chr1\t200\t.\tA\tG\t50\tPASS\t.\n"
    )
    gf = vcf_io.load_vcf(spark, str(p))
    text = _save_text(gf, tmp_path)
    assert "SOMATIC" in _info_of(text, 100).split(";")
    assert "SOMATIC" not in _info_of(text, 200)


def test_genotype_half_depth_raises_on_save(spark, tmp_path):
    """'throw iae if missing one component of gt read depth
    adam->htsjdk' (:853-866): a genotype carrying only one of
    referenceReadDepth/alternateReadDepth fails the save."""
    p = tmp_path / "h.vcf"
    p.write_text(CONTIG + "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tNA12878\n"
                 + "chr1\t100\t.\tA\tG\t50\tPASS\t.\tGT:AD\t0/1:3,6\n")
    gf = vcf_io.load_vcf(spark, str(p))
    broken = gf.df.withColumn(
        "genotypes",
        F.transform(
            F.col("genotypes"),
            lambda g: g.withField("alternateReadDepth", F.lit(None).cast("int")),
        ),
    )
    with pytest.raises(Exception, match="referenceReadDepth"):
        _save_text(vcf_io.GenomicFrame(broken, gf.meta), tmp_path, "h_out.vcf")
