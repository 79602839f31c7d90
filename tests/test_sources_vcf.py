"""VCF load/save tests mirroring the reference's VariantContextConverter
behaviors (multiallelic splitting, GT/AD/DP/GQ/PL parsing, filters,
header round-trip)."""

import os

import pytest

from adam_spark.sources import vcf as vcf_io

VCF = """##fileformat=VCFv4.3
##INFO=<ID=DP,Number=1,Type=Integer,Description="Depth">
##INFO=<ID=AF,Number=A,Type=Float,Description="Allele freq">
##INFO=<ID=DB,Number=0,Type=Flag,Description="dbSNP">
##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">
##FORMAT=<ID=AD,Number=R,Type=Integer,Description="Depths">
##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Depth">
##FORMAT=<ID=GQ,Number=1,Type=Integer,Description="GQ">
##FORMAT=<ID=PL,Number=G,Type=Integer,Description="PL">
##contig=<ID=chr1,length=248956422>
##contig=<ID=chr2,length=242193529>
#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tNA001\tNA002
chr1\t100\trs1\tA\tG\t50.5\tPASS\tDP=30;AF=0.5;DB\tGT:AD:DP:GQ:PL\t0/1:12,18:30:99:450,0,400\t0|0:20,0:20:60:0,60,600
chr1\t200\t.\tC\tT,G\t10\tq10;s50\tDP=40;AF=0.25,0.1\tGT:AD:DP:GQ\t1/2:10,20,10:40:30\t./.:.:.:.
chr2\t300\t.\tTTA\tT\t.\t.\tDP=15\tGT:AD:DP:GQ\t1|1:1,14:15:45\t0/0:15,0:15:50
"""


@pytest.fixture()
def vcf_path(tmp_path):
    f = tmp_path / "test.vcf"
    f.write_text(VCF)
    return str(f)


def test_header_metadata(spark, vcf_path):
    gf = vcf_io.load_vcf(spark, vcf_path)
    assert [r.name for r in gf.meta.references.references] == ["chr1", "chr2"]
    assert gf.meta.references["chr1"].length == 248956422
    assert [s.id for s in gf.meta.samples] == ["NA001", "NA002"]
    assert any(h.startswith("##INFO=<ID=DP") for h in gf.meta.header_lines)


def test_other_header_lines_collapse_per_key_first_wins(spark, tmp_path):
    """Repeated same-key "other" header lines collapse to ONE per key,
    FIRST in file order winning — not a shortcut: the reference
    extracts other lines through htsjdk 2.19's per-KEY metadata map
    (VariantContextConverter.headerLines:271-276,
    header.getOtherHeaderLines) before cleanAndMixInSupportedLines's
    verbatim pass-through, and the byte-golden sorted.vcf pins it
    (random.vcf has THREE ##GATKCommandLine lines; the golden keeps
    exactly the first, CombineVariants)."""
    f = tmp_path / "alts.vcf"
    f.write_text(
        "##fileformat=VCFv4.2\n"
        "##ALT=<ID=DEL,Description=\"Deletion\">\n"
        "##ALT=<ID=DUP,Description=\"Duplication\">\n"
        "##GATKCommandLine=<ID=HaplotypeCaller,Version=3.5>\n"
        "##GATKCommandLine=<ID=CombineGVCFs,Version=3.5>\n"
        "##contig=<ID=chr1,length=1000>\n"
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tNA001\tNA002\n"
        "chr1\t100\t.\tA\t<DEL>\t.\tPASS\tEND=200\tGT\t0/1\t0/0\n"
    )
    gf = vcf_io.load_vcf(spark, str(f))
    hl = gf.meta.header_lines
    assert [h for h in hl if h.startswith("##ALT=")] == [
        '##ALT=<ID=DEL,Description="Deletion">'
    ]
    assert [h for h in hl if h.startswith("##GATKCommandLine=")] == [
        "##GATKCommandLine=<ID=HaplotypeCaller,Version=3.5>"
    ]


def test_sites_and_multiallelic_split(spark, vcf_path):
    gf = vcf_io.load_vcf(spark, vcf_path)
    rows = gf.df.orderBy("referenceName", "start", "variant.alternateAllele").collect()
    # 1 + 2 (split) + 1 = 4 context rows
    assert len(rows) == 4
    r1 = rows[0]
    assert r1["start"] == 99 and r1["end"] == 100
    assert r1["variant"]["referenceAllele"] == "A"
    assert r1["variant"]["alternateAllele"] == "G"
    assert r1["variant"]["quality"] == 50.5
    assert r1["variant"]["filtersPassed"] is True
    assert r1["variant"]["splitFromMultiAllelic"] is False
    # INFO DP is NOT a typed annotation field — it stays in the
    # header-typed attributes map; annotation.readDepth comes from INFO
    # AD (absent here), per variantAnnotationFormatFns
    # (VariantContextConverter.scala:680-693 + DefaultHeaderLines)
    assert r1["variant"]["annotation"]["readDepth"] is None
    assert r1["variant"]["annotation"]["attributes"]["DP"] == "30"
    assert r1["variant"]["annotation"]["alleleFrequency"] == 0.5
    assert r1["variant"]["annotation"]["dbSnp"] is True
    assert r1["variant"]["names"] == ["rs1"]
    # multiallelic C→T / C→G
    m = [r for r in rows if r["start"] == 199]
    assert len(m) == 2
    assert {r["variant"]["alternateAllele"] for r in m} == {"T", "G"}
    assert all(r["variant"]["splitFromMultiAllelic"] for r in m)
    assert all(r["variant"]["filtersPassed"] is False for r in m)
    assert m[0]["variant"]["filtersFailed"] == ["q10", "s50"]
    afs = {r["variant"]["alternateAllele"]: r["variant"]["annotation"]["alleleFrequency"] for r in m}
    assert afs == {"T": 0.25, "G": pytest.approx(0.1)}
    # deletion TTA→T spans 3 ref bases
    d = [r for r in rows if r["referenceName"] == "chr2"][0]
    assert d["start"] == 299 and d["end"] == 302
    assert d["variant"]["quality"] is None
    assert d["variant"]["filtersApplied"] is False


def test_genotypes(spark, vcf_path):
    gf = vcf_io.load_vcf_genotypes(spark, vcf_path)
    rows = gf.df.collect()
    assert len(rows) == 8  # 4 context rows × 2 samples
    by = {(r["start"], r["sampleId"], r["variant"]["alternateAllele"]): r for r in rows}
    g = by[(99, "NA001", "G")]
    assert g["alleles"] == ["REF", "ALT"]
    assert g["referenceReadDepth"] == 12 and g["alternateReadDepth"] == 18
    assert g["readDepth"] == 30 and g["genotypeQuality"] == 99
    assert g["phased"] is False
    # PL 450,0,400 through PhredUtils.phredToLogProbability: natural-log
    # success probabilities ln(1-10^(-p/10)); PL 0 → ln(0) = -Inf
    import math

    gls = g["genotypeLikelihoods"]
    assert len(gls) == 3
    assert gls[0] == pytest.approx(-1e-45, rel=1e-3)
    assert math.isinf(gls[1]) and gls[1] < 0
    assert gls[2] == pytest.approx(-1e-40, rel=1e-3)
    g2 = by[(99, "NA002", "G")]
    assert g2["alleles"] == ["REF", "REF"] and g2["phased"] is True
    # multiallelic: sample1 is 1/2 → for alt T (index 1): ALT + OTHER_ALT
    gm = by[(199, "NA001", "T")]
    assert gm["alleles"] == ["ALT", "OTHER_ALT"]
    assert gm["splitFromMultiAllelic"] is True
    assert gm["alternateReadDepth"] == 20
    gm2 = by[(199, "NA001", "G")]
    assert gm2["alleles"] == ["OTHER_ALT", "ALT"]
    assert gm2["alternateReadDepth"] == 10
    # no-call
    nc = by[(199, "NA002", "T")]
    assert nc["alleles"] == ["NO_CALL", "NO_CALL"]
    assert nc["readDepth"] is None
    hom = by[(299, "NA001", "T")]
    assert hom["alleles"] == ["ALT", "ALT"] and hom["phased"] is True


def test_variants_projection(spark, vcf_path):
    gf = vcf_io.load_vcf_variants(spark, vcf_path)
    assert gf.df.count() == 4
    assert gf.df.schema["referenceName"].dataType.typeName() == "string"
    assert gf.kind == "variant"


def test_vcf_roundtrip(spark, vcf_path, tmp_path):
    gf = vcf_io.load_vcf(spark, vcf_path)
    out = os.path.join(str(tmp_path), "out.vcf")
    vcf_io.save_vcf(gf, out)
    back = vcf_io.load_vcf(spark, out)
    assert back.df.count() == 4
    assert [s.id for s in back.meta.samples] == ["NA001", "NA002"]
    assert back.meta.references["chr2"].length == 242193529
    rows = {
        (r["start"], r["variant"]["alternateAllele"]): r for r in back.df.collect()
    }
    r1 = rows[(99, "G")]
    assert r1["variant"]["quality"] == 50.5
    assert r1["variant"]["annotation"]["attributes"]["DP"] == "30"
    g = {g["sampleId"]: g for g in r1["genotypes"]}
    assert g["NA001"]["alleles"] == ["REF", "ALT"]
    assert g["NA001"]["referenceReadDepth"] == 12
    assert g["NA002"]["phased"] is True
    # file-level sanity: sorted body, single file
    files = [f for f in os.listdir(out) if f.startswith("part")]
    assert len(files) == 1
    text = open(os.path.join(out, files[0])).read()
    lines = [l for l in text.splitlines() if not l.startswith("#")]
    assert [l.split("\t")[1] for l in lines] == ["100", "200", "200", "300"]


def test_sites_only_vcf(spark, tmp_path):
    """Sites-only VCF (no FORMAT/sample columns) round-trips."""
    text = (
        "##fileformat=VCFv4.3\n"
        "##contig=<ID=chr1,length=1000>\n"
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
        "chr1\t100\t.\tA\tG\t50\tPASS\tDP=10\n"
        "chr1\t200\t.\tC\tT,G\t30\tPASS\t.\n"
    )
    p = tmp_path / "sites.vcf"
    p.write_text(text)
    gf = vcf_io.load_vcf(spark, str(p))
    rows = gf.df.collect()
    assert len(rows) == 3  # multiallelic split
    assert all(r["genotypes"] is None for r in rows)
    assert gf.meta.samples == []
    out = str(tmp_path / "out.vcf")
    vcf_io.save_vcf(gf, out)
    assert vcf_io.load_vcf(spark, out).df.count() == 3
    assert vcf_io.load_vcf_genotypes(spark, str(p)).df.count() == 0


def test_transcript_effects_ann(spark, tmp_path):
    """INFO ANN → TranscriptEffect structs matched on alternate allele
    (TranscriptEffectConverter.scala:134-233)."""
    ann1 = "T|missense_variant&stop_gained|MODERATE|GENE1|ENSG1|transcript|ENST1|protein_coding|1/3|c.1A>T|p.K1*|10/100|20/200|30/300|42|M1&M2"
    ann2 = "G|synonymous_variant|LOW|GENE2|ENSG2|transcript|ENST2|protein_coding|||||||5|"
    vcf = tmp_path / "ann.vcf"
    vcf.write_text(
        "##fileformat=VCFv4.2\n"
        "##contig=<ID=chr1,length=1000>\n"
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
        f"chr1\t100\t.\tA\tT,G\t50\tPASS\tANN={ann1},{ann2}\n"
    )
    gf = vcf_io.load_vcf(spark, str(vcf))
    rows = {r["variant"]["alternateAllele"]: r["variant"] for r in gf.df.collect()}
    te_t = rows["T"]["annotation"]["transcriptEffects"]
    assert len(te_t) == 1
    te = te_t[0]
    assert te["effects"] == ["missense_variant", "stop_gained"]
    assert te["geneName"] == "GENE1" and te["geneId"] == "ENSG1"
    assert te["featureId"] == "ENST1" and te["biotype"] == "protein_coding"
    assert te["rank"] == 1 and te["total"] == 3
    assert te["transcriptHgvs"] == "c.1A>T" and te["proteinHgvs"] == "p.K1*"
    assert te["cdnaPosition"] == 10 and te["cdnaLength"] == 100
    assert te["cdsPosition"] == 20 and te["cdsLength"] == 200
    assert te["proteinPosition"] == 30 and te["proteinLength"] == 300
    assert te["distance"] == 42
    assert te["messages"] == ["M1", "M2"]
    te_g = rows["G"]["annotation"]["transcriptEffects"]
    assert len(te_g) == 1 and te_g[0]["geneName"] == "GENE2"
    assert te_g[0]["rank"] is None and te_g[0]["messages"] is None
    # ANN consumed, not duplicated into attributes
    assert "ANN" not in (rows["T"]["annotation"]["attributes"] or {})


def test_ann_roundtrip(spark, tmp_path):
    """ANN survives load → save → load (written back from
    transcriptEffects, VariantContextConverter ANN emission)."""
    ann1 = "T|missense_variant|MODERATE|GENE1|ENSG1|transcript|ENST1|protein_coding|1/3|c.1A>T||10/100|20/200|30/300|42|"
    src = tmp_path / "ann_rt.vcf"
    src.write_text(
        "##fileformat=VCFv4.2\n"
        "##contig=<ID=chr1,length=1000>\n"
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
        f"chr1\t100\t.\tA\tT\t50\tPASS\tANN={ann1}\n"
    )
    gf = vcf_io.load_vcf(spark, str(src))
    out = str(tmp_path / "out.vcf")
    vcf_io.save_vcf(gf, out)
    gf2 = vcf_io.load_vcf(spark, out)
    te = gf2.df.collect()[0]["variant"]["annotation"]["transcriptEffects"][0]
    assert te["geneName"] == "GENE1"
    assert te["effects"] == ["missense_variant"]
    assert te["rank"] == 1 and te["total"] == 3
    assert te["cdsPosition"] == 20 and te["cdsLength"] == 200
    assert te["distance"] == 42


def test_load_vcf_from_directory(spark, tmp_path):
    """ADAMContextSuite 'load vcf from a directory': per-file headers
    collapse (no duplicate contigs), bodies union."""
    d = tmp_path / "vcfs"
    d.mkdir()
    hdr = ("##fileformat=VCFv4.3\n##contig=<ID=chr1,length=1000>\n"
           "##contig=<ID=chr2,length=2000>\n"
           "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tNA1\n")
    (d / "a.vcf").write_text(hdr + "chr1\t100\t.\tA\tG\t50\tPASS\t.\tGT\t0/1\n")
    (d / "b.vcf").write_text(hdr + "chr2\t300\t.\tC\tT\t10\tPASS\t.\tGT\t1/1\n")
    gf = vcf_io.load_vcf(spark, str(d))
    assert gf.df.count() == 2
    assert [r.name for r in gf.meta.references.references] == ["chr1", "chr2"]
    assert {r["referenceName"] for r in gf.df.collect()} == {"chr1", "chr2"}


def test_gvcf_non_ref_alleles(spark, tmp_path):
    """gVCF reference model (VariantContextConverter.scala:360-417 +
    ADAMContextSuite gvcf cases): a ref-block row whose only ALT is
    <NON_REF> keeps one row with a null alternate; a trailing <NON_REF>
    after a real alt drops from the expansion with its GT indices
    falling through to OTHER_ALT."""
    p = tmp_path / "g.vcf"
    p.write_text(
        "##fileformat=VCFv4.3\n##contig=<ID=chr1,length=1000>\n"
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tNA1\n"
        # pure reference block
        "chr1\t100\t.\tA\t<NON_REF>\t.\t.\t.\tGT:AD:DP\t0/0:20,0:20\n"
        # one real alt + trailing reference-model allele
        "chr1\t200\t.\tC\tT,<NON_REF>\t30\tPASS\t.\tGT:AD:DP\t1/2:2,8,5:15\n"
    )
    gf = vcf_io.load_vcf(spark, str(p))
    rows = sorted(gf.df.collect(), key=lambda r: r["start"])
    assert len(rows) == 2  # no row materializes for the trailing NON_REF
    block, snp = rows
    assert block["variant"]["alternateAllele"] is None
    g0 = block["genotypes"][0]
    assert g0["alleles"] == ["REF", "REF"]
    assert g0["alternateReadDepth"] is None
    assert g0["referenceReadDepth"] == 20
    assert snp["variant"]["alternateAllele"] == "T"
    assert snp["variant"]["splitFromMultiAllelic"] is False
    g1 = snp["genotypes"][0]
    # GT 1/2: index 1 is the real alt, index 2 points at the dropped
    # <NON_REF> → OTHER_ALT
    assert g1["alleles"] == ["ALT", "OTHER_ALT"]
    assert g1["alternateReadDepth"] == 8


def test_vcf_inf_nan_and_dot_info(spark, tmp_path):
    """VariantContextDatasetSuite: '+Inf/-Inf' and 'nan' float values
    parse; INFO '.' is an empty attribute map."""
    p = tmp_path / "w.vcf"
    p.write_text(
        "##fileformat=VCFv4.3\n##contig=<ID=chr1,length=1000>\n"
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
        "chr1\t100\t.\tA\tG\t+Inf\tPASS\t.\n"
        "chr1\t200\t.\tC\tT\tnan\tPASS\tAF=-Inf\n"
    )
    import math

    rows = sorted(vcf_io.load_vcf(spark, str(p)).df.collect(),
                  key=lambda r: r["start"])
    v0, v1 = rows[0]["variant"], rows[1]["variant"]
    assert math.isinf(v0["quality"]) and v0["quality"] > 0
    assert v0["annotation"]["attributes"] == {}
    assert math.isnan(v1["quality"])
    assert math.isinf(v1["annotation"]["alleleFrequency"])


def test_transcript_effect_reference_vectors(spark, tmp_path):
    """TranscriptEffectConverterSuite VALID and VEP_POSITION fixture
    strings (suite :34-38, parse assertions :69-91) through the
    loader's ANN parser."""
    VALID = ("T|upstream_gene_variant||TAS1R3|ENSG00000169962|transcript|"
             "ENST00000339381.5|protein_coding|1/2|c.-485C>T|||4|1/42|453|")
    VEP = ("T|upstream_gene_variant||TAS1R3|ENSG00000169962|transcript|"
           "ENST00000339381.5|protein_coding|1/2|c.-485C>T|||4-5/420|1/42|453|")
    p = tmp_path / "ann.vcf"
    p.write_text(
        "##fileformat=VCFv4.3\n##contig=<ID=chr1,length=1000>\n"
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
        f"chr1\t100\t.\tC\tT\t50\tPASS\tANN={VALID}\n"
        f"chr1\t200\t.\tC\tT\t50\tPASS\tANN={VEP}\n"
    )
    rows = sorted(vcf_io.load_vcf(spark, str(p)).df.collect(),
                  key=lambda r: r["start"])
    te = rows[0]["variant"]["annotation"]["transcriptEffects"][0]
    assert te["alternateAllele"] == "T"
    assert te["effects"] == ["upstream_gene_variant"]
    assert te["geneName"] == "TAS1R3"
    assert te["geneId"] == "ENSG00000169962"
    assert te["featureType"] == "transcript"
    assert te["featureId"] == "ENST00000339381.5"
    assert te["biotype"] == "protein_coding"
    assert te["rank"] == 1 and te["total"] == 2
    assert te["transcriptHgvs"] == "c.-485C>T"
    assert te["proteinHgvs"] is None
    assert te["cdnaPosition"] is None and te["cdnaLength"] is None
    assert te["cdsPosition"] == 4 and te["cdsLength"] is None
    assert te["proteinPosition"] == 1 and te["proteinLength"] == 42
    assert te["distance"] == 453
    assert not te["messages"]
    # Ensembl VEP interval position: '4-5/420' in the coding-sequence
    # slot → position 4 (interval start), length 420
    te2 = rows[1]["variant"]["annotation"]["transcriptEffects"][0]
    assert te2["cdsPosition"] == 4 and te2["cdsLength"] == 420


def test_default_header_lines_on_headerless_save(spark, tmp_path, vcf_path):
    """Frames built without a loaded VCF header save with the
    reference's default INFO/FORMAT declarations
    (DefaultHeaderLines.allHeaderLines, DefaultHeaderLines.scala:34-199);
    loaded headers are MIXED with the defaults at load — a supported ID's
    input declaration is replaced by the canonical default line
    (cleanAndMixInSupportedLines, VariantContextConverter.scala;
    byte-pinned against sorted.vcf in tests/test_reference_goldens.py)."""
    import os

    from adam_spark.core.genomic_frame import GenomicFrame
    from adam_spark.core.metadata import GenomicMetadata

    gf = vcf_io.load_vcf(spark, vcf_path)
    bare = GenomicFrame(gf.df, GenomicMetadata(kind="variant_context"))
    out = str(tmp_path / "bare.vcf")
    vcf_io.save_vcf(bare, out, single_file=True)
    part = [f for f in sorted(os.listdir(out)) if f.startswith("part-")][0]
    text = open(os.path.join(out, part)).read()
    assert '##INFO=<ID=AA,Number=1,Type=String,Description="Ancestral allele">' in text
    assert '##FORMAT=<ID=PL,Number=G,' in text
    # and it still parses back
    assert vcf_io.load_vcf(spark, out).df.count() == gf.df.count()

    out2 = str(tmp_path / "kept.vcf")
    vcf_io.save_vcf(gf, out2, single_file=True)
    part2 = [f for f in sorted(os.listdir(out2)) if f.startswith("part-")][0]
    text2 = open(os.path.join(out2, part2)).read()
    # the loaded header's own DP declaration is replaced by the default
    # (same ID → exactly one line) and the default-only lines mix in
    assert text2.count("##INFO=<ID=DP") == 1
    assert "Ancestral allele" in text2


def test_bgz_splittable_text_scan(spark, tmp_path):
    """A multi-block .bgz VCF scans as parallel byte ranges (the
    shared BGZF split planner) and the split path reproduces the
    whole-file decode exactly — every line once, none lost at range
    boundaries, regardless of where ranges cut blocks."""
    from adam_spark.sources import bgzf
    from adam_spark.sources.vcf import _bgz_text, _vcf_text

    header = "##fileformat=VCFv4.2\n#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
    body = "".join(
        f"chr1\t{i + 1}\t.\tA\tG\t50\tPASS\tDP={i}\n" for i in range(20000)
    )
    text = header + body
    p = tmp_path / "big.vcf.bgz"
    # tiny blocks -> hundreds of blocks -> many ranges even at a small
    # target_split_bytes
    offsets = bgzf.compress_to(str(p), text.encode(), block_size=4096)
    assert len(offsets) > 100

    want = text.rstrip("\n").split("\n")
    got = [r["value"] for r in _bgz_text(spark, [str(p)], target_split_bytes=8192).collect()]
    assert sorted(got) == sorted(want)
    assert len(got) == len(want)

    # the dispatching wrapper takes the same path for a single .bgz
    got2 = [r["value"] for r in _vcf_text(spark, str(p)).collect()]
    assert sorted(got2) == sorted(want)

    # and the full loader parses it — row count == body lines
    gf = vcf_io.load_vcf(spark, str(p))
    assert gf.df.count() == 20000


def test_bgz_mixed_directory_and_plain_gzip_fallback(spark, tmp_path):
    """ADVICE r9: a directory mixing .bgz and uncompressed VCFs must
    not force every file through gunzip (BadGzipFile before), and a
    plain-gzip file merely NAMED .bgz falls back to the whole-file
    gunzip task instead of failing the BGZF block walk."""
    import gzip

    from adam_spark.sources import bgzf
    from adam_spark.sources.vcf import _vcf_text

    header = "##fileformat=VCFv4.2\n#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
    d = tmp_path / "mixed"
    d.mkdir()
    bgzf.compress_to(
        str(d / "a.vcf.bgz"),
        (header + "chr1\t100\t.\tA\tG\t50\tPASS\tDP=1\n").encode(),
    )
    (d / "b.vcf").write_text(header + "chr1\t200\t.\tC\tT\t50\tPASS\tDP=2\n")

    lines = [r["value"] for r in _vcf_text(spark, str(d)).collect()]
    assert sum(1 for ln in lines if ln.startswith("chr1\t100")) == 1
    assert sum(1 for ln in lines if ln.startswith("chr1\t200")) == 1

    gf = vcf_io.load_vcf(spark, str(d))
    assert {r["start"] for r in gf.df.collect()} == {99, 199}

    # plain gzip named .bgz: no BC subfield -> whole-file fallback
    fake = tmp_path / "fake.vcf.bgz"
    fake.write_bytes(
        gzip.compress((header + "chr1\t300\t.\tG\tA\t50\tPASS\tDP=3\n").encode())
    )
    gf2 = vcf_io.load_vcf(spark, str(fake))
    assert [r["start"] for r in gf2.df.collect()] == [299]


def test_bgz_splittable_adversarial_boundaries(spark, tmp_path):
    """Split-ownership edges of the BGZF text scan: ranges SMALLER than
    one block (empty ranges own nothing), one line spanning dozens of
    blocks (interior ranges defer to the owner's forward read), and a
    file with no trailing newline (last line still owned exactly
    once)."""
    from adam_spark.sources import bgzf
    from adam_spark.sources.vcf import _bgz_text

    text = "".join(f"line{i}\n" for i in range(5000))
    p1 = tmp_path / "tiny.bgz"
    bgzf.compress_to(str(p1), text.encode(), block_size=512)
    got = sorted(
        r["value"] for r in _bgz_text(spark, [str(p1)], target_split_bytes=300).collect()
    )
    assert got == sorted(text.rstrip("\n").split("\n"))

    text2 = "start\n" + ("X" * 500_000) + "\nend\n"
    p2 = tmp_path / "giant.bgz"
    bgzf.compress_to(str(p2), text2.encode(), block_size=1024)
    got2 = sorted(
        r["value"] for r in _bgz_text(spark, [str(p2)], target_split_bytes=2048).collect()
    )
    assert got2 == sorted(text2.rstrip("\n").split("\n"))

    p3 = tmp_path / "nonl.bgz"
    bgzf.compress_to(str(p3), b"a\nb\nc", block_size=2)
    got3 = sorted(
        r["value"] for r in _bgz_text(spark, [str(p3)], target_split_bytes=1).collect()
    )
    assert got3 == ["a", "b", "c"]


def _strip_split_flag(df):
    """save_vcf's documented deviation (1): split multiallelic rows
    write as separate biallelic lines, so the reload cannot know they
    were split — normalize the flag out for save→load equality."""
    from pyspark.sql import functions as F

    out = df.withColumn(
        "variant", F.col("variant").withField("splitFromMultiAllelic", F.lit(False))
    )
    if "genotypes" in df.columns:
        out = out.withColumn(
            "genotypes",
            F.transform(
                "genotypes",
                lambda g: g.withField("splitFromMultiAllelic", F.lit(False))
                .withField(
                    "variant",
                    g["variant"].withField("splitFromMultiAllelic", F.lit(False)),
                ),
            ),
        )
    return out


@pytest.mark.needs_reference
@pytest.mark.parametrize("name", ["test.vcf", "random.vcf", "small.vcf"])
def test_bcf_save_load_round_trip(spark, tmp_path, name):
    """save_bcf → load_bcf is the identity on variant contexts (modulo
    the split flag, inherited from the shared text renderer): the
    binary typed encoding, dictionary assembly, GT packing and
    missing/EOV sentinels all round-trip on the reference's own VCFs."""
    from adam_spark.sources.bcf import load_bcf, save_bcf

    R = "/root/reference/adam-core/src/test/resources"
    gf = vcf_io.load_vcf(spark, f"{R}/{name}")
    out = str(tmp_path / "out.bcf")
    save_bcf(gf, out)
    a = sorted(map(repr, _strip_split_flag(gf.df).collect()))
    b = sorted(map(repr, _strip_split_flag(load_bcf(spark, out).df).collect()))
    assert a == b


def test_bcf_implicit_dictionary_no_idx():
    """BCF headers WITHOUT IDX= annotations build the implicit string
    dictionary htslib-style: PASS always maps to 0 (wherever — and
    whether — it is declared) and the remaining IDs count up from 1 in
    declaration order. A len(dict)-based assignment silently collides
    and drops IDs when PASS is not the first declared line."""
    from adam_spark.sources.bcf import _dictionaries

    header = "\n".join(
        [
            "##fileformat=VCFv4.3",
            '##FILTER=<ID=q10,Description="low qual">',
            '##FILTER=<ID=s50,Description="low support">',
            '##INFO=<ID=DP,Number=1,Type=Integer,Description="Depth">',
            '##FILTER=<ID=PASS,Description="All filters passed">',
            '##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">',
            "##contig=<ID=chr1>",
            "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO",
        ]
    )
    str_dict, contig_dict = _dictionaries(header)
    assert str_dict == {0: "PASS", 1: "q10", 2: "s50", 3: "DP", 4: "GT"}
    assert contig_dict == {0: "chr1"}


def test_save_bcf_synthesizes_missing_contigs(spark, tmp_path):
    """A frame loaded from a VCF with NO ##contig declarations (so an
    empty sequence dictionary) still saves as BCF: the writer scans the
    body's distinct CHROM names and appends synthesized ##contig lines,
    completing the rid dictionary instead of KeyErroring."""
    from adam_spark.sources.bcf import load_bcf, save_bcf

    txt = (
        "##fileformat=VCFv4.3\n"
        '##INFO=<ID=DP,Number=1,Type=Integer,Description="Depth">\n'
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
        "chr2\t100\t.\tA\tG\t50\tPASS\tDP=3\n"
        "chr1\t200\t.\tC\tT\t9\tPASS\tDP=5\n"
    )
    p = tmp_path / "noctg.vcf"
    p.write_text(txt)
    gf = vcf_io.load_vcf(spark, str(p))
    assert len(gf.meta.references.references) == 0
    out = str(tmp_path / "noctg.bcf")
    save_bcf(gf, out)
    got = sorted(
        (r["referenceName"], r["start"])
        for r in load_bcf(spark, out).df.collect()
    )
    assert got == [("chr1", 199), ("chr2", 99)]


def _range4(gf, n=4):
    """Frame repartitioned into n range partitions on (referenceName,
    start), sorted within — frame order stays the global coordinate
    order (the synthetic rows have unique (ref, start) keys), so the
    zero-shuffle shard writers must reproduce it across n shards."""
    from adam_spark.core.genomic_frame import GenomicFrame

    df = gf.df.repartitionByRange(
        n, "referenceName", "start"
    ).sortWithinPartitions("referenceName", "start")
    return GenomicFrame(df, gf.meta)


def _synth_vcf_text(n_rows):
    lines = [
        "##fileformat=VCFv4.3",
        "##contig=<ID=chr1,length=10000000>",
        "##contig=<ID=chr2,length=10000000>",
        '##INFO=<ID=DP,Number=1,Type=Integer,Description="Depth">',
        '##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">',
        '##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Depth">',
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\ts1",
    ]
    for i in range(n_rows):
        ref = "chr1" if i < n_rows // 2 else "chr2"
        pos = 1 + (i % (n_rows // 2)) * 97
        lines.append(
            f"{ref}\t{pos}\t.\tA\tG\t50\tPASS\tDP={i % 90}\tGT:DP\t0/1:{i % 60}"
        )
    return "\n".join(lines) + "\n"


def test_save_bcf_distributed_shards(spark, tmp_path):
    """save_bcf encodes + BGZF-compresses in MULTIPLE tasks (the r10
    coalesce(1) is gone): with 4 range partitions pinned, the writer
    reports 4 shards, the concatenated members parse as ONE BCF stream,
    and the record order is the global frame order (orderBy across
    shard boundaries, not just within them)."""
    from adam_spark.sources.bcf import bcf_records_to_vcf_lines, load_bcf, save_bcf

    p = tmp_path / "big.vcf"
    p.write_text(_synth_vcf_text(2000))
    gf = _range4(vcf_io.load_vcf(spark, str(p)))
    out = str(tmp_path / "big.bcf")
    stats = save_bcf(gf, out)
    assert stats["shards"] == 4
    # exact file order, decoded without Spark: matches the input's
    # line order (the range-partitioned frame's (ref, start) order ==
    # the synthetic file's line order)
    decoded = bcf_records_to_vcf_lines(open(out, "rb").read())
    got = [(ln.split("\t")[0], int(ln.split("\t")[1])) for ln in decoded]
    want = [
        (ln.split("\t")[0], int(ln.split("\t")[1]))
        for ln in _synth_vcf_text(2000).splitlines()
        if not ln.startswith("#")
    ]
    assert got == want
    assert load_bcf(spark, out).df.count() == 2000


def test_save_vcf_bgzf_distributed_shards(spark, tmp_path):
    """save_vcf_bgzf compresses shards on EXECUTORS (the r10 version
    joined every part on the driver): 4 shards are reported, the
    concatenated BGZF members decompress to the full corpus, and the
    prefix-summed .tbi addresses records across shard boundaries."""
    import gzip

    from adam_spark.sources.vcf import load_indexed_vcf, save_vcf_bgzf

    p = tmp_path / "big.vcf"
    p.write_text(_synth_vcf_text(3000))
    gf = _range4(vcf_io.load_vcf(spark, str(p)))
    gz = str(tmp_path / "big.vcf.gz")
    stats = save_vcf_bgzf(gf, gz)
    assert stats["shards"] == 5  # 1 header partition + 4 body shards
    with gzip.open(gz, "rt") as f:
        body = [ln for ln in f if not ln.startswith("#")]
    assert len(body) == 3000
    regions = [("chr1", 40_000, 90_000), ("chr2", 10, 25_000)]
    got = load_indexed_vcf(spark, gz, regions)
    want = gf.filter_by_overlapping_regions(regions)
    a = sorted((r["referenceName"], r["start"]) for r in got.df.collect())
    b = sorted((r["referenceName"], r["start"]) for r in want.df.collect())
    assert a == b and len(a) > 0


def test_variant_frame_saves_to_vcf_gz(spark, tmp_path, vcf_path):
    """kind='variant' (sites-only) frames save through the
    .vcf.gz/.vcf.bgz branch too — r10 regression: the wrap to variant
    contexts was applied to the .vcf and .bcf branches only, so
    transform_variants in.vcf out.vcf.gz crashed in _render_vcf."""
    import gzip

    from adam_spark.context import load_variants, save

    gf = load_variants(spark, vcf_path)
    gz = str(tmp_path / "sites.vcf.gz")
    save(gf, gz)
    with gzip.open(gz, "rt") as f:
        body = [ln for ln in f if not ln.startswith("#")]
    # 3 input lines, one multiallelic (T,G) split per-alt → 4 sites
    assert len(body) == 4
    assert all(len(ln.rstrip("\n").split("\t")) == 8 for ln in body)


def test_bcf_csi_sidecar_and_indexed_load(spark, tmp_path):
    """save_bcf writes a .csi sidecar; load_indexed_bcf reads only the
    index-addressed chunks and returns exactly the overlap-filtered
    records (the load_indexed_vcf contract, on the binary records)."""
    import os

    from adam_spark.sources.bcf import load_indexed_bcf, save_bcf

    p = tmp_path / "big.vcf"
    p.write_text(_synth_vcf_text(3000))
    gf = _range4(vcf_io.load_vcf(spark, str(p)))
    out = str(tmp_path / "big.bcf")
    save_bcf(gf, out)
    assert os.path.exists(out + ".csi")
    regions = [("chr1", 40_000, 90_000), ("chr2", 10, 25_000)]
    got = load_indexed_bcf(spark, out, regions)
    want = gf.filter_by_overlapping_regions(regions)
    a = sorted((r["referenceName"], r["start"]) for r in got.df.collect())
    b = sorted((r["referenceName"], r["start"]) for r in want.df.collect())
    assert a == b and len(a) > 0
    # samples/genotypes survive the indexed path
    row = got.df.limit(1).collect()[0]
    assert row["genotypes"][0]["sampleId"] == "s1"


def test_bcf_csi_narrows_the_scan(tmp_path, spark):
    """The .csi chunk query for a small region addresses (and decodes)
    a small fraction of the file's records — the point of the index."""
    from adam_spark.sources.bcf import (
        _bcf_header_driver_side,
        _dictionaries,
        _flag_keys,
        save_bcf,
    )
    from adam_spark.sources.bcf import _records_from_buffer
    from adam_spark.sources.bgzf import read_chunk
    from adam_spark.sources.binned_index import read_csi

    p = tmp_path / "big.vcf"
    p.write_text(_synth_vcf_text(3000))
    gf = vcf_io.load_vcf(spark, str(p))
    out = str(tmp_path / "big.bcf")
    save_bcf(gf, out)
    header_text, *_ = _bcf_header_driver_side(out)
    str_dict, contig_dict = _dictionaries(header_text)
    idx = read_csi(out + ".csi")
    small = idx.chunks_for(0, 1000, 3000)
    decoded = [
        ln
        for vb, ve in small
        for ln in _records_from_buffer(
            read_chunk(out, vb, ve), 0,
            len(read_chunk(out, vb, ve)),
            str_dict, contig_dict, _flag_keys(header_text),
        )
    ]
    # chr1 rows at pos 1+97k overlapping [1000,3000): k in 11..30 → 20
    hits = [ln for ln in decoded if ln.startswith("chr1\t")
            and 1000 <= int(ln.split("\t")[1]) - 1 < 3000]
    assert len(hits) == 20
    # the coarse bin cover decodes far less than the 3000-record file
    assert len(decoded) < 3000 / 4, len(decoded)


def test_bcf_splittable_scan_with_csi(spark, tmp_path):
    """With a .csi present, load_bcf decodes in MULTIPLE byte-range
    tasks and returns rows identical to the unsplit decode."""
    import os

    from adam_spark.sources.bcf import load_bcf, save_bcf

    p = tmp_path / "big.vcf"
    p.write_text(_synth_vcf_text(2000))
    gf = _range4(vcf_io.load_vcf(spark, str(p)))
    out = str(tmp_path / "big.bcf")
    save_bcf(gf, out)
    split = load_bcf(spark, out)
    a = sorted(map(repr, split.df.collect()))
    os.rename(out + ".csi", out + ".csi.bak")  # force the one-task path
    single = load_bcf(spark, out)
    b = sorted(map(repr, single.df.collect()))
    assert a == b and len(a) == 2000


def test_single_file_save_renders_distributed(spark, tmp_path):
    """save_vcf(single_file=True) renders in MULTIPLE tasks (the former
    coalesce(1) single-task render is gone): the body repartitioned
    into 4 writes 4 shards, and the FileMerger concat is byte-identical
    to the same frame saved from one partition."""
    import glob

    from adam_spark.core.genomic_frame import GenomicFrame
    from adam_spark.sources.merge import write_text_single_file
    from adam_spark.sources.vcf import _render_vcf

    p = tmp_path / "big.vcf"
    p.write_text(_synth_vcf_text(2000))
    gf = vcf_io.load_vcf(spark, str(p))
    header, body = _render_vcf(gf)
    one = str(tmp_path / "one.vcf")
    many = str(tmp_path / "many.vcf")
    s1 = write_text_single_file(body.coalesce(1), one, header_lines=header)
    # repartitionByRange on the frame-order key keeps row order across
    # the 4 shards, so the concat must be byte-identical
    s4 = write_text_single_file(
        body.repartitionByRange(4, "__k2"), many, header_lines=header
    )
    assert s1["shards"] == 1 and s4["shards"] == 4
    a = open(glob.glob(one + "/part-*")[0]).read()
    b = open(glob.glob(many + "/part-*")[0]).read()
    assert a == b and a.count("\n") == 2000 + len(header)
