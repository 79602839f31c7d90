"""Golden-pinned runs against the reference's OWN test fixture files
(`/root/reference/adam-core/src/test/resources` — real SAM/VCF/BED/GTF/
GFF3/CRAM files, several of them produced by third-party tools). These
convert shape-parity into byte-parity with samtools/GATK-derived
outputs and stand in for the descoped external-tool interop:

- ``NA12878.sam`` flagstat counts = FlagStatSuite.scala's exact
  samtools-flagstat numbers
- ``artificial.sam`` realignment vs the GATK-produced golden
  ``artificial.realigned.sam`` (RealignIndelsSuite.scala:184-200 pins
  size + read4's name/start/cigar/mapq — GATK's own realigner diverges
  from ADAM on the remaining reads, which is why the reference suite
  pins only read4; we pin the same contract)
- ``bqsr1.sam`` + ``bqsr1.vcf`` observation table vs the GATK-derived
  ``bqsr1-ref.observed`` golden (BaseQualityRecalibrationSuite) —
  exact (total, mismatches) per (readGroup, quality, cycle, dinuc)
- coordinate sort + isSorted save byte-identical to ``ordered.sam`` /
  ``sorted.sam`` (AlignmentDatasetSuite "sorting reads" /
  "write single sam file back")
- load→save→load value round trips on the real ``dvl1.200.{bed,gtf,
  gff3}`` and the Ensembl ``Homo_sapiens.GRCh37.75.trun100.gtf``
  (FeatureDatasetSuite round-trip tests)
- htsjdk-written ``artificial.cram`` decodes field-identical to
  ``artificial.sam`` (reference-based read feature reconstruction)
- the GIAB multi-allelic excerpt splits per
  VariantContextDatasetSuite "read a vcf file with multi-allelic
  variants to split" (17 contexts; malformed Number=R fields go
  all-or-nothing empty per filterArray semantics)

The fixture files are used as DATA ONLY.
"""

import glob

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.needs_reference

R = "/root/reference/adam-core/src/test/resources"


def _load(spark, name):
    from adam_spark.context import load_alignments

    return load_alignments(spark, f"{R}/{name}")


# ---------------------------------------------------------------- flagstat


def test_flagstat_na12878_matches_flagstatsuite(spark):
    """FlagStatSuite.scala 'Standard FlagStat test': the full count
    battery on NA12878.sam (samtools-flagstat parity)."""
    from adam_spark.operators.flagstat import flagstat

    rows = {
        r["qcFailed"]: r.asDict()
        for r in flagstat(_load(spark, "NA12878.sam").df).collect()
    }
    passed, failed = rows[False], rows[True]
    assert passed["total"] == 529 and failed["total"] == 36
    assert passed["duplicatesPrimary"] == 59 and failed["duplicatesPrimary"] == 16
    assert (
        passed["duplicatesPrimaryBothMapped"] == 58
        and failed["duplicatesPrimaryBothMapped"] == 15
    )
    assert (
        passed["duplicatesPrimaryOnlyReadMapped"] == 1
        and failed["duplicatesPrimaryOnlyReadMapped"] == 1
    )
    assert (
        passed["duplicatesPrimaryCrossChromosome"] == 0
        and failed["duplicatesPrimaryCrossChromosome"] == 0
    )
    assert passed["duplicatesSecondary"] == 0 and failed["duplicatesSecondary"] == 0
    assert passed["mapped"] == 529 and failed["mapped"] == 36
    assert passed["paired"] == 529 and failed["paired"] == 36
    assert passed["read1"] == 258 and failed["read1"] == 13
    assert passed["read2"] == 271 and failed["read2"] == 23
    assert passed["properlyPaired"] == 524 and failed["properlyPaired"] == 32
    assert (
        passed["withSelfAndMateMapped"] == 524
        and failed["withSelfAndMateMapped"] == 32
    )
    assert passed["singleton"] == 5 and failed["singleton"] == 4
    assert (
        passed["withMateMappedToDiffChromosome"] == 0
        and failed["withMateMappedToDiffChromosome"] == 0
    )
    assert (
        passed["withMateMappedToDiffChromosomeMapQ5"] == 0
        and failed["withMateMappedToDiffChromosomeMapQ5"] == 0
    )


# ------------------------------------------------------------- realignment


def test_realign_artificial_vs_gatk_golden(spark):
    """RealignIndelsSuite 'checking realigned reads for artificial
    input': same row count as the GATK golden, and read4 matches on
    name/start/cigar/mappingQuality."""
    from adam_spark.operators.realignment import realign_indels

    out = realign_indels(_load(spark, "artificial.sam").df)
    golden = _load(spark, "artificial.realigned.sam").df
    assert out.count() == golden.count() == 10

    cols = ["readName", "start", "cigar", "mappingQuality"]
    mine = sorted(
        tuple(r)
        for r in out.where(F.col("readName") == "read4").select(*cols).collect()
    )
    gold = sorted(
        tuple(r)
        for r in golden.where(F.col("readName") == "read4").select(*cols).collect()
    )
    assert mine == gold
    # the realigned read4 pair is the suite's anchor: one read pulled
    # onto the 10D consensus at start 10, its mate untouched at 120
    assert mine == [
        ("read4", 10, "24M10D36M", 100),
        ("read4", 120, "60M", 90),
    ]


# -------------------------------------------------------------------- bqsr


def test_bqsr_observation_table_vs_gatk_golden(spark):
    """BaseQualityRecalibrationSuite: observation table on bqsr1.sam
    with bqsr1.vcf known sites matches the GATK-derived
    bqsr1-ref.observed golden exactly — all 16,236 (readGroup, quality,
    cycle, dinuc) keys with identical (total, mismatches)."""
    from adam_spark.context import load_variants
    from adam_spark.operators.bqsr import observe_covariates

    reads = _load(spark, "bqsr1.sam")
    snps = load_variants(spark, f"{R}/bqsr1.vcf")
    obs = observe_covariates(reads.df, known_snps=snps.df)

    gold = {}
    with open(f"{R}/bqsr1-ref.observed") as fh:
        for line in fh:
            line = line.strip()
            if not line or line.startswith("ReadGroup"):
                continue
            p = line.split(",")
            gold[(p[0], int(p[1]), int(p[2]), p[3])] = (int(p[4]), int(p[5]))
    assert len(gold) == 16236

    mine = {
        (r["readGroupId"], r["quality"], r["cycle"], r["dinuc"]): (
            r["total"],
            r["mismatches"],
        )
        for r in obs.collect()
    }
    assert set(mine) == set(gold)
    bad = [k for k in gold if mine[k] != gold[k]]
    assert bad == []


# ------------------------------------------------------------------- sorts


@pytest.mark.parametrize(
    "src,gold",
    [("unordered.sam", "ordered.sam"), ("unsorted.sam", "sorted.sam")],
)
def test_sort_save_byte_identical(spark, tmp_path, src, gold):
    """sortByReferencePosition + saveAsSam(isSorted) reproduces the
    reference's committed sorted outputs byte-for-byte — header (@HD
    SO:coordinate, @SQ/@RG attribute order), record order, and tag
    order all pinned (AlignmentDatasetSuite 'sorting reads' +
    'write single sam file back')."""
    from adam_spark.compat import ADAMContext

    ac = ADAMContext(spark)
    out = tmp_path / "out.sam"
    ac.loadAlignments(f"{R}/{src}").sortByReferencePosition().saveAsSam(
        str(out), isSorted=True, asSingleFile=True
    )
    part = glob.glob(f"{out}/part-*")[0]
    mine = open(part).read().rstrip("\n").split("\n")
    want = open(f"{R}/{gold}").read().rstrip("\n").split("\n")
    assert mine == want


# ---------------------------------------------------------------- features


@pytest.mark.parametrize(
    "name",
    [
        "dvl1.200.bed",
        "dvl1.200.gtf",
        "dvl1.200.gff3",
        "Homo_sapiens.GRCh37.75.trun100.gtf",
    ],
)
def test_feature_roundtrip_real_files(spark, tmp_path, name):
    """FeatureDatasetSuite round trips on the real dvl1.200 trio and
    the Ensembl GTF excerpt: load → save → load preserves every value
    of every row."""
    from adam_spark.sources import features_io as feat

    load, save = {
        "bed": (feat.load_bed, feat.save_bed),
        "gtf": (feat.load_gtf, feat.save_gtf),
        "gff3": (feat.load_gff3, feat.save_gff3),
    }[name.rsplit(".", 1)[-1]]

    gf = load(spark, f"{R}/{name}")
    out = str(tmp_path / ("out." + name.rsplit(".", 1)[-1]))
    save(gf, out, single_file=True)
    gf2 = load(spark, out)

    cols = sorted(gf.df.columns)
    a = sorted(tuple(str(x) for x in r) for r in gf.df.select(*cols).collect())
    b = sorted(tuple(str(x) for x in r) for r in gf2.df.select(*cols).collect())
    assert len(a) == len(b)
    assert a == b


# -------------------------------------------------------------------- cram


def test_cram_artificial_matches_sam(spark):
    """The htsjdk-written artificial.cram (3.0, reference-compressed
    sequences, int32-length-prefixed header block, RR omitted-means-
    true preservation map) decodes to the same alignments as
    artificial.sam."""
    from adam_spark.sources.cram import load_cram

    cols = [
        "readName",
        "start",
        "end",
        "cigar",
        "sequence",
        "mappingQuality",
        "readMapped",
    ]
    sam = _load(spark, "artificial.sam").df
    cram = load_cram(spark, f"{R}/artificial.cram", reference=f"{R}/artificial.fa")
    a = sorted(tuple(r) for r in sam.select(*cols).collect())
    b = sorted(tuple(r) for r in cram.df.select(*cols).collect())
    assert a == b


# --------------------------------------------------------------------- vcf


def test_giab_multiallelic_split(spark):
    """VariantContextDatasetSuite 'read a vcf file with multi-allelic
    variants to split' on the GIAB excerpt: 17 contexts after the
    split; at start 66631043 (ref=GAAGAAAGAAAGA, 3 alts, but AD/ADALL
    carry only 3 values) every per-allele depth is 0 or null and ADALL
    subsets to '0,0' or '' (filterArray all-or-nothing,
    VariantContextConverter.scala:1400-1409)."""
    from adam_spark.sources.vcf import load_vcf_genotypes

    path = (
        f"{R}/HG001_GRCh38_GIAB_highconf_CG-IllFB-IllGATKHC-Ion-10X-SOLID"
        "_CHROM1-X_v.3.3.2_all.fixed-phase-set.excerpt.vcf"
    )
    g = load_vcf_genotypes(spark, path).df
    assert g.count() == 17

    sub = g.where(F.col("start") == 66631043)
    depths = sub.select("referenceReadDepth", "alternateReadDepth").collect()
    assert len(depths) == 3
    for r in depths:
        assert r["referenceReadDepth"] in (0, None)
        assert r["alternateReadDepth"] in (0, None)

    adall = [
        r[0]
        for r in sub.select(
            F.col("variantCallingAnnotations.attributes")["ADALL"]
        ).collect()
    ]
    assert sorted(adall) == ["", "0,0", "0,0"]

    # PS is '.' on every row of the excerpt → no phase sets survive
    assert g.where(F.col("phaseSetId").isNotNull()).count() == 0


# ------------------------------------------------------------ vcf writer


@pytest.mark.parametrize(
    "method,gold", [("sort", "sorted.vcf"), ("sort_lexicographically", "sorted.lex.vcf")]
)
def test_vcf_sort_save_byte_identical(spark, tmp_path, method, gold):
    """VariantContextDatasetSuite 'save a file sorted by contig index' /
    'save a lexicographically sorted file' (:291-319): random.vcf →
    sort → saveAsVcf single-file reproduces the committed goldens
    byte-for-byte — header assembly (VCFv4.2 version line, default-line
    mixing, full-text-ASCII metadata order, dictionary-order contigs),
    contig-INDEX body order, alphabetized INFO, GT-first-alphabetical
    FORMAT with FT=PASS cells, and %.2f QUAL all pinned against the
    htsjdk-written files."""
    from adam_spark.sources import vcf as vcf_io

    gf = vcf_io.load_vcf(spark, f"{R}/random.vcf")
    out = getattr(gf, method)()
    dst = str(tmp_path / "out.vcf")
    vcf_io.save_vcf(out, dst, single_file=True)
    part = glob.glob(f"{dst}/part-*")[0]
    assert open(part).read() == open(f"{R}/{gold}").read()


def test_readname_sort_save_byte_identical(spark, tmp_path):
    """AlignmentDatasetSuite 'sort by read name' (:1836-1850):
    unsorted.sam → sortByReadName → save with SO:queryname equals the
    committed readname_sorted.sam byte-for-byte."""
    from adam_spark.core.genomic_frame import GenomicFrame
    from adam_spark.operators.sorts import sort_by_read_name
    from adam_spark.sources.sam import save_sam

    gf = _load(spark, "unsorted.sam")
    out = GenomicFrame(sort_by_read_name(gf.df), gf.meta)
    dst = str(tmp_path / "o.sam")
    save_sam(out, dst, single_file=True, sort_order="queryname")
    part = glob.glob(f"{dst}/part-*")[0]
    assert open(part).read() == open(f"{R}/readname_sorted.sam").read()


# ------------------------------------------------------------------- 2bit


def test_2bit_extract_pins(spark):
    """TwoBitFileSuite: sequence extraction, soft-mask lowercasing,
    N blocks, and the dictionary length on the real UCSC-format
    hg19.chrM.2bit / human_g1k 2bit files."""
    from adam_spark.sources.reference_file import TwoBitFile

    tb = TwoBitFile(f"{R}/hg19.chrM.2bit")
    assert tb.names() == ["hg19_chrM"]
    assert tb.length("hg19_chrM") == 16571
    assert tb.extract("hg19_chrM", 0, 10) == "GATCACAGGT"
    assert tb.extract("hg19_chrM", 503, 513) == "CATCCTACCC"
    assert tb.extract("hg19_chrM", 16561, 16571) == "CATCACGATG"
    assert tb.extract("hg19_chrM", 2600, 2610, masked=True) == "taatcacttg"

    tb2 = TwoBitFile(f"{R}/human_g1k_v37_chr1_59kb.2bit")
    assert tb2.extract("1", 9990, 10010, masked=True) == "NNNNNNNNNNTAACCCTAAC"


# ------------------------------------------------------- indexed BAM / BAM


def test_indexed_bam_region_pins(spark):
    """ADAMContextSuite loadIndexedBam pins (:458-517) on the real
    htsjdk-indexed sorted.bam/.bai pair — including the htsjdk
    file-length end-virtual-offset convention in the .bai."""
    from adam_spark.sources.bam import load_bam, load_indexed_bam

    p = f"{R}/indexed_bams/sorted.bam"
    assert load_indexed_bam(spark, p, [("chr2", 100, 101)]).df.count() == 1
    assert (
        load_indexed_bam(spark, p, [("chr2", 100, 101), ("3", 10, 17)]).df.count()
        == 2
    )
    # <filename>.bai naming variant
    assert (
        load_indexed_bam(
            spark, f"{R}/indexed_bams/sorted.2.bam", [("1", 1, 100)]
        ).df.count()
        == 1
    )
    # glob + directory forms hit both indexed files
    for src in (f"{R}/indexed_bams/sorted*.bam", f"{R}/indexed_bams"):
        assert (
            load_indexed_bam(
                spark, src, [("chr2", 100, 101), ("3", 10, 17)]
            ).df.count()
            == 4
        )
    assert load_bam(spark, f"{R}/indexed_bams/sorted*.bam").df.count() == 10


def test_small_bam_matches_small_sam(spark):
    """ADAMContextSuite 'loadBam' on bams/small.bam (a real
    htsjdk-written binary): field-identical to the small.sam text."""
    from adam_spark.sources.bam import load_bam

    cols = ["readName", "start", "cigar", "sequence", "mappingQuality"]
    a = sorted(tuple(r) for r in _load(spark, "small.sam").df.select(*cols).collect())
    b = sorted(
        tuple(r)
        for r in load_bam(spark, f"{R}/bams/small.bam").df.select(*cols).collect()
    )
    assert len(a) == 20
    assert a == b


# ------------------------------------------------------------------ fastq


def test_fastq_codec_equality(spark):
    """ADAMContextSuite compressed-FASTQ loads: fastq_sample1.fq and its
    .gz / .bz2 siblings parse to identical records."""
    from adam_spark.sources.fastq import load_unpaired_fastq

    def rows(ext):
        df = load_unpaired_fastq(spark, f"{R}/fastq_sample1.fq{ext}").df
        return sorted(
            tuple(r) for r in df.select("name", "sequence", "qualityScores").collect()
        )

    base = rows("")
    assert len(base) > 0
    assert rows(".gz") == base
    assert rows(".bz2") == base


# ------------------------------------------------------- snpeff / variants


def test_snpeff_ann_fixture(spark):
    """ADAMContextSuite 'can read a SnpEff-annotated .vcf file'
    (:603-645): transcript-effect counts per start on the real SnpEff
    output, and the full first effect at 14396."""
    from adam_spark.sources.vcf import load_vcf_variants

    rows = load_vcf_variants(spark, f"{R}/small_snpeff.vcf").df.collect()
    sizes = {
        r["start"]: len(r["annotation"]["transcriptEffects"] or []) for r in rows
    }
    assert sizes == {14396: 4, 14521: 4, 19189: 3, 63734: 1, 752720: 2}
    by_start = {r["start"]: r for r in rows}
    assert by_start[14396]["referenceAllele"] == "CTGT"
    assert by_start[14396]["alternateAllele"] == "C"
    te = by_start[14396]["annotation"]["transcriptEffects"][0]
    assert te["alternateAllele"] == "C"
    assert "downstream_gene_variant" in te["effects"]
    assert te["geneName"] == "WASH7P"
    assert te["geneId"] == "ENSG00000227232"
    assert te["featureType"] == "transcript"
    assert te["featureId"] == "ENST00000488147.1"
    assert te["biotype"] == "unprocessed_pseudogene"


def test_freebayes_variant_type_filters(spark):
    """VariantDatasetSuite filter pins (:647-676) on the real freebayes
    output: 19 variants; dropping SNVs leaves 3, dropping MNVs leaves
    18, dropping indels leaves 17."""
    from adam_spark.operators.filters import (
        filter_indels,
        filter_multiple_nucleotide_variants,
        filter_single_nucleotide_variants,
    )
    from adam_spark.sources.vcf import load_vcf_variants

    v = load_vcf_variants(spark, f"{R}/NA12878.chr22.tiny.freebayes.vcf").df
    assert v.count() == 19
    assert filter_single_nucleotide_variants(v).count() == 3
    assert filter_multiple_nucleotide_variants(v).count() == 18
    assert filter_indels(v).count() == 17


def test_gvcf_multiallelic_pins(spark):
    """GenotypeDatasetSuite on gvcf_multiallelic/multiallelic.vcf:
    filterNoCalls leaves 3 (:683-692); the first sorted genotype's END
    is 16157602 (:694-716, the gVCF END attribute)."""
    from adam_spark.operators.filters import filter_no_calls
    from adam_spark.sources.vcf import load_vcf_genotypes

    g = load_vcf_genotypes(spark, f"{R}/gvcf_multiallelic/multiallelic.vcf").df
    assert filter_no_calls(g).count() == 3
    first = g.orderBy("referenceName", "start").first()
    assert first["end"] == 16157602
    # gvcf_dir sibling parses too
    from adam_spark.sources.vcf import load_vcf

    assert load_vcf(spark, f"{R}/gvcf_dir/gvcf_multiallelic.g.vcf").df.count() == 6


def test_small_vcf_genotypes_parquet_region_prune(spark, tmp_path):
    """GenotypeDatasetSuite 'round trip to parquet' (:119-135): 18
    genotypes in small.vcf; a region-predicate parquet reload keeps the
    9 rows at exactly starts {14396, 752720, 752790}."""
    from adam_spark.sources.parquet import load_partitioned_parquet, save_partitioned_parquet
    from adam_spark.sources.vcf import load_vcf_genotypes

    g = load_vcf_genotypes(spark, f"{R}/small.vcf")
    assert g.df.count() == 18
    out = str(tmp_path / "gt.parquet")
    save_partitioned_parquet(g, out)
    pruned = load_partitioned_parquet(
        spark,
        out,
        regions=[("1", 14399, 14400), ("1", 752720, 757721), ("1", 752790, 752793)],
    ).df
    assert pruned.count() == 9
    starts = {r["start"] for r in pruned.select("start").distinct().collect()}
    assert starts == {14396, 752720, 752790}


# ----------------------------------------------------------------- fastq 2


def test_paired_fastq_counts(spark):
    """ADAMContextSuite 'loadAlignments should not fail on single-end
    and paired-end fastq reads' (:648-657): 488 + 488 → 976 paired."""
    from adam_spark.sources.fastq import load_fastq_alignments, load_paired_fastq

    assert load_fastq_alignments(spark, f"{R}/bqsr1-r1.fq").df.count() == 488
    assert load_fastq_alignments(spark, f"{R}/bqsr1-r2.fq").df.count() == 488
    assert (
        load_paired_fastq(spark, f"{R}/bqsr1-r1.fq", f"{R}/bqsr1-r2.fq").df.count()
        == 976
    )


# ------------------------------------------------------- dict / intervals


def test_dict_with_accession(spark):
    """SequenceDictionarySuite 'Convert from SAM sequence dictionary
    file (with extra fields)' (:46-58): the real Picard .dict parses —
    contig 1 present (and only 1)."""
    from adam_spark.context import load_sequence_dictionary

    sd = load_sequence_dictionary(f"{R}/dict_with_accession.dict")
    names = [r.name for r in sd.references]
    assert names == ["1"]
    assert sd.references[0].length == 249250621


def test_interval_list_real_files(spark):
    """ADAMContextSuite 'Can read a .interval_list file' (:179-190):
    369 rows from the real Picard SeqCap interval list with the
    gene-name pin on chr1:14415-14499; the hg38 wgs calling regions
    excerpt and the real ENCODE narrowPeak load too."""
    from adam_spark.sources import features_io as feat

    il = feat.load_interval_list(spark, f"{R}/SeqCap_EZ_Exome_v3.hg19.interval_list")
    assert il.df.count() == 369
    first = il.df.where(
        (F.col("referenceName") == "chr1")
        & (F.col("start") == 14415)
        & (F.col("end") == 14499)
    ).first()
    assert first["name"] == (
        "gn|DDX11L1;gn|RP11-34P13.2;ens|ENSG00000223972;"
        "ens|ENSG00000227232;vega|OTTHUMG00000000958;vega|OTTHUMG00000000961"
    )
    assert (
        feat.load_interval_list(
            spark, f"{R}/wgs_calling_regions.hg38.interval_list"
        ).df.count()
        == 27
    )
    assert (
        feat.load_narrowpeak(
            spark, f"{R}/wgEncodeOpenChromDnaseGm19238Pk.trunc10.narrowPeak"
        ).df.count()
        == 10
    )


# ----------------------------------------------------------- tags / frags


def test_tags_sam_all_attribute_types(spark):
    """ADAMContextSuite 'can read a small .SAM with all attribute tag
    types' (:126-130): 7 reads with A/H/B-array (c/i/s/f, signed +
    unsigned) tags survive the load."""
    from pyspark.sql import functions as F

    t = _load(spark, "tags.sam").df
    assert t.count() == 7
    r = t.where(F.col("readName") == "UnsignedArrays").first()
    assert r["attributes"]["XB"] == "B:C,1,2,3"
    assert r["attributes"]["XI"] == "B:I,1,2,3"


def test_small_sam_mapq_filter(spark):
    """ADAMContextSuite 'can filter a .SAM file based on quality'
    (:132-138): mapped ∧ mapq>30 keeps 18 of small.sam's reads."""
    s = _load(spark, "small.sam").df
    assert s.where(F.col("readMapped") & (F.col("mappingQuality") > 30)).count() == 18


@pytest.mark.parametrize("name", ["sample1.queryname.sam", "sample1.query.sam"])
def test_query_grouped_sam_as_fragments(spark, name):
    """ADAMContextSuite 'load queryname sorted / query grouped sam as
    fragments' (:658-674): 3 fragments holding 6 alignments."""
    from adam_spark.context import load_fragments

    fr = load_fragments(spark, f"{R}/{name}")
    assert fr.df.count() == 3
    assert fr.df.select(F.explode("alignments")).count() == 6


def test_tag_sam_roundtrip_preserves_attributes(spark, tmp_path):
    """AlignmentDatasetSuite 'writing a small file with tags should
    produce the expected result' (:512-531): all 10 attributes survive
    a save→load cycle with identical tag sets."""
    from adam_spark.context import load_alignments
    from adam_spark.sources.sam import save_sam

    gf = _load(spark, "tag.sam")
    dst = str(tmp_path / "t.sam")
    save_sam(gf, dst, single_file=True)
    back = load_alignments(spark, dst).df
    a = gf.df.first()
    b = back.first()
    assert gf.df.count() == back.count() == 1
    assert len(a["attributes"]) == len(b["attributes"]) == 10
    assert set(a["attributes"]) == set(b["attributes"])


# ------------------------------------------------- fastq split resync


def _parse_fastq_output_golden(path, marker):
    """Parse the reference's committed ``*.output`` golden files (the
    expected records of its Hadoop FASTQ input formats on the
    deliberately TRUNCATED ``*_sample{2,3,4}`` fixtures)."""
    recs, cur = [], None
    for line in open(path):
        line = line.rstrip("\n")
        if line.startswith(">>>"):
            cur = []
        elif line.startswith("<<<"):
            recs.append(cur)
            cur = None
        elif cur is not None:
            cur.append(line)
    reads = []
    for rec in recs:
        for j in range(0, len(rec), 4):
            reads.append((rec[j + 1], rec[j + 3]))  # (sequence, quality)
    return reads


@pytest.mark.parametrize("i", [1, 2, 3, 4, 5])
def test_interleaved_fastq_resync_goldens(spark, i):
    """InterleavedFastqInputFormat record-boundary goldens
    (interleaved_fastq_sample*.ifq.output): files starting mid-record
    resynchronize at the next FIRST-of-pair name line
    (InterleavedFastqInputFormat.java:61,82-96), dropping the leading
    partial pair — including the orphaned second-of-pair read."""
    from adam_spark.sources.fastq import load_interleaved_fastq

    want = sorted(
        _parse_fastq_output_golden(
            f"{R}/interleaved_fastq_sample{i}.ifq.output", "interleaved"
        )
    )
    df = load_interleaved_fastq(spark, f"{R}/interleaved_fastq_sample{i}.ifq").df
    got = sorted(
        (r["sequence"], r["qualityScores"])
        for r in df.select("sequence", "qualityScores").collect()
    )
    assert got == want


@pytest.mark.parametrize("i", [1, 2, 3, 4])
def test_single_fastq_resync_goldens(spark, i):
    """SingleFastqInputFormat goldens (single_fastq_sample*.fq.output):
    single-end resync skips to the first '@' line
    (SingleFastqInputFormat.java:68-71)."""
    from adam_spark.sources.fastq import load_unpaired_fastq

    want = sorted(
        _parse_fastq_output_golden(f"{R}/single_fastq_sample{i}.fq.output", "fastq")
    )
    df = load_unpaired_fastq(spark, f"{R}/fastq_sample{i}.fq").df
    got = sorted(
        (r["sequence"], r["qualityScores"])
        for r in df.select("sequence", "qualityScores").collect()
    )
    assert got == want


def test_vcf_codec_equality(spark):
    """ADAMContextSuite compressed-VCF loads: test.vcf and its .gz /
    .bgz / .bgzf.gz siblings parse to the same 7 contexts (the .bgz
    suffix is htslib's BGZF naming Spark does not know natively)."""
    from adam_spark.sources.vcf import load_vcf

    base = None
    for ext in ("", ".gz", ".bgz", ".bgzf.gz"):
        rows = sorted(
            (r["referenceName"], r["start"], r["variant"]["alternateAllele"])
            for r in load_vcf(spark, f"{R}/test.vcf{ext}").df.collect()
        )
        assert len(rows) == 7
        if base is None:
            base = rows
        else:
            assert rows == base


def test_realign_na12878_no_drop(spark):
    """RealignIndelsSuite 'if realigning a target doesn't improve the
    LOD, don't drop reads' (:591-595) on the real NA12878 excerpt: the
    read count survives realignment unchanged."""
    from adam_spark.operators.realignment import realign_indels

    reads = _load(spark, "NA12878.1_854950_855150.sam").df
    assert reads.count() == realign_indels(reads).count() == 95


# ------------------------------------------------- fasta / genome dicts


def test_fasta_sequence_pins(spark):
    """ADAMContextSuite FASTA pins (:1050-1083): trinity.fa → 5
    sequences; chr20.250k.fa.gz → one 251,930-base sequence whose NCBI
    metadata header ('gi|…') yields name NULL + full-header description
    (parseDescriptionLine, FastaConverters.scala:91-116); sliced at
    10 kb → 26 slices."""
    from adam_spark.sources.fasta import load_fasta_sequences, load_fasta_slices

    assert load_fasta_sequences(spark, f"{R}/trinity.fa").df.count() == 5
    (s,) = load_fasta_sequences(spark, f"{R}/chr20.250k.fa.gz").df.collect()
    assert s["name"] is None
    assert s["description"] == (
        "gi|224384749|gb|CM000682.1| Homo sapiens chromosome 20, "
        "GRCh37 primary reference assembly"
    )
    assert s["length"] == 251930
    assert load_fasta_slices(spark, f"{R}/chr20.250k.fa.gz", 10000).df.count() == 26


@pytest.mark.parametrize("name", ["hg19.genome", "hg19.genome.txt", "chromInfo.txt"])
def test_genome_file_sequence_dictionaries(spark, name):
    """ADAMContextSuite Bedtools .genome / UCSC chromInfo loads
    (:715-745): 93 records with the chr1 and chr17_gl000206_random
    length pins."""
    from adam_spark.context import load_sequence_dictionary

    sd = load_sequence_dictionary(f"{R}/{name}")
    m = {r.name: r.length for r in sd.references}
    assert len(m) == 93
    assert m["chr1"] == 249250621
    assert m["chr17_gl000206_random"] == 41001


def test_sample_coverage_bed(spark):
    """CoverageDatasetSuite 'can read a bed file to coverage'
    (:177-187): 3 coverage rows from the real sample_coverage.bed."""
    from adam_spark.context import load_coverage

    assert load_coverage(spark, f"{R}/sample_coverage.bed").df.count() == 3


def test_sorted_variants_partitioned_contexts(spark, tmp_path):
    """VariantContextDatasetSuite 'load partitioned parquet to variant
    context datasets' (:525-545) on the GATK-produced
    sorted-variants.vcf: 6 contexts; region reload at 2:19000-21000 +
    13:752700-752750 keeps exactly 2; the GATKCommandLine header line
    and the '13' reference survive the save/load metadata cycle."""
    from adam_spark.sources.parquet import (
        load_partitioned_parquet,
        save_partitioned_parquet,
    )
    from adam_spark.sources.vcf import load_vcf

    vcs = load_vcf(spark, f"{R}/sorted-variants.vcf")
    assert vcs.df.count() == 6
    assert any(r.name == "13" for r in vcs.meta.references.references)
    assert any("GATKCommandLine" in h for h in vcs.meta.header_lines)

    out = str(tmp_path / "vc")
    save_partitioned_parquet(vcs, out, partition_size=1000000)
    back = load_partitioned_parquet(spark, out)
    assert back.df.count() == 6
    assert any("GATKCommandLine" in h for h in back.meta.header_lines)
    assert (
        load_partitioned_parquet(
            spark, out, regions=[("2", 19000, 21000), ("13", 752700, 752750)]
        ).df.count()
        == 2
    )


def test_bad_header_sam_lenient(spark):
    """ADAMContextSuite 'can read a small .SAM file with a bad header
    with lenient validation' (:102-108): all 20 reads load despite the
    malformed @SQ line (this loader is lenient by default; the
    reference's STRICT SAMFormatException path is htsjdk-side and out
    of scope)."""
    assert _load(spark, "small.badheader.sam").df.count() == 20


def test_index_sequence_names_group_into_fragments(spark):
    """FragmentDatasetSuite (:581-613): paired + interleaved FASTQ with
    Casava index-sequence read names (' 1:N:0:ATCANG') strip to the
    same base name and group into 4 fragments of 2 alignments each."""
    from adam_spark.operators.conversions import alignments_to_fragments
    from adam_spark.sources.fastq import load_fastq_alignments

    pr = load_fastq_alignments(
        spark,
        f"{R}/read_names_with_index_sequences_pair1.fq",
        f"{R}/read_names_with_index_sequences_pair2.fq",
    )
    fr = alignments_to_fragments(pr.df)
    assert fr.count() == 4
    assert [r[0] for r in fr.select(F.size("alignments")).collect()] == [2, 2, 2, 2]

    il = load_fastq_alignments(
        spark,
        f"{R}/read_names_with_index_sequences_interleaved.fq",
        interleaved=True,
    )
    fr2 = alignments_to_fragments(il.df)
    assert fr2.count() == 4
    assert [r[0] for r in fr2.select(F.size("alignments")).collect()] == [2, 2, 2, 2]


def test_gff3_embedded_fasta_ignored(spark):
    """FeatureDatasetSuite 'ignore FASTA sequence in GFF3 file'
    (:257-261): ctg123.fasta.gff3's ##FASTA section is skipped — 12
    features."""
    from adam_spark.sources import features_io as feat

    assert feat.load_gff3(spark, f"{R}/ctg123.fasta.gff3").df.count() == 12


@pytest.mark.parametrize("ext", ["bed", "gtf", "narrowPeak", "interval_list"])
def test_feature_cross_format_conversions(spark, tmp_path, ext):
    """FeatureDatasetSuite 'save GFF3 as <X> format' battery (:204-292):
    the real dvl1.200.gff3 converts to every other feature format and
    reloads with all 195 rows."""
    from adam_spark.sources import features_io as feat

    saver, loader = {
        "bed": (feat.save_bed, feat.load_bed),
        "gtf": (feat.save_gtf, feat.load_gtf),
        "narrowPeak": (feat.save_narrowpeak, feat.load_narrowpeak),
        "interval_list": (feat.save_interval_list, feat.load_interval_list),
    }[ext]
    gf = feat.load_gff3(spark, f"{R}/dvl1.200.gff3")
    assert gf.df.count() == 195
    out = str(tmp_path / f"o.{ext}")
    saver(gf, out, single_file=True)
    assert loader(spark, out).df.count() == 195


def test_filter_to_samples_na12878(spark):
    """AlignmentDatasetSuite 'filter RDD bound alignments to samples'
    (:1825-1833) on NA12878.sam: readGroupSampleId fills from @RG SM on
    load (the r8 parity fix), so sample filtering matches 565/0."""
    from adam_spark.compat import ADAMContext

    a = ADAMContext(spark).loadAlignments(f"{R}/NA12878.sam")
    assert a.toDF().count() == 565
    assert a.filterToSamples(["NA12878", "not a sample"]).toDF().count() == 565
    assert a.filterToSamples(["not a sample"]).toDF().count() == 0


def test_reads12_sam_roundtrip_value_equal(spark, tmp_path):
    """AlignmentDatasetSuite 'round trip from ADAM to SAM and back'
    (:313-335) on reads12.sam (200 real bwa-produced reads): every
    field of every read survives save→load; all reads mapped
    ('SAM conversion sets read mapped flag properly', :398-403)."""
    from adam_spark.context import load_alignments
    from adam_spark.sources.sam import save_sam

    a = load_alignments(spark, f"{R}/reads12.sam")
    assert a.df.count() == 200
    assert a.df.where(~F.col("readMapped")).count() == 0
    dst = str(tmp_path / "r.sam")
    save_sam(a, dst, single_file=True)
    b = load_alignments(spark, dst)
    cols = sorted(a.df.columns)
    assert sorted(map(repr, a.df.select(*cols).collect())) == sorted(
        map(repr, b.df.select(*cols).collect())
    )


def test_long_fastq_reads(spark):
    """AlignmentDatasetSuite 'load long FASTQ reads' (:405-417): the 8
    Nanopore-length reads parse with their exact lengths (no
    max-read-length cap in this line-stitched loader)."""
    from adam_spark.context import load_alignments

    fq = load_alignments(spark, f"{R}/combined_2018-05-18.9900-10050.fastq").df
    lens = sorted(r[0] for r in fq.select(F.length("sequence")).collect())
    assert lens == sorted([10038, 9987, 10010, 9935, 10016, 10042, 9906, 10044])


def test_fastq_nobases_and_noqual(spark):
    """AlignmentDatasetSuite 'load FASTQ with no bases' (:419-425) +
    'convert malformed FASTQ (no quality scores)' (:427-438): empty
    sequences parse as 2 zero-length reads; '*' quality under lenient
    stringency normalizes to all-B of read length."""
    from adam_spark.sources.fastq import load_unpaired_fastq

    nb = load_unpaired_fastq(spark, f"{R}/fastq_nobases.fq").df
    assert nb.count() == 2
    assert nb.agg(F.sum(F.length("sequence"))).first()[0] == 0

    nq = load_unpaired_fastq(spark, f"{R}/fastq_noqual.fq", stringency="lenient").df
    rows = {r["sequence"]: r["qualityScores"] for r in nq.collect()}
    assert rows == {"GATTACA": "BBBBBBB", "ACATTAG": "BBBBBBB"}


def test_hla_faidx_and_name_split(spark):
    """IndexedFastaFileSuite 'correctly gets sequence' + ADAMContextSuite
    'read a HLA fasta from GRCh38' (:402-414): the tab-separated header
    splits at the first WHITESPACE ('HLA-DQB1*05:01:01:02'), and the
    .fai-indexed extract returns the pinned 50-mer. Convention note:
    the reference's IndexedFastaFile.extract treats region bounds as
    htsjdk 1-based-inclusive (extract(1,50) = first 50 bases) while its
    own TwoBitFile is 0-based half-open; this engine is uniformly
    0-based half-open, so the same bases are extract(0, 50)."""
    from adam_spark.sources.fasta import load_fasta_sequences
    from adam_spark.sources.reference_file import load_reference_file

    (s,) = load_fasta_sequences(spark, f"{R}/HLA_DQB1_05_01_01_02.fa").df.collect()
    assert s["name"] == "HLA-DQB1*05:01:01:02"

    rf = load_reference_file(f"{R}/HLA_DQB1_05_01_01_02.fa")
    assert (
        rf.extract("HLA-DQB1*05:01:01:02", 0, 50)
        == "TTCTAAGACCTTTGCTCTTCTCCCCAGGACTTAAGGCTCTTCAGCGTGTC"
    )


def test_legacy_fasta_comments_gaps_stops(spark):
    """ADAMContextSuite 'read a fasta file with comments, gaps, and
    translation stops' (:439-455) on legacy.fa: a comment-prefixed
    HEADERLESS first sequence is a record; trailing '*' translation
    stops strip (cleanSequence); alignment gaps '-' survive. Lengths
    148 / 229 / 284."""
    from adam_spark.sources.fasta import load_fasta_sequences

    rows = sorted(
        load_fasta_sequences(spark, f"{R}/legacy.fa", alphabet="PROTEIN").df.collect(),
        key=lambda r: r["length"],
    )
    assert [r["length"] for r in rows] == [148, 229, 284]
    assert all("*" not in r["sequence"] for r in rows)
    assert "-" in rows[2]["sequence"]


def test_2bit_write_roundtrip_real_chrm(spark, tmp_path):
    """Writer fidelity on real UCSC data: hg19.chrM extracted with soft
    masks, re-written with write_2bit, and re-read — byte-equal
    sequence, mask blocks preserved."""
    from adam_spark.sources.reference_file import TwoBitFile, write_2bit

    tb = TwoBitFile(f"{R}/hg19.chrM.2bit")
    seq = tb.extract("hg19_chrM", 0, tb.length("hg19_chrM"), masked=True)
    dst = str(tmp_path / "o.2bit")
    write_2bit({"hg19_chrM": seq}, dst)
    tb2 = TwoBitFile(dst)
    assert tb2.length("hg19_chrM") == 16571
    assert tb2.extract("hg19_chrM", 0, 16571, masked=True) == seq
    assert tb2.extract("hg19_chrM", 2600, 2610, masked=True) == "taatcacttg"


def test_realign_insertion_pile_922305(spark):
    """RealignIndelsSuite 'realign reads to an insertion' (:301-315) on
    the real NA12878 insertion pile: at lodThreshold=0 with unclipped
    reads, exactly 41 reads move, and read
    H06HDADXX130110:1:1114:19044:27806 lands at start 922057 — requires
    the reference's read-range target merging (a fragmented target set
    realigns nothing here)."""
    from adam_spark.operators.realignment import realign_indels

    reads = _load(spark, "NA12878.1_922305.G_GC_hom.sam").df.where(
        ~F.coalesce(F.col("supplementaryAlignment"), F.lit(False))
    )
    cols = ["readName", "readInFragment", "start", "cigar", "mappingQuality"]
    base = {
        (r["readName"], r["readInFragment"]): tuple(r)
        for r in reads.select(*cols).collect()
    }
    out = realign_indels(reads, lod_threshold=0.0, unclip_reads=True)
    got = {
        (r["readName"], r["readInFragment"]): tuple(r)
        for r in out.select(*cols).collect()
    }
    moved = [k for k in base if got.get(k) != base[k]]
    assert len(moved) == 41
    probe = got[("H06HDADXX130110:1:1114:19044:27806", 0)]
    assert probe[2] == 922057


@pytest.mark.parametrize("model", ["knowns", "union"])
def test_realign_artificial_with_knowns(spark, model):
    """RealignIndelsSuite 'checking realigned reads for artificial
    input using knowns' (:220-246) + 'using knowns and reads'
    (:248-276): the known AGGGGGGGGGG→A deletion at artificial:33
    drives the same read4 outcome as the from-reads model, matching
    the GATK golden's count and read4 pins."""
    from adam_spark.operators.realignment import realign_indels

    reads = _load(spark, "artificial.sam")
    knowns = spark.createDataFrame(
        [("artificial", 33, "AGGGGGGGGGG", "A")],
        "referenceName string, start long, referenceAllele string, "
        "alternateAllele string",
    )
    out = realign_indels(reads.df, consensus_model=model, known_indels=knowns)
    golden = _load(spark, "artificial.realigned.sam").df
    assert out.count() == golden.count() == 10
    cols = ["readName", "start", "cigar", "mappingQuality"]
    mine = sorted(
        tuple(r)
        for r in out.where(F.col("readName") == "read4").select(*cols).collect()
    )
    assert mine == [
        ("read4", 10, "24M10D36M", 100),
        ("read4", 120, "60M", 90),
    ]


def test_cram_save_roundtrip_real_file(spark, tmp_path):
    """AlignmentDatasetSuite 'round trip with single CRAM file produces
    equivalent Read values' (:337-360): the htsjdk-written
    artificial.cram reloads identically after a save through this
    writer (reference-compressed sequences both directions)."""
    from adam_spark.sources.cram import load_cram, save_cram

    gf = load_cram(spark, f"{R}/artificial.cram", reference=f"{R}/artificial.fa")
    dst = str(tmp_path / "o.cram")
    save_cram(gf, dst, reference=f"{R}/artificial.fa")
    back = load_cram(spark, dst, reference=f"{R}/artificial.fa")
    cols = [
        "readName", "start", "end", "cigar",
        "sequence", "qualityScores", "mappingQuality",
    ]
    a = sorted(tuple(r) for r in gf.df.select(*cols).collect())
    b = sorted(tuple(r) for r in back.df.select(*cols).collect())
    assert a == b and len(a) == 10


def test_bed_format_pins(spark, tmp_path):
    """FeatureDatasetSuite BED pins: 'round trip BED6 format'
    (:299-320) first-line fields on dvl1.200.bed; 'round trip BED12
    format' (:342-371) BYTE-identical re-save of small.1_12.bed
    (checkFiles golden); 'save to UCSC BED format' (:373-391) rescales
    the score into 0-1000 (13.53 on a 0-200 scale → 67)."""
    from adam_spark.sources import features_io as feat

    gf = feat.load_bed(spark, f"{R}/dvl1.200.bed")
    out6 = str(tmp_path / "o6.bed")
    feat.save_bed(gf, out6, single_file=True)
    first = open(glob.glob(f"{out6}/part-*")[0]).readline().rstrip("\n").split("\t")
    assert first == ["1", "1331345", "1331536", "106624", "13.53", "+"]

    gf12 = feat.load_bed(spark, f"{R}/small.1_12.bed")
    out12 = str(tmp_path / "o12.bed")
    feat.save_bed(gf12, out12, single_file=True)
    assert (
        open(glob.glob(f"{out12}/part-*")[0]).read()
        == open(f"{R}/small.1_12.bed").read()
    )

    outu = str(tmp_path / "u.bed")
    feat.save_ucsc_bed(gf, outu, single_file=True, minimum_score=0.0, maximum_score=200.0)
    ufirst = open(glob.glob(f"{outu}/part-*")[0]).readline().rstrip("\n").split("\t")
    assert ufirst == ["1", "1331345", "1331536", "106624", "67", "+"]


def test_gtf_and_interval_list_save_pins(spark, tmp_path):
    """FeatureDatasetSuite 'round trip GTF format' (:114-147) +
    'round trip IntervalList format' (:436-472): the first saved GTF
    record of the Ensembl excerpt carries the exact 9 columns and
    4 ordered attributes; the SeqCap interval list re-renders its
    first and refseq-bearing records exactly."""
    from adam_spark.sources import features_io as feat

    gf = feat.load_gtf(spark, f"{R}/Homo_sapiens.GRCh37.75.trun100.gtf")
    outg = str(tmp_path / "o.gtf")
    feat.save_gtf(gf, outg, single_file=True)
    first = open(glob.glob(f"{outg}/part-*")[0]).readline().rstrip("\n")
    assert first == (
        "1\tpseudogene\tgene\t11869\t14412\t.\t+\t.\t"
        'gene_id "ENSG00000223972"; gene_biotype "pseudogene"; '
        'gene_name "DDX11L1"; gene_source "ensembl_havana"'
    )

    il = feat.load_interval_list(spark, f"{R}/SeqCap_EZ_Exome_v3.hg19.interval_list")
    outi = str(tmp_path / "o.il")
    feat.save_interval_list(il, outi, single_file=True)
    lines = [
        l.rstrip("\n")
        for l in open(glob.glob(f"{outi}/part-*")[0])
        if not l.startswith("@")
    ]
    assert lines[0] == (
        "chr1\t14416\t14499\t+\tgn|DDX11L1;gn|RP11-34P13.2;"
        "ens|ENSG00000223972;ens|ENSG00000227232;"
        "vega|OTTHUMG00000000958;vega|OTTHUMG00000000961"
    )
    assert (
        "chr7\t142111442\t142111617\t+\tgn|TRBV5-7;ens|ENSG00000211731;"
        "refseq|NG_001333"
    ) in lines


def test_narrowpeak_save_pin(spark, tmp_path):
    """FeatureDatasetSuite 'round trip NarrowPeak format' (:523-548):
    the first saved record of the real ENCODE narrowPeak renders all
    10 columns exactly (signalValue/pValue precision, -1 qValue
    sentinel, peak offset)."""
    from adam_spark.sources import features_io as feat

    gf = feat.load_narrowpeak(
        spark, f"{R}/wgEncodeOpenChromDnaseGm19238Pk.trunc10.narrowPeak"
    )
    out = str(tmp_path / "o.np")
    feat.save_narrowpeak(gf, out, single_file=True)
    first = open(glob.glob(f"{out}/part-*")[0]).readline().rstrip("\n")
    assert first == "chr1\t713849\t714434\tchr1.1\t1000\t.\t0.2252\t9.16\t-1\t263"


def test_hs37d5_dict(spark):
    """ADAMContextSuite 'load HTSJDK sequence dictionary' (:704-713):
    the real hs37d5 Picard dictionary parses to 85 records with the
    chr1 and NC_007605 (EBV decoy) length pins."""
    from adam_spark.context import load_sequence_dictionary

    sd = load_sequence_dictionary(f"{R}/hs37d5.dict")
    m = {r.name: r.length for r in sd.references}
    assert len(m) == 85
    assert m["1"] == 249250621
    assert m["NC_007605"] == 171823


def test_bin_quality_scores_bqsr1(spark):
    """FragmentDatasetSuite 'bin quality scores in fragments'
    (:321-336) on the real bqsr1.sam: binning (0-20→10, 20-40→30,
    40-60→50) yields exactly 92,899 Phred-30 and 7,101 Phred-10
    bases."""
    from adam_spark.operators.quality import QualityScoreBin, bin_quality_scores

    reads = _load(spark, "bqsr1.sam").df
    out = bin_quality_scores(
        reads,
        [QualityScoreBin(0, 20, 10), QualityScoreBin(20, 40, 30), QualityScoreBin(40, 60, 50)],
    )
    counts = (
        out.select(F.explode(F.split(F.col("qualityScores"), "")).alias("c"))
        .where(F.col("c") != "")
        .select((F.ascii("c") - 33).alias("q"))
        .groupBy("q")
        .count()
        .collect()
    )
    m = {r["q"]: r["count"] for r in counts}
    assert m[30] == 92899
    assert m[10] == 7101


def test_genotype_feature_region_joins_small_files(spark):
    """GenotypeDatasetSuite 'use broadcast join to pull down genotypes
    mapped to targets' (:146-170) on the real small.vcf × small.1.bed:
    9 inner matches; the right-outer variant keeps 3 unmatched targets
    (12 rows, 3 with a null left side)."""
    from adam_spark.compat import ADAMContext

    ac = ADAMContext(spark)
    g = ac.loadGenotypes(f"{R}/small.vcf")
    t = ac.loadFeatures(f"{R}/small.1.bed")
    assert g.broadcastRegionJoin(t).toDF().count() == 9
    ro = g.rightOuterBroadcastRegionJoin(t).toDF()
    assert ro.count() == 12
    left_col = ro.columns[0]
    assert ro.where(F.col(left_col).isNull()).count() == 3


# ------------------------------------------------- adam-cli kmer goldens

RCLI = "/root/reference/adam-cli/src/test/resources"


def _kmer_golden_lines(out):
    import os as _os

    if _os.path.isfile(out):
        return sorted(open(out).read().splitlines())
    lines = []
    for f in sorted(_os.listdir(out)):
        if f.startswith("part-"):
            lines += open(_os.path.join(out, f)).read().splitlines()
    return sorted(lines)


def test_count_read_kmers_cli_golden(spark, tmp_path):
    """CountReadKmersSuite 'count kmers to single file'
    (adam-cli CountReadKmersSuite.scala:24-31): count_kmers on
    sorted.sam at k=21 reproduces the committed sorted.counts.txt —
    every read is SHORTER than 21, so the golden is entirely Scala
    sliding()'s partial-window semantics (each short read contributes
    its whole sequence once). Content-compared as sorted line sets: the
    reference's byte order is reduceByKey partition/hash iteration
    order, which no DataFrame plan reproduces."""
    from adam_spark.cli import main

    out = str(tmp_path / "k")
    rc = main(["count_kmers", "-single", f"{R}/sorted.sam", out, "21"])
    assert rc == 0
    want = sorted(open(f"{RCLI}/sorted.counts.txt").read().splitlines())
    assert _kmer_golden_lines(out) == want


def test_count_slice_kmers_cli_golden(spark, tmp_path):
    """CountSliceKmersSuite 'count slice kmers to single file'
    (adam-cli CountSliceKmersSuite.scala:24-31): count_slice_kmers on
    artificial.fa at k=21 reproduces artificial.counts.txt through the
    flank-adjacent prepass (SliceDataset.countKmers)."""
    from adam_spark.cli import main

    out = str(tmp_path / "k")
    rc = main(["count_slice_kmers", "-single", f"{RCLI}/artificial.fa", out, "21"])
    assert rc == 0
    want = sorted(open(f"{RCLI}/artificial.counts.txt").read().splitlines())
    assert _kmer_golden_lines(out) == want


def test_gvcf_end_attribute_save_round_trip(spark, tmp_path):
    """GenotypeDatasetSuite 'round trip gVCF END attribute ...'
    (:694-760): the first sorted genotype of
    gvcf_multiallelic/multiallelic.vcf spans to END=16157602; after
    copyVariantEndToAttribute → toVariantContexts → saveAsVcf → reload,
    both the genotype end and the variant end still read 16157602 (the
    END INFO attribute re-emitted and re-parsed)."""
    import glob as _glob

    from adam_spark.operators.conversions import (
        copy_variant_end_to_attribute,
        genotypes_to_variant_contexts,
    )
    from adam_spark.sources.vcf import GenomicFrame, load_vcf_genotypes, save_vcf

    g = load_vcf_genotypes(spark, f"{R}/gvcf_multiallelic/multiallelic.vcf")
    first = g.df.orderBy("referenceName", "start").first()
    assert first["end"] == 16157602
    assert first["variant"]["end"] == 16157602

    vcs = GenomicFrame(
        genotypes_to_variant_contexts(copy_variant_end_to_attribute(g.df)), g.meta
    )
    out = str(tmp_path / "gvcf_out.vcf")
    save_vcf(vcs, out, single_file=True)
    part = _glob.glob(f"{out}/part-*")[0]
    assert any(
        "END=16157602" in ln for ln in open(part) if not ln.startswith("#")
    )
    back = load_vcf_genotypes(spark, out).df.orderBy("referenceName", "start").first()
    assert back["end"] == 16157602
    assert back["variant"]["end"] == 16157602


# ----------------------------------------- adam-cli transform byte-goldens


@pytest.mark.parametrize(
    "flag,gold",
    [
        ("-sort_on_save", "sorted-variants.vcf"),
        ("-sort_lexicographically_on_save", "sorted-variants.lex.vcf"),
    ],
)
def test_transform_variants_cli_byte_golden(spark, tmp_path, flag, gold):
    """TransformVariantsSuite 'save a file sorted by contig index' /
    'save a lexicographically sorted file' (adam-cli
    TransformVariantsSuite.scala:24-56): random.vcf → variants parquet →
    reload → sorted single-file save reproduces the committed
    sites-only goldens byte-for-byte, THROUGH the CLI and the parquet
    metadata round trip."""
    from adam_spark.cli import main

    mid = str(tmp_path / "variants.adam")
    assert main(["transform_variants", f"{R}/random.vcf", mid]) == 0
    out = str(tmp_path / "out.vcf")
    assert main(["transform_variants", mid, out, flag, "-single"]) == 0
    part = glob.glob(f"{out}/part-*")[0]
    assert open(part).read() == open(f"{R}/{gold}").read()


@pytest.mark.parametrize(
    "flag,gold",
    [
        ("-sort_on_save", "sorted.vcf"),
        ("-sort_lexicographically_on_save", "sorted.lex.vcf"),
    ],
)
def test_transform_genotypes_cli_byte_golden(spark, tmp_path, flag, gold):
    """TransformGenotypesSuite (adam-cli TransformGenotypesSuite.scala:
    25-57): the same byte-goldens the library-level sort+save tests pin,
    but through the CLI's genotypes-parquet intermediate — pinning that
    the parquet metadata round trip (samples, headers, contigs) loses
    nothing the writer needs.

    Deliberate divergence from the suite's literal arg list: step 1
    here passes ``-nested_annotations``. The reference's DEFAULT
    conversion nests an annotation-free variant in each genotype
    (genotypeVariant, VariantContextConverter.scala:350-356; its own
    'transform VCF without nested annotations' test pins
    variant.annotation == null in the intermediate parquet), so the
    INFO column — which saveAsVcf rebuilds ONLY from
    variant.annotation (makeVariantExtractFn:2240-2266) — cannot
    round-trip through the default chain, yet the committed golden
    carries full INFO on every line. The golden is reachable exactly
    when annotations nest; this repo's CLI mirrors the default strip
    faithfully (tests/test_cli.py) AND reproduces the byte-golden on
    the nested path."""
    from adam_spark.cli import main

    mid = str(tmp_path / "genotypes.adam")
    assert main(
        ["transform_genotypes", "-nested_annotations", f"{R}/random.vcf", mid]
    ) == 0
    out = str(tmp_path / "out.vcf")
    assert main(["transform_genotypes", mid, out, flag, "-single"]) == 0
    part = glob.glob(f"{out}/part-*")[0]
    assert open(part).read() == open(f"{R}/{gold}").read()


@pytest.mark.parametrize(
    "extra,gold",
    [
        ([], "unordered.sam"),
        (["-sort_by_reference_position"], "ordered.sam"),
    ],
)
def test_transform_alignments_cli_byte_golden(spark, tmp_path, extra, gold):
    """TransformAlignmentsSuite 'unordered sam to [un]ordered sam'
    (adam-cli TransformAlignmentsSuite.scala:24-38): -single
    -disable_pg reproduces the input (order-preserving save) or the
    committed ordered.sam byte-for-byte through the CLI."""
    from adam_spark.cli import main

    out = str(tmp_path / "out.sam")
    rc = main(
        ["transform_alignments", "-single", "-disable_pg"]
        + extra + [f"{R}/unordered.sam", out]
    )
    assert rc == 0
    part = glob.glob(f"{out}/part-*")[0]
    assert open(part).read() == open(f"{R}/{gold}").read()


@pytest.mark.parametrize(
    "extra,gold",
    [
        ([], "unordered.sam"),
        (["-sort_by_reference_position"], "ordered.sam"),
    ],
)
def test_transform_alignments_cli_parquet_byte_golden(spark, tmp_path, extra, gold):
    """TransformAlignmentsSuite 'unordered sam, to adam, to [ordered]
    sam' (:40-58): the same byte-goldens through the alignments-parquet
    intermediate — read-group/program/dictionary metadata round-trips
    losslessly enough for byte parity."""
    from adam_spark.cli import main

    mid = str(tmp_path / "unordered.adam")
    assert main(["transform_alignments", "-disable_pg", f"{R}/unordered.sam", mid]) == 0
    out = str(tmp_path / "out.sam")
    rc = main(
        ["transform_alignments", "-single", "-disable_pg"] + extra + [mid, out]
    )
    assert rc == 0
    part = glob.glob(f"{out}/part-*")[0]
    assert open(part).read() == open(f"{R}/{gold}").read()


@pytest.mark.parametrize(
    "extra,gold",
    [
        ([], "unordered.sam"),
        (["-sort_by_reference_position"], "ordered.sam"),
    ],
)
def test_merge_shards_cli_byte_golden(spark, tmp_path, extra, gold):
    """MergeShardsSuite 'merge shards from unordered sam' / 'unordered
    sam to ordered sam' (adam-cli MergeShardsSuite.scala:25-48):
    -defer_merging leaves shards + header, merge_shards reassembles the
    byte-identical single file."""
    import os as _os

    from adam_spark.cli import main

    out = str(tmp_path / "merged.sam")
    rc = main(
        ["transform_alignments", "-single", "-defer_merging", "-disable_pg"]
        + extra + [f"{R}/unordered.sam", out]
    )
    assert rc == 0
    # the deferred save leaves a shard directory; find its header+tail
    shard_dir = out if _os.path.isdir(out) else out + "_tail"
    assert _os.path.isdir(shard_dir)
    merged = str(tmp_path / "final.sam")
    assert main(["merge_shards", shard_dir, merged]) == 0
    assert open(merged).read() == open(f"{R}/{gold}").read()


def test_transform_fragments_cli_sorted_sam_byte_golden(spark, tmp_path):
    """TransformFragmentsSuite 'load reads as sam and save them sorted'
    (adam-cli TransformFragmentsSuite.scala:45-54): -load_as_alignments
    -save_as_alignments -single -sort_by_reference_position on
    unsorted.sam reproduces sorted.sam byte-for-byte through the
    fragments command."""
    from adam_spark.cli import main

    out = str(tmp_path / "out.sam")
    rc = main(
        [
            "transform_fragments", f"{R}/unsorted.sam", out,
            "-load_as_alignments", "-save_as_alignments",
            "-single", "-sort_by_reference_position",
        ]
    )
    assert rc == 0
    part = glob.glob(f"{out}/part-*")[0]
    assert open(part).read() == open(f"{R}/sorted.sam").read()


# ------------------------------------------------------ BCF (htsjdk #507)


@pytest.mark.parametrize("name", ["test.uncompressed.bcf", "test.compressed.bcf"])
def test_bcf_fixtures_load(spark, name):
    """ADAMContextSuite 'can read an uncompressed/BGZF compressed
    BCFv2.2 file' (:261-271) — IGNORED in the reference because htsjdk
    cannot parse these files (htsjdk issue #507). The native BCFv2.2
    decoder reads both, pins the suite's count === 7, and the decoded
    contexts are ROW-IDENTICAL to load_vcf on test.vcf (same sites, the
    canonical VCF 4.1 spec example)."""
    from adam_spark.context import load_genotypes, load_variant_contexts, load_variants
    from adam_spark.sources.vcf import load_vcf

    gf = load_variant_contexts(spark, f"{R}/{name}")
    assert gf.df.count() == 7
    assert [s.id for s in gf.meta.samples] == ["NA00001", "NA00002", "NA00003"]

    want = sorted(map(repr, load_vcf(spark, f"{R}/test.vcf").df.collect()))
    got = sorted(map(repr, gf.df.collect()))
    assert got == want

    # dispatch through the variant/genotype projections too
    assert load_variants(spark, f"{R}/{name}").df.count() == 7
    g = load_genotypes(spark, f"{R}/{name}")
    assert g.df.count() == 21  # 7 contexts × 3 samples
