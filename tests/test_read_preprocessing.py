"""Tests for quality binning, left-normalization, MD tagging, and BQSR
(reference suites: BinQualitiesSuite, NormalizationUtilsSuite,
MdTagSuite/MDTaggingSuite, BaseQualityRecalibrationSuite,
CycleCovariateSuite, DinucCovariateSuite)."""

import pytest

from adam_spark.functions import cigar as C
from adam_spark.operators import bqsr, md_tagging, quality


# --- pure cigar/MD unit tests (no spark) ----------------------------------
def test_parse_and_lengths():
    assert C.parse_cigar("3M1I4M") == [(3, "M"), (1, "I"), (4, "M")]
    assert C.cigar_read_length("3M1I4M2S") == 10
    assert C.cigar_reference_length("3M1I4M2S") == 7
    assert C.cigar_reference_length("5M2D5M") == 12
    assert C.parse_cigar("*") == []


def test_aligned_pairs():
    pairs = C.aligned_pairs("2M1I2M", 100)
    assert [(p.read_idx, p.ref_pos) for p in pairs] == [
        (0, 100), (1, 101), (3, 102), (4, 103),
    ]
    pairs = C.aligned_pairs("2S3M", 50)
    assert [(p.read_idx, p.ref_pos) for p in pairs] == [(2, 50), (3, 51), (4, 52)]


def test_walk_md_and_mismatches():
    w = C.walk_md("10A5^AC6")
    assert w.mismatch_aligned == [10]
    assert w.mismatch_ref_bases == ["A"]
    assert w.deletions == [(16, "AC")]
    # mismatch at aligned idx 1 of 4M at start 0
    assert C.mismatch_read_offsets("4M", "1T2") == [1]
    # with leading soft clip, read offset shifts
    assert C.mismatch_read_offsets("2S4M", "1T2") == [3]


def test_reference_from_read():
    # read ACGT vs ref ACCT (mismatch at idx 2, ref C)
    assert C.reference_from_read("4M", "2C1", "ACGT") == "ACCT"
    # deletion: read ACGT = 2M2D2M, ref = AC + TT + GT
    assert C.reference_from_read("2M2D2M", "2^TT2", "ACGT") == "ACTTGT"


def test_md_from_reference():
    md, mm = C.md_from_reference("4M", "ACGT", "ACCT")
    assert md == "2C1" and mm == 1
    md, mm = C.md_from_reference("2M2D2M", "ACGT", "ACTTGT")
    assert md == "2^TT2" and mm == 0
    md, mm = C.md_from_reference("2S3M", "TTACG", "ACG")
    assert md == "3" and mm == 0
    md, mm = C.md_from_reference("2M1I2M", "ACTGT", "ACGT")
    assert md == "4" and mm == 0


def test_left_align_indel():
    # GGCCCC with insert of C: 4M1I1M, preceding CCC repeats → shift left 2
    # seq = G G C C C C ; cigar 4M1I1M ; variant = read[4] = 'C'
    assert C.left_align_indel("4M1I1M", "GGCCCC", None) == "2M1I3M"
    # no indel → unchanged
    assert C.left_align_indel("5M", "ACGTA", None) == "5M"
    # two indels → unchanged
    assert C.left_align_indel("2M1I2M1D2M", "ACGTACG", "4^T2") == "2M1I2M1D2M"
    # deletion with MD: seq AATT ref AATTTT? cigar 2M2D2M md 2^TT2
    # ref = AA TT TT; deleted TT preceded by read AA → no shift
    assert C.left_align_indel("2M2D2M", "AATT", "2^TT2") == "2M2D2M"
    # deletion shiftable: seq ATTT, cigar 2M1D2M, md 2^T2 → ref ATTTT
    # variant 'T' preceded by read 'AT' → shift 1
    assert C.left_align_indel("2M1D2M", "ATTT", "2^T2") == "1M1D3M"


# --- covariates -----------------------------------------------------------
def test_cycles():
    assert bqsr._cycles(4, False, 0) == [1, 2, 3, 4]
    assert bqsr._cycles(4, False, 1) == [-1, -2, -3, -4]
    assert bqsr._cycles(4, True, 0) == [4, 3, 2, 1]
    assert bqsr._cycles(4, True, 1) == [-4, -3, -2, -1]


def test_dinucs():
    assert bqsr._dinucs("ACGT", False) == ["NN", "AC", "CG", "GT"]
    # negative strand: complement = TGCA; dinuc[i] = (comp[i+1], comp[i])
    assert bqsr._dinucs("ACGT", True) == ["GT", "CG", "AC", "NN"]
    assert bqsr._dinucs("ANGT", False) == ["NN", "NN", "NN", "GT"]


# --- spark operators ------------------------------------------------------
@pytest.fixture()
def reads_df(spark):
    rows = [
        # perfect match to ref AAAACCCCGGGGTTTT at 0..16
        dict(referenceName="chr1", start=0, end=8, readName="r1", sequence="AAAACCCC",
             qualityScores="IIIIIIII", cigar="8M", readMapped=True, primaryAlignment=True,
             duplicateRead=False, mappingQuality=60, readNegativeStrand=False,
             readInFragment=0, readGroupId="rg1", mismatchingPositions="8",
             failedVendorQualityChecks=False, originalQualityScores=None),
        # one mismatch at offset 2 (read G, ref A)
        dict(referenceName="chr1", start=0, end=8, readName="r2", sequence="AAGACCCC",
             qualityScores="IIIIIIII", cigar="8M", readMapped=True, primaryAlignment=True,
             duplicateRead=False, mappingQuality=60, readNegativeStrand=False,
             readInFragment=0, readGroupId="rg1", mismatchingPositions="2A5",
             failedVendorQualityChecks=False, originalQualityScores=None),
        # unmapped
        dict(referenceName=None, start=None, end=None, readName="r3", sequence="ACGT",
             qualityScores="IIII", cigar=None, readMapped=False, primaryAlignment=True,
             duplicateRead=False, mappingQuality=None, readNegativeStrand=False,
             readInFragment=0, readGroupId="rg1", mismatchingPositions=None,
             failedVendorQualityChecks=False, originalQualityScores=None),
    ]
    schema = (
        "referenceName string, start long, end long, readName string, "
        "sequence string, qualityScores string, cigar string, readMapped boolean, "
        "primaryAlignment boolean, duplicateRead boolean, mappingQuality int, "
        "readNegativeStrand boolean, readInFragment int, readGroupId string, "
        "mismatchingPositions string, failedVendorQualityChecks boolean, "
        "originalQualityScores string"
    )
    return spark.createDataFrame([tuple(r.values()) for r in rows], schema)


def test_bin_quality_scores(spark, reads_df):
    out = quality.bin_quality_scores(reads_df, ["0,20,10", "20,94,30"])
    rows = {r["readName"]: r for r in out.collect()}
    # 'I' = phred 40 → bin to 30 → '?'
    assert rows["r1"]["qualityScores"] == "?" * 8
    assert rows["r3"]["qualityScores"] == "?" * 4


def test_bin_validation():
    with pytest.raises(ValueError):
        quality.bin_quality_scores(None, ["0,20,10", "10,30,15"])  # overlap
    with pytest.raises(ValueError):
        quality.bin_quality_scores(None, ["0,20,25"])  # value outside bin


def test_left_normalize_indels(spark):
    rows = [
        dict(referenceName="chr1", start=0, end=6, readName="a", sequence="GGCCCC",
             qualityScores="IIIIII", cigar="4M1I1M", readMapped=True,
             mismatchingPositions="5"),
        dict(referenceName="chr1", start=0, end=4, readName="b", sequence="ACGT",
             qualityScores="IIII", cigar="4M", readMapped=True,
             mismatchingPositions="4"),
    ]
    schema = (
        "referenceName string, start long, end long, readName string, "
        "sequence string, qualityScores string, cigar string, readMapped boolean, "
        "mismatchingPositions string"
    )
    out = quality.left_normalize_indels(
        spark.createDataFrame([tuple(r.values()) for r in rows], schema)
    )
    got = {r["readName"]: r["cigar"] for r in out.collect()}
    assert got == {"a": "2M1I3M", "b": "4M"}


def test_md_tagging(spark, reads_df):
    ref = {"chr1": "AAAACCCCGGGGTTTT"}
    # overwrite r2's tag after corrupting it
    import pyspark.sql.functions as F

    corrupted = reads_df.withColumn("mismatchingPositions", F.lit(None).cast("string"))
    out = md_tagging.compute_mismatching_positions(corrupted, ref)
    rows = {r["readName"]: r["mismatchingPositions"] for r in out.collect()}
    assert rows["r1"] == "8"
    assert rows["r2"] == "2A5"
    assert rows["r3"] is None


def test_md_tagging_2bit_broadcast(spark, reads_df, tmp_path):
    """The compact-2bit broadcast path must match the dict path, with no
    raw contig-string collect."""
    from adam_spark.sources.reference_file import TwoBitFile, write_2bit

    p = str(tmp_path / "ref.2bit")
    write_2bit({"chr1": "AAAACCCCGGGGTTTT"}, p)
    import pyspark.sql.functions as F

    corrupted = reads_df.withColumn("mismatchingPositions", F.lit(None).cast("string"))
    for ref in (p, TwoBitFile(p)):
        out = md_tagging.compute_mismatching_positions(corrupted, ref)
        rows = {r["readName"]: r["mismatchingPositions"] for r in out.collect()}
        assert rows == {"r1": "8", "r2": "2A5", "r3": None}


def test_bqsr_observe_and_recalibrate(spark, reads_df):
    obs = bqsr.observe_covariates(reads_df).collect()
    assert len(obs) > 0
    total = sum(r["total"] for r in obs)
    assert total == 16  # two usable reads × 8 bases
    mm = sum(r["mismatches"] for r in obs)
    assert mm == 1
    # the mismatching base is cycle 3, dinuc AG
    bad = [r for r in obs if r["mismatches"] > 0]
    assert len(bad) == 1 and bad[0]["cycle"] == 3 and bad[0]["dinuc"] == "AG"

    table = bqsr.build_recalibration_table([r.asDict() for r in obs])
    assert all(0 <= v <= bqsr.MAX_QUAL for v in table.values())

    out = bqsr.recalibrate_base_qualities(reads_df).collect()
    rows = {r["readName"]: r for r in out}
    # usable reads got originalQualityScores preserved + rewritten quals
    assert rows["r1"]["originalQualityScores"] == "IIIIIIII"
    assert len(rows["r1"]["qualityScores"]) == 8
    # unmapped read untouched
    assert rows["r3"]["qualityScores"] == "IIII"
    assert rows["r3"]["originalQualityScores"] is None


def test_bqsr_known_sites_masking(spark, reads_df):
    snps = spark.createDataFrame([dict(referenceName="chr1", start=2)])
    obs = bqsr.observe_covariates(reads_df, known_snps=snps).collect()
    total = sum(r["total"] for r in obs)
    assert total == 14  # offset 2 of both reads masked
    assert sum(r["mismatches"] for r in obs) == 0  # the mismatch was at the SNP


def test_observation_table_csv():
    csv = bqsr.observation_table_csv(
        [
            dict(readGroupId="rg1", quality=30, cycle=1, dinuc="AC",
                 total=100, mismatches=1, expectedErrors=0.1),
            dict(readGroupId="rg1", quality=20, cycle=2, dinuc="GT",
                 total=50, mismatches=5, expectedErrors=0.5),
        ]
    )
    lines = csv.splitlines()
    assert lines[0].startswith("ReadGroup,ReportedQ")
    assert lines[1] == "rg1,20,2,GT,50,5,9"  # -10*log10(6/52) = 9.38 -> 9
    assert lines[2] == "rg1,30,1,AC,100,1,17"


def test_five_prime_position_sums_both_clips(spark):
    """'5H10S20M' unclips by 15 on the forward strand (H outside S per
    SAM order); a single-element regex would give 5 and split a
    hard+soft-clipped read from its soft-only duplicate."""
    from adam_spark.operators.mark_duplicates import five_prime_position

    df = spark.createDataFrame(
        [
            ("5H10S20M", 100, 120, False, 85),
            ("10S20M", 100, 120, False, 90),
            ("20M10S5H", 100, 120, True, 135),
            ("20M5H", 100, 120, True, 125),
            ("20M", 100, 120, False, 100),
        ],
        "cigar string, start long, end long, neg boolean, want long",
    )
    got = df.select(
        five_prime_position("start", "end", "cigar", "neg").alias("fp"),
        "want",
    ).collect()
    for r in got:
        assert r["fp"] == r["want"], r


# --- MdTagSuite creation + operator-coverage cases (reference
# MdTagSuite.scala:203-235, 587-627) ---------------------------------------
def test_md_from_reference_suite_cases():
    # perfect match (:587)
    assert C.md_from_reference("8M", "ACCATAGA", "ACCATAGA") == ("8", 0)
    # one mismatch (:611)
    assert C.md_from_reference("8M", "ACCATAGA", "ACAATAGA") == ("2A5", 1)
    # alignment with deletion (:615)
    assert C.md_from_reference("5M2D3M", "ACCATAGA", "ACCATTTAGA") == ("5^TT3", 0)
    # alignment with insert (:619)
    assert C.md_from_reference("3M1I5M", "ACCCATAGA", "ACCATAGA") == ("8", 0)
    # '=' and 'X' operators compare bases like M (:623)
    assert C.md_from_reference("3=2X2=1X", "ACCCAAGT", "ACCATAGA") == ("3A0T2A0", 3)


def test_md_from_reference_n_and_p_operators():
    # N skips reference without touching the MD run (MdTagSuite:203
    # "CIGAR with N operator": 5M100N1D2M over a spliced alignment
    # yields MD 5^A2)
    read = "ACGTACC"
    ref = "ACGTA" + "G" * 100 + "A" + "CC"
    assert C.md_from_reference("5M100N1D2M", read, ref) == ("5^A2", 0)
    # multiple N blocks, all-match (:216): MD stays one run
    read2 = "A" * 20
    ref2 = "A" * 5 + "G" * 100 + "A" * 10 + "G" * 100 + "A" * 5
    assert C.md_from_reference("5M100N10M100N5M", read2, ref2) == ("20", 0)
    # P consumes neither side (:229 "CIGAR with P operators")
    assert C.md_from_reference("4=1P4=", "ACGTACGT", "ACGTACGT") == ("8", 0)


def test_left_align_normalization_suite_reads():
    # NormalizationUtilsSuite:52 "moving a simple read with single
    # deletion that cannot shift": ATATATATAT deletion preceded by C
    assert C.left_align_indel(
        "10M10D10M", "AAAAACCCCCGGGGGTTTTT", "10^ATATATATAT10"
    ) == "10M10D10M"
    # NormalizationUtilsSuite:83 "do not left align a complex read which
    # is already left aligned": G-run deletion preceded by A reads
    assert C.left_align_indel(
        "29M10D31M", "A" * 60, "29^GGGGGGGGGG10G0G0G0G0G0G0G0G0G0G11"
    ) == "29M10D31M"


def test_bin_quality_gap_and_empty_behaviors(spark):
    """AlignmentDatasetSuite binning edge cases: empty bin list raises,
    null quality strings pass through untouched, and a score covered by
    no bin raises at runtime (BinQualities.scala:196-199 'fell into no
    bins')."""
    df = spark.createDataFrame(
        [("a", "5555"), ("b", None)], "readName string, qualityScores string"
    )
    with pytest.raises(ValueError):
        quality.bin_quality_scores(df, []).collect()
    # gapped bins are constructible; reads inside the gap raise
    gapped = quality.bin_quality_scores(df, ["0,10,5", "30,40,35"])
    ok = {r["readName"]: r["qualityScores"]
          for r in gapped.where("readName = 'b'").collect()}
    assert ok["b"] is None  # null quals pass through
    with pytest.raises(Exception, match="fell into no bins"):
        gapped.where("readName = 'a'").collect()  # '5' = phred 20, uncovered
