"""Reference-suite vector ports, round 8 (the r7 verdict's item 5):
RichCigarSuite, SingleReadBucketSuite, FastqRecordConverterSuite,
NonoverlappingRegionsSuite, GenomicPositionPartitionerSuite — concrete
fixture vectors pinned onto our equivalents, cited per test.
"""

import pytest

from adam_spark import schemas
from pyspark.sql import functions as F


# --- RichCigarSuite (rich/RichCigarSuite.scala) ------------------------------
def test_rich_cigar_move_left_vectors():
    """'moving 2 bp from a deletion/insertion to a match operator'
    (:27-55), 'moving 1 base in a two element cigar' (:56), 'move to
    start of read' (:70)."""
    from adam_spark.functions.cigar import cigar_read_length, move_cigar_left

    for src, once, twice in [
        ("10M10D10M", "9M10D11M", "8M10D12M"),
        ("10M10I10M", "9M10I11M", "8M10I12M"),
    ]:
        c1 = move_cigar_left(src, 1)
        c2 = move_cigar_left(c1, 1)
        assert (c1, c2) == (once, twice)
        assert cigar_read_length(c2) == cigar_read_length(src)
    assert move_cigar_left("10M1D", 1) == "9M1D1M"
    assert move_cigar_left("1M1D1M", 1) == "1D2M"


def test_rich_cigar_soft_clip_vectors():
    """'process right/left/both clipped cigar' (:88-101): soft-clip
    counts skip hard clips."""
    from adam_spark.functions.cigar import (
        soft_clipped_bases_end,
        soft_clipped_bases_start,
    )

    assert (soft_clipped_bases_start("10H2S10M"), soft_clipped_bases_end("10H2S10M")) == (2, 0)
    assert (soft_clipped_bases_start("12M4S5H"), soft_clipped_bases_end("12M4S5H")) == (0, 4)
    assert (soft_clipped_bases_start("1S12M3S2H"), soft_clipped_bases_end("1S12M3S2H")) == (1, 3)


# --- SingleReadBucketSuite (ds/read/SingleReadBucketSuite.scala) -------------
def _frag(spark, reads):
    from adam_spark.operators.conversions import alignments_to_fragments

    df = schemas.conform(
        spark.createDataFrame(reads), schemas.ALIGNMENT
    )
    return alignments_to_fragments(df).collect()[0]


def test_unmapped_pair_to_fragment(spark):
    """'convert unmapped pair to fragment' (:25-43)."""
    f = _frag(
        spark,
        [
            {"readName": "myRead", "sequence": "ACACACAC", "readInFragment": 0, "readPaired": True},
            {"readName": "myRead", "sequence": "GTGTGTGT", "readInFragment": 1, "readPaired": True},
        ],
    )
    assert f["name"] == "myRead" and len(f["alignments"]) == 2
    assert f["insertSize"] is None


def test_proper_pair_to_fragment(spark):
    """'convert proper pair to fragment' (:45-80): insert size comes off
    the primary mapped reads."""
    base = {"readName": "myRead", "readPaired": True, "readMapped": True,
            "primaryAlignment": True, "cigar": "8M", "referenceName": "1",
            "insertSize": 8}
    f = _frag(
        spark,
        [
            {**base, "sequence": "ACACACAC", "readInFragment": 0, "start": 10, "end": 18},
            {**base, "sequence": "GTGTGTGT", "readInFragment": 1, "start": 22, "end": 30},
        ],
    )
    assert f["insertSize"] == 8
    assert f["name"] == "myRead" and len(f["alignments"]) == 2


def test_chimeric_pair_to_fragment(spark):
    """'convert read pair to fragment with first of pair chimeric read'
    (:82-131): three alignments, and the supplementary read's fields
    never produce an insert size (primaries carry none here)."""
    f = _frag(
        spark,
        [
            {"readName": "myRead", "sequence": "ACACACAC", "readInFragment": 0,
             "readPaired": True, "readMapped": True, "primaryAlignment": True,
             "cigar": "8M6H", "referenceName": "1", "start": 10, "end": 18},
            {"readName": "myRead", "sequence": "GTGTGTGT", "readInFragment": 1,
             "readPaired": True, "readMapped": True, "primaryAlignment": True,
             "cigar": "8M", "referenceName": "1", "start": 22, "end": 30},
            {"readName": "myRead", "sequence": "GTGTGT", "readInFragment": 0,
             "readPaired": True, "readMapped": True, "primaryAlignment": False,
             "supplementaryAlignment": True, "cigar": "8H6M",
             "referenceName": "2", "start": 100, "end": 106, "insertSize": 999},
        ],
    )
    assert f["insertSize"] is None  # only PRIMARY mapped insert sizes count
    assert f["name"] == "myRead" and len(f["alignments"]) == 3


# --- FastqRecordConverterSuite (converters/FastqRecordConverterSuite.scala) --
def _load_names(spark, tmp_path, headers, stringency="strict"):
    from adam_spark.sources.fastq import load_unpaired_fastq

    p = tmp_path / "v.fq"
    p.write_text("".join(f"{h}\nATCG\n+\n1234\n" for h in headers))
    gf = load_unpaired_fastq(spark, str(p), stringency=stringency)
    return [r["name"] for r in gf.df.collect()]


def test_fastq_read_suffix_removal(spark, tmp_path):
    """'test parseReadInFastq, read suffix removal' (:51-71): [/ +_][12]
    suffixes strip; multi-word names keep their spaces."""
    for sep in "/ +_":
        for idx in "12":
            assert _load_names(spark, tmp_path, [f"@desc{sep}{idx}"]) == ["desc"]
            assert _load_names(spark, tmp_path, [f"@more desc{sep}{idx}"]) == ["more desc"]


def test_fastq_metadata_removal(spark, tmp_path):
    """'test parseReadInFastq, read metadata removal' (:73-78): Illumina
    casava chunks ' 1:N:0:2' / ' 2:Y:4:0' / ' 1:N:0:1234' strip."""
    heads = ["@desc 1:N:0:2", "@desc 2:Y:4:0", "@desc 1:N:0:1234"]
    for h in heads:
        assert _load_names(spark, tmp_path, [h]) == ["desc"]


def test_fastq_quality_padding_lenient(spark, tmp_path):
    """'read quality shorter than read length, padded with B' (:80-84) +
    'no read quality' (:92-96) under lenient; strict keeps raw."""
    from adam_spark.sources.fastq import load_unpaired_fastq

    p = tmp_path / "q.fq"
    p.write_text("@description\nAAA\n+\nZ\n@other\nAAA\n+\n*\n")
    rows = {
        r["name"]: r["qualityScores"]
        for r in load_unpaired_fastq(spark, str(p), stringency="lenient").df.collect()
    }
    assert rows["description"] == "ZBB"
    assert rows["other"] == "BBB"
    raw = {
        r["name"]: r["qualityScores"]
        for r in load_unpaired_fastq(spark, str(p)).df.collect()
    }
    assert raw["description"] == "Z" and raw["other"] == "*"


def test_fastq_quality_longer_than_read_raises(spark, tmp_path):
    """'read quality longer than read length' (:85-91): IAE even under
    lenient."""
    from adam_spark.sources.fastq import load_unpaired_fastq

    p = tmp_path / "q.fq"
    p.write_text("@description\nA\n+\nZZ\n")
    with pytest.raises(Exception, match="longer than read length"):
        load_unpaired_fastq(spark, str(p), stringency="lenient").df.collect()


def test_fastq_pair_suffix_mismatch_raises(spark, tmp_path):
    """'read name suffix and index of pair must match' (:28-50): /1 in
    the second-of-pair slot (and vice versa) errors under strict and
    passes under lenient; unsuffixed names pass either slot."""
    from adam_spark.sources.fastq import load_interleaved_fastq

    # a FIRST-of-pair suffix in the second slot reaches the converter
    # check (the record-reader resync can only anchor on first-of-pair
    # lines, InterleavedFastqInputFormat.java:61 — so a /2-led file is
    # resynced past the orphan instead, see below)
    bad = tmp_path / "bad.ifq"
    bad.write_text("@read/1\nACGT\n+\nFFFF\n@read/1\nTTTT\n+\nIIII\n")
    with pytest.raises(Exception, match="bad suffix"):
        load_interleaved_fastq(spark, str(bad)).df.collect()
    assert load_interleaved_fastq(spark, str(bad), stringency="lenient").df.count() == 2
    # /2-led file: the input-format resync skips the leading orphan
    # (pinned against the committed truncated-fixture goldens); the
    # remaining half-pair yields no complete record
    orphan = tmp_path / "orphan.ifq"
    orphan.write_text("@read/2\nACGT\n+\nFFFF\n@read/1\nTTTT\n+\nIIII\n")
    assert load_interleaved_fastq(spark, str(orphan)).df.count() == 0
    # unsuffixed names never match the interleaved record boundary —
    # the reference's input format reads zero records from such a file
    ok = tmp_path / "ok.ifq"
    ok.write_text("@read\nACGT\n+\nFFFF\n@read\nTTTT\n+\nIIII\n")
    assert load_interleaved_fastq(spark, str(ok)).df.count() == 0


def test_fastq_convert_pair_valid(spark, tmp_path):
    """'convertPair with valid input' (:97-107): names strip /1 /2, both
    reads paired with readInFragment 0/1."""
    from adam_spark.sources.fastq import load_fastq_alignments

    p = tmp_path / "p.ifq"
    p.write_text("@read/1\nATCGA\n+\nabcde\n@read/2\nTCGAT\n+\n12345\n")
    rows = sorted(
        load_fastq_alignments(spark, str(p), interleaved=True).df.collect(),
        key=lambda r: r["readInFragment"],
    )
    assert [r["readName"] for r in rows] == ["read", "read"]
    assert [r["sequence"] for r in rows] == ["ATCGA", "TCGAT"]
    assert [r["qualityScores"] for r in rows] == ["abcde", "12345"]
    assert [r["readPaired"] for r in rows] == [True, True]
    assert [r["readInFragment"] for r in rows] == [0, 1]


# --- NonoverlappingRegionsSuite (models/NonoverlappingRegionsSuite.scala) ----
def test_nonoverlapping_regions_vectors():
    """'alternating' (:25), 'Single region returns itself' (:55), 'Two
    adjacent regions will be merged' (:63), 'Nonoverlapping regions will
    all be returned' (:71), 'Many overlapping regions will all be
    merged' (:85)."""
    from adam_spark.core.regions import NonoverlappingRegions, alternating

    assert alternating([], True) == [] and alternating([1], True) == [1]
    assert alternating([1, 2], True) == [1] and alternating([1, 2, 3], True) == [1, 3]
    assert alternating([1, 2, 3, 4], True) == [1, 3]
    assert alternating([1, 2, 3, 4, 5], True) == [1, 3, 5]
    assert alternating([], False) == [] and alternating([1], False) == []
    assert alternating([1, 2], False) == [2] and alternating([1, 2, 3], False) == [2]
    assert alternating([1, 2, 3, 4], False) == [2, 4]
    assert alternating([1, 2, 3, 4, 5], False) == [2, 4]
    assert alternating([1, 2, 3, 4, 5, 6], False) == [2, 4, 6]

    r = NonoverlappingRegions([("chr1", 1, 2)])
    assert r.find_overlapping_regions(("chr1", 1, 2)) == [("chr1", 1, 2)]

    r = NonoverlappingRegions([("chr1", 10, 20), ("chr1", 20, 30)])
    assert r.endpoints == [10, 30]

    r = NonoverlappingRegions([("chr1", 1, 2), ("chr1", 3, 5)])
    assert len(r.find_overlapping_regions(("chr1", 1, 4))) == 2  # gap bucket excluded
    assert len(r.find_overlapping_regions(("chr1", 4, 5))) == 1

    r = NonoverlappingRegions([("chr1", 1, 3), ("chr1", 2, 4), ("chr1", 3, 5)])
    assert len(r.find_overlapping_regions(("chr1", 1, 4))) == 1


# --- GenomicPositionPartitionerSuite (ds/GenomicPositionPartitionerSuite) ----
def test_genomic_position_partitioner_vectors():
    """':30-76': unmapped → top partition, unknown contig raises,
    min(parts, total length) clamp, two-piece split, alphabetic
    cumulative lengths, cross-contig positions."""
    from adam_spark.operators.sorts import GenomicPositionPartitioner as P

    p = P(10, {"foo": 1000})
    assert p.num_partitions == 11
    assert p.get_partition(None) == 10
    with pytest.raises(ValueError):
        p.get_partition(("chrFoo", 10))

    assert P(10, {"foo": 9}).num_partitions == 10

    p = P(2, {"foo": 10})
    assert p.get_partition(("foo", 3)) == 0 and p.get_partition(("foo", 7)) == 1

    p = P(3, {"foo": 20, "bar": 10})
    assert p.cumulative_lengths == {"bar": 0, "foo": 10}

    p = P(3, {"bar": 20, "foo": 10})
    assert p.get_partition(("foo", 8)) == 2 and p.get_partition(("foo", 18)) == 3
    assert p.get_partition(("bar", 18)) == 1 and p.get_partition(("bar", 8)) == 0
    assert p.get_partition(("foo", 0)) == 2 and p.get_partition(("foo", 10)) == 3
    assert p.get_partition(("bar", 0)) == 0


# --- ModPartitionerSuite (ds/ModPartitionerSuite.scala) -----------------------
class ModPartitioner:
    """ds/ModPartitioner.scala: trivial |key| mod parts partitioner,
    pinned against its suite's vectors (design-superseded by
    DataFrame repartition(n, col))."""

    def __init__(self, num_partitions: int):
        self.num_partitions = int(num_partitions)

    def get_partition(self, key) -> int:
        if not isinstance(key, int) or isinstance(key, bool):
            raise ValueError("ModPartitioner only partitions integer keys")
        return abs(key) % self.num_partitions


def test_mod_partitioner_vectors():
    """':28-52': |key| mod parts, non-integer keys rejected."""
    p = ModPartitioner(123)
    assert p.num_partitions == 123
    assert p.get_partition(12) == 12
    assert p.get_partition(321) == 75
    assert p.get_partition(-21) == 21
    assert p.get_partition(-1234) == 4
    with pytest.raises(ValueError):
        p.get_partition("a string")


# --- FileExtensionsSuite (util/FileExtensionsSuite.scala) ---------------------
def test_file_extension_vectors():
    """'ends in gzip extension' / 'is a vcf extension' / 'is a
    bam/cram/sam extension' (:24-56) mapped onto the dispatcher's
    _has_ext, including the numeric shard suffix (file.bam.1)."""
    from adam_spark.context import _has_ext

    assert _has_ext("file.vcf", ".vcf")
    assert _has_ext("file.vcf.bgz", ".vcf")
    assert _has_ext("file.vcf.gz", ".vcf")
    assert not _has_ext("file.bcf", ".vcf")
    assert not _has_ext("file.vcf.bgzf", ".vcf")
    for good in ("file.bam", "file.cram", "file.bam.1", "file.bam.10",
                 "file.cram.1", "file.cram.10", "file.sam.1", "file.sam.10"):
        assert _has_ext(good, ".sam", ".bam", ".cram"), good
    for bad in ("file.vcf", "file.bam.x", "file.cram.y", "file.sam.z"):
        assert not _has_ext(bad, ".sam", ".bam", ".cram"), bad


# --- PhredUtilsSuite (util/PhredUtilsSuite.scala) ----------------------------
def test_phred_utils_round_trip_vectors(spark):
    """'convert low/high/overflowing phred score to log and back' +
    'round trip log probabilities' (:25-63) on the Column
    implementations used by the VCF converter."""
    from adam_spark.sources.vcf import _log_prob_to_phred, _phred_to_log_prob

    probes = list(range(0, 200)) + [1000, 3228, 3233, 10000]
    df = spark.createDataFrame([(p,) for p in probes], "p int").select(
        "p", _log_prob_to_phred(_phred_to_log_prob(F.col("p"))).alias("rt")
    )
    got = {r["p"]: r["rt"] for r in df.collect()}
    for p in range(0, 200):
        assert got[p] == p, (p, got[p])
    assert got[1000] == 1000
    assert got[3228] == 3228
    assert got[3233] == 3233  # underflow floor
    assert got[10000] == 3233  # clips past the floor


# --- RichAlignmentSuite (rich/RichAlignmentSuite.scala) ----------------------
def test_unclipped_start_end_vectors(spark):
    """'Unclipped Start' (:28) and 'Unclipped End' (:42)."""
    from adam_spark.operators.mark_duplicates import unclipped_end, unclipped_start

    rows = [
        ("10M", 42, 52), ("2S8M", 42, 50), ("3H2S5M4S", 42, 47),
        ("10Mx", 10, 20), ("8M2S", 10, 18), ("6M2S2H", 10, 16),
    ]
    df = spark.createDataFrame(rows, "cigar string, start long, end long").select(
        "cigar",
        unclipped_start("start", "cigar").alias("us"),
        unclipped_end("end", "cigar").alias("ue"),
    )
    got = {r["cigar"]: (r["us"], r["ue"]) for r in df.collect()}
    assert got["10M"][0] == 42
    assert got["2S8M"][0] == 40
    assert got["3H2S5M4S"][0] == 37
    assert got["8M2S"][1] == 20
    assert got["6M2S2H"][1] == 20


# --- AlignmentConverterSuite (converters/AlignmentConverterSuite.scala) ------
def test_sam_op_oc_oq_round_trip(spark, tmp_path):
    """'testing the fields in a converted ADAM Read' (:64-105):
    originalStart 12 emits OP:i:13, OC/OQ verbatim; SAM load maps them
    back to the typed columns and out of the attributes map."""
    from adam_spark.core.genomic_frame import GenomicFrame
    from adam_spark.core.metadata import (
        GenomicMetadata,
        Reference,
        SequenceDictionary,
    )
    from adam_spark.sources.sam import load_sam, save_sam

    df = schemas.conform(
        spark.createDataFrame(
            [
                {
                    "readName": "read0", "start": 3, "end": 10,
                    "readMapped": True, "cigar": "2M3D2M",
                    "sequence": "AAAA", "qualityScores": "AAAA",
                    "mappingQuality": 60, "mismatchingPositions": "2^AAA2",
                    "originalStart": 12, "originalCigar": "2^AAA3",
                    "originalQualityScores": "IIII",
                    "referenceName": "referencetest",
                }
            ]
        ),
        schemas.ALIGNMENT,
    )
    meta = GenomicMetadata(
        references=SequenceDictionary([Reference(name="referencetest", length=5)]),
        kind="alignment",
    )
    out = str(tmp_path / "op.sam")
    save_sam(GenomicFrame(df, meta), out)
    import os

    text = "".join(
        open(os.path.join(out, f)).read()
        for f in sorted(os.listdir(out))
        if f.startswith("part-")
    )
    body = [l for l in text.splitlines() if not l.startswith("@")][0]
    assert "OP:i:13" in body and "OC:Z:2^AAA3" in body and "OQ:Z:IIII" in body
    assert "MD:Z:2^AAA2" in body
    r = load_sam(spark, out).df.collect()[0]
    assert r["originalStart"] == 12 and r["originalCigar"] == "2^AAA3"
    assert r["originalQualityScores"] == "IIII"
    # this repo's convention keeps every raw tag in the attributes map
    # (typed columns are authoritative); the saver dedupes, so each tag
    # appears exactly once on disk
    for tag in ("OP:i:", "OC:Z:", "OQ:Z:", "MD:Z:"):
        assert body.count(tag) == 1, tag


def test_fastq_negative_strand_revcomp(spark, tmp_path):
    """'reverse complement reads when converting to fastq' (:177) +
    'unmapped reads where 0x10 was set' (:231): the strand flag alone
    triggers revcomp + reversed quals; '*' quality becomes a B run."""
    from adam_spark.core.genomic_frame import GenomicFrame
    from adam_spark.core.metadata import GenomicMetadata
    from adam_spark.sources.fastq import load_unpaired_fastq, save_fastq

    df = schemas.conform(
        spark.createDataFrame(
            [
                {"readName": "neg_mapped", "sequence": "ACGTAC", "qualityScores": "123456",
                 "readMapped": True, "readNegativeStrand": True},
                {"readName": "neg_unmapped", "sequence": "AACCGG", "qualityScores": "654321",
                 "readMapped": False, "readNegativeStrand": True},
                {"readName": "fwd", "sequence": "ACGTAC", "qualityScores": None,
                 "readMapped": False, "readNegativeStrand": False},
            ]
        ),
        schemas.ALIGNMENT,
    )
    out = str(tmp_path / "rc.fq")
    save_fastq(GenomicFrame(df, GenomicMetadata(kind="alignment")), out)
    rows = {r["name"]: r for r in load_unpaired_fastq(spark, out).df.collect()}
    assert rows["neg_mapped"]["sequence"] == "GTACGT"
    assert rows["neg_mapped"]["qualityScores"] == "654321"
    assert rows["neg_unmapped"]["sequence"] == "CCGGTT"
    assert rows["neg_unmapped"]["qualityScores"] == "123456"
    assert rows["fwd"]["sequence"] == "ACGTAC"
    assert rows["fwd"]["qualityScores"] == "BBBBBB"


# --- RecalibratorSuite (ds/read/recalibration/RecalibratorSuite.scala) -------
def test_recalibration_table_inversion_vectors():
    """':30-100': the seeded two-key observation table inverts to
    phred 47 for the (q40, cycle 1, NN) covariate — the exact value the
    suite pins on the recalibrated read — and the (q50, cycle 2, AC)
    covariate clamps at the maxQualScore=50 ceiling
    (TempRecalibrationTable.maxLogP, RecalibrationTable.scala:77-110),
    which is why the suite's second base stays 50."""
    from adam_spark.operators.bqsr import build_recalibration_table

    obs = [
        {"readGroupId": "rg0", "quality": 50, "cycle": 2, "dinuc": "AC",
         "total": 1000000, "mismatches": 1, "expectedErrors": 10.0},
        {"readGroupId": "rg0", "quality": 40, "cycle": 1, "dinuc": "NN",
         "total": 100000, "mismatches": 1, "expectedErrors": 10.0},
    ]
    table = build_recalibration_table(obs)
    assert table[("rg0", 40, 1, "NN")] == 47
    assert table[("rg0", 50, 2, "AC")] == 50


# --- IndelTableSuite (util/IndelTableSuite.scala) ----------------------------
def test_indel_table_vectors(spark):
    """'build indel table from rdd of variants' (:43-76) + the region
    lookups (:31-41): A>ATT at 1000 → insertion consensus 'TT' spanning
    [1001, 1002); ACAT>A at 50 → deletion consensus '' spanning
    [51, 55) (len+1, Consensus.scala:68-71); lookups miss absent
    contigs and non-overlapping regions."""
    from adam_spark.operators.realignment import _known_consensus, known_indels_table

    variants = spark.createDataFrame(
        [
            ("1", 1000, "A", "ATT"),
            ("2", 50, "ACAT", "A"),
        ],
        "referenceName string, start long, referenceAllele string, alternateAllele string",
    )
    table = known_indels_table(variants)
    ins = _known_consensus(table, "1", 1000, 1010, max_n=10)
    assert len(ins) == 1
    pos, op, n, bases = ins[0]
    assert (op, bases) == ("I", "TT") and pos == 1001 - 1000 and n == 2
    dele = _known_consensus(table, "2", 40, 60, max_n=10)
    assert len(dele) == 1
    pos, op, n, bases = dele[0]
    assert (op, bases) == ("D", "") and pos == 51 - 40 and n == 3
    # deletion span reaches one past the run: [51,55) overlaps [54,60)
    assert len(_known_consensus(table, "2", 54, 60, max_n=10)) == 1
    assert len(_known_consensus(table, "2", 55, 60, max_n=10)) == 0
    # absent contig / disjoint region
    assert _known_consensus(table, "0", 0, 1, max_n=10) == []
    assert _known_consensus(table, "1", 1002, 1005, max_n=10) == []


# --- FragmentConverterSuite (converters/FragmentConverterSuite.scala) --------
def test_fragment_converter_vectors(spark):
    """'convert an rdd of contiguous fragments' (:87): adjacent slices
    stitch into ONE aligned read spanning [0, 28); 'discontinuous
    fragments' (:57): a gap breaks the run into separate reads;
    'varied fragments from multiple contigs' (:116): runs are
    per-contig."""
    from adam_spark.operators.conversions import slices_to_contig_reads

    def mk(rows):
        return spark.createDataFrame(
            rows, "name string, sequence string, start long, end long"
        )

    contiguous = mk(
        [("ctg", "ACACACAC", 0, 8), ("ctg", "TGTGTG", 8, 14), ("ctg", "AATTCCGGCCTTAA", 14, 28)]
    )
    got = slices_to_contig_reads(contiguous).collect()
    assert len(got) == 1
    assert got[0]["sequence"] == "ACACACACTGTGTGAATTCCGGCCTTAA"
    assert (got[0]["referenceName"], got[0]["start"], got[0]["end"]) == ("ctg", 0, 28)

    disjoint = mk([("ctg", "ACACACAC", 0, 8), ("ctg", "AATTCCGGCCTTAA", 14, 28)])
    got = {r["start"]: r for r in slices_to_contig_reads(disjoint).collect()}
    assert len(got) == 2
    assert got[0]["sequence"] == "ACACACAC" and got[0]["end"] == 8
    assert got[14]["sequence"] == "AATTCCGGCCTTAA" and got[14]["end"] == 28

    multi = mk(
        [("ctg1", "ACACACAC", 0, 8), ("ctg2", "TGTGTG", 0, 6), ("ctg2", "AATT", 6, 10)]
    )
    got = {r["referenceName"]: r for r in slices_to_contig_reads(multi).collect()}
    assert got["ctg1"]["sequence"] == "ACACACAC"
    assert got["ctg2"]["sequence"] == "TGTGTGAATT" and got["ctg2"]["end"] == 10


# --- SnpTableSuite (ds/read/recalibration/SnpTableSuite.scala) ---------------
def test_known_snps_multi_contig_masking(spark, tmp_path):
    """'create a snp table from variants on multiple contigs' (:33-48) +
    'perform lookups on multi-contig snp table' (:80-95), re-expressed
    on the Spark-first masking (broadcast anti-join on ref:pos instead
    of the reference's per-contig index arrays): the random.vcf-shaped
    site set masks exactly its own positions, per contig."""
    from adam_spark.operators import bqsr
    from adam_spark.sources.vcf import load_vcf_variants

    p = tmp_path / "random_shape.vcf"
    sites = [("1", 14396), ("1", 14521), ("1", 63734), ("2", 19189),
             ("13", 752720), ("13", 752790)]
    p.write_text(
        "##fileformat=VCFv4.3\n"
        "##contig=<ID=1>\n##contig=<ID=2>\n##contig=<ID=13>\n"
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
        + "".join(f"{c}\t{pos + 1}\t.\tA\tG\t50\tPASS\t.\n" for c, pos in sites)
    )
    snps = load_vcf_variants(spark, str(p))
    got = sorted(
        (r["referenceName"], r["start"]) for r in snps.df.collect()
    )
    assert got == sorted(sites)

    # reads overlapping known sites: the masked base drops from the
    # observation total, per contig (the maskedSites lookup semantics)
    reads = schemas.conform(
        spark.createDataFrame(
            [
                {"readName": "r1", "referenceName": "1", "start": 14395,
                 "end": 14399, "readMapped": True, "cigar": "4M",
                 "sequence": "ACGT", "qualityScores": "IIII",
                 "mismatchingPositions": "4", "mappingQuality": 60,
                 "readGroupId": "rg", "primaryAlignment": True},
                {"readName": "r2", "referenceName": "13", "start": 752718,
                 "end": 752722, "readMapped": True, "cigar": "4M",
                 "sequence": "ACGT", "qualityScores": "IIII",
                 "mismatchingPositions": "4", "mappingQuality": 60,
                 "readGroupId": "rg", "primaryAlignment": True},
                {"readName": "r3", "referenceName": "22", "start": 14395,
                 "end": 14399, "readMapped": True, "cigar": "4M",
                 "sequence": "ACGT", "qualityScores": "IIII",
                 "mismatchingPositions": "4", "mappingQuality": 60,
                 "readGroupId": "rg", "primaryAlignment": True},
            ]
        ),
        schemas.ALIGNMENT,
    )
    obs = bqsr.observe_covariates(reads, known_snps=snps.df).collect()
    total = sum(r["total"] for r in obs)
    # r1 loses pos 14396, r2 loses 752720; r3 (contig 22 — no known
    # sites) keeps all 4 bases
    assert total == 4 + 3 + 3


def test_index_sequence_read_names_group_into_fragments(spark, tmp_path):
    """FragmentDatasetSuite 'paired/interleaved read names with index
    sequences in read names can group into fragments' (:581-614): the
    Casava 1.8 ' 1:N:0:ATCACG' comment strips from the name, so both
    mates share it and pair up — 4 fragments of 2 alignments each."""
    from adam_spark.context import load_alignments
    from adam_spark.operators.conversions import alignments_to_fragments

    def rec(i, rif):
        return (
            f"@MACH:89:FC:1:1101:{1000+i}:2123 {rif}:N:0:ATCACG\n"
            "ACGTACGT\n+\nIIIIIIII\n"
        )

    p1, p2 = tmp_path / "p1.fq", tmp_path / "p2.fq"
    p1.write_text("".join(rec(i, 1) for i in range(4)))
    p2.write_text("".join(rec(i, 2) for i in range(4)))
    rows = alignments_to_fragments(
        load_alignments(spark, str(p1), path2=str(p2)).df
    ).collect()
    assert len(rows) == 4
    assert all(len(r["alignments"]) == 2 for r in rows)
    assert all(" " not in r["name"] for r in rows)

    ifq = tmp_path / "inter.ifq"
    ifq.write_text("".join(rec(i, 1) + rec(i, 2) for i in range(4)))
    rows = alignments_to_fragments(load_alignments(spark, str(ifq)).df).collect()
    assert len(rows) == 4 and all(len(r["alignments"]) == 2 for r in rows)
