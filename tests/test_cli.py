"""CLI end-to-end tests (reference: adam-cli suites —
TransformAlignmentsSuite, FlagStatSuite, ViewSuite)."""

import os

import pytest

from adam_spark.cli import main

SAM = """@HD\tVN:1.6\tSO:coordinate
@SQ\tSN:chr1\tLN:10000
@RG\tID:rg1\tSM:s1\tLB:lib1
r1\t99\tchr1\t100\t60\t10M\t=\t200\t110\tACGTACGTAC\tIIIIIIIIII\tRG:Z:rg1
r1\t147\tchr1\t200\t60\t10M\t=\t100\t-110\tACGTACGTAC\tIIIIIIIIII\tRG:Z:rg1
r2\t99\tchr1\t100\t60\t10M\t=\t200\t110\tACGTACGTAC\tBBBBBBBBBB\tRG:Z:rg1
r2\t147\tchr1\t200\t60\t10M\t=\t100\t-110\tACGTACGTAC\tBBBBBBBBBB\tRG:Z:rg1
r3\t0\tchr1\t500\t30\t10M\t*\t0\t0\tTTTTGGGGCC\tIIIIIIIIII
r4\t4\t*\t0\t0\t*\t*\t0\t0\tAAAACCCC\tIIIIIIII
"""


@pytest.fixture()
def sam_path(tmp_path):
    f = tmp_path / "in.sam"
    f.write_text(SAM)
    return str(f)


def test_transform_alignments_mark_dups_roundtrip(spark, sam_path, tmp_path):
    out = str(tmp_path / "out.sam")
    rc = main(
        [
            "transform_alignments",
            sam_path,
            out,
            "-mark_duplicate_reads",
            "-sort_by_reference_position",
        ]
    )
    assert rc == 0
    from adam_spark.sources.sam import load_sam

    gf = load_sam(spark, out)
    rows = {(r["readName"], r["readInFragment"]): r for r in gf.df.collect()}
    assert len(rows) == 6
    # r1/r2 are position duplicates; the higher-quality pair (r1, 'I'
    # quals) survives, r2 is flagged
    assert rows[("r2", 0)]["duplicateRead"] is True
    assert rows[("r1", 0)]["duplicateRead"] is False


def test_transform_alignments_to_parquet(spark, sam_path, tmp_path):
    out = str(tmp_path / "out.adam")
    rc = main(["transform_alignments", sam_path, out, "-partition_size", "1000"])
    assert rc == 0
    from adam_spark.sources.parquet import is_partitioned, load_partitioned_parquet

    assert is_partitioned(out)
    gf = load_partitioned_parquet(spark, out, regions=[("chr1", 0, 300)])
    assert gf.df.count() == 4  # r3 at 499 and unmapped r4 pruned
    assert gf.meta.references["chr1"].length == 10000


def test_flagstat_cli(spark, sam_path, capsys):
    rc = main(["flagstat", sam_path])
    assert rc == 0
    out = capsys.readouterr().out
    assert "total" in out


def test_view_count(spark, sam_path, capsys):
    rc = main(["view", sam_path, "-f", "64", "-c"])
    assert rc == 0
    assert capsys.readouterr().out.strip().endswith("2")  # two first-of-pair reads


def test_coverage_cli(spark, sam_path, tmp_path):
    out = str(tmp_path / "cov.adam")
    rc = main(["coverage", sam_path, out, "-collapse"])
    assert rc == 0
    from adam_spark.sources.parquet import load_parquet

    cov = load_parquet(spark, out)
    rows = {(r["start"], r["end"]): r["count"] for r in cov.df.collect()}
    assert rows[(99, 109)] == 2.0  # r1+r2 overlap (r2 dup but unmarked here)


def test_count_kmers_cli(spark, sam_path, tmp_path):
    out = str(tmp_path / "kmers")
    rc = main(["count_kmers", sam_path, out, "4"])
    assert rc == 0
    lines = []
    for f in os.listdir(out):
        if f.startswith("part"):
            lines += open(os.path.join(out, f)).read().splitlines()
    counts = dict(l.split("\t") for l in lines)
    assert counts["ACGT"] >= "1"


def test_transform_features_bed_to_gff3(spark, tmp_path):
    bed = tmp_path / "in.bed"
    bed.write_text("chr1\t10\t20\tfeat1\t5.0\t+\n")
    out = str(tmp_path / "out.gff3")
    rc = main(["transform_features", str(bed), out])
    assert rc == 0
    from adam_spark.sources.features_io import load_gff3

    gf = load_gff3(spark, out)
    r = gf.df.collect()[0]
    assert r["start"] == 10 and r["end"] == 20


def test_merge_shards(spark, tmp_path):
    from adam_spark.sources.merge import merge_shards

    d = tmp_path / "shards"
    d.mkdir()
    (d / "part-00000").write_text("line1\n")
    (d / "part-00001").write_text("line2\n")
    (d / "_SUCCESS").write_text("")
    hdr = tmp_path / "header.txt"
    hdr.write_text("@HD\tVN:1.6\n")
    out = str(tmp_path / "merged.sam")
    rc = main(["merge_shards", str(d), out, "-header", str(hdr)])
    assert rc == 0
    assert open(out).read() == "@HD\tVN:1.6\nline1\nline2\n"


def test_projection(spark, sam_path):
    from adam_spark.sources.sam import load_sam

    gf = load_sam(spark, sam_path)
    p = gf.project("referenceName", "start", "end")
    assert p.df.columns == ["referenceName", "start", "end"]
    assert p.meta.references["chr1"].length == 10000


def test_print_cli(spark, sam_path, tmp_path, capsys):
    out = str(tmp_path / "a.adam")
    assert main(["transform_alignments", sam_path, out]) == 0
    assert main(["print", out, "-limit", "3"]) == 0
    text = capsys.readouterr().out
    assert "readName" in text


def test_adam2fastq(spark, sam_path, tmp_path):
    out = str(tmp_path / "out.fq")
    rc = main(["adam2fastq", sam_path, out, "-sort_by_name", "-write_suffixes"])
    assert rc == 0
    if os.path.isdir(out):
        part = [f for f in os.listdir(out) if f.startswith("part-")][0]
        text = open(os.path.join(out, part)).read()
    else:
        text = open(out).read()
    assert text.startswith("@r1/1\n")
    assert text.count("@r") == 6


def test_transform_fragments_roundtrip(spark, sam_path, tmp_path):
    frag = str(tmp_path / "frags.adam")
    rc = main(["transform_fragments", sam_path, frag])
    assert rc == 0
    # -save_as_alignments explodes the nested reads back out
    # (TransformFragments.scala:55 + run() .toAlignments)
    out = str(tmp_path / "aligned.adam")
    rc = main(["transform_fragments", frag, out, "-save_as_alignments"])
    assert rc == 0
    from adam_spark.sources.parquet import load_parquet

    gf = load_parquet(spark, out)
    assert gf.df.count() == 6


def test_count_slice_kmers(spark, tmp_path):
    fa = tmp_path / "ref.fa"
    fa.write_text(">chr1 test\nACGTACGTAC\nGTACGTACGT\n")
    out = str(tmp_path / "kmers.txt")
    rc = main(["count_slice_kmers", str(fa), out, "4"])
    assert rc == 0
    lines = []
    for f in os.listdir(out):
        if f.startswith("part-"):
            lines += open(os.path.join(out, f)).read().splitlines()
    counts = dict(l.split("\t") for l in lines)
    assert int(counts["ACGT"]) >= 4


def test_transform_sequences(spark, tmp_path):
    fa = tmp_path / "seqs.fa"
    fa.write_text(">s1\nACGTACGT\n>s2\nTTTTGGGG\n")
    out = str(tmp_path / "seqs.adam")
    rc = main(["transform_sequences", str(fa), out])
    assert rc == 0
    from adam_spark.sources.parquet import load_parquet

    gf = load_parquet(spark, out)
    rows = {r["name"]: r["sequence"] for r in gf.df.collect()}
    assert rows == {"s1": "ACGTACGT", "s2": "TTTTGGGG"}


def test_transform_alignments_predicates_and_layout(spark, sam_path, tmp_path):
    """New TransformAlignments flags drive end-to-end: region predicate,
    aligned-read predicate, limit_projection, repartition/coalesce,
    sort-by-index, cache (TransformAlignments.scala:62-653 surface)."""
    from adam_spark.sources.sam import load_sam

    out = str(tmp_path / "region.sam")
    rc = main([
        "transform_alignments", sam_path, out,
        "-region_predicate", "chr1:90-150",
        "-limit_projection",
        "-repartition", "2",
        "-sort_by_reference_position_and_index",
        "-cache",
        "-coalesce", "1",
    ])
    assert rc == 0
    names = {(r["readName"], r["readInFragment"])
             for r in load_sam(spark, out).df.collect()}
    assert names == {("r1", 0), ("r2", 0)}  # only reads overlapping 90-150

    out2 = str(tmp_path / "aligned.sam")
    rc = main([
        "transform_alignments", sam_path, out2,
        "-aligned_read_predicate",
        "-coalesce", "1", "-force_shuffle_coalesce",
    ])
    assert rc == 0
    rows = load_sam(spark, out2).df.collect()
    assert len(rows) == 5 and all(r["readMapped"] for r in rows)


@pytest.mark.parametrize("extra", [[], ["-force_shuffle_coalesce"]])
def test_transform_alignments_coalesce_unset(spark, sam_path, tmp_path, extra):
    """-coalesce -1 is the reference's "unset" default
    (TransformAlignments.scala:134): the output keeps every read."""
    from adam_spark.sources.sam import load_sam

    out = str(tmp_path / "out.sam")
    assert main(["transform_alignments", sam_path, out, "-coalesce", "-1", *extra]) == 0
    assert load_sam(spark, out).df.count() == 6


def test_transform_alignments_concat_and_partitioned_save(spark, sam_path, tmp_path):
    """-concat unions a second input; -partition_by_start_pos writes the
    Hive-partitioned positionBin layout readable by the pruned loader."""
    import shutil

    sam2 = tmp_path / "in2.sam"
    shutil.copy(sam_path, sam2)
    out = str(tmp_path / "part.adam")
    rc = main([
        "transform_alignments", sam_path, out,
        "-concat", str(sam2),
        "-partition_by_start_pos", "-partition_bin_size", "1000",
    ])
    assert rc == 0
    from adam_spark.sources.parquet import is_partitioned, load_parquet

    assert is_partitioned(out)
    gf = load_parquet(spark, out)
    assert gf.df.count() == 12  # 6 reads twice


def test_transform_alignments_realign_knobs_and_stringency(spark, sam_path, tmp_path):
    """Realignment tuning flags parse through to the kernel; a bogus
    -stringency value is rejected."""
    out = str(tmp_path / "realn.sam")
    rc = main([
        "transform_alignments", sam_path, out,
        "-realign_indels",
        "-max_indel_size", "100",
        "-max_consensus_number", "10",
        "-log_odds_threshold", "4.5",
        "-max_target_size", "2000",
        "-max_reads_per_target", "100",
        "-unclip_reads",
        "-stringency", "STRICT",
    ])
    assert rc == 0
    from adam_spark.sources.sam import load_sam

    assert load_sam(spark, out).df.count() == 6

    assert main(["transform_alignments", sam_path, str(tmp_path / "x.sam"),
                 "-stringency", "BOGUS"]) == 2
    assert main(["transform_alignments", sam_path, str(tmp_path / "y.sam"),
                 "-region_predicate", "chr1:0-10",
                 "-aligned_read_predicate"]) == 2


def test_transform_alignments_md_tags(spark, sam_path, tmp_path):
    """-add_md_tags computes mismatchingPositions from a FASTA."""
    fasta = tmp_path / "ref.fa"
    fasta.write_text(">chr1\n" + "A" * 10000 + "\n")
    out = str(tmp_path / "md.sam")
    rc = main([
        "transform_alignments", sam_path, out,
        "-add_md_tags", str(fasta), "-md_tag_overwrite",
    ])
    assert rc == 0
    from adam_spark.sources.sam import load_sam

    rows = {r["readName"]: r for r in load_sam(spark, out).df.collect()
            if r["readMapped"]}
    # r3 = TTTTGGGGCC vs all-A reference: every base mismatches → MD '0T...'
    assert rows["r3"]["mismatchingPositions"] is not None


FQ_R1 = "@p1\nACGTACGTAC\n+\nIIIIIIIIII\n@p2\nTTTTGGGGCC\n+\nIIIIIIIIII\n"
FQ_R2 = "@p1\nGGGGCCCCAA\n+\nIIIIIIIIII\n@p2\nAACCGGTTAA\n+\nIIIIIIIIII\n"


def test_ta_paired_fastq_read_group_and_max_length(spark, tmp_path):
    """-paired_fastq / -read_group '' (basename default) /
    -max_read_length (drop under LENIENT, error under STRICT)."""
    r1 = tmp_path / "sampleX.fq"
    r1.write_text(FQ_R1 + "@long1\n" + "A" * 50 + "\n+\n" + "I" * 50 + "\n")
    r2 = tmp_path / "sampleX_2.fq"
    r2.write_text(FQ_R2 + "@long1\n" + "C" * 50 + "\n+\n" + "I" * 50 + "\n")
    out = str(tmp_path / "out.adam")
    rc = main([
        "transform_alignments", str(r1), out,
        "-paired_fastq", str(r2),
        "-read_group", "",
        "-max_read_length", "20",
    ])
    assert rc == 0
    from adam_spark.sources.parquet import load_parquet

    df = load_parquet(spark, out, "alignment").df
    rows = df.collect()
    # 2 pairs survive; the 50bp pair is dropped by -max_read_length
    assert len(rows) == 4
    assert {r["readGroupId"] for r in rows} == {"sampleX"}
    assert {(r["readName"], r["readInFragment"]) for r in rows} == {
        ("p1", 0), ("p1", 1), ("p2", 0), ("p2", 1)
    }
    # STRICT: over-long reads are an error, not a drop
    assert main([
        "transform_alignments", str(r1), str(tmp_path / "strict.adam"),
        "-force_load_fastq", "-max_read_length", "20", "-stringency", "STRICT",
    ]) == 1


def test_ta_force_load_flags(spark, sam_path, tmp_path):
    """-force_load_* bypasses extension dispatch; mutually exclusive."""
    # text SAM under a misleading name, forced through the BAM/SAM path
    weird = tmp_path / "reads.dat"
    weird.write_text(open(sam_path).read())
    out1 = str(tmp_path / "o1.adam")
    assert main(["transform_alignments", str(weird), out1, "-force_load_bam"]) == 0
    from adam_spark.sources.parquet import load_parquet

    assert load_parquet(spark, out1, "alignment").df.count() == 6

    # unpaired FASTQ under .txt
    fq = tmp_path / "reads.txt"
    fq.write_text(FQ_R1)
    out2 = str(tmp_path / "o2.adam")
    assert main(["transform_alignments", str(fq), out2, "-force_load_fastq"]) == 0
    assert load_parquet(spark, out2, "alignment").df.count() == 2

    # interleaved FASTQ under .txt: alternating r1/r2 records pair up
    ifq = tmp_path / "inter.txt"
    # first-of-pair suffixes are required by the interleaved record
    # boundary (InterleavedFastqInputFormat.java:61; unsuffixed files
    # read as zero records, as in the reference)
    ifq.write_text(
        "@p1/1\nACGTACGTAC\n+\nIIIIIIIIII\n@p1/2\nGGGGCCCCAA\n+\nIIIIIIIIII\n"
    )
    out3 = str(tmp_path / "o3.adam")
    assert main(["transform_alignments", str(ifq), out3, "-force_load_ifastq"]) == 0
    got = load_parquet(spark, out3, "alignment").df.collect()
    assert {(r["readName"], r["readInFragment"]) for r in got} == {("p1", 0), ("p1", 1)}

    # parquet under a non-.adam name
    out4 = str(tmp_path / "o4.plaindir")
    assert main(["transform_alignments", out1, out4, "-force_load_parquet"]) == 0
    assert load_parquet(spark, out4, "alignment").df.count() == 6

    # at most one force flag
    assert main(["transform_alignments", str(fq), str(tmp_path / "x.adam"),
                 "-force_load_fastq", "-force_load_bam"]) == 2


def test_ta_single_defer_concat_and_pg(spark, sam_path, tmp_path):
    """-single / -defer_merging / -disable_fast_concat / -disable_pg."""
    import glob

    # default single-file SAM carries a fresh @PG line
    out_pg = str(tmp_path / "pg.sam")
    assert main(["transform_alignments", sam_path, out_pg]) == 0
    txt = open(sorted(glob.glob(out_pg + "/part-*"))[0]).read() if os.path.isdir(out_pg) else open(out_pg).read()
    assert "@PG\tID:adam_spark" in txt

    # -disable_pg drops it
    out_npg = str(tmp_path / "npg.sam")
    assert main(["transform_alignments", sam_path, out_npg, "-disable_pg"]) == 0
    txt_npg = open(sorted(glob.glob(out_npg + "/part-*"))[0]).read() if os.path.isdir(out_npg) else open(out_npg).read()
    assert "@PG" not in txt_npg

    # -sharded -single: -single forces the merge back on
    out_s = str(tmp_path / "single.sam")
    assert main(["transform_alignments", sam_path, out_s, "-sharded", "-single"]) == 0
    from adam_spark.sources.sam import load_sam

    assert load_sam(spark, out_s).df.count() == 6

    # -defer_merging leaves unmerged shards even with -single
    out_d = str(tmp_path / "defer.sam")
    assert main(["transform_alignments", sam_path, out_d, "-single",
                 "-defer_merging"]) == 0
    assert os.path.isdir(out_d) and glob.glob(out_d + "/part-*")

    # -disable_fast_concat: serial driver concat — same records as the
    # fast path, one plain file, no leftover shard dir
    out_c = str(tmp_path / "concat.sam")
    assert main(["transform_alignments", sam_path, out_c, "-single",
                 "-disable_fast_concat"]) == 0
    assert os.path.isfile(out_c)
    assert not os.path.exists(str(tmp_path / "concat.shards.sam"))
    keep = ["readName", "readInFragment", "start", "cigar", "sequence"]
    a = {tuple(r) for r in load_sam(spark, out_c).df.select(keep).collect()}
    b = {tuple(r) for r in load_sam(spark, out_s).df.select(keep).collect()}
    assert a == b


def test_ta_sort_fastq_output(tmp_path):
    fq = tmp_path / "in.fq"
    fq.write_text(
        "@zz\nAAAA\n+\nIIII\n@aa\nCCCC\n+\nIIII\n@mm\nGGGG\n+\nIIII\n"
    )
    out = str(tmp_path / "sorted.fq")
    assert main(["transform_alignments", str(fq), out, "-force_load_fastq",
                 "-single", "-sort_fastq_output"]) == 0
    import glob

    path = out if os.path.isfile(out) else sorted(glob.glob(out + "/part-*"))[0]
    names = [l[1:] for l in open(path).read().splitlines() if l.startswith("@")]
    assert names == ["aa", "mm", "zz"]


def test_ta_sampling_storage_and_md_fragments(spark, sam_path, tmp_path):
    """-sampling_fraction/-sampling_seed reach BQSR, -storage_level
    validates, -md_tag_fragment_size tags against bounded slices and
    matches the whole-contig path."""
    out = str(tmp_path / "recal.sam")
    assert main([
        "transform_alignments", sam_path, out,
        "-recalibrate_base_qualities",
        "-sampling_fraction", "1.0", "-sampling_seed", "42",
        "-cache", "-storage_level", "MEMORY_AND_DISK",
    ]) == 0
    from adam_spark.sources.sam import load_sam

    assert load_sam(spark, out).df.count() == 6
    assert main(["transform_alignments", sam_path, str(tmp_path / "x.sam"),
                 "-cache", "-storage_level", "NOT_A_LEVEL"]) == 2

    fasta = tmp_path / "ref.fa"
    fasta.write_text(">chr1\n" + ("ACGT" * 2500) + "\n")
    frag = str(tmp_path / "frag.sam")
    whole = str(tmp_path / "whole.sam")
    assert main(["transform_alignments", sam_path, frag,
                 "-add_md_tags", str(fasta), "-md_tag_overwrite",
                 "-md_tag_fragment_size", "1000"]) == 0
    assert main(["transform_alignments", sam_path, whole,
                 "-add_md_tags", str(fasta), "-md_tag_overwrite"]) == 0
    md_f = {r["readName"]: r["mismatchingPositions"]
            for r in load_sam(spark, frag).df.collect() if r["readMapped"]}
    md_w = {r["readName"]: r["mismatchingPositions"]
            for r in load_sam(spark, whole).df.collect() if r["readMapped"]}
    assert md_f == md_w and md_f["r3"] is not None


def test_ta_reference_refreshes_md_after_realign(spark, sam_path, tmp_path):
    """-reference: realigned reads get MD tags recomputed against the
    reference file (TransformAlignments.scala:125, :280)."""
    fasta = tmp_path / "ref.fa"
    fasta.write_text(">chr1\n" + "A" * 10000 + "\n")
    out = str(tmp_path / "realn_md.sam")
    assert main([
        "transform_alignments", sam_path, out,
        "-realign_indels", "-reference", str(fasta),
    ]) == 0
    from adam_spark.sources.sam import load_sam

    rows = {r["readName"]: r for r in load_sam(spark, out).df.collect()
            if r["readMapped"]}
    # r3 = TTTTGGGGCC vs all-A reference: MD must be present and start
    # with a mismatch run
    assert rows["r3"]["mismatchingPositions"] is not None
    assert rows["r3"]["mismatchingPositions"].startswith("0")


# --- round-7 flag long tails for the non-transform_alignments commands ---

def _read_text_output(path):
    """Read a saved text output whether it's a real file or a Spark
    text directory of part-* shards."""
    if os.path.isfile(path):
        return open(path).read()
    return "".join(
        open(os.path.join(path, f)).read()
        for f in sorted(os.listdir(path)) if f.startswith("part-")
    )



VCF_MINI = """##fileformat=VCFv4.3
##INFO=<ID=DP,Number=1,Type=Integer,Description="Depth">
##contig=<ID=chr1,length=1000>
##contig=<ID=chr2,length=2000>
#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tNA001
chr2\t300\t.\tC\tT\t10\tPASS\tDP=15\tGT:DP\t1/1:15
chr1\t100\trs1\tA\tG\t50.5\tPASS\tDP=30\tGT:DP\t0/1:30
"""


@pytest.fixture()
def vcf_path(tmp_path):
    f = tmp_path / "in.vcf"
    f.write_text(VCF_MINI)
    return str(f)


def test_flagstat_o_and_stringency(spark, sam_path, tmp_path):
    out = tmp_path / "stats.txt"
    assert main(["flagstat", sam_path, "-o", str(out)]) == 0
    text = out.read_text()
    assert "\t" in text and len(text.splitlines()) > 3
    assert main(["flagstat", sam_path, "-stringency", "BOGUS"]) == 2


def test_coverage_strands_and_sort(spark, sam_path, tmp_path):
    # -sort_lexicographically requires -collapse (Coverage.scala run())
    assert main(["coverage", sam_path, str(tmp_path / "x.adam"),
                 "-sort_lexicographically"]) == 2
    neg = str(tmp_path / "neg.adam")
    assert main(["coverage", sam_path, neg, "-collapse",
                 "-only_negative_strands", "-sort_lexicographically"]) == 0
    pos = str(tmp_path / "pos.adam")
    assert main(["coverage", sam_path, pos, "-collapse",
                 "-only_positive_strands"]) == 0
    from adam_spark.sources.parquet import load_parquet

    # SAM fixture: flags 147 reads are reverse strand (2 reads at 200-210);
    # positive: r1/r2 at 100, r3 at 500
    neg_rows = load_parquet(spark, neg, "coverage").df.collect()
    pos_rows = load_parquet(spark, pos, "coverage").df.collect()
    assert {(r["start"], r["end"]) for r in neg_rows} == {(199, 209)}
    assert all(r["count"] == 2.0 for r in neg_rows)
    assert {r["start"] for r in pos_rows} == {99, 499}


def test_count_kmers_sort_histogram_single(spark, sam_path, tmp_path, capsys):
    out = str(tmp_path / "kmers.txt")
    rc = main(["count_kmers", sam_path, out, "4",
               "-sort", "-single", "-print_histogram", "-repartition", "2"])
    assert rc == 0
    printed = capsys.readouterr().out
    # histogram lines are (count, #kmers) tuples
    assert any(line.startswith("(") and "," in line
               for line in printed.splitlines())
    assert os.path.isfile(out)
    lines = [ln for ln in _read_text_output(out).splitlines() if ln]
    kmers = [ln.split("\t")[0] for ln in lines]
    assert kmers == sorted(kmers) and len(kmers) > 0


def test_count_slice_kmers_maximum_length(spark, tmp_path):
    fa = tmp_path / "ref.fa"
    fa.write_text(">chrA\n" + "ACGT" * 10 + "\n")
    out = str(tmp_path / "k.txt")
    rc = main(["count_slice_kmers", str(fa), out, "4",
               "-maximum_length", "16", "-single", "-sort"])
    assert rc == 0
    text = open(out).read()
    assert "ACGT\t" in text


def test_view_second_positional_output(spark, sam_path, tmp_path):
    out = str(tmp_path / "mapped.sam")
    rc = main(["view", sam_path, out, "-F", "4"])
    assert rc == 0
    text = _read_text_output(out)
    body = [ln for ln in text.splitlines() if not ln.startswith("@")]
    assert len(body) == 5  # r4 (flag 4) filtered out
    assert all("\t" in ln for ln in body)


def test_transform_features_reference_and_partitioned(spark, tmp_path):
    bed = tmp_path / "in.bed"
    bed.write_text("chr1\t10\t20\tfeat1\t5.0\t+\nchr2\t5\t9\tfeat2\t1.0\t-\n")
    genome = tmp_path / "ref.genome"
    genome.write_text("chr1\t1000\nchr2\t2000\n")
    out = str(tmp_path / "feats.adam")
    rc = main(["transform_features", str(bed), out,
               "-reference", str(genome), "-num_partitions", "2",
               "-partition_by_start_pos", "-partition_bin_size", "100"])
    assert rc == 0
    from adam_spark.sources.parquet import load_partitioned_parquet

    gf = load_partitioned_parquet(spark, out)
    assert gf.df.count() == 2
    assert gf.meta.references["chr1"].length == 1000
    assert gf.meta.references["chr2"].length == 2000


def test_transform_genotypes_nested_annotations_default_off(spark, vcf_path, tmp_path):
    plain = str(tmp_path / "g.adam")
    assert main(["transform_genotypes", vcf_path, plain]) == 0
    nested = str(tmp_path / "gn.adam")
    assert main(["transform_genotypes", vcf_path, nested,
                 "-nested_annotations"]) == 0
    from adam_spark.sources.parquet import load_parquet

    row = load_parquet(spark, plain, "genotype").df.collect()[0]
    assert row["variant"]["annotation"] is None
    row_n = load_parquet(spark, nested, "genotype").df.collect()[0]
    # INFO DP lives in the header-typed attributes map (not the typed
    # readDepth field, which is fed by INFO AD — DefaultHeaderLines)
    assert row_n["variant"]["annotation"]["attributes"]["DP"] in ("15", "30")


def test_transform_genotypes_sort_and_vcf_out(spark, vcf_path, tmp_path):
    # conflicting sort flags
    assert main(["transform_genotypes", vcf_path, str(tmp_path / "x.adam"),
                 "-sort_on_save", "-sort_lexicographically_on_save"]) == 2
    out = str(tmp_path / "sorted.vcf")
    rc = main(["transform_genotypes", vcf_path, out,
               "-sort_on_save", "-single", "-coalesce", "1"])
    assert rc == 0
    body = [ln for ln in _read_text_output(out).splitlines()
            if ln and not ln.startswith("#")]
    # contig-index order restored (chr1 before chr2 despite input order)
    assert body[0].startswith("chr1\t") and body[1].startswith("chr2\t")


def test_transform_variants_lex_sort_and_concat(spark, vcf_path, tmp_path):
    out = str(tmp_path / "lex.vcf")
    rc = main(["transform_variants", vcf_path, out,
               "-sort_lexicographically_on_save", "-single",
               "-disable_fast_concat", "-force_shuffle_coalesce",
               "-coalesce", "2"])
    assert rc == 0
    text = _read_text_output(out)
    body = [ln for ln in text.splitlines() if ln and not ln.startswith("#")]
    assert [ln.split("\t")[0] for ln in body] == ["chr1", "chr2"]
    assert text.startswith("##fileformat")


def test_transform_sequences_alphabet_and_create_references(spark, tmp_path):
    fa = tmp_path / "seqs.fa"
    fa.write_text(">s1\nACGTACGT\n>s2\nGGGG\n")
    assert main(["transform_sequences", str(fa), str(tmp_path / "x.adam"),
                 "-alphabet", "KLINGON"]) == 2
    out = str(tmp_path / "seqs.adam")
    rc = main(["transform_sequences", str(fa), out, "-create_references"])
    assert rc == 0
    from adam_spark.sources.parquet import load_parquet

    gf = load_parquet(spark, out, "sequence")
    assert gf.meta.references["s1"].length == 8
    assert gf.meta.references["s2"].length == 4


def test_transform_slices_create_references(spark, tmp_path):
    fa = tmp_path / "ref.fa"
    fa.write_text(">chrA\n" + "ACGT" * 6 + "\n")
    out = str(tmp_path / "slices.adam")
    rc = main(["transform_slices", str(fa), out,
               "-maximum_length", "10", "-create_references"])
    assert rc == 0
    from adam_spark.sources.parquet import load_parquet

    gf = load_parquet(spark, out, "slice")
    assert gf.df.count() == 3  # 24bp in 10bp slices
    assert gf.meta.references["chrA"].length == 24


def test_transform_fragments_flag_validation(spark, sam_path, tmp_path):
    # sorts require -save_as_alignments
    assert main(["transform_fragments", sam_path, str(tmp_path / "x.adam"),
                 "-sort_by_read_name"]) == 2
    # only one sort flag at a time
    assert main(["transform_fragments", sam_path, str(tmp_path / "y.adam"),
                 "-save_as_alignments", "-sort_by_read_name",
                 "-sort_by_reference_position"]) == 2


def test_transform_fragments_markdup_bin_sort(spark, sam_path, tmp_path):
    out = str(tmp_path / "frags.adam")
    rc = main(["transform_fragments", sam_path, out,
               "-mark_duplicate_reads", "-bin_quality_scores", "0,41,20"])
    assert rc == 0
    from adam_spark.sources.parquet import load_parquet

    rows = load_parquet(spark, out, "fragment").df.collect()
    reads = [a for r in rows for a in r["alignments"]]
    # binning rewrote both fixture quality profiles into the 20 bin ('5')
    assert {q for a in reads for q in a["qualityScores"]} == {"5"}
    # one of the two identical r1/r2 pairs is marked duplicate
    dup_frags = {a["readName"] for a in reads if a["duplicateRead"]}
    assert len(dup_frags) == 1 and dup_frags < {"r1", "r2"}
    # save_as_alignments + name sort
    out2 = str(tmp_path / "byname.adam")
    rc = main(["transform_fragments", out, out2,
               "-save_as_alignments", "-sort_by_read_name"])
    assert rc == 0
    names = [r["readName"]
             for r in load_parquet(spark, out2, "alignment").df.collect()]
    assert names == sorted(names)


def test_transform_fragments_paired_fastq(spark, tmp_path):
    r1 = tmp_path / "a_1.fq"
    r1.write_text(FQ_R1)
    r2 = tmp_path / "a_2.fq"
    r2.write_text(FQ_R2)
    out = str(tmp_path / "pairs.adam")
    rc = main(["transform_fragments", str(r1), out,
               "-paired_fastq", str(r2), "-max_read_length", "20"])
    assert rc == 0
    from adam_spark.sources.parquet import load_parquet

    rows = load_parquet(spark, out, "fragment").df.collect()
    assert {r["name"] for r in rows} == {"p1", "p2"}
    assert all(len(r["alignments"]) == 2 for r in rows)


def test_adam2fastq_oq_validation_and_knobs(spark, tmp_path):
    sam = tmp_path / "oq.sam"
    sam.write_text(
        "@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:10000\n"
        "u1\t0\tchr1\t100\t60\t4M\t*\t0\t0\tACGT\tIIII\tOQ:Z:!!!!\n"
        "u2\t0\tchr1\t200\t60\t4M\t*\t0\t0\tTTTT\tJJJJ\n"
    )
    out = str(tmp_path / "oq.fq")
    rc = main(["adam2fastq", str(sam), out, "-output_oq",
               "-repartition", "2", "-persist_level", "MEMORY_ONLY",
               "-sort_by_name"])
    assert rc == 0
    text = _read_text_output(out)
    # u1 emits its OQ original qualities; u2 keeps its live qualities
    assert "!!!!" in text and "JJJJ" in text
    # -disable_fast_concat: sharded write + serial concat to ONE file
    concat = str(tmp_path / "concat.fq")
    assert main(["adam2fastq", str(sam), concat, "-sort_by_name",
                 "-output_oq", "-disable_fast_concat"]) == 0
    assert os.path.isfile(concat)
    assert sorted(open(concat).read().split()) == sorted(text.split())
    # STRICT paired output over unpaired reads fails with rc 1
    assert main(["adam2fastq", str(sam), str(tmp_path / "r1.fq"),
                 str(tmp_path / "r2.fq"), "-validation", "STRICT"]) == 1
    assert main(["adam2fastq", str(sam), out, "-persist_level", "NOPE"]) == 2


def test_print_pretty_and_o(spark, sam_path, tmp_path, capsys):
    adam = str(tmp_path / "a.adam")
    assert main(["transform_alignments", sam_path, adam]) == 0
    assert main(["print", adam, "-limit", "2", "-pretty"]) == 0
    printed = capsys.readouterr().out
    assert printed.lstrip().startswith("{")
    o = tmp_path / "dump.json"
    assert main(["print", adam, "-limit", "2", "-o", str(o)]) == 0
    assert o.read_text().lstrip().startswith("{")


def test_merge_shards_eof_flags(spark, tmp_path):
    d = tmp_path / "shards"
    d.mkdir()
    (d / "part-00000").write_text("x")
    out = str(tmp_path / "merged.bam")
    rc = main(["merge_shards", str(d), out, "-write_empty_GZIP_at_eof",
               "-buffer_size", "1024"])
    assert rc == 0
    from adam_spark.sources import bgzf

    assert open(out, "rb").read() == b"x" + bgzf.EOF
    out2 = str(tmp_path / "merged.cram")
    rc = main(["merge_shards", str(d), out2, "-write_cram_eof"])
    assert rc == 0
    from adam_spark.sources.cram import cram_eof_bytes

    assert open(out2, "rb").read() == b"x" + cram_eof_bytes()


def test_region_predicate_routes_through_indexed_bcf(spark, tmp_path, monkeypatch):
    """transform_variants/transform_genotypes -region_predicate on a
    .bcf with a .csi sidecar routes through load_indexed_bcf (a
    narrowed, index-addressed scan — pinned by byte accounting + a call
    spy), and the output carries exactly the region's records."""
    import adam_spark.sources.bcf as bcf_mod
    from adam_spark.sources import vcf as vcf_io
    from adam_spark.sources.bcf import save_bcf
    from adam_spark.sources.binned_index import read_csi

    lines = [
        "##fileformat=VCFv4.3",
        "##contig=<ID=chr1,length=10000000>",
        '##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">',
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\ts1",
    ]
    for i in range(3000):
        lines.append(f"chr1\t{1 + i * 97}\t.\tA\tG\t50\tPASS\t.\tGT\t0/1")
    src = tmp_path / "v.vcf"
    src.write_text("\n".join(lines) + "\n")
    bcf = str(tmp_path / "v.bcf")
    save_bcf(vcf_io.load_vcf(spark, str(src)), bcf)

    # the index addresses a small fraction of the body for this region
    # (virtual-offset distance: monotone in (block, in-block) position)
    idx = read_csi(bcf + ".csi")

    def vdist(chunks):
        return sum(ve - vb for vb, ve in chunks)

    region_span = vdist(idx.chunks_for(0, 5_000, 8_000))
    full_span = vdist(idx.chunks_for(0, 0, 10_000_000))
    assert 0 < region_span < full_span / 4

    calls = []
    real = bcf_mod.load_indexed_bcf

    def spy(spark_, path, regions):
        calls.append((path, tuple(regions)))
        return real(spark_, path, regions)

    monkeypatch.setattr(bcf_mod, "load_indexed_bcf", spy)

    out_v = str(tmp_path / "region.vcf")
    rc = main(["transform_variants", bcf, out_v,
               "-region_predicate", "chr1:5000-8000", "-single"])
    assert rc == 0 and len(calls) == 1
    body = [ln for ln in _read_text_output(out_v).splitlines()
            if ln and not ln.startswith("#")]
    # pos-1 in [5000, 8000): 1+97k with 5000 <= 97k < 8000 -> k in 52..82
    want = [1 + 97 * k for k in range(3000) if 5000 <= 97 * k < 8000]
    assert sorted(int(ln.split("\t")[1]) for ln in body) == want

    out_g = str(tmp_path / "region_g.vcf")
    rc = main(["transform_genotypes", bcf, out_g,
               "-region_predicate", "chr1:5000-8000", "-single"])
    assert rc == 0 and len(calls) == 2
    gbody = [ln for ln in _read_text_output(out_g).splitlines()
             if ln and not ln.startswith("#")]
    assert sorted(int(ln.split("\t")[1]) for ln in gbody) == want
    assert all(ln.rstrip("\n").endswith("0/1") for ln in gbody)

    # unindexed fallback: same rows through the full scan + filter
    os.remove(bcf + ".csi")
    out_f = str(tmp_path / "fallback.vcf")
    rc = main(["transform_variants", bcf, out_f,
               "-region_predicate", "chr1:5000-8000", "-single"])
    assert rc == 0 and len(calls) == 2  # spy NOT called again
    fbody = [ln for ln in _read_text_output(out_f).splitlines()
             if ln and not ln.startswith("#")]
    assert sorted(int(ln.split("\t")[1]) for ln in fbody) == want


def test_region_predicate_routes_through_indexed_bam(spark, tmp_path, monkeypatch):
    """transform_alignments -region_predicate on a .bam with a .bai
    sidecar routes through load_indexed_bam; semantics match the
    full-scan filter (the overlap predicate still applies)."""
    import adam_spark.sources.bam as bam_mod
    from adam_spark.sources.bam import save_bam
    from adam_spark.sources.sam import load_sam

    lines = ["@HD\tVN:1.6", "@SQ\tSN:chr1\tLN:10000000"]
    for i in range(2000):
        lines.append(
            f"r{i:04d}\t0\tchr1\t{1 + i * 53}\t60\t20M\t*\t0\t0\t{'A'*20}\t{'I'*20}"
        )
    src = tmp_path / "a.sam"
    src.write_text("\n".join(lines) + "\n")
    bam = str(tmp_path / "a.bam")
    save_bam(load_sam(spark, str(src)), bam)
    assert os.path.exists(bam + ".bai")

    calls = []
    real = bam_mod.load_indexed_bam

    def spy(spark_, path, regions, **kw):
        calls.append(path)
        return real(spark_, path, regions, **kw)

    monkeypatch.setattr(bam_mod, "load_indexed_bam", spy)
    out = str(tmp_path / "region.sam")
    rc = main(["transform_alignments", bam, out,
               "-region_predicate", "chr1:10000-20000", "-single"])
    assert rc == 0 and calls == [bam]
    body = [ln for ln in _read_text_output(out).splitlines()
            if ln and not ln.startswith("@")]
    # 20M reads at pos-1 = 53i overlap [10000,20000) iff 53i+20 > 10000
    # and 53i < 20000
    want = sorted(1 + 53 * i for i in range(2000)
                  if 53 * i + 20 > 10_000 and 53 * i < 20_000)
    assert sorted(int(ln.split("\t")[3]) for ln in body) == want


def test_idxstats_cli(spark, tmp_path, capsys):
    """idxstats answers from the index sidecar's metadata pseudo-bins
    when present (no data scan) and matches the full-scan fallback."""
    from adam_spark.sources.bam import save_bam
    from adam_spark.sources.sam import load_sam

    lines = ["@HD\tVN:1.6", "@SQ\tSN:chr1\tLN:5000000", "@SQ\tSN:chr2\tLN:700"]
    for i in range(25):
        ref = "chr1" if i < 20 else "chr2"
        lines.append(
            f"r{i}\t0\t{ref}\t{50 + i * 11}\t60\t10M\t*\t0\t0\t{'A'*10}\t{'I'*10}"
        )
    lines.append(f"u0\t4\t*\t0\t0\t*\t*\t0\t0\t{'A'*10}\t{'I'*10}")
    sam = tmp_path / "a.sam"
    sam.write_text("\n".join(lines) + "\n")
    bam = str(tmp_path / "a.bam")
    save_bam(load_sam(spark, str(sam)), bam)

    want = "chr1\t5000000\t20\t0\nchr2\t700\t5\t0\n*\t0\t0\t1"
    assert main(["idxstats", bam]) == 0
    assert capsys.readouterr().out.strip() == want

    # fallback: no index -> distributed scan, same numbers
    os.remove(bam + ".bai")
    assert main(["idxstats", bam]) == 0
    assert capsys.readouterr().out.strip() == want

    # SAM input (never indexed) also goes through the scan path
    assert main(["idxstats", str(sam)]) == 0
    assert capsys.readouterr().out.strip() == want


def test_idxstats_vcf_and_bcf(spark, tmp_path, capsys, monkeypatch):
    """idxstats on .vcf.gz/.bcf prints `bcftools index -s` rows
    (name, length-or-., n_records) from the index sidecar's metadata
    pseudo-bins — O(index + header) driver I/O, NO SparkSession — and
    the index-less distributed fallback prints identical rows."""
    import adam_spark.cli as cli_mod
    from adam_spark.core.genomic_frame import GenomicFrame
    from adam_spark.sources import vcf as vcf_io
    from adam_spark.sources.bcf import save_bcf
    from adam_spark.sources.vcf import save_vcf_bgzf

    lines = [
        "##fileformat=VCFv4.3",
        "##contig=<ID=chr1,length=5000000>",
        "##contig=<ID=chr2,length=900>",
        '##INFO=<ID=DP,Number=1,Type=Integer,Description="Depth">',
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO",
    ]
    for i in range(40):
        ref = "chr1" if i < 30 else "chr2"
        lines.append(f"{ref}\t{10 + i * 17}\t.\tA\tG\t50\tPASS\tDP=1")
    src = tmp_path / "v.vcf"
    src.write_text("\n".join(lines) + "\n")
    gf = vcf_io.load_vcf(spark, str(src))
    gf = GenomicFrame(
        gf.df.repartitionByRange(3, "referenceName", "start")
        .sortWithinPartitions("referenceName", "start"),
        gf.meta,
    )
    gz = str(tmp_path / "v.vcf.gz")
    save_vcf_bgzf(gf, gz)
    bcf = str(tmp_path / "v.bcf")
    save_bcf(gf, bcf)
    want = "chr1\t5000000\t30\nchr2\t900\t10"

    # indexed path never builds a session (O(index) pin: a call spy
    # that fails the test if _spark is reached)
    def _boom(args):
        raise AssertionError("indexed idxstats must not start Spark")

    monkeypatch.setattr(cli_mod, "_spark", _boom)
    assert main(["idxstats", gz]) == 0
    assert capsys.readouterr().out.strip() == want
    assert main(["idxstats", bcf]) == 0
    assert capsys.readouterr().out.strip() == want
    monkeypatch.undo()

    # fallback: drop the sidecars -> one distributed scan, same rows
    os.remove(gz + ".tbi")
    os.remove(bcf + ".csi")
    assert main(["idxstats", gz]) == 0
    assert capsys.readouterr().out.strip() == want
    assert main(["idxstats", bcf]) == 0
    assert capsys.readouterr().out.strip() == want


def test_transform_alignments_parquet_schema_and_duplicates(spark, tmp_path):
    """-mark_duplicate_reads -sort_by_reference_position to Parquet:
    readName first, then the rest of ALIGNMENT in order and type, and
    exactly the planted duplicate pairs flagged."""
    from adam_spark import schemas

    pairs, planted = 40, 6
    lines = ["@SQ\tSN:chr1\tLN:100000", "@RG\tID:rg1\tSM:s1\tLB:lib1"]
    rec = "{}\t{}\tchr1\t{}\t60\t10M\t=\t{}\t{}\tACGTACGTAC\t{}\tRG:Z:rg1"
    for k in range(pairs + planted):
        # planted copies reuse a pair's positions with lower qualities
        i, qual = (k, "I" * 10) if k < pairs else (k - pairs, "5" * 10)
        p1, p2 = 1000 + 500 * i, 1200 + 500 * i
        lines.append(rec.format(f"q{k}", 99, p1, p2, 210, qual))
        lines.append(rec.format(f"q{k}", 147, p2, p1, -210, qual))
    sam = tmp_path / "in.sam"
    sam.write_text("\n".join(lines) + "\n")
    out = str(tmp_path / "out.adam")
    argv = ["transform_alignments", str(sam), out,
            "-mark_duplicate_reads", "-sort_by_reference_position"]
    assert main(argv) == 0

    df = spark.read.parquet(out)
    fields = {f.name: f.dataType for f in schemas.ALIGNMENT.fields}
    want = ["readName"] + [n for n in fields if n != "readName"]
    assert df.columns == want
    assert [f.dataType for f in df.schema.fields] == [fields[n] for n in want]
    assert df.count() == 2 * (pairs + planted)
    assert df.where("duplicateRead").count() == 2 * planted
