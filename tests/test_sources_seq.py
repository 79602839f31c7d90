"""FASTQ + FASTA round-trip tests (reference behaviors:
ADAMContextSuite FASTQ/FASTA cases, AlignmentDatasetSuite:458 FASTQ
round trip)."""

import os

import pytest

from adam_spark.sources import fasta as fasta_io
from adam_spark.sources import fastq as fastq_io

FQ1 = """@read1 desc1
ACGTACGT
+
FFFFFFFF
@read2
TTTTGGGG
+
IIIIIIII
"""

FQ2 = """@read1 desc1
CCCCAAAA
+
FFFFFFFF
@read2
GGGGTTTT
+
IIIIIIII
"""

INTERLEAVED = """@pair1/1
ACGT
+
FFFF
@pair1/2
TTTT
+
IIII
"""

FASTA = """>chr1 test contig
ACGTACGTAC
GTACGTACGT
>chr2
TTTTT
"""


@pytest.fixture()
def paths(tmp_path):
    p = {}
    for name, text in (
        ("r1.fq", FQ1),
        ("r2.fq", FQ2),
        ("inter.ifq", INTERLEAVED),
        ("ref.fa", FASTA),
    ):
        f = tmp_path / name
        f.write_text(text)
        p[name] = str(f)
    p["tmp"] = str(tmp_path)
    return p


def test_load_unpaired_fastq(spark, paths):
    gf = fastq_io.load_unpaired_fastq(spark, paths["r1.fq"])
    rows = {r["name"]: r for r in gf.df.collect()}
    # reference name semantics (FastqRecordConverter suffixRegex): the
    # FULL header is the name — spaces kept — minus pair/casava suffixes
    assert set(rows) == {"read1 desc1", "read2"}
    assert rows["read1 desc1"]["sequence"] == "ACGTACGT"
    assert rows["read1 desc1"]["qualityScores"] == "FFFFFFFF"
    assert rows["read1 desc1"]["description"] == "desc1"
    assert rows["read1 desc1"]["length"] == 8
    assert rows["read2"]["description"] is None


def test_load_paired_fastq(spark, paths):
    gf = fastq_io.load_paired_fastq(spark, paths["r1.fq"], paths["r2.fq"])
    rows = gf.df.collect()
    assert len(rows) == 4
    by_key = {(r["name"], r["readInFragment"]): r for r in rows}
    assert by_key[("read1 desc1", 0)]["sequence"] == "ACGTACGT"
    assert by_key[("read1 desc1", 1)]["sequence"] == "CCCCAAAA"


def test_load_interleaved_fastq(spark, paths):
    gf = fastq_io.load_interleaved_fastq(spark, paths["inter.ifq"])
    rows = {r["readInFragment"]: r for r in gf.df.collect()}
    assert len(rows) == 2
    assert rows[0]["name"] == "pair1" and rows[0]["sequence"] == "ACGT"
    assert rows[1]["name"] == "pair1" and rows[1]["sequence"] == "TTTT"


def test_fastq_alignments_and_roundtrip(spark, paths):
    gf = fastq_io.load_fastq_alignments(spark, paths["r1.fq"])
    assert "readName" in gf.df.columns
    assert gf.df.where("readMapped").count() == 0
    out = os.path.join(paths["tmp"], "out.fq")
    fastq_io.save_fastq(gf, out, sort_by_name=True, single_file=True)
    back = fastq_io.load_unpaired_fastq(spark, out)
    assert sorted(r["name"] for r in back.df.collect()) == ["read1 desc1", "read2"]


def test_save_paired_fastq(spark, paths):
    gf = fastq_io.load_paired_fastq(spark, paths["r1.fq"], paths["r2.fq"])
    o1 = os.path.join(paths["tmp"], "o1.fq")
    o2 = os.path.join(paths["tmp"], "o2.fq")
    fastq_io.save_paired_fastq(gf, o1, o2)
    b1 = fastq_io.load_unpaired_fastq(spark, o1)
    b2 = fastq_io.load_unpaired_fastq(spark, o2)
    assert b1.df.count() == 2 and b2.df.count() == 2
    assert {r["sequence"] for r in b2.df.collect()} == {"CCCCAAAA", "GGGGTTTT"}


def test_load_fasta_sequences(spark, paths):
    gf = fasta_io.load_fasta_sequences(spark, paths["ref.fa"])
    rows = {r["name"]: r for r in gf.df.collect()}
    assert rows["chr1"]["sequence"] == "ACGTACGTACGTACGTACGT"
    assert rows["chr1"]["length"] == 20
    assert rows["chr1"]["description"] == "test contig"
    assert rows["chr2"]["sequence"] == "TTTTT"
    refs = fasta_io.create_references(gf)
    assert refs["chr1"].length == 20


def test_fasta_roundtrip_wrapped(spark, paths):
    gf = fasta_io.load_fasta_sequences(spark, paths["ref.fa"])
    out = os.path.join(paths["tmp"], "out.fa")
    fasta_io.save_fasta(gf, out, line_width=7, single_file=True)
    back = fasta_io.load_fasta_sequences(spark, out)
    rows = {r["name"]: r for r in back.df.collect()}
    assert rows["chr1"]["sequence"] == "ACGTACGTACGTACGTACGT"
    assert rows["chr2"]["sequence"] == "TTTTT"


def test_load_fasta_slices(spark, paths):
    gf = fasta_io.load_fasta_slices(spark, paths["ref.fa"], maximum_length=8)
    rows = [r for r in gf.df.collect() if r["name"] == "chr1"]
    rows.sort(key=lambda r: r["index"])
    assert [r["sequence"] for r in rows] == ["ACGTACGT", "ACGTACGT", "ACGT"]
    assert rows[0]["start"] == 0 and rows[0]["end"] == 8
    assert rows[2]["start"] == 16 and rows[2]["end"] == 20
    assert all(r["totalLength"] == 20 and r["slices"] == 3 for r in rows)


def test_fasta_comments_gaps_stops(spark, tmp_path):
    """';' comment lines are skipped; gap '-' and stop '*' symbols pass
    through in the sequence (ADAMContextSuite 'read a fasta file with
    comments, gaps, and translation stops')."""
    from adam_spark.sources.fasta import load_fasta_sequences

    fa = tmp_path / "c.fa"
    fa.write_text(
        "; a classic FASTA comment\n"
        ">prot1 description\n"
        "MKV-LL*\n"
        "; trailing comment\n"
        ">prot2\nACGT\n"
    )
    rows = {r["name"]: r["sequence"]
            for r in load_fasta_sequences(spark, str(fa), "PROTEIN").df.collect()}
    # cleanSequence strips the trailing translation stop
    # (FastaConverters.scala:80-82; pinned on legacy.fa in
    # tests/test_reference_goldens.py)
    assert rows["prot1"] == "MKV-LL"
    assert rows["prot2"] == "ACGT"


def test_interleaved_resync_quality_line_matching_pair_regex(spark, tmp_path):
    """Adversarial resync boundary: a shard begins at a QUALITY line
    that itself matches the first-of-pair regex ('@...1' — '@', '/' and
    digits are all valid Phred+33 chars), immediately followed by the
    orphaned '@name/2' line. The boundary must NOT land on the /2 read
    (the look-ahead's next-line branch requires the next line to
    satisfy the first-of-pair predicate itself, FastqRecordReader's
    advance-to-next-CANDIDATE loop); the whole partial pair drops and
    reading starts at the next true /1 line."""
    from adam_spark.sources.fastq import load_interleaved_fastq

    shard = "\n".join(
        [
            "@IIIIII/1",  # quality line of a truncated r1/1 record
            "@prev/2",    # orphaned second-of-pair name line
            "CCCCCCCC",
            "+",
            "IIIIIIII",
            "@r2/1",
            "AAAAAAAA",
            "+",
            "IIIIIIII",
            "@r2/2",
            "TTTTTTTT",
            "+",
            "IIIIIIII",
        ]
    ) + "\n"
    p = tmp_path / "trunc.ifq"
    p.write_text(shard)
    df = load_interleaved_fastq(spark, str(p)).df
    got = sorted(
        (r["name"], r["readInFragment"], r["sequence"])
        for r in df.select("name", "readInFragment", "sequence").collect()
    )
    assert got == [("r2", 0, "AAAAAAAA"), ("r2", 1, "TTTTTTTT")]
