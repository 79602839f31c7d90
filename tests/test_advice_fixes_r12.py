"""Round 12 advisor fixes: stale sidecar removal on re-save, stale
part-file cleanup in the single-file merger, htslib metadata pseudo-bin
handling in the splittable BCF scan, and file-order chunk slicing."""

import glob
import os

import pytest

from adam_spark.sources import vcf as vcf_io
from adam_spark.sources.binned_index import split_chunks_contiguous


def _vcf_text(rows, contig_len=10_000_000):
    lines = [
        "##fileformat=VCFv4.3",
        f"##contig=<ID=chr1,length={contig_len}>",
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO",
    ]
    lines += [f"chr1\t{pos}\t.\tA\tG\t50\tPASS\t." for pos in rows]
    return "\n".join(lines) + "\n"


def test_split_chunks_contiguous():
    chunks = [(i << 16, (i + 1) << 16) for i in range(10)]
    parts = split_chunks_contiguous(chunks, 4)
    assert [c for p in parts for c in p] == chunks  # order preserved
    assert 1 <= len(parts) <= 4
    assert split_chunks_contiguous([], 4) == []
    assert split_chunks_contiguous(chunks, 1) == [chunks]
    # byte-weighted: one giant chunk doesn't drag neighbours with it
    skew = [(0, 1000 << 16)] + [(2000 + i << 16, (2001 + i) << 16) for i in range(6)]
    parts = split_chunks_contiguous(skew, 4)
    assert parts[0][0] == skew[0] and len(parts[0]) <= 2


def test_resave_removes_stale_tbi_and_csi(spark, tmp_path):
    """save_vcf_bgzf flips between .tbi (short contigs) and .csi (past
    2^29); load_indexed_vcf PREFERS .tbi, so a stale sibling from a
    previous save at the same path would serve region queries for old
    data. Both flip directions must remove the other sidecar."""
    from adam_spark.sources.vcf import load_indexed_vcf, save_vcf_bgzf

    short_p = tmp_path / "short.vcf"
    short_p.write_text(_vcf_text([100, 5000, 90_000]))
    long_p = tmp_path / "long.vcf"
    long_pos = (1 << 29) + 12_345
    long_p.write_text(_vcf_text([100, long_pos], contig_len=(1 << 30)))

    gz = str(tmp_path / "x.vcf.gz")
    save_vcf_bgzf(vcf_io.load_vcf(spark, str(short_p)), gz)
    assert os.path.exists(gz + ".tbi") and not os.path.exists(gz + ".csi")

    save_vcf_bgzf(vcf_io.load_vcf(spark, str(long_p)), gz)
    assert os.path.exists(gz + ".csi") and not os.path.exists(gz + ".tbi")
    got = load_indexed_vcf(spark, gz, [("chr1", long_pos - 10, long_pos + 10)])
    assert got.df.count() == 1  # served from the NEW index

    save_vcf_bgzf(vcf_io.load_vcf(spark, str(short_p)), gz)
    assert os.path.exists(gz + ".tbi") and not os.path.exists(gz + ".csi")
    got = load_indexed_vcf(spark, gz, [("chr1", 0, 200)])
    assert got.df.count() == 1


def test_resave_removes_stale_bam_index(spark, tmp_path):
    """Same hazard for save_bam (.bai vs .csi), plus write_index=False
    must clear BOTH stale indexes — the data changed underneath them."""
    from adam_spark.core.genomic_frame import GenomicFrame
    from adam_spark.sources.bam import save_bam
    from adam_spark.sources.sam import load_sam

    def _sam(positions, ln):
        lines = ["@HD\tVN:1.6", f"@SQ\tSN:chr1\tLN:{ln}"]
        for i, pos in enumerate(positions):
            lines.append(
                f"r{i}\t0\tchr1\t{pos}\t60\t10M\t*\t0\t0\t{'A' * 10}\t{'I' * 10}"
            )
        return "\n".join(lines) + "\n"

    short_p = tmp_path / "s.sam"
    short_p.write_text(_sam([10, 500, 9_000], 10_000_000))
    long_p = tmp_path / "l.sam"
    long_p.write_text(_sam([10, (1 << 29) + 99], 1 << 30))

    out = str(tmp_path / "x.bam")
    save_bam(load_sam(spark, str(short_p)), out)
    assert os.path.exists(out + ".bai") and not os.path.exists(out + ".csi")
    save_bam(load_sam(spark, str(long_p)), out)
    assert os.path.exists(out + ".csi") and not os.path.exists(out + ".bai")
    save_bam(load_sam(spark, str(short_p)), out)
    assert os.path.exists(out + ".bai") and not os.path.exists(out + ".csi")
    save_bam(load_sam(spark, str(short_p)), out, write_index=False)
    assert not os.path.exists(out + ".bai") and not os.path.exists(out + ".csi")


def test_single_file_save_clears_stale_parts(spark, tmp_path):
    """write_text_single_file over a directory that previously held
    multi-shard output must not leave part-00001+ behind — globbing
    readers would surface stale duplicate rows."""
    from adam_spark.sources.merge import write_text_single_file

    out = str(tmp_path / "out.txt")
    os.makedirs(out)
    for stale in ("part-00000", "part-00001", "part-00002", "_SUCCESS"):
        with open(os.path.join(out, stale), "w") as f:
            f.write("STALE\n")
    df = spark.createDataFrame([("a",), ("b",)], "value string").coalesce(1)
    write_text_single_file(df, out)
    parts = sorted(os.path.basename(p) for p in glob.glob(os.path.join(out, "part-*")))
    assert parts == ["part-00000"]
    assert open(os.path.join(out, "part-00000")).read() == "a\nb\n"


def test_load_bcf_skips_metadata_pseudo_bin(spark, tmp_path):
    """bcftools-style .csi files carry a metadata pseudo-bin (number >
    the scheme's max valid bin) whose two pseudo-chunks encode record
    COUNTS, not byte ranges. The splittable load_bcf path triggers on
    mere .csi existence, so it must skip pseudo-bins instead of
    decoding their values as file offsets."""
    from adam_spark.sources.bcf import load_bcf, save_bcf
    from adam_spark.sources.binned_index import read_csi, write_csi

    p = tmp_path / "v.vcf"
    p.write_text(_vcf_text(list(range(100, 50_000, 250))))
    gf = vcf_io.load_vcf(spark, str(p))
    out = str(tmp_path / "v.bcf")
    save_bcf(gf, out)
    n = gf.df.count()

    # graft an htslib-style pseudo-bin: bin 37450 for the (14,5) scheme,
    # chunks = [(n_mapped, n_unmapped), (garbage voffsets)]
    idx = read_csi(out + ".csi")
    assert (idx.min_shift, idx.depth) == (14, 5)
    idx.refs[0].bins[37450] = [(n, 0), ((1 << 40) | 7, (1 << 41) | 9)]
    write_csi(idx, out + ".csi")

    assert load_bcf(spark, out).df.count() == n


def test_load_bcf_splittable_preserves_file_order(spark, tmp_path):
    """The .csi-splittable load assigns chunk runs to tasks as
    contiguous SLICES: full-file row order is the file's record order
    (the unindexed path's order), not a round-robin interleave —
    order-sensitive downstream single-file saves must not reorder."""
    from adam_spark.core.genomic_frame import GenomicFrame
    from adam_spark.sources.bcf import load_bcf, save_bcf

    p = tmp_path / "v.vcf"
    positions = list(range(100, 400_000, 97))
    p.write_text(_vcf_text(positions))
    gf = vcf_io.load_vcf(spark, str(p))
    df4 = gf.df.repartitionByRange(4, "referenceName", "start").sortWithinPartitions(
        "referenceName", "start"
    )
    out = str(tmp_path / "v.bcf")
    stats = save_bcf(GenomicFrame(df4, gf.meta), out)
    assert stats["shards"] == 4

    loaded = load_bcf(spark, out)
    starts = [r["start"] for r in loaded.df.select("start").collect()]
    assert starts == sorted(starts) == [pos - 1 for pos in positions]


def test_unindexed_bcf_scan_is_splittable(spark, tmp_path):
    """A BGZF BCF with NO .csi sidecar (any foreign file) scans in
    MULTIPLE arithmetic byte-range tasks (the load_bam shape): tasks
    resync to a block then to a plausible record boundary
    (_plausible_bcf_record), rows come back in exact file order with
    content intact. Closes the documented one-task limitation."""
    from adam_spark.sources.bcf import load_bcf, save_bcf

    h = [
        "##fileformat=VCFv4.3",
        "##contig=<ID=chr1,length=100000000>",
        '##INFO=<ID=NOTE,Number=1,Type=String,Description="">',
        '##FORMAT=<ID=GT,Number=1,Type=String,Description="">',
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\ts1\ts2",
    ]
    n = 60_000
    rows = [
        f"chr1\t{1 + i * 37}\t.\tAC\tG\t50\tPASS\tNOTE=x{i % 997}y\tGT\t0/1\t1/1"
        for i in range(n)
    ]
    src = tmp_path / "v.vcf"
    src.write_text("\n".join(h + rows) + "\n")
    import adam_spark.sources.vcf as vcf_io2

    out = str(tmp_path / "v.bcf")
    save_bcf(vcf_io2.load_vcf(spark, str(src)), out)
    os.remove(out + ".csi")

    got = load_bcf(spark, out, target_split_bytes=64 << 10)
    assert got.df.rdd.getNumPartitions() > 2
    starts = [r["start"] for r in got.df.select("start").collect()]
    assert starts == [i * 37 for i in range(n)]
    row = got.df.where("start = 370").collect()[0]
    assert row["variant"]["annotation"]["attributes"]["NOTE"] == "x10y"
    assert row["genotypes"][1]["sampleId"] == "s2"


def test_bcf_split_guesser_exact():
    """_plausible_bcf_record accepts EVERY true record boundary and
    rejects EVERY interior offset of a real encoded body (the
    BAMSplitGuesser zero-false-accept contract)."""
    import struct

    from adam_spark.sources.bcf import _encode_record, _plausible_bcf_record

    str_ix = {"PASS": 0, "GT": 1, "DP": 2}
    contig_ix = {"chr1": 0}
    buf = bytearray()
    bounds = set()
    for i in range(200):
        bounds.add(len(buf))
        line = f"chr1\t{1 + i * 13}\t.\tA\tG\t50\tPASS\t.\tGT:DP\t0/1:{i % 60}"
        buf += _encode_record(line, str_ix, contig_ix, {}, {"DP": "Integer"}, set())
    data = bytes(buf)
    for off in range(len(data)):
        assert _plausible_bcf_record(data, off, 1, 1) == (off in bounds), off
    assert _plausible_bcf_record(data, len(data), 1, 1)  # clean EOF


def test_index_metadata_pseudo_bins(spark, tmp_path):
    """Written indexes carry htslib's metadata pseudo-bin (bin 37450
    for (14,5); bin_limit+1 for CSI) with per-ref (off_beg, off_end,
    n_mapped, n_unmapped) pseudo-chunks plus the unplaced-count trailer
    — the payload `samtools idxstats` / `bcftools index -s` read. The
    readers divert pseudo-bins into .meta (never the bin map), and
    region queries are unaffected."""
    from adam_spark.core.genomic_frame import GenomicFrame  # noqa: F401
    from adam_spark.sources.bam import load_indexed_bam, save_bam
    from adam_spark.sources.bcf import save_bcf
    from adam_spark.sources.binned_index import read_bai, read_csi, read_tbi
    from adam_spark.sources.sam import load_sam
    from adam_spark.sources.vcf import save_vcf_bgzf

    # BAM: 30 mapped chr1 + 4 placed-unmapped chr1 + 2 unplaced
    lines = ["@HD\tVN:1.6", "@SQ\tSN:chr1\tLN:10000000"]
    for i in range(30):
        lines.append(
            f"m{i}\t0\tchr1\t{100 + i * 50}\t60\t10M\t*\t0\t0\t{'A'*10}\t{'I'*10}"
        )
    for i in range(4):
        lines.append(
            f"u{i}\t4\tchr1\t{100 + i * 50}\t0\t*\t*\t0\t0\t{'A'*10}\t{'I'*10}"
        )
    for i in range(2):
        lines.append(f"n{i}\t4\t*\t0\t0\t*\t*\t0\t0\t{'A'*10}\t{'I'*10}")
    sam = tmp_path / "a.sam"
    sam.write_text("\n".join(lines) + "\n")
    bam = str(tmp_path / "a.bam")
    save_bam(load_sam(spark, str(sam)), bam)
    idx = read_bai(bam + ".bai")
    off_beg, off_end, n_mapped, n_unmapped = idx.meta[0]
    # the ADAM schema drops positions from unmapped reads, so the
    # renderer emits placed-unmapped as unplaced (RNAME '*') — they
    # count into the n_no_coor trailer, not the per-ref pseudo-bin
    assert (n_mapped, n_unmapped) == (30, 0)
    assert idx.n_no_coor == 6
    assert 0 < off_beg < off_end
    assert 37450 not in idx.refs[0].bins  # diverted, not a byte range
    got = load_indexed_bam(spark, bam, [("chr1", 0, 500)])
    assert got.df.count() == len(
        [i for i in range(30) if 100 + i * 50 - 1 < 500]
    )

    # VCF.gz (.tbi) and BCF (.csi): n_mapped = record count per contig
    h = [
        "##fileformat=VCFv4.3",
        "##contig=<ID=chr1,length=10000000>",
        "##contig=<ID=chr2,length=10000000>",
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO",
    ]
    rows = [f"chr1\t{1 + i * 97}\t.\tA\tG\t50\tPASS\t." for i in range(80)]
    rows += [f"chr2\t{1 + i * 97}\t.\tA\tG\t50\tPASS\t." for i in range(20)]
    src = tmp_path / "v.vcf"
    src.write_text("\n".join(h + rows) + "\n")
    import adam_spark.sources.vcf as vcf_io2

    gf = vcf_io2.load_vcf(spark, str(src))
    gz = str(tmp_path / "v.vcf.gz")
    save_vcf_bgzf(gf, gz)
    tbi = read_tbi(gz + ".tbi")
    assert tbi.meta[0][2] == 80 and tbi.meta[1][2] == 20
    assert tbi.n_no_coor == 0

    bcf = str(tmp_path / "v.bcf")
    save_bcf(gf, bcf)
    csi = read_csi(bcf + ".csi")
    assert csi.meta[0][2] == 80 and csi.meta[1][2] == 20
    assert csi.n_no_coor == 0


def test_save_fasta_single_file_emits_faidx(spark, tmp_path):
    """save_fasta(single_file=True) writes a samtools-faidx sidecar
    (part-00000.fai) with exact per-sequence byte offsets — the output
    is random-accessible by IndexedFastaFile (and samtools) without a
    rebuild pass, across shard boundaries."""
    import random

    from adam_spark.core.genomic_frame import GenomicFrame
    from adam_spark.sources.fasta import load_fasta_sequences, save_fasta
    from adam_spark.sources.reference_file import IndexedFastaFile

    rng = random.Random(3)
    seqs = {
        f"ctg{i:02d}": "".join(rng.choice("ACGT") for _ in range(rng.randint(5, 400)))
        for i in range(12)
    }
    src = tmp_path / "in.fa"
    src.write_text("".join(f">{n} extra words\n{s}\n" for n, s in seqs.items()))
    gf = load_fasta_sequences(spark, str(src))
    gf = GenomicFrame(gf.df.repartition(4), gf.meta)

    out = str(tmp_path / "out.fa")
    save_fasta(gf, out, single_file=True)
    assert os.path.exists(os.path.join(out, "part-00000.fai"))
    fai_lines = open(os.path.join(out, "part-00000.fai")).read().splitlines()
    assert len(fai_lines) == 12

    idx = IndexedFastaFile(out)  # directory form resolves part-00000
    for name, s in seqs.items():
        assert idx.extract(name, 0, len(s)) == s
        if len(s) > 10:
            assert idx.extract(name, 3, 9) == s[3:9]

    # the merged FASTA text itself is unchanged by the sidecar work
    text = open(os.path.join(out, "part-00000")).read()
    back = {}
    for block in text.split(">")[1:]:
        hdr, *body = block.splitlines()
        back[hdr.split()[0]] = "".join(body)
    assert back == seqs


def test_bcf_split_guesser_exact_sites_only():
    """Same zero-false-accept sweep for a SITES-ONLY body (n_sample=0
    adds the l_indiv==0 / n_fmt==0 constraints the guesser checks)."""
    from adam_spark.sources.bcf import _encode_record, _plausible_bcf_record

    str_ix = {"PASS": 0, "DP": 1}
    contig_ix = {"chr1": 0, "chr2": 1}
    buf = bytearray()
    bounds = set()
    for i in range(150):
        bounds.add(len(buf))
        ref = "chr1" if i % 2 else "chr2"
        line = f"{ref}\t{1 + i * 29}\t.\tAC\tG,T\t50\tPASS\tDP={i % 90}"
        buf += _encode_record(line, str_ix, contig_ix, {"DP": "Integer"}, {}, set())
    data = bytes(buf)
    for off in range(len(data)):
        assert _plausible_bcf_record(data, off, 2, 0) == (off in bounds), off
    # a sample-count mismatch rejects every offset outright
    assert not any(_plausible_bcf_record(data, off, 2, 3) for off in range(len(data)))


def test_hashed_classifier_word_ngrams(spark):
    """word_ngrams=2 adds fastText's bigram features: 'a b' hashes into
    the same bucket space via pure array transforms (no extra shuffle),
    n_tokens stays the unigram count, and a one-word document yields no
    bigrams (the sequence(1,0) guard)."""
    import hashlib

    from adam_spark.llm.text import hashed_classifier_score

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a")], "doc_id long, text string"
    )

    def bucket(feat):
        return hashlib.md5(feat.encode()).hexdigest()[:3]

    # NOTE: md5('a')[:3] == md5('a b')[:3] == '0cc' — a real 3-hex
    # collision; the operator sums duplicate-bucket weights (the
    # hashing trick's standard collision semantics), so bucket 0cc
    # carries 100 + 1 = 101
    weights = spark.createDataFrame(
        [(bucket("a b"), 100), (bucket("b c"), 10), (bucket("a"), 1)],
        "bucket string, weight long",
    )
    rows = {
        r["id"]: (r["n_tokens"], r["feat_hits"], r["score_sum"])
        for r in hashed_classifier_score(docs, weights, word_ngrams=2).collect()
    }
    # features of doc 1: a(101) b(-) c(-) 'a b'(101) 'b c'(10)
    assert rows[1] == (3, 3, 212)
    assert rows[2] == (1, 1, 101)  # no bigram from one word
    # unigram mode: only a hits (101)
    rows1 = {
        r["id"]: r["score_sum"]
        for r in hashed_classifier_score(docs, weights).collect()
    }
    assert rows1 == {1: 101, 2: 101}
