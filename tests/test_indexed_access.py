"""Binned-index (.bai / .tbi) machinery and region-seeking loaders.

Reference: ADAMContext.loadIndexedBam:2125-2308 (.bai chunk seek) and
ADAMContext.loadIndexedVcf:2760-2776 (tabix). Formats follow the
public SAM §5.3 binning scheme and tabix spec."""

import pytest

from adam_spark.sources.binned_index import (
    merge_chunks,
    new_index,
    read_bai,
    read_tbi,
    reg2bin,
    reg2bins,
    voffset,
    write_bai,
    write_tbi,
)


def test_reg2bin_scheme():
    # level sanity: small intervals land in the finest level (>=4681)
    assert reg2bin(0, 1) == 4681
    assert reg2bin(16383, 16384) == 4681
    assert reg2bin(16384, 16385) == 4682
    # an interval spanning two 16kb windows promotes a level
    assert 585 <= reg2bin(16000, 17000) < 4681
    # whole-chromosome span → bin 0
    assert reg2bin(0, 1 << 29) == 0
    # reg2bins contains the record's own bin for any query overlap
    for beg, end in ((0, 100), (16000, 17000), (1 << 20, (1 << 20) + 5000)):
        b = reg2bin(beg, end)
        assert b in reg2bins(beg, end)
        assert b in reg2bins(beg + 1, end + 50)


def test_merge_chunks():
    assert merge_chunks([(10, 20), (20, 30), (40, 50), (5, 12)]) == [(5, 30), (40, 50)]


def test_index_binary_roundtrip(tmp_path):
    idx = new_index(["chr1", "chr2"])
    idx.add_record(0, 100, 200, voffset(0, 10), voffset(0, 90))
    idx.add_record(0, 100, 200, voffset(0, 90), voffset(0, 170))  # adjacent → extends
    idx.add_record(1, 50_000, 50_100, voffset(7000, 0), voffset(7000, 500))
    tbi = str(tmp_path / "x.tbi")
    write_tbi(idx, tbi)
    back = read_tbi(tbi)
    assert back.names == ["chr1", "chr2"]
    assert back.refs[0].bins[reg2bin(100, 200)] == [(voffset(0, 10), voffset(0, 170))]
    assert back.chunks_for(1, 50_050, 50_060) == [(voffset(7000, 0), voffset(7000, 500))]
    bai = str(tmp_path / "x.bai")
    write_bai(idx, bai)
    back2 = read_bai(bai)
    assert back2.refs[1].bins == back.refs[1].bins


@pytest.fixture()
def big_bam(spark, tmp_path):
    import random

    from adam_spark.sources.bam import save_bam
    from adam_spark.sources.sam import load_sam

    rng = random.Random(21)
    sam = tmp_path / "big.sam"
    rows = []
    for i in range(20_000):
        ref = "chr1" if i % 2 else "chr2"
        pos = 1 + (i * 2311) % 9_000_000
        seq = "".join(rng.choice("ACGT") for _ in range(100))
        rows.append((ref, pos, f"e{i}\t0\t{ref}\t{pos}\t60\t100M\t*\t0\t0\t{seq}\t{'I' * 100}\n"))
    rows.sort()  # .bai narrows only coordinate-sorted files
    with open(sam, "w") as f:
        f.write("@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:chr1\tLN:10000000\n@SQ\tSN:chr2\tLN:10000000\n")
        for _, _, line in rows:
            f.write(line)
    bam = str(tmp_path / "big.bam")
    save_bam(load_sam(spark, str(sam)).sort(), bam)
    return str(sam), bam


def test_indexed_bam_seek_matches_full_filter(spark, big_bam):
    import os

    from adam_spark.sources.bam import load_bam, load_indexed_bam

    sam, bam = big_bam
    assert os.path.exists(bam + ".bai")
    regions = [("chr1", 1_000_000, 1_400_000), ("chr2", 5_000_000, 5_200_000)]
    got = load_indexed_bam(spark, bam, regions)
    want = load_bam(spark, bam).filter_by_overlapping_regions(regions)
    a = sorted(r["readName"] for r in got.df.collect())
    b = sorted(r["readName"] for r in want.df.collect())
    assert a == b and len(a) > 0


def test_indexed_bam_reads_fraction_of_file(spark, big_bam):
    """The .bai path must address a small subset of chunks for a small
    region — the point of the index."""
    from adam_spark.sources.bam import _read_bam_header_lazy
    from adam_spark.sources.binned_index import merge_chunks, read_bai, vsplit

    _, bam = big_bam
    idx = read_bai(bam + ".bai")
    _, ref_names, _, _ = _read_bam_header_lazy(bam)
    assert ref_names[0] == "chr1"  # index reference 0 below
    chunks = merge_chunks(idx.chunks_for(0, 1_000_000, 1_016_000))
    covered = sum(vsplit(ve)[0] - vsplit(vb)[0] + 65536 for vb, ve in chunks)
    import os

    assert covered < os.path.getsize(bam) / 2, "index did not narrow the scan"


def test_indexed_vcf_tabix(spark, tmp_path):
    from adam_spark.sources.vcf import load_indexed_vcf, load_vcf, save_vcf_bgzf

    lines = ["##fileformat=VCFv4.3"]
    lines.append('##contig=<ID=chr1,length=10000000>')
    lines.append('##contig=<ID=chr2,length=10000000>')
    lines.append("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\ts1")
    for i in range(3000):
        ref = "chr1" if i % 2 else "chr2"
        pos = 1 + (i * 3571) % 9_000_000
        lines.append(
            f"{ref}\t{pos}\t.\tA\tG\t50\tPASS\tDP={i % 90}\tGT:DP\t0/1:{i % 60}"
        )
    vcf = tmp_path / "x.vcf"
    vcf.write_text("\n".join(lines) + "\n")
    gf = load_vcf(spark, str(vcf))
    gz = str(tmp_path / "x.vcf.gz")
    save_vcf_bgzf(gf, gz)
    import os

    assert os.path.exists(gz + ".tbi")
    regions = [("chr1", 2_000_000, 2_500_000), ("chr2", 100, 400_000)]
    got = load_indexed_vcf(spark, gz, regions)
    want = load_vcf(spark, str(vcf)).filter_by_overlapping_regions(regions)
    a = sorted(
        (r["referenceName"], r["start"], r["variant"]["alternateAllele"])
        for r in got.df.collect()
    )
    b = sorted(
        (r["referenceName"], r["start"], r["variant"]["alternateAllele"])
        for r in want.df.collect()
    )
    assert a == b and len(a) > 0
    # samples/genotypes survive the indexed path
    row = got.df.limit(1).collect()[0]
    assert row["genotypes"][0]["sampleId"] == "s1"


def test_vcf_gz_polymorphic_dispatch(spark, tmp_path):
    """save() to .vcf.gz writes bgzip + .tbi; load dispatch reads it back
    (spark.read.text decodes BGZF through the gzip codec)."""
    import os

    from adam_spark.context import save
    from adam_spark.sources.vcf import load_vcf

    lines = ["##fileformat=VCFv4.3", "##contig=<ID=chr1,length=100000>",
             "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\ts1"]
    for i in range(40):
        lines.append(f"chr1\t{i * 100 + 1}\t.\tA\tG\t50\tPASS\tDP=3\tGT\t0/1")
    vcf = tmp_path / "p.vcf"
    vcf.write_text("\n".join(lines) + "\n")
    gf = load_vcf(spark, str(vcf))
    gz = str(tmp_path / "p.vcf.gz")
    save(gf, gz)
    assert os.path.exists(gz + ".tbi")
    back = load_vcf(spark, gz)
    assert back.df.count() == gf.df.count() == 40


def test_load_indexed_cram_prunes_containers(spark, tmp_path):
    """Position-sorted CRAM + .crai: a region query reads only the
    overlapping containers and returns exactly the full-scan+filter
    result."""
    from adam_spark.sources.cram import (
        _read_crai,
        load_cram,
        load_indexed_cram,
        save_cram,
    )
    from adam_spark.sources.sam import load_sam

    sam = tmp_path / "sorted.sam"
    with open(sam, "w") as f:
        f.write("@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:chr1\tLN:100000\n@SQ\tSN:chr2\tLN:100000\n")
        for i in range(300):
            f.write(f"a{i:03d}\t0\tchr1\t{100 + i * 10}\t60\t20M\t*\t0\t0\t{'A'*20}\t{'I'*20}\n")
        for i in range(300):
            f.write(f"b{i:03d}\t0\tchr2\t{100 + i * 10}\t60\t20M\t*\t0\t0\t{'C'*20}\t{'I'*20}\n")
    gf = load_sam(spark, str(sam))
    cram = str(tmp_path / "sorted.cram")
    save_cram(gf, cram, records_per_container=100)
    entries = _read_crai(cram)
    assert len(entries) >= 6
    # single-contig containers must carry real spans
    assert sum(1 for e in entries if e[2] in (0, 1)) >= 4

    regions = [("chr2", 1000, 1400)]
    want = sorted(
        r["readName"]
        for r in load_cram(spark, cram).filter_by_overlapping_regions(regions).df.collect()
    )
    got_gf = load_indexed_cram(spark, cram, regions)
    got = sorted(r["readName"] for r in got_gf.df.collect())
    assert got == want and len(got) > 0


def test_binning_edge_cases():
    import pytest as _pytest

    from adam_spark.sources.binned_index import (
        MAX_BIN_COORD,
        BinnedIndex,
        _RefIndex,
        reg2bin,
        voffset,
    )

    # >2^29 coordinates are CSI territory: refuse, never corrupt
    with _pytest.raises(ValueError, match="2\\^29|binning limit"):
        reg2bin(MAX_BIN_COORD + 10, MAX_BIN_COORD + 20)

    # negative (flank-padded) query begs must not index linear[-1]
    idx = BinnedIndex(names=["c1"], refs=[_RefIndex()])
    idx.add_record(0, 10, 50, voffset(0, 0), voffset(0, 100))
    idx.add_record(0, 100_000, 100_050, voffset(5000, 0), voffset(5000, 80))
    got = idx.chunks_for(0, -100, 60)
    assert (voffset(0, 0), voffset(0, 100)) in got


def test_long_contig_csi_fallback_vcf_gz(spark, tmp_path):
    """Contigs past tabix's 2^29 limit (wheat-scale chromosomes — the
    reason CSI exists): save_vcf_bgzf writes a tabix-over-CSI sidecar
    with a deeper binning instead of failing, and load_indexed_vcf
    reads regions through it (names from the CSI aux block)."""
    import os

    from adam_spark.sources.vcf import load_indexed_vcf, load_vcf, save_vcf_bgzf

    lines = [
        "##fileformat=VCFv4.3",
        "##contig=<ID=chr3B,length=1000000000>",  # ~1 Gb (wheat 3B)
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\ts1",
    ]
    for i in range(500):
        pos = 1 + i * 1_900_000  # spans far past 2^29 = 536,870,912
        lines.append(f"chr3B\t{pos}\t.\tA\tG\t50\tPASS\t.\tGT\t0/1")
    src = tmp_path / "wheat.vcf"
    src.write_text("\n".join(lines) + "\n")
    gf = load_vcf(spark, str(src))
    gz = str(tmp_path / "wheat.vcf.gz")
    save_vcf_bgzf(gf, gz)
    assert not os.path.exists(gz + ".tbi")
    assert os.path.exists(gz + ".csi")
    regions = [("chr3B", 600_000_000, 700_000_000)]  # entirely past 2^29
    got = sorted(
        r["start"] for r in load_indexed_vcf(spark, gz, regions).df.collect()
    )
    want = sorted(
        r["start"]
        for r in gf.filter_by_overlapping_regions(regions).df.collect()
    )
    assert got == want and len(got) > 0


def test_long_contig_csi_bcf(spark, tmp_path):
    """save_bcf scales the CSI depth for >2^29 coordinates; indexed and
    splittable loads both work on the deep index."""
    import os

    from adam_spark.sources.bcf import load_bcf, load_indexed_bcf, save_bcf
    from adam_spark.sources.binned_index import read_csi
    from adam_spark.sources.vcf import load_vcf

    lines = [
        "##fileformat=VCFv4.3",
        "##contig=<ID=chr3B,length=1000000000>",
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\ts1",
    ]
    for i in range(500):
        lines.append(f"chr3B\t{1 + i * 1_900_000}\t.\tA\tG\t50\tPASS\t.\tGT\t0/1")
    src = tmp_path / "wheat.vcf"
    src.write_text("\n".join(lines) + "\n")
    gf = load_vcf(spark, str(src))
    bcf = str(tmp_path / "wheat.bcf")
    save_bcf(gf, bcf)
    assert os.path.exists(bcf + ".csi")
    assert read_csi(bcf + ".csi").depth > 5
    regions = [("chr3B", 600_000_000, 700_000_000)]
    got = sorted(
        r["start"] for r in load_indexed_bcf(spark, bcf, regions).df.collect()
    )
    want = sorted(
        r["start"]
        for r in gf.filter_by_overlapping_regions(regions).df.collect()
    )
    assert got == want and len(got) > 0
    assert load_bcf(spark, bcf).df.count() == 500  # splittable scan path


def test_long_contig_csi_bam(spark, tmp_path):
    """BAM on a >2^29 contig: save_bam writes a depth-scaled .csi
    instead of a .bai (the "samtools index -c" behavior), and
    load_indexed_bam seeks through it."""
    import os

    from adam_spark.sources.bam import load_bam, load_indexed_bam, save_bam
    from adam_spark.sources.binned_index import read_csi
    from adam_spark.sources.sam import load_sam

    sam = tmp_path / "wheat.sam"
    with open(sam, "w") as f:
        f.write("@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:chr3B\tLN:1000000000\n")
        for i in range(2000):
            pos = 1 + i * 450_000  # up to ~900 Mb, past 2^29
            f.write(
                f"r{i:05d}\t0\tchr3B\t{pos}\t60\t50M\t*\t0\t0\t{'A'*50}\t{'I'*50}\n"
            )
    bam = str(tmp_path / "wheat.bam")
    save_bam(load_sam(spark, str(sam)).sort(), bam)
    assert not os.path.exists(bam + ".bai")
    assert os.path.exists(bam + ".csi")
    assert read_csi(bam + ".csi").depth > 5
    regions = [("chr3B", 600_000_000, 650_000_000)]
    got = load_indexed_bam(spark, bam, regions)
    want = load_bam(spark, bam).filter_by_overlapping_regions(regions)
    a = sorted(r["readName"] for r in got.df.collect())
    b = sorted(r["readName"] for r in want.df.collect())
    assert a == b and len(a) > 0
