"""Round 13: pluggable filesystem seam under the export family
(r12 verdict "What's missing #1" / "Next round #1").

Every single-file exporter and shard writer historically used raw
``open()``/``os`` calls — correct on a shared POSIX mount, broken on
HDFS/object stores. These tests prove the seam carries ALL bytes:

- a true in-memory backend (pyarrow's mock filesystem) behind the
  driver-side merge/concat functions, and
- FULL single-file saves (text, BCF, BAM, FASTA+faidx) against a
  non-local backend whose paths are meaningless to raw ``open()``
  (a pyarrow SubTreeFileSystem rooted elsewhere, registered under a
  test scheme) — shard tasks pickle the handle to the executors and
  stream through it; any leftover raw call would ENOENT.

Byte-identity against the plain local save is the acceptance bar.
"""

import os

import pytest

from adam_spark.sources.filesystem import (
    ArrowFileSystem,
    LocalFileSystem,
    get_fs,
    register_filesystem,
    unregister_filesystem,
)


def _mem_fs():
    import pyarrow.fs as pafs

    return ArrowFileSystem(pafs._MockFileSystem())


def _subtree_fs(root):
    import pyarrow.fs as pafs

    return ArrowFileSystem(
        pafs.SubTreeFileSystem(str(root), pafs.LocalFileSystem())
    )


@pytest.fixture
def remote(tmp_path_factory):
    """A 'remote' backend under a test scheme: subtree-relative paths
    that raw open() cannot resolve (the hidden root is elsewhere)."""
    root = tmp_path_factory.mktemp("remote-root")
    fs = _subtree_fs(root)
    register_filesystem("testfs", fs)
    yield root, fs
    unregister_filesystem("testfs")


def test_get_fs_resolution(remote):
    root, fs = remote
    lfs, p = get_fs("/plain/path")
    assert isinstance(lfs, LocalFileSystem) and p == "/plain/path"
    rfs, p = get_fs("testfs://d/out.bcf")
    assert rfs is fs and p == "d/out.bcf"
    lfs2, p = get_fs("file:///plain/path")
    assert isinstance(lfs2, LocalFileSystem) and p == "/plain/path"


def test_merge_through_memory_backend():
    """merge_shards + concat_files_parallel against a pure in-memory
    filesystem — zero local files touched."""
    from adam_spark.sources.merge import concat_files_parallel, merge_shards

    fs = _mem_fs()
    fs.makedirs("d/shards")
    for i, blob in enumerate([b"alpha", b"beta", b"g"]):
        f = fs.open_write(f"d/shards/part-{i:05d}")
        f.write(blob)
        f.close()
    n = merge_shards("d/shards", "d/merged", header_blob=b"H:", fs=fs)
    assert n == 3
    r = fs.open_read("d/merged")
    assert r.read() == b"H:alphabetag"
    r.close()
    offs = concat_files_parallel(
        "d/c2", [f"d/shards/part-{i:05d}" for i in range(3)], b"", b"EOF",
        fs=fs,
    )
    assert offs == [0, 5, 9]
    r = fs.open_read("d/c2")
    assert r.read() == b"alphabetagEOF"
    r.close()
    # parallelism request degrades to sequential (no positioned writes)
    offs = concat_files_parallel(
        "d/c3", [f"d/shards/part-{i:05d}" for i in range(3)],
        parallel=True, fs=fs,
    )
    r = fs.open_read("d/c3")
    assert r.read() == b"alphabetag" and offs == [0, 5, 9]
    r.close()


def _read_remote(root, rel):
    with open(os.path.join(str(root), rel), "rb") as f:
        return f.read()


def test_single_file_text_save_remote_backend(spark, remote, tmp_path):
    """write_text_single_file to a scheme path: shards render via RDD
    tasks that stream through the pickled handle; result is
    byte-identical to the plain local save."""
    from adam_spark.sources.merge import write_text_single_file

    df = spark.range(0, 500, 1, 4).selectExpr(
        "concat('line-', lpad(id, 5, '0')) as value"
    )
    hdr = ["#h1", "#h2"]
    write_text_single_file(df, "testfs://out.txt", header_lines=hdr)
    local = str(tmp_path / "out.txt")
    write_text_single_file(df, local, header_lines=hdr)

    root, _ = remote
    got = _read_remote(root, "out.txt/part-00000")
    want = open(os.path.join(local, "part-00000"), "rb").read()
    assert got == want and got.startswith(b"#h1\n#h2\nline-00000\n")
    assert _read_remote(root, "out.txt/_SUCCESS") == b""

    # empty frame -> header-only file, same contract as local
    empty = df.where("1=0")
    write_text_single_file(empty, "testfs://empty.txt", header_lines=hdr)
    assert _read_remote(root, "empty.txt/part-00000") == b"#h1\n#h2\n"


def _toy_variants(spark, tmp_path, n=400):
    from adam_spark.sources import vcf as vcf_io

    lines = [
        "##fileformat=VCFv4.3",
        "##contig=<ID=chr1,length=10000000>",
        '##INFO=<ID=DP,Number=1,Type=Integer,Description="Depth">',
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO",
    ]
    for i in range(n):
        lines.append(f"chr1\t{1 + i * 37}\t.\tA\tG\t50\tPASS\tDP={i % 90}")
    p = tmp_path / "in.vcf"
    p.write_text("\n".join(lines) + "\n")
    gf = vcf_io.load_vcf(spark, str(p))
    from adam_spark.core.genomic_frame import GenomicFrame
    from pyspark.sql import functions as F

    # HASH partitioning, not repartitionByRange: range sampling can
    # place shard boundaries differently run-to-run (same decompressed
    # bytes, different BGZF member framing), which would make the
    # remote-vs-local byte comparison flaky
    df = gf.df.repartition(4, F.col("start")) \
        .sortWithinPartitions("referenceName", "start")
    return GenomicFrame(df, gf.meta)


def test_save_bcf_remote_backend(spark, remote, tmp_path):
    """Full save_bcf (shards + concat + .csi) through the seam —
    byte-identical data file and index vs the local save."""
    from adam_spark.sources.bcf import save_bcf

    gf = _toy_variants(spark, tmp_path)
    stats_r = save_bcf(gf, "testfs://out.bcf")
    local = str(tmp_path / "out.bcf")
    stats_l = save_bcf(gf, local)
    root, _ = remote
    assert _read_remote(root, "out.bcf") == open(local, "rb").read()
    assert _read_remote(root, "out.bcf.csi") == open(local + ".csi", "rb").read()
    assert stats_r["shards"] == stats_l["shards"]
    # the shard staging dir is cleaned up on the remote too
    assert not os.path.exists(os.path.join(str(root), "out.bcf.__shards"))


def test_save_bam_remote_backend(spark, remote, tmp_path):
    """Full save_bam (shards + concat + .bai) through the seam."""
    from adam_spark.core.genomic_frame import GenomicFrame
    from adam_spark.sources.bam import save_bam
    from adam_spark.sources.sam import load_sam

    lines = ["@HD\tVN:1.6", "@SQ\tSN:chr1\tLN:100000"]
    for i in range(300):
        lines.append(
            f"r{i:04d}\t0\tchr1\t{1 + i * 31}\t60\t10M\t*\t0\t0\t{'A'*10}\t{'I'*10}"
        )
    src = tmp_path / "a.sam"
    src.write_text("\n".join(lines) + "\n")
    from pyspark.sql import functions as F

    gf = load_sam(spark, str(src))
    gf = GenomicFrame(
        gf.df.repartition(3, F.col("start"))
        .sortWithinPartitions("referenceName", "start"),
        gf.meta,
    )
    save_bam(gf, "testfs://a.bam")
    local = str(tmp_path / "a.bam")
    save_bam(gf, local)
    root, _ = remote
    assert _read_remote(root, "a.bam") == open(local, "rb").read()
    assert _read_remote(root, "a.bam.bai") == open(local + ".bai", "rb").read()


def test_save_fasta_remote_backend(spark, remote, tmp_path):
    """save_fasta(single_file=True) through the seam: merged FASTA and
    .fai sidecar byte-identical to the local save."""
    import random

    from adam_spark.core.genomic_frame import GenomicFrame
    from adam_spark.sources.fasta import load_fasta_sequences, save_fasta

    rng = random.Random(5)
    src = tmp_path / "in.fa"
    src.write_text(
        "".join(
            f">c{i:02d} desc\n"
            + "".join(rng.choice("ACGT") for _ in range(rng.randint(30, 200)))
            + "\n"
            for i in range(8)
        )
    )
    from pyspark.sql import functions as F

    gf = load_fasta_sequences(spark, str(src))
    gf = GenomicFrame(
        gf.df.repartition(3, F.col("name")).sortWithinPartitions("name"),
        gf.meta,
    )
    save_fasta(gf, "testfs://out.fa", single_file=True)
    local = str(tmp_path / "out.fa")
    save_fasta(gf, local, single_file=True)
    root, _ = remote
    assert _read_remote(root, "out.fa/part-00000") == open(
        os.path.join(local, "part-00000"), "rb"
    ).read()
    assert _read_remote(root, "out.fa/part-00000.fai") == open(
        os.path.join(local, "part-00000.fai"), "rb"
    ).read()


def test_load_bam_remote_backend(spark, remote, tmp_path):
    """READ side of the seam (BAM is the pattern proof): a full BAM
    scan and an indexed region query both work through a non-local
    backend — header walk, split decode, .bai read, and chunk reads
    all flow through the handle; results equal the local load."""
    from adam_spark.core.genomic_frame import GenomicFrame
    from adam_spark.sources.bam import load_bam, load_indexed_bam, save_bam
    from adam_spark.sources.sam import load_sam

    lines = ["@HD\tVN:1.6", "@SQ\tSN:chr1\tLN:100000"]
    for i in range(400):
        lines.append(
            f"r{i:04d}\t0\tchr1\t{1 + i * 37}\t60\t10M\t*\t0\t0\t{'A'*10}\t{'I'*10}"
        )
    src = tmp_path / "a.sam"
    src.write_text("\n".join(lines) + "\n")
    gf = load_sam(spark, str(src))
    gf = GenomicFrame(gf.df.repartition(3), gf.meta)
    save_bam(gf, "testfs://reads/a.bam")  # write through the seam too

    want = sorted(
        (r["readName"], r["start"]) for r in gf.df.collect()
    )
    got = sorted(
        (r["readName"], r["start"])
        for r in load_bam(spark, "testfs://reads/a.bam").df.collect()
    )
    assert got == want and len(got) == 400

    # indexed region query via the remote .bai
    regions = [("chr1", 5_000, 6_000)]
    got_r = sorted(
        r["start"]
        for r in load_indexed_bam(
            spark, "testfs://reads/a.bam", regions
        ).df.collect()
    )
    want_r = sorted(
        r["start"]
        for r in gf.filter_by_overlapping_regions(regions).df.collect()
    )
    assert got_r == want_r and len(got_r) > 0


def test_load_bcf_remote_backend(spark, remote, tmp_path):
    """READ side for BCF: the splittable full scan (header stream,
    body-start walk, range decode with resync) and the .csi region
    query both work through a non-local backend, equal to local."""
    from adam_spark.sources.bcf import load_bcf, load_indexed_bcf, save_bcf

    gf = _toy_variants(spark, tmp_path, n=600)
    save_bcf(gf, "testfs://v/d.bcf")  # write through the seam

    want = sorted(r["start"] for r in gf.df.collect())
    got = sorted(
        r["start"] for r in load_bcf(spark, "testfs://v/d.bcf").df.collect()
    )
    assert got == want and len(got) == 600

    regions = [("chr1", 3_000, 9_000)]
    got_r = sorted(
        r["start"]
        for r in load_indexed_bcf(
            spark, "testfs://v/d.bcf", regions
        ).df.collect()
    )
    want_r = sorted(
        r["start"]
        for r in gf.filter_by_overlapping_regions(regions).df.collect()
    )
    assert got_r == want_r and len(got_r) > 0


def test_failed_save_removes_shard_staging_dir(spark, tmp_path):
    """Every BGZF single-file writer stages shards in
    ``<path>.__shards``; a save that fails after staging (here: the
    target is an existing non-empty directory) must raise and leave no
    staging directory behind."""
    from adam_spark.core.genomic_frame import GenomicFrame
    from adam_spark.sources.bam import save_bam
    from adam_spark.sources.bcf import save_bcf
    from adam_spark.sources.sam import load_sam
    from adam_spark.sources.vcf import save_vcf_bgzf

    variants = _toy_variants(spark, tmp_path, n=50)
    src = tmp_path / "a.sam"
    src.write_text(
        "@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:100000\n"
        + "".join(
            f"r{i}\t0\tchr1\t{1 + i * 31}\t60\t10M\t*\t0\t0\t{'A'*10}\t{'I'*10}\n"
            for i in range(50)
        )
    )
    reads = load_sam(spark, str(src))
    reads = GenomicFrame(reads.df.repartition(2), reads.meta)
    for name, save, gf in [
        ("bam", save_bam, reads),
        ("bcf", save_bcf, variants),
        ("vcf_bgzf", save_vcf_bgzf, variants),
    ]:
        target = tmp_path / f"taken_{name}"
        target.mkdir()
        (target / "keep").write_text("x")
        with pytest.raises(IsADirectoryError):
            save(gf, str(target))
        assert not os.path.exists(str(target) + ".__shards"), name
        assert (target / "keep").read_text() == "x"
