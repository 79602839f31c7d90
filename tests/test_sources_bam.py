"""BAM binary codec tests (reference: ADAMContext.loadBam:2041-2111,
AlignmentDatasetSuite round-trip suites — here SAM↔BAM equivalence on
the same fixture)."""

import gzip
import zlib
import struct

import pytest

from adam_spark.sources import bgzf
from adam_spark.sources.bam import (
    bam_bytes_to_sam,
    load_bam,
    sam_line_to_bam_record,
    save_bam,
)
from adam_spark.sources.sam import load_sam

SAM = """@HD\tVN:1.6\tSO:coordinate
@SQ\tSN:chr1\tLN:10000
@SQ\tSN:chr2\tLN:5000
@RG\tID:rg1\tSM:s1\tLB:lib1
r1\t99\tchr1\t100\t60\t6M2I2M\t=\t200\t110\tACGTACGTAC\tIIIIIIIIII\tRG:Z:rg1\tMD:Z:8\tNM:i:1
r1\t147\tchr1\t200\t60\t10M\t=\t100\t-110\tACGTACGTAC\tIIIIIIIIII\tRG:Z:rg1\tMD:Z:10
r2\t0\tchr2\t500\t30\t10M\t*\t0\t0\tTTTTGGGGCC\tJJJJJJJJJJ\tXS:f:12.5\tXB:B:i,1,2,3
r3\t4\t*\t0\t0\t*\t*\t0\t0\tAAAACCCC\t*
"""


@pytest.fixture()
def sam_path(tmp_path):
    p = tmp_path / "in.sam"
    p.write_text(SAM)
    return str(p)


def test_bgzf_roundtrip(tmp_path):
    data = b"hello bgzf " * 20_000  # > one 60 KB block
    p = str(tmp_path / "x.bgzf")
    bgzf.compress_to(p, data)
    assert bgzf.decompress(p) == data
    # readable by plain gzip too (BGZF is valid multi-member gzip)
    with gzip.open(p, "rb") as f:
        assert f.read() == data


def test_bgzf_bsize_block_walk(tmp_path):
    """Walk blocks the way htsjdk/samtools do — seek by BSIZE+1 — and
    land exactly on the EOF sentinel. Catches BSIZE off-by-one that
    gzip-stream decompression (which ignores BSIZE) cannot see."""
    data = b"bsize walk " * 30_000  # several 60 KB blocks
    p = str(tmp_path / "x.bgzf")
    bgzf.compress_to(p, data)
    raw = open(p, "rb").read()
    pos = 0
    blocks = 0
    out = b""
    while pos < len(raw):
        assert raw[pos : pos + 4] == b"\x1f\x8b\x08\x04", f"bad magic at {pos}"
        xlen = struct.unpack_from("<H", raw, pos + 10)[0]
        # scan extra subfields for BC
        e, bsize = pos + 12, None
        while e < pos + 12 + xlen:
            si1, si2, slen = raw[e], raw[e + 1], struct.unpack_from("<H", raw, e + 2)[0]
            if bytes((si1, si2)) == b"BC":
                bsize = struct.unpack_from("<H", raw, e + 4)[0]
            e += 4 + slen
        assert bsize is not None
        total = bsize + 1
        block = raw[pos : pos + total]
        # deflate payload sits between header and 8-byte trailer
        payload = block[12 + xlen : -8]
        crc, isize = struct.unpack_from("<II", block, len(block) - 8)
        chunk = zlib.decompress(payload, -15)
        assert len(chunk) == isize
        assert zlib.crc32(chunk) & 0xFFFFFFFF == crc
        out += chunk
        pos += total
        blocks += 1
    assert pos == len(raw)  # BSIZE walk consumed the file exactly
    assert out == data
    assert raw[-28:] == bgzf.EOF
    assert blocks >= 6  # data blocks + sentinel


def test_record_codec_roundtrip():
    line = "r1\t99\tchr1\t100\t60\t6M2I2M\t=\t200\t110\tACGTACGTAC\tIIIIIIIIII\tRG:Z:rg1\tNM:i:1"
    rec = sam_line_to_bam_record(line, {"chr1": 0})
    # wrap in a minimal BAM stream
    text = "@SQ\tSN:chr1\tLN:10000\n"
    stream = (
        b"BAM\x01"
        + struct.pack("<i", len(text))
        + text.encode()
        + struct.pack("<i", 1)
        + struct.pack("<i", 5)
        + b"chr1\x00"
        + struct.pack("<i", 10000)
        + rec
    )
    header, records = bam_bytes_to_sam(stream)
    assert header == ["@SQ\tSN:chr1\tLN:10000"]
    assert list(records) == [line]


def test_sam_bam_sam_roundtrip(spark, sam_path, tmp_path):
    gf = load_sam(spark, sam_path)
    bam = str(tmp_path / "out.bam")
    save_bam(gf, bam)
    gf2 = load_bam(spark, bam)
    a = {(r["readName"], r["readInFragment"]): r for r in gf.df.collect()}
    b = {(r["readName"], r["readInFragment"]): r for r in gf2.df.collect()}
    assert set(a) == set(b) and len(a) == 4
    for k in a:
        for col in (
            "referenceName", "start", "end", "cigar", "sequence",
            "qualityScores", "mappingQuality", "mismatchingPositions",
            "readGroupId", "mateReferenceName", "mateAlignmentStart",
            "insertSize", "readMapped", "readPaired", "duplicateRead",
        ):
            assert a[k][col] == b[k][col], (k, col, a[k][col], b[k][col])
    # typed aux tags survive
    assert b[("r2", 0)]["attributes"]["XS"] == "f:12.5"
    assert b[("r2", 0)]["attributes"]["XB"] == "B:i,1,2,3"
    # header metadata survives
    assert [r.name for r in gf2.meta.references.references] == ["chr1", "chr2"]
    assert gf2.meta.read_groups[0].library == "lib1"


def test_bam_cli_end_to_end(spark, sam_path, tmp_path):
    from adam_spark.cli import main

    bam = str(tmp_path / "a.bam")
    assert main(["transform_alignments", sam_path, bam]) == 0
    out = str(tmp_path / "b.adam")
    assert main(["transform_alignments", bam, out, "-mark_duplicate_reads"]) == 0
    from adam_spark.sources.parquet import load_parquet

    gf = load_parquet(spark, out)
    rows = {(r["readName"], r["readInFragment"]): r for r in gf.df.collect()}
    assert len(rows) == 4
    assert rows[("r2", 0)]["duplicateRead"] is False


def _many_read_bam(tmp_path, spark, n=800, block_size=512):
    """A BAM re-blocked into tiny BGZF blocks so records span blocks →
    (SAM path, BAM path, number of blocks including the EOF block)."""
    import random

    rng = random.Random(11)
    sam = tmp_path / "many.sam"
    with open(sam, "w") as f:
        f.write("@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:1000000\n@SQ\tSN:chr2\tLN:500000\n")
        for i in range(n):
            seq = "".join(rng.choice("ACGT") for _ in range(60))
            f.write(
                f"q{i}\t0\tchr{1 + i % 2}\t{1 + i * 13 % 400000}\t60\t60M\t*\t0\t0"
                f"\t{seq}\t{'I' * 60}\tNM:i:0\n"
            )
    bam = str(tmp_path / "many.bam")
    save_bam(load_sam(spark, str(sam)), bam)
    small = str(tmp_path / "small_blocks.bam")
    offsets = bgzf.compress_to(small, bgzf.decompress(bam), block_size=block_size)
    return str(sam), small, len(offsets)


def test_distributed_bam_scan(spark, tmp_path):
    """Records spanning tiny BGZF blocks, decoded across many executor
    ranges (resync path), must round-trip exactly."""
    sam, small, n_blocks = _many_read_bam(tmp_path, spark, n=800)
    assert n_blocks > 30, "fixture must span many blocks"
    gf = load_bam(spark, small)
    a = {r["readName"]: r for r in load_sam(spark, sam).df.collect()}
    b = {r["readName"]: r for r in gf.df.collect()}
    assert len(b) == 800 and set(a) == set(b)
    for k in ("q0", "q399", "q799"):
        for col in ("referenceName", "start", "cigar", "sequence", "qualityScores"):
            assert a[k][col] == b[k][col], (k, col)


def test_byte_range_resync_no_dup_no_loss(spark, tmp_path):
    """Tile the file with ARBITRARY byte boundaries (not block-aligned):
    per-range decode with executor-side block+record resync must
    partition the records exactly (no dup, no loss)."""
    import os
    from functools import partial

    from adam_spark.sources.bam import _plausible_record, _read_bam_header_lazy, _sam_line

    sam, small, _ = _many_read_bam(tmp_path, spark, n=300)
    header_lines, ref_names, records_off, intra = _read_bam_header_lazy(small)
    fsize = os.path.getsize(small)
    # deliberately unaligned split width (prime) so range starts land
    # mid-block and mid-record
    step = 977
    bounds = list(range(records_off, fsize, step)) + [fsize]
    got = []
    for i in range(len(bounds) - 1):
        got.extend(
            _sam_line(rec, ref_names)
            for rec in bgzf.scan_range(
                small,
                start=bounds[i],
                end=bounds[i + 1],
                first_intra=intra if i == 0 else 0,
                resync=i > 0,
                head="<i",
                plausible=partial(_plausible_record, n_ref=len(ref_names)),
            )
        )
    names = [ln.split("\t")[0] for ln in got]
    assert names == [f"q{i}" for i in range(300)]


def test_load_bam_driver_io_is_o_splits(spark, tmp_path, monkeypatch):
    """The driver must not walk the whole BSIZE chain: header decode
    stops after the header blocks, and splits are arithmetic."""
    import adam_spark.sources.bam as bammod

    sam, small, n_blocks = _many_read_bam(tmp_path, spark, n=800)
    assert n_blocks > 30

    calls = {"n": 0}
    orig = bgzf._block_header

    def counting_block_header(f, off):
        calls["n"] += 1
        return orig(f, off)

    monkeypatch.setattr(bgzf, "_block_header", counting_block_header)
    # driver-side planning only — building the tasks, not running them
    gf = bammod.load_bam(spark, small)
    driver_calls = calls["n"]
    assert driver_calls < 10, f"driver walked {driver_calls} block headers"
    # and the distributed read still returns every record
    assert gf.df.count() == 800


def test_load_indexed_bam(spark, sam_path, tmp_path):
    gf = load_sam(spark, sam_path)
    bam = str(tmp_path / "idx.bam")
    save_bam(gf, bam)
    from adam_spark.sources.bam import load_indexed_bam

    hits = load_indexed_bam(spark, bam, [("chr1", 0, 150)])
    assert [r["readName"] for r in hits.df.collect()] == ["r1"]


def test_save_bam_foreign_reader(spark, sam_path, tmp_path):
    """save_bam output parses with an INDEPENDENT stdlib-only BAM reader
    (zlib multi-member + spec §4 record layout) — a self-round-trip
    can't catch an encode/decode bug that is symmetric; a foreign parser
    can (the sandbox has no samtools/htsjdk, so this is the external
    interop pin)."""
    import subprocess
    import sys

    from tests.test_pipe import _BAM_TO_SAM_TOOL

    gf = load_sam(spark, sam_path)
    bam = str(tmp_path / "foreign.bam")
    save_bam(gf, bam)
    tool = tmp_path / "bam2sam.py"
    tool.write_text(_BAM_TO_SAM_TOOL)
    out = subprocess.run(
        [sys.executable, str(tool)],
        input=open(bam, "rb").read(),
        capture_output=True,
        check=True,
    )
    lines = out.stdout.decode().splitlines()
    want = {
        (r["readName"], r["readInFragment"]): r
        for r in gf.df.collect()
    }
    assert len(lines) == len(want) == 4
    got = {}
    for ln in lines:
        f = ln.split("\t")
        flag = int(f[1])
        rif = 1 if flag & 0x80 else 0
        got[(f[0], rif)] = f
    assert set(got) == set(want)
    for k, f in got.items():
        w = want[k]
        assert f[2] == (w["referenceName"] or "*")
        if w["start"] is not None:
            assert int(f[3]) - 1 == w["start"]
        assert f[5] == (w["cigar"] or "*")
        assert f[9] == (w["sequence"] or "*")
        assert f[10] == (w["qualityScores"] or "*")


def test_load_bam_glob_and_directory(spark, sam_path, tmp_path):
    """ADAMContextSuite 'loadBam with a glob' / 'with a directory' /
    'bad glob should fail': multi-file loads union records and merge
    headers; an empty match raises."""
    import pytest as _pytest

    gf = load_sam(spark, sam_path)
    d = tmp_path / "bams"
    d.mkdir()
    half1 = gf.df.where("readName <= 'r2'")
    half2 = gf.df.where("readName > 'r2'")
    save_bam(gf.__class__(half1, gf.meta), str(d / "a.bam"))
    save_bam(gf.__class__(half2, gf.meta), str(d / "b.bam"))

    by_glob = load_bam(spark, str(d / "*.bam"))
    by_dir = load_bam(spark, str(d))
    want = {(r["readName"], r["readInFragment"]) for r in gf.df.collect()}
    assert {(r["readName"], r["readInFragment"]) for r in by_glob.df.collect()} == want
    assert {(r["readName"], r["readInFragment"]) for r in by_dir.df.collect()} == want
    assert [r.name for r in by_dir.meta.references.references] == ["chr1", "chr2"]
    with _pytest.raises(FileNotFoundError):
        load_bam(spark, str(d / "nothing-*.bam"))
