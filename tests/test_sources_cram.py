"""CRAM subset codec tests (reference: AlignmentDatasetSuite.scala:337
"round trip from ADAM to CRAM"; format: public CRAM 3.0 spec).

No htsjdk/samtools exists in this container, so parity is pinned as
SAM↔CRAM equivalence on the shared fixture plus structural checks of
the container layout (magic, EOF container, multi-container chunking,
distributed decode)."""

import pytest

from adam_spark.sources.cram import (
    _MAGIC,
    _index_containers,
    itf8_decode,
    itf8_encode,
    load_cram,
    ltf8_decode,
    ltf8_encode,
    save_cram,
)
from adam_spark.sources.sam import load_sam

SAM = """@HD\tVN:1.6\tSO:coordinate
@SQ\tSN:chr1\tLN:10000
@SQ\tSN:chr2\tLN:5000
@RG\tID:rg1\tSM:s1\tLB:lib1
r1\t99\tchr1\t100\t60\t6M2I2M\t=\t200\t110\tACGTACGTAC\tIIIIIIIIII\tRG:Z:rg1\tMD:Z:8\tNM:i:1
r1\t147\tchr1\t200\t60\t10M\t=\t100\t-110\tACGTACGTAC\tIIIIIIIIII\tRG:Z:rg1\tMD:Z:10
r2\t0\tchr2\t500\t30\t2S6M1D2M\t*\t0\t0\tTTTTGGGGCC\tJJJJJJJJJJ\tXS:f:12.5\tXB:B:i,1,2,3
r4\t16\tchr1\t900\t45\t3M5N4M2H\t*\t0\t0\tACGTTTT\tKKKKKKK\tNM:i:0
r3\t4\t*\t0\t0\t*\t*\t0\t0\tAAAACCCC\t*
"""


@pytest.fixture()
def sam_path(tmp_path):
    p = tmp_path / "in.sam"
    p.write_text(SAM)
    return str(p)


def test_varint_edge_values():
    for v in (0, 1, 127, 128, 16383, 16384, (1 << 28) - 1, 1 << 28, -1, -2, -(1 << 31)):
        e = itf8_encode(v)
        d, off = itf8_decode(e, 0)
        assert (d, off) == (v, len(e))
    for v in (0, 127, 128, 1 << 40, (1 << 63) - 1, -1, -5):
        e = ltf8_encode(v)
        d, off = ltf8_decode(e, 0)
        assert (d, off) == (v, len(e))


def test_sam_cram_sam_roundtrip(spark, sam_path, tmp_path):
    gf = load_sam(spark, sam_path)
    cram = str(tmp_path / "out.cram")
    save_cram(gf, cram)
    raw = open(cram, "rb").read()
    assert raw[: len(_MAGIC)] == _MAGIC
    gf2 = load_cram(spark, cram)
    a = {(r["readName"], r["readInFragment"]): r for r in gf.df.collect()}
    b = {(r["readName"], r["readInFragment"]): r for r in gf2.df.collect()}
    assert set(a) == set(b) and len(a) == 5
    for k in a:
        for col in (
            "referenceName", "start", "end", "cigar", "sequence",
            "qualityScores", "mappingQuality", "mismatchingPositions",
            "readGroupId", "mateReferenceName", "mateAlignmentStart",
            "insertSize", "readMapped", "readPaired", "duplicateRead",
            "readNegativeStrand",
        ):
            assert a[k][col] == b[k][col], (k, col, a[k][col], b[k][col])
    # typed aux tags survive
    assert b[("r2", 0)]["attributes"]["XS"] == "f:12.5"
    assert b[("r2", 0)]["attributes"]["XB"] == "B:i,1,2,3"
    # header metadata survives
    assert [r.name for r in gf2.meta.references.references] == ["chr1", "chr2"]
    assert gf2.meta.read_groups[0].library == "lib1"


def test_cram_multi_container_distributed(spark, tmp_path):
    """> _RECORDS_PER_CONTAINER records → several containers, decoded
    across executor tasks with nothing lost."""
    import random

    rng = random.Random(9)
    sam = tmp_path / "many.sam"
    with open(sam, "w") as f:
        f.write("@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:1000000\n")
        for i in range(2600):
            seq = "".join(rng.choice("ACGT") for _ in range(40))
            f.write(
                f"q{i}\t{0 if i % 3 else 16}\tchr1\t{1 + i * 17 % 900000}\t60"
                f"\t40M\t*\t0\t0\t{seq}\t{'I' * 40}\tNM:i:0\n"
            )
    gf = load_sam(spark, str(sam))
    cram = str(tmp_path / "many.cram")
    save_cram(gf, cram, records_per_container=500)
    _, _, containers = _index_containers(cram)
    assert len(containers) >= 6  # >= ceil(2600/500); partition splits may add more
    gf2 = load_cram(spark, cram)
    assert gf2.df.count() == 2600
    a = {r["readName"]: (r["start"], r["sequence"]) for r in gf.df.collect()}
    b = {r["readName"]: (r["start"], r["sequence"]) for r in gf2.df.collect()}
    assert a == b


def test_cram_cli_dispatch(spark, sam_path, tmp_path):
    from adam_spark.cli import main

    cram = str(tmp_path / "a.cram")
    assert main(["transform_alignments", sam_path, cram]) == 0
    out = str(tmp_path / "b.adam")
    assert main(["transform_alignments", cram, out]) == 0
    from adam_spark.sources.parquet import load_parquet

    assert load_parquet(spark, out).df.count() == 5


SAM_EDGE = """@HD\tVN:1.6\tSO:coordinate
@SQ\tSN:chr1\tLN:10000
s1\t256\tchr1\t100\t0\t4M2D6M\t*\t0\t0\t*\t*
s2\t0\tchr1\t300\t60\t3=2X5=\t*\t0\t0\tACGTTACGTA\tIIIIIIIIII
s3\t16\tchr1\t500\t30\t2S3=1X4M\t*\t0\t0\tGGAAATCCCC\tJJJJJJJJJJ
s4\t272\tchr1\t700\t0\t5M3N5M2S\t*\t0\t0\t*\t*
"""


def test_seqless_mapped_and_eq_x_cigars_roundtrip(spark, tmp_path):
    """Sequence-less mapped reads (seq '*', e.g. minimap2 secondary
    alignments) must keep their CIGAR, and '='/'X' ops must reconstruct
    verbatim — the two silent-corruption cases from the r3 advice."""
    p = tmp_path / "edge.sam"
    p.write_text(SAM_EDGE)
    gf = load_sam(spark, str(p))
    cram = str(tmp_path / "edge.cram")
    save_cram(gf, cram)
    a = {r["readName"]: r for r in gf.df.collect()}
    b = {r["readName"]: r for r in load_cram(spark, cram).df.collect()}
    assert set(a) == set(b)
    for k in a:
        for col in ("cigar", "sequence", "start", "referenceName", "qualityScores"):
            assert a[k][col] == b[k][col], (k, col)
    assert b["s1"]["cigar"] == "4M2D6M" and b["s1"]["sequence"] is None
    assert b["s2"]["cigar"] == "3=2X5="
    assert b["s4"]["cigar"] == "5M3N5M2S"


def test_rans_codec_cram_roundtrip(spark, sam_path, tmp_path):
    """CRAM written with rANS 4x8 external blocks loads with record
    parity to its SAM twin (and actually contains rANS blocks)."""
    gf = load_sam(spark, sam_path)
    cram = str(tmp_path / "rans.cram")
    save_cram(gf, cram, codec="rans")
    raw = open(cram, "rb").read()
    # method byte 4 starts at least one block (external blocks > 32 B)
    from adam_spark.sources.cram import _index_containers, _read_container_header

    gf2 = load_cram(spark, cram)
    a = {(r["readName"], r["readInFragment"]): r for r in gf.df.collect()}
    b = {(r["readName"], r["readInFragment"]): r for r in gf2.df.collect()}
    assert set(a) == set(b)
    for k in a:
        for col in ("cigar", "sequence", "qualityScores", "start", "referenceName"):
            assert a[k][col] == b[k][col], (k, col)


def test_foreign_series_map_decodes(spark, tmp_path):
    """A CRAM whose data-series map declares a DIFFERENT content-id
    layout decodes correctly: the reader follows the declared encoding
    map (codec objects), not the writer's fixed layout. The foreign
    container is crafted driver-side with a swapped _CID layout (the
    parallel writer encodes on executors, where a driver monkeypatch
    would not reach)."""
    import adam_spark.sources.cram as cm

    lines = [
        "r1\t0\tchr1\t100\t60\t4M\t*\t0\t0\tACGT\tIIII",
        "r2\t0\tchr1\t200\t60\t4M\t*\t0\t0\tTTTT\tJJJJ",
    ]
    text = "@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:10000\n"
    orig = cm._CID.copy()
    out = bytearray()
    out += cm._MAGIC + cm._FILE_ID
    hdr_block = bytearray()
    cm._write_block(hdr_block, cm._CT_FILE_HEADER, 0, text.encode())
    out += cm._container_header(len(hdr_block), 0, 0, 0, 0, 0, 0, 1, [])
    out += hdr_block
    try:
        cm._CID["AP"], cm._CID["RL"] = orig["RL"], orig["AP"]  # swapped layout
        cm._write_data_container(out, lines, {"chr1": 0}, 0, "gzip", None)
    finally:
        cm._CID.clear()
        cm._CID.update(orig)
    eof = bytearray()
    cm._write_block(eof, cm._CT_EXTERNAL, 0, b"EOF", compress=False)
    out += cm._container_header(len(eof), -1, 4542278, 0, 0, 2, 0, 1, [])
    out += eof
    cram = str(tmp_path / "f.cram")
    open(cram, "wb").write(bytes(out))
    rows = {r["readName"]: r for r in cm.load_cram(spark, cram).df.collect()}
    assert set(rows) == {"r1", "r2"}
    assert rows["r1"]["start"] == 99 and rows["r1"]["sequence"] == "ACGT"
    assert rows["r2"]["start"] == 199 and rows["r2"]["sequence"] == "TTTT"


def test_crai_sidecar_skips_driver_walk(spark, sam_path, tmp_path, monkeypatch):
    """save_cram writes a .crai; load_cram with it never serially walks
    container headers on the driver (O(1) driver I/O)."""
    import os

    import adam_spark.sources.cram as cm

    gf = load_sam(spark, sam_path)
    cram = str(tmp_path / "ix.cram")
    save_cram(gf, cram)
    assert os.path.exists(cram + ".crai")
    want = sorted(r["readName"] for r in gf.df.collect())

    def boom(path):
        raise AssertionError("driver container walk must not run with .crai")

    monkeypatch.setattr(cm, "_index_containers", boom)
    got = sorted(r["readName"] for r in cm.load_cram(spark, cram).df.collect())
    assert got == want

    # without the sidecar the serial walk still works
    monkeypatch.undo()
    os.remove(cram + ".crai")
    got2 = sorted(r["readName"] for r in cm.load_cram(spark, cram).df.collect())
    assert got2 == want


def test_reference_based_cram_roundtrip_and_size(spark, tmp_path):
    """RR=true: reads encode against the reference (match spans + X
    substitutions), round-trip exactly, and the file is smaller than
    the verbatim encoding; loading without the reference fails loudly."""
    import random

    rng = random.Random(3)
    contig = "".join(rng.choice("ACGT") for _ in range(2000))
    ref = {"chr1": contig}
    lines = ["@HD\tVN:1.6\tSO:coordinate", "@SQ\tSN:chr1\tLN:2000"]
    for i in range(200):
        start = (i * 9) % 1900
        seq = list(contig[start : start + 80])
        if i % 3 == 0:  # one substitution per third read
            seq[17] = {"A": "C", "C": "G", "G": "T", "T": "A"}[seq[17]]
        lines.append(
            f"m{i}\t0\tchr1\t{start + 1}\t60\t80M\t*\t0\t0\t{''.join(seq)}\t{'I' * 80}"
        )
    p = tmp_path / "rr.sam"
    p.write_text("\n".join(lines) + "\n")
    gf = load_sam(spark, str(p))

    plain = str(tmp_path / "plain.cram")
    coded = str(tmp_path / "coded.cram")
    save_cram(gf, plain)
    save_cram(gf, coded, reference=ref)
    import os

    assert os.path.getsize(coded) < os.path.getsize(plain) * 0.8, (
        os.path.getsize(coded),
        os.path.getsize(plain),
    )

    a = {r["readName"]: r for r in gf.df.collect()}
    b = {r["readName"]: r for r in load_cram(spark, coded, reference=ref).df.collect()}
    assert set(a) == set(b)
    for k in a:
        for col in ("sequence", "cigar", "start", "qualityScores"):
            assert a[k][col] == b[k][col], (k, col)

    with pytest.raises(Exception) as ei:
        load_cram(spark, coded).df.collect()
    assert "reference" in str(ei.value) or "reference" in str(ei.getrepr())


def test_reference_based_cram_mixed_records(spark, sam_path, tmp_path):
    """RR=true with the shared mixed fixture (indels, clips, unmapped,
    tags): everything still round-trips when a reference is supplied."""
    contig1 = "A" * 10000
    contig2 = "C" * 5000
    ref = {"chr1": contig1, "chr2": contig2}
    gf = load_sam(spark, sam_path)
    cram = str(tmp_path / "mix.cram")
    save_cram(gf, cram, reference=ref, codec="rans")
    a = {(r["readName"], r["readInFragment"]): r for r in gf.df.collect()}
    b = {
        (r["readName"], r["readInFragment"]): r
        for r in load_cram(spark, cram, reference=ref).df.collect()
    }
    assert set(a) == set(b)
    for k in a:
        for col in ("cigar", "sequence", "qualityScores", "start", "referenceName"):
            assert a[k][col] == b[k][col], (k, col)


def test_core_bitpacked_encodings_decode(spark, tmp_path):
    """Foreign CRAMs use bit-packed CORE encodings; the reader must
    follow the declared codecs. This container encodes (per CRAM 3.0
    §13): BF/CF/RG/MF/NS/NP/TS via zero-bit single-symbol HUFFMAN, TL
    via a 1-bit two-symbol HUFFMAN, RI via BETA, RL via GAMMA, AP via
    SUBEXP, the NM tag via BYTE_ARRAY_LEN(HUFFMAN len, EXTERNAL val) —
    none of which our own writer emits."""
    import struct

    import adam_spark.sources.cram as cm

    i8 = cm.itf8_encode

    def enc(codec_id, params):
        return i8(codec_id) + i8(len(params)) + params

    def huff(symbols, lengths):
        p = i8(len(symbols)) + b"".join(i8(s) for s in symbols)
        p += i8(len(lengths)) + b"".join(i8(x) for x in lengths)
        return enc(3, p)

    class BitWriter:
        def __init__(self):
            self.buf, self.acc, self.n = bytearray(), 0, 0

        def write(self, v, nbits):
            for i in range(nbits - 1, -1, -1):
                self.acc = (self.acc << 1) | ((v >> i) & 1)
                self.n += 1
                if self.n == 8:
                    self.buf.append(self.acc)
                    self.acc, self.n = 0, 0

        def getvalue(self):
            out = bytes(self.buf)
            if self.n:
                out += bytes((self.acc << (8 - self.n),))
            return out

    # --- compression header ---
    td = b"\x00" + b"NMi\x00"  # line 0: no tags; line 1: NM:i
    pres = i8(4) + b"RR\x00" + b"RN\x01" + b"AP\x00" + b"TD" + i8(len(td)) + td
    pres_block = i8(len(pres)) + pres
    series = [
        (b"BF", huff([4], [0])),
        (b"CF", huff([3], [0])),
        (b"RI", enc(6, i8(1) + i8(1))),            # BETA offset=1 nbits=1
        (b"RL", enc(9, i8(0))),                    # GAMMA offset=0
        (b"AP", enc(7, i8(0) + i8(2))),            # SUBEXP offset=0 k=2
        (b"RG", huff([-1], [0])),
        (b"RN", enc(5, bytes((0,)) + i8(7))),      # BYTE_ARRAY_STOP
        (b"MF", huff([0], [0])),
        (b"NS", huff([-1], [0])),
        (b"NP", huff([0], [0])),
        (b"TS", huff([0], [0])),
        (b"TL", huff([0, 1], [1, 1])),
        (b"BA", enc(1, i8(20))),
        (b"QS", enc(1, i8(19))),
    ]
    ds = i8(len(series)) + b"".join(k + e for k, e in series)
    ds_block = i8(len(ds)) + ds
    nm_key = (ord("N") << 16) | (ord("M") << 8) | ord("i")
    tag_enc = enc(4, huff([4], [0]) + enc(1, i8(30)))
    tags = i8(1) + i8(nm_key) + tag_enc
    tag_block = i8(len(tags)) + tags
    comp = pres_block + ds_block + tag_block

    # --- core bits: per record RI(1) RL(gamma) AP(subexp) TL(1) ---
    bw = BitWriter()
    # u1: RI=-1 -> bit 0; RL=4 -> gamma 00100; AP=0 -> 0 + 00; TL=0 -> 0
    bw.write(0, 1); bw.write(0b00100, 5); bw.write(0, 1); bw.write(0, 2); bw.write(0, 1)
    # u2: RI=-1; RL=4; AP=7 -> 1,0,11; TL=1 -> 1
    bw.write(0, 1); bw.write(0b00100, 5); bw.write(0b10, 2); bw.write(0b11, 2); bw.write(1, 1)
    core = bw.getvalue()

    ext = {
        7: b"u1\x00u2\x00",
        19: b"IIIIJJJJ",
        20: b"ACGTGGCC",
        30: struct.pack("<i", 5),
    }

    blocks = bytearray()
    cm._write_block(blocks, cm._CT_COMPRESSION_HEADER, 0, comp)
    sh = bytearray()
    sh += i8(-2) + i8(0) + i8(0) + i8(2) + cm.ltf8_encode(0)
    sh += i8(len(ext) + 1) + i8(len(ext))
    for cid in sorted(ext):
        sh += i8(cid)
    sh += i8(-1) + b"\x00" * 16
    cm._write_block(blocks, cm._CT_SLICE_HEADER, 0, bytes(sh))
    cm._write_block(blocks, cm._CT_CORE, 0, core, compress=False)
    for cid in sorted(ext):
        cm._write_block(blocks, cm._CT_EXTERNAL, cid, ext[cid], compress=False)

    out = bytearray()
    out += cm._MAGIC + cm._FILE_ID
    hdr_block = bytearray()
    cm._write_block(hdr_block, cm._CT_FILE_HEADER, 0,
                    b"@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:10000\n")
    out += cm._container_header(len(hdr_block), 0, 0, 0, 0, 0, 0, 1, [])
    out += hdr_block
    out += cm._container_header(len(blocks), -2, 0, 0, 2, 0, 8, len(ext) + 3, [])
    out += blocks
    eof = bytearray()
    cm._write_block(eof, cm._CT_EXTERNAL, 0, b"EOF", compress=False)
    out += cm._container_header(len(eof), -1, 4542278, 0, 0, 2, 0, 1, [])
    out += eof
    cram = str(tmp_path / "core.cram")
    open(cram, "wb").write(bytes(out))

    rows = {r["readName"]: r for r in cm.load_cram(spark, cram).df.collect()}
    assert set(rows) == {"u1", "u2"}
    assert rows["u1"]["sequence"] == "ACGT"
    assert rows["u1"]["qualityScores"] == "IIII"
    assert rows["u2"]["sequence"] == "GGCC"
    assert rows["u2"]["qualityScores"] == "JJJJ"
    attrs = rows["u2"]["attributes"]
    assert attrs is not None and "NM" in str(attrs) and "5" in str(attrs)


def test_substitution_matrix_tables():
    """SM bytes → code tables: identity ranking round-trips, and a
    non-identity (reversed-rank) foreign matrix inverts correctly."""
    from adam_spark.sources.cram import _sm_tables, _SM_DEFAULT

    enc, dec = _sm_tables(_SM_DEFAULT)
    # identity: row A substitutes C,G,T,N with codes 0..3
    assert dec["A"] == ["C", "G", "T", "N"]
    assert enc["T"]["A"] == 0 and enc["T"]["N"] == 3
    for row in "ACGTN":
        for code, base in enumerate(dec[row]):
            assert enc[row][base] == code and base != row
    # reversed ranks (0xE4 = 3,2,1,0): foreign writers order by
    # substitution frequency, so the decoder must honor arbitrary ranks
    enc2, dec2 = _sm_tables(bytes((0xE4,) * 5))
    assert dec2["A"] == ["N", "T", "G", "C"]
    assert enc2["A"]["C"] == 3


def test_mate_graph_resolution(spark, tmp_path):
    """Foreign CRAMs store in-slice mates via the NF mate graph
    (CF 0x4 + next-fragment distance) instead of detached explicit
    fields; RNEXT/PNEXT/TLEN and the mate strand/paired flags must be
    reconstructed from the chain (spec §11)."""
    import adam_spark.sources.cram as cm

    i8 = cm.itf8_encode

    def enc(codec_id, params):
        return i8(codec_id) + i8(len(params)) + params

    ext_series = [
        "BF", "CF", "RI", "RL", "AP", "RG", "NF", "TL", "FN", "MQ", "BA", "QS",
    ]
    cids = {k: 40 + i for i, k in enumerate(ext_series)}
    td = b"\x00"
    pres = i8(4) + b"RR\x00" + b"RN\x01" + b"AP\x00" + b"TD" + i8(len(td)) + td
    pres_block = i8(len(pres)) + pres
    series = [(k.encode(), enc(1, i8(cids[k]))) for k in ext_series]
    series.append((b"RN", enc(5, bytes((0,)) + i8(90))))
    ds = i8(len(series)) + b"".join(k + e for k, e in series)
    ds_block = i8(len(ds)) + ds
    tag_block = i8(1) + i8(0)
    comp = pres_block + ds_block + bytes(tag_block)

    streams = {cids[k]: bytearray() for k in ext_series}
    streams[90] = bytearray()

    def put(k, v):
        streams[cids[k]] += i8(v)

    # r1: forward, mate downstream (NF=0 -> next record)
    for k, v in [("BF", 0), ("CF", 4), ("RI", 0), ("RL", 4), ("AP", 100),
                 ("RG", -1)]:
        put(k, v)
    streams[90] += b"p1\x00"
    put("NF", 0)
    put("TL", 0)
    put("FN", 0)
    put("MQ", 60)
    streams[cids["BA"]] += b"ACGT"
    streams[cids["QS"]] += b"IIII"
    # r2: reverse, chain end (no mate data series at all)
    for k, v in [("BF", 16), ("CF", 0), ("RI", 0), ("RL", 4), ("AP", 200),
                 ("RG", -1)]:
        put(k, v)
    streams[90] += b"p1\x00"
    put("TL", 0)
    put("FN", 0)
    put("MQ", 60)
    streams[cids["BA"]] += b"GGGG"
    streams[cids["QS"]] += b"JJJJ"

    blocks = bytearray()
    cm._write_block(blocks, cm._CT_COMPRESSION_HEADER, 0, comp)
    ext_ids = sorted(streams)
    sh = bytearray()
    sh += i8(-2) + i8(0) + i8(0) + i8(2) + cm.ltf8_encode(0)
    sh += i8(len(ext_ids) + 1) + i8(len(ext_ids))
    for cid in ext_ids:
        sh += i8(cid)
    sh += i8(-1) + b"\x00" * 16
    cm._write_block(blocks, cm._CT_SLICE_HEADER, 0, bytes(sh))
    cm._write_block(blocks, cm._CT_CORE, 0, b"", compress=False)
    for cid in ext_ids:
        cm._write_block(blocks, cm._CT_EXTERNAL, cid, bytes(streams[cid]),
                        compress=False)

    out = bytearray()
    out += cm._MAGIC + cm._FILE_ID
    hdr_block = bytearray()
    cm._write_block(hdr_block, cm._CT_FILE_HEADER, 0,
                    b"@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:10000\n")
    out += cm._container_header(len(hdr_block), 0, 0, 0, 0, 0, 0, 1, [])
    out += hdr_block
    out += cm._container_header(len(blocks), -2, 0, 0, 2, 0, 8,
                                len(ext_ids) + 3, [])
    out += blocks
    eof = bytearray()
    cm._write_block(eof, cm._CT_EXTERNAL, 0, b"EOF", compress=False)
    out += cm._container_header(len(eof), -1, 4542278, 0, 0, 2, 0, 1, [])
    out += eof
    cram = str(tmp_path / "mates.cram")
    open(cram, "wb").write(bytes(out))

    rows = sorted(
        cm.load_cram(spark, cram).df.collect(), key=lambda r: r["start"]
    )
    r1, r2 = rows
    assert r1["readName"] == "p1" and r2["readName"] == "p1"
    assert r1["sequence"] == "ACGT" and r2["sequence"] == "GGGG"
    # mate fields reconstructed from the graph
    assert r1["mateAlignmentStart"] == 199  # PNEXT 200, 0-based
    assert r2["mateAlignmentStart"] == 99
    assert r1["mateReferenceName"] == "chr1" and r2["mateReferenceName"] == "chr1"
    assert r1["readPaired"] and r2["readPaired"]
    assert r1["mateNegativeStrand"] is True  # r2 is reverse
    assert r2["mateNegativeStrand"] is False
    assert r1["insertSize"] == 101 and r2["insertSize"] == -101


def test_single_ref_slice_with_ap_delta(spark, tmp_path):
    """Coordinate-sorted foreign CRAMs use single-reference slices (no
    RI series — the reference comes from the slice header) and AP=true
    delta-coded positions seeded by the slice start (spec §8.5)."""
    import adam_spark.sources.cram as cm

    i8 = cm.itf8_encode

    def enc(codec_id, params):
        return i8(codec_id) + i8(len(params)) + params

    ext_series = ["BF", "CF", "RL", "AP", "RG", "TL", "FN", "MQ", "BA", "QS"]
    cids = {k: 40 + i for i, k in enumerate(ext_series)}
    td = b"\x00"
    pres = i8(4) + b"RR\x00" + b"RN\x01" + b"AP\x01" + b"TD" + i8(len(td)) + td
    pres_block = i8(len(pres)) + pres
    series = [(k.encode(), enc(1, i8(cids[k]))) for k in ext_series]
    series.append((b"RN", enc(5, bytes((0,)) + i8(90))))
    ds = i8(len(series)) + b"".join(k + e for k, e in series)
    ds_block = i8(len(ds)) + ds
    comp = pres_block + ds_block + bytes(i8(1) + i8(0))

    streams = {cids[k]: bytearray() for k in ext_series}
    streams[90] = bytearray()

    def put(k, v):
        streams[cids[k]] += i8(v)

    # r1 at slice_start+0=100, r2 delta 50 -> 150
    for name, delta, seq, qual in (("s1", 0, b"ACGT", b"IIII"),
                                   ("s2", 50, b"GGGG", b"JJJJ")):
        for k, v in [("BF", 0), ("CF", 0), ("RL", 4), ("AP", delta),
                     ("RG", -1)]:
            put(k, v)
        streams[90] += name.encode() + b"\x00"
        put("TL", 0)
        put("FN", 0)
        put("MQ", 60)
        streams[cids["BA"]] += seq
        streams[cids["QS"]] += qual

    blocks = bytearray()
    cm._write_block(blocks, cm._CT_COMPRESSION_HEADER, 0, comp)
    ext_ids = sorted(streams)
    sh = bytearray()
    sh += i8(0) + i8(100) + i8(100) + i8(2) + cm.ltf8_encode(0)  # ref 0, start 100
    sh += i8(len(ext_ids) + 1) + i8(len(ext_ids))
    for cid in ext_ids:
        sh += i8(cid)
    sh += i8(-1) + b"\x00" * 16
    cm._write_block(blocks, cm._CT_SLICE_HEADER, 0, bytes(sh))
    cm._write_block(blocks, cm._CT_CORE, 0, b"", compress=False)
    for cid in ext_ids:
        cm._write_block(blocks, cm._CT_EXTERNAL, cid, bytes(streams[cid]),
                        compress=False)

    out = bytearray()
    out += cm._MAGIC + cm._FILE_ID
    hdr_block = bytearray()
    cm._write_block(hdr_block, cm._CT_FILE_HEADER, 0,
                    b"@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:10000\n")
    out += cm._container_header(len(hdr_block), 0, 0, 0, 0, 0, 0, 1, [])
    out += hdr_block
    out += cm._container_header(len(blocks), 0, 100, 100, 2, 0, 8,
                                len(ext_ids) + 3, [])
    out += blocks
    eof = bytearray()
    cm._write_block(eof, cm._CT_EXTERNAL, 0, b"EOF", compress=False)
    out += cm._container_header(len(eof), -1, 4542278, 0, 0, 2, 0, 1, [])
    out += eof
    cram = str(tmp_path / "sr.cram")
    open(cram, "wb").write(bytes(out))

    rows = {r["readName"]: r for r in cm.load_cram(spark, cram).df.collect()}
    assert set(rows) == {"s1", "s2"}
    assert rows["s1"]["referenceName"] == "chr1"
    assert rows["s2"]["referenceName"] == "chr1"
    assert rows["s1"]["start"] == 99   # pos1 100
    assert rows["s2"]["start"] == 149  # pos1 100+50


def test_multi_slice_container_decodes(spark, tmp_path):
    """Foreign CRAMs pack several slices per container; each slice's
    streams are independent under the shared compression header."""
    import adam_spark.sources.cram as cm

    i8 = cm.itf8_encode

    def enc(codec_id, params):
        return i8(codec_id) + i8(len(params)) + params

    ext_series = ["BF", "CF", "RL", "AP", "RG", "TL", "FN", "MQ", "BA", "QS"]
    cids = {k: 40 + i for i, k in enumerate(ext_series)}
    pres = i8(4) + b"RR\x00" + b"RN\x01" + b"AP\x00" + b"TD" + i8(1) + b"\x00"
    pres_block = i8(len(pres)) + pres
    series = [(k.encode(), enc(1, i8(cids[k]))) for k in ext_series]
    series.append((b"RN", enc(5, bytes((0,)) + i8(90))))
    ds = i8(len(series)) + b"".join(k + e for k, e in series)
    comp = pres_block + i8(len(ds)) + ds + bytes(i8(1) + i8(0))

    def slice_blocks(names_pos_seqs):
        streams = {cids[k]: bytearray() for k in ext_series}
        streams[90] = bytearray()
        for name, pos, seq, qual in names_pos_seqs:
            for k, v in [("BF", 0), ("CF", 0), ("RL", len(seq)),
                         ("AP", pos), ("RG", -1)]:
                streams[cids[k]] += i8(v)
            streams[90] += name.encode() + b"\x00"
            for k, v in [("TL", 0), ("FN", 0), ("MQ", 60)]:
                streams[cids[k]] += i8(v)
            streams[cids["BA"]] += seq
            streams[cids["QS"]] += qual
        blocks = bytearray()
        ext_ids = sorted(streams)
        sh = bytearray()
        sh += i8(0) + i8(0) + i8(0) + i8(len(names_pos_seqs)) + cm.ltf8_encode(0)
        sh += i8(len(ext_ids) + 1) + i8(len(ext_ids))
        for cid in ext_ids:
            sh += i8(cid)
        sh += i8(-1) + b"\x00" * 16
        cm._write_block(blocks, cm._CT_SLICE_HEADER, 0, bytes(sh))
        cm._write_block(blocks, cm._CT_CORE, 0, b"", compress=False)
        for cid in ext_ids:
            cm._write_block(blocks, cm._CT_EXTERNAL, cid, bytes(streams[cid]),
                            compress=False)
        return blocks

    blocks = bytearray()
    cm._write_block(blocks, cm._CT_COMPRESSION_HEADER, 0, comp)
    blocks += slice_blocks([("m1", 100, b"ACGT", b"IIII"),
                            ("m2", 150, b"GGGG", b"JJJJ")])
    blocks += slice_blocks([("m3", 700, b"TTTT", b"KKKK")])

    out = bytearray()
    out += cm._MAGIC + cm._FILE_ID
    hdr_block = bytearray()
    cm._write_block(hdr_block, cm._CT_FILE_HEADER, 0,
                    b"@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:10000\n")
    out += cm._container_header(len(hdr_block), 0, 0, 0, 0, 0, 0, 1, [])
    out += hdr_block
    out += cm._container_header(len(blocks), 0, 0, 0, 3, 0, 12, 1, [])
    out += blocks
    eof = bytearray()
    cm._write_block(eof, cm._CT_EXTERNAL, 0, b"EOF", compress=False)
    out += cm._container_header(len(eof), -1, 4542278, 0, 0, 2, 0, 1, [])
    out += eof
    cram = str(tmp_path / "ms.cram")
    open(cram, "wb").write(bytes(out))

    rows = {r["readName"]: r for r in cm.load_cram(spark, cram).df.collect()}
    assert set(rows) == {"m1", "m2", "m3"}
    assert rows["m3"]["start"] == 699
    assert rows["m2"]["sequence"] == "GGGG"


def test_spec_difference_model_decodes(spark, tmp_path):
    """htslib-style reference-based containers store only DIFFERENCE
    features: implicit reference matches between/after features, FN=0
    perfect-match reads, lone 'X' substitutions without explicit match
    spans, spec codes B/i/Q/q, and CF-0x1-gated quality arrays. None of
    these shapes are emitted by this module's writer — the fixture is
    hand-built to the spec layout."""
    import adam_spark.sources.cram as cm

    i8 = cm.itf8_encode
    ref = "ACGTACGTACGTACGTACGTACGTACGTACGTACGTACGT"  # 40bp chr1

    def enc(codec_id, params):
        return i8(codec_id) + i8(len(params)) + params

    def ext(cid):
        return enc(1, i8(cid))

    def stop(cid, stop_byte=0):
        return enc(5, bytes((stop_byte,)) + i8(cid))

    # preservation map: RR=true, RN preserved, default SM
    pres = (i8(5) + b"RR\x01" + b"RN\x01" + b"AP\x00" + b"SM" + cm._SM_DEFAULT
            + b"TD" + i8(1) + b"\x00")
    pres_block = i8(len(pres)) + pres
    cids = {k: 10 + n for n, k in enumerate(
        ["BF", "CF", "RI", "RL", "AP", "RG", "RN", "MF", "NS", "NP", "TS",
         "TL", "FN", "FC", "FP", "DL", "BS", "SC", "BA", "QS", "QQ", "MQ"])}
    series = [(k.encode(), stop(cids[k]) if k in ("RN", "SC", "QQ") else ext(cids[k]))
              for k in cids]
    ds = i8(len(series)) + b"".join(k + e for k, e in series)
    ds_block = i8(len(ds)) + ds
    tag_block = i8(1) + i8(0)  # no tags
    comp = pres_block + ds_block + tag_block

    E = {cid: bytearray() for cid in cids.values()}

    def put(k, v):
        E[cids[k]] += i8(v)

    def putb(k, b):
        E[cids[k]] += b

    def record(name, pos1, rl, cf, feats, quals=None, mapq=60):
        put("BF", 0); put("CF", cf); put("RI", 0); put("RL", rl)
        put("AP", pos1); put("RG", -1); putb("RN", name + b"\x00")
        put("MF", 0); put("NS", -1); put("NP", 0); put("TS", 0); put("TL", 0)
        put("FN", len(feats))
        prev = 0
        for code, p, payload in feats:
            putb("FC", code.encode()); put("FP", p - prev); prev = p
            if code == "X":
                put("BS", payload)
            elif code == "D":
                put("DL", payload)
            elif code == "S":
                putb("SC", payload + b"\x00")
            elif code in ("B", "i"):
                putb("BA", payload[:1])
                if code == "B":
                    putb("QS", payload[1:2])
            elif code == "Q":
                putb("QS", payload)
            elif code == "q":
                putb("QQ", payload + b"\x00")
        put("MQ", mapq)
        if quals is not None:
            putb("QS", quals)

    # r1: FN=0 perfect match, 8bp at pos 1, quals stored (CF 0x1)
    record(b"r1", 1, 8, 3, [], quals=b"IIIIIIII")
    # r2: lone substitution at read pos 3 (no explicit match spans).
    # ref base at pos1=11 + offset 2 is ref[12] = 'A'; code 0 under the
    # default SM = first non-A base in ACGT ranking = 'C'
    record(b"r2", 11, 6, 3, [("X", 3, 0)], quals=b"JJJJJJ")
    # r3: soft clip + mid-read deletion, rest implicit
    record(b"r3", 21, 6, 3, [("S", 1, b"TT"), ("D", 5, 2)], quals=b"KKKKKK")
    # r4: B (base+qual), Q (qual), q (qual stretch) — sparse quals, no CF 0x1
    record(b"r4", 31, 6, 2, [("B", 2, b"TJ"), ("Q", 4, b"#"), ("q", 5, b"KL")])

    blocks = bytearray()
    cm._write_block(blocks, cm._CT_COMPRESSION_HEADER, 0, comp)
    sh = bytearray()
    sh += i8(-2) + i8(0) + i8(0) + i8(4) + cm.ltf8_encode(0)
    sh += i8(len(E) + 1) + i8(len(E))
    for cid in sorted(E):
        sh += i8(cid)
    sh += i8(-1) + b"\x00" * 16
    cm._write_block(blocks, cm._CT_SLICE_HEADER, 0, bytes(sh))
    cm._write_block(blocks, cm._CT_CORE, 0, b"", compress=False)
    for cid in sorted(E):
        cm._write_block(blocks, cm._CT_EXTERNAL, cid, bytes(E[cid]), compress=False)

    out = bytearray()
    out += cm._MAGIC + cm._FILE_ID
    hdr_block = bytearray()
    cm._write_block(hdr_block, cm._CT_FILE_HEADER, 0,
                    b"@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:40\n")
    out += cm._container_header(len(hdr_block), 0, 0, 0, 0, 0, 0, 1, [])
    out += hdr_block
    out += cm._container_header(len(blocks), -2, 0, 0, 4, 0, 26,
                                len(E) + 3, [])
    out += blocks
    eof = bytearray()
    cm._write_block(eof, cm._CT_EXTERNAL, 0, b"EOF", compress=False)
    out += cm._container_header(len(eof), -1, 4542278, 0, 0, 2, 0, 1, [])
    out += eof
    cram = str(tmp_path / "spec.cram")
    open(cram, "wb").write(bytes(out))

    rows = {r["readName"]: r
            for r in cm.load_cram(spark, cram, reference={"chr1": ref}).df.collect()}
    assert set(rows) == {"r1", "r2", "r3", "r4"}
    # r1: all implicit
    assert rows["r1"]["sequence"] == ref[0:8]
    assert rows["r1"]["cigar"] == "8M" and rows["r1"]["qualityScores"] == "IIIIIIII"
    # r2: implicit match with one substitution (ref[12]='A' -> 'C')
    want2 = ref[10:12] + "C" + ref[13:16]
    assert rows["r2"]["sequence"] == want2 and rows["r2"]["cigar"] == "6M"
    # r3: 2S, 2 implicit M, 2D, 2 implicit M
    assert rows["r3"]["cigar"] == "2S2M2D2M"
    assert rows["r3"]["sequence"] == "TT" + ref[20:22] + ref[24:26]
    # r4: B places 'T' at p2, Q/q set quals of implicit bases
    assert rows["r4"]["cigar"] == "6M"
    assert rows["r4"]["sequence"] == ref[30] + "T" + ref[32:36]
    assert rows["r4"]["qualityScores"] == "!J!#KL"


def test_crai_duplicate_offsets_and_base_convention(spark, sam_path, tmp_path):
    """A spec .crai carries one line per SLICE: multi-slice containers
    repeat the container offset, which must dedupe on load (records
    would silently double otherwise). The on-disk alignment-start
    column is 1-based per the spec."""
    import gzip as gz

    import adam_spark.sources.cram as cm

    gf = load_sam(spark, sam_path)
    cram = str(tmp_path / "d.cram")
    save_cram(gf, cram)
    want = sorted(r["readName"] for r in gf.df.collect())

    with gz.open(cram + ".crai", "rt") as f:
        lines = [ln for ln in f.read().splitlines() if ln]
    # on-disk start for single-contig containers = internal 0-based + 1
    mapped_starts = [int(ln.split("\t")[1]) for ln in lines
                     if int(ln.split("\t")[0]) >= 0]
    if mapped_starts:
        internal = cm._read_crai(cram)
        assert sorted(mapped_starts) == sorted(
            s + 1 for _o, _l, sid, s, _sp in internal if sid >= 0
        )
    # duplicate every line (as a 2-slice-per-container file would)
    with gz.open(cram + ".crai", "wt") as f:
        f.write("\n".join(lines + lines) + "\n")
    got = sorted(r["readName"] for r in cm.load_cram(spark, cram).df.collect())
    assert got == want  # no record duplication


def test_crai_legacy_base_interpretation(tmp_path, monkeypatch):
    """.crai starts are 1-based on disk for current files (spec) but were
    0-based for legacy .0000 files — the reader keys the conversion on
    the cram's file id so old sidecars aren't shifted left one base."""
    import gzip

    import adam_spark.sources.cram as cm

    path = str(tmp_path / "x.cram")
    open(path, "wb").write(b"")  # only the sidecar matters here
    with gzip.open(path + ".crai", "wt") as f:
        f.write("0\t101\t50\t1234\t0\t999\n")

    monkeypatch.setattr(cm, "_read_file_id", lambda p: cm._FILE_ID)
    (off, ln, seq, start, span), = cm._read_crai(path)
    assert (off, seq, start, span) == (1234, 0, 100, 50)  # 1-based → 0-based

    monkeypatch.setattr(cm, "_read_file_id", lambda p: cm._LEGACY_FILE_ID)
    (off, ln, seq, start, span), = cm._read_crai(path)
    assert start == 101  # legacy sidecars stored 0-based starts verbatim


def test_plain_cram_load_with_reference_is_not_corrupted(spark, tmp_path):
    """r4-advice regression: decoding an RR=false CRAM (written with no
    reference) while PASSING reference= must return the stored bases
    verbatim — the old contig-keyed branch substituted reference bases
    for r1 ('*' cigar became '4M', ACGT became reference text) and the
    unread BA bytes desynced every later record in the slice. The
    verbatim-BA branch now keys on the file-level RR flag."""
    sam = (
        "@HD\tVN:1.6\tSO:coordinate\n"
        "@SQ\tSN:chr1\tLN:10000\n"
        "r1\t0\tchr1\t101\t60\t*\t*\t0\t0\tACGT\tIIII\n"
        "r2\t4\t*\t0\t0\t*\t*\t0\t0\tTTTT\tJJJJ\n"
        "r3\t0\tchr1\t201\t60\t4M\t*\t0\t0\tGGCC\tKKKK\n"
    )
    p = tmp_path / "plain_rr.sam"
    p.write_text(sam)
    gf = load_sam(spark, str(p))
    cram = str(tmp_path / "plain_rr.cram")
    save_cram(gf, cram)  # RR=false: bases stored verbatim
    ref = {"chr1": "G" * 10000}  # poison: any substitution would show
    a = {r["readName"]: r for r in load_cram(spark, cram).df.collect()}
    b = {
        r["readName"]: r
        for r in load_cram(spark, cram, reference=ref).df.collect()
    }
    assert set(b) == {"r1", "r2", "r3"}
    for k in a:
        for col in ("sequence", "cigar", "qualityScores", "start"):
            assert b[k][col] == a[k][col], (k, col)
    assert b["r1"]["sequence"] == "ACGT" and b["r1"]["cigar"] is None
    assert b["r2"]["sequence"] == "TTTT"
    assert b["r3"]["sequence"] == "GGCC"


def test_huffman_canonical_ties_break_by_symbol_value():
    """r4-advice regression: equal-bit-length symbols declared OUT of
    value order must get canonical codes by (length, symbol value) —
    htslib parity — not by declaration order."""
    import adam_spark.sources.cram as cm

    # declaration order 9, 2, 5 — all 2-bit. Canonical: 2→00, 5→01, 9→10.
    codec = cm._HuffmanCodec([9, 2, 5], [2, 2, 2])
    assert codec.codes == {(2, 0b00): 2, (2, 0b01): 5, (2, 0b10): 9}

    class FakeCore:
        def __init__(self, bits):
            self.bits = list(bits)

        def read(self, n):
            v = 0
            for _ in range(n):
                v = (v << 1) | self.bits.pop(0)
            return v

    class FakeCursors:
        def __init__(self, bits):
            self.core = FakeCore(bits)

    assert codec.read_int(FakeCursors([0, 0])) == 2
    assert codec.read_int(FakeCursors([0, 1])) == 5
    assert codec.read_int(FakeCursors([1, 0])) == 9
    # mixed lengths: shorter codes first regardless of declared order
    mixed = cm._HuffmanCodec([7, 3], [2, 1])
    assert mixed.codes == {(1, 0b0): 3, (2, 0b10): 7}


def test_save_cram_is_byte_reproducible(spark, fixtures, tmp_path):
    """Saving one frame three times writes one file: every gzip'd
    external block pins its header MTIME to 0 (like the .crai writer)
    instead of stamping the wall-clock second."""
    import hashlib
    import time

    from adam_spark.core.genomic_frame import GenomicFrame

    src = fixtures.alignments()
    gf = GenomicFrame(
        src.df.orderBy("referenceName", "start", "readName", "readInFragment"),
        src.meta,
    )
    digests, row_sets = set(), []
    for i in range(3):
        path = str(tmp_path / f"run{i}.cram")
        save_cram(gf, path)
        digests.add(hashlib.sha256(open(path, "rb").read()).hexdigest())
        rows = load_cram(spark, path).df.collect()
        row_sets.append(sorted(repr(sorted(r.asDict().items())) for r in rows))
        time.sleep(1.1)  # cross a second boundary between saves
    assert len(digests) == 1
    assert row_sets[0] == row_sets[1] == row_sets[2]
    assert len(row_sets[0]) == src.df.count()
