"""CRAM 3.0 container format: pure-Python subset codec.

The reference handles CRAM end-to-end through htsjdk
(ADAMContext.loadBam:2027-2111 dispatches BAM/CRAM/SAM;
AlignmentDataset.saveAsSam:810-997 writes it; round-trip test
AlignmentDatasetSuite.scala:337). No htsjdk exists in this
environment, so this module implements the container format directly,
following the public CRAM 3.0 specification:

- **Varints**: ITF8 (32-bit) and LTF8 (64-bit) with the spec's
  leading-ones length prefixes.
- **Structure**: file definition, containers (header + blocks),
  blocks (method, content type/id, sizes, CRC32), a FILE_HEADER
  container carrying the SAM header text, data containers holding one
  COMPRESSION_HEADER block plus one multi-reference slice
  (SLICE_HEADER + core + external blocks), and a zero-record EOF
  container.
- **Encodings**: every data series uses the EXTERNAL codec (one
  compressed block per series — gzip or rANS 4x8, ITF8 ints / raw
  bytes), read names and clipped or inserted bases use
  BYTE_ARRAY_STOP, base-stretch features use
  BYTE_ARRAY_LEN(EXTERNAL, EXTERNAL). All records are written
  DETACHED with explicit mate fields, so no mate-graph resolution is
  needed. Block methods read-side: raw, gzip, bzip2, lzma (stdlib),
  rANS 4x8 order-0/1 (:mod:`adam_spark.sources.rans`).
- **Records**: mapped reads are feature-coded (S/b/E/x/I/D/N/H/P
  features fully cover the read, so CIGAR + sequence reconstruct
  exactly without a reference — the RR=false path; 'b'/'E'/'x' carry
  M/'='/'X' stretches so extended CIGAR ops round-trip verbatim).
  Sequence-less mapped reads (seq '*', e.g. minimap2 secondary
  alignments) set CF bit 0x8 ("decode sequence as '*'") and keep
  their CIGAR as features with N placeholder bases. Unmapped reads
  store bases/qualities verbatim (BA/QS series). Tags live in
  per-(tag,type) external streams as BAM-typed values with a TD tag
  dictionary.

**Reference-based compression** (RR=true): with a reference
(dict / ReferenceFile / .fa/.2bit path) the writer codes plain-M
stretches as 'm' match-span features plus per-base 'X' substitution
features — matching bases are never stored, the model behind real
CRAM's ~40%-smaller-than-BAM storage. 'X' carries a 2-bit
substitution CODE resolved through the preservation map's SM matrix
(spec §8.6), not a raw base; spans with uncodable mismatches (e.g.
soft-masked references) fall back to verbatim stretches. The reader
requires the same reference (``load_cram(..., reference=...)``) and
fails loudly without it; SM-less legacy files decode BS as raw base
bytes.

**Read-side generality**: the reader follows the compression header's
declared encoding maps through codec objects — EXTERNAL, HUFFMAN
(canonical, incl. the zero-bit single-symbol form), BETA, GAMMA,
SUBEXP, BYTE_ARRAY_LEN (nested codecs), BYTE_ARRAY_STOP — with a
MSB-first bit reader over the slice's core block, so foreign
content-id layouts and bit-packed core encodings decode (pinned by
tests/test_sources_cram.py's hand-crafted foreign containers).
Non-detached records are supported too: CF-conditional mate decode
(detached MF/NS/NP/TS vs NF mate-graph links) with chain resolution of
RNEXT/PNEXT/TLEN, mate flags, and synthesized names when RN
preservation is off; AP=true delta-coded positions, single-reference
slices (no RI series), and multi-slice containers all decode. Mapped
records use the spec's DIFFERENCE model: read positions no feature
covers are implicit reference matches (filled from the contig), with
spec feature codes B/i/Q/q handled alongside this writer's explicit
'm'/'b'/'E'/'x' coverage; CF 0x1 gates the per-record quality array
(sparse B/Q/q qualities decode when it is clear).

Format-level fidelity note: CRAM stores MQ only for mapped records, so
a nonzero MAPQ on an unmapped read (e.g. bwa's placed mates) does not
survive a round-trip — same loss as htsjdk/htslib, inherent to the
spec's record layout, not this codec.
Unknown codec ids (GOLOMB/GOLOMB_RICE, unused by modern writers) and
unknown block compression methods still fail loudly.

Scope note (honest descope of the remainder): htsjdk/samtools interop
is untestable in this container — parity is pinned as SAM↔CRAM
equivalence plus the foreign-layout fixtures above. Round-trip
fidelity is pinned by tests/test_sources_cram.py.

Scale posture mirrors bam.py: containers are self-contained
(compression header + slice + streams), so the reader decodes
container ranges on executors (driver I/O is O(1) with the ``.crai``
sidecar) and the WRITER also runs distributed — executors encode
their partitions into shard files of whole containers and the driver
concatenates them, the reference's FileMerger boundary.
"""

from __future__ import annotations

import gzip
import os
import re
import struct
import zlib

from pyspark.sql import DataFrame, SparkSession

from adam_spark.core.genomic_frame import GenomicFrame
from adam_spark.sources.bam import _aux_from_text, _aux_to_text, _cigar_ref_len

_MAGIC = b"CRAM\x03\x00"
_FILE_ID = b"adam_spark.cram.0001"  # 20 bytes
# .0000 files predate two on-disk fixes and need compat shims on read:
# (a) they always stored QS without setting CF 0x1 (quality would decode
# as '*' under the spec gating), (b) their .crai sidecars recorded
# 0-BASED alignment starts (the CRAI spec and .0001 use 1-based).
_LEGACY_FILE_ID = b"adam_spark.cram.0000"


def _read_file_id(path: str) -> bytes:
    with open(path, "rb") as f:
        f.seek(len(_MAGIC))
        return f.read(20)

# block content types
_CT_FILE_HEADER = 0
_CT_COMPRESSION_HEADER = 1
_CT_SLICE_HEADER = 2
_CT_EXTERNAL = 4
_CT_CORE = 5

# block compression methods
_M_RAW = 0
_M_GZIP = 1
_M_BZIP2 = 2
_M_LZMA = 3
_M_RANS = 4

# external content ids per data series (fixed layout, declared in the
# compression header's data-series encoding map)
_CID = {
    "BF": 1, "CF": 2, "RI": 3, "RL": 4, "AP": 5, "RG": 6, "RN": 7,
    "MF": 8, "NS": 9, "NP": 10, "TS": 11, "TL": 12, "FN": 13, "FC": 14,
    "FP": 15, "DL": 16, "BBl": 17, "BBv": 18, "QS": 19, "BA": 20,
    "IN": 21, "SC": 22, "RS": 23, "HC": 24, "PD": 25, "MQ": 26,
    # reference-based coding (RR=true): 'm' match-span lengths and 'X'
    # substituted read bases
    "MS": 27, "BS": 28,
}
_TAG_CID_BASE = 100

_RECORDS_PER_CONTAINER = 10_000

# --- substitution matrix (RR=true; spec §8.6) ------------------------------
# One byte per reference base (A,C,G,T,N row order); each byte packs the
# 2-bit ranks of the four substitutable bases (ACGTN order minus the
# row's base), MSB first. 0x1B = ranks 0,1,2,3 in order — the identity
# ranking every row uses here.
_SM_DEFAULT = bytes((0x1B,) * 5)
_SM_ROWS = "ACGTN"


def _norm_ref_base(b: str) -> str:
    """Reference base → substitution-matrix row (soft-mask/IUPAC → N
    unless an upper-case ACGT)."""
    u = b.upper()
    return u if u in "ACGT" else "N"


def _sm_tables(sm: bytes):
    """SM bytes → (encode: row→base→code, decode: row→code→base)."""
    enc: dict[str, dict[str, int]] = {}
    dec: dict[str, list[str]] = {}
    for i, row in enumerate(_SM_ROWS):
        others = [x for x in _SM_ROWS if x != row]
        by_code = [""] * 4
        enc[row] = {}
        for j, x in enumerate(others):
            rank = (sm[i] >> (6 - 2 * j)) & 3
            by_code[rank] = x
            enc[row][x] = rank
        dec[row] = by_code
    return enc, dec


_SM_ENC_DEFAULT, _SM_DEC_DEFAULT = _sm_tables(_SM_DEFAULT)


# --- varints ---------------------------------------------------------------
def itf8_encode(value: int) -> bytes:
    v = value & 0xFFFFFFFF
    if v < 0x80:
        return bytes((v,))
    if v < 0x4000:
        return bytes((0x80 | (v >> 8), v & 0xFF))
    if v < 0x200000:
        return bytes((0xC0 | (v >> 16), (v >> 8) & 0xFF, v & 0xFF))
    if v < 0x10000000:
        return bytes((0xE0 | (v >> 24), (v >> 16) & 0xFF, (v >> 8) & 0xFF, v & 0xFF))
    return bytes(
        (
            0xF0 | ((v >> 28) & 0x0F),
            (v >> 20) & 0xFF,
            (v >> 12) & 0xFF,
            (v >> 4) & 0xFF,
            v & 0x0F,
        )
    )


def itf8_decode(buf, off: int) -> tuple[int, int]:
    b0 = buf[off]
    if b0 < 0x80:
        v, off = b0, off + 1
    elif b0 < 0xC0:
        v, off = ((b0 & 0x3F) << 8) | buf[off + 1], off + 2
    elif b0 < 0xE0:
        v, off = ((b0 & 0x1F) << 16) | (buf[off + 1] << 8) | buf[off + 2], off + 3
    elif b0 < 0xF0:
        v = ((b0 & 0x0F) << 24) | (buf[off + 1] << 16) | (buf[off + 2] << 8) | buf[off + 3]
        off += 4
    else:
        v = (
            ((b0 & 0x0F) << 28)
            | (buf[off + 1] << 20)
            | (buf[off + 2] << 12)
            | (buf[off + 3] << 4)
            | (buf[off + 4] & 0x0F)
        )
        off += 5
    if v & 0x80000000:
        v -= 1 << 32
    return v, off


def ltf8_encode(value: int) -> bytes:
    v = value & 0xFFFFFFFFFFFFFFFF
    for n_extra in range(9):
        # payload capacity: (7 - n_extra) prefix bits + 8*n_extra byte bits
        cap = 64 if n_extra == 8 else (7 - n_extra) + 8 * n_extra
        if v < (1 << cap):
            if n_extra == 8:
                return bytes((0xFF,)) + v.to_bytes(8, "big")
            prefix = (0xFF << (8 - n_extra)) & 0xFF
            body = v.to_bytes(n_extra + 1, "big")
            first = prefix | body[0]
            return bytes((first,)) + body[1:]
    raise ValueError("ltf8 overflow")


def ltf8_decode(buf, off: int) -> tuple[int, int]:
    b0 = buf[off]
    n_extra = 0
    mask = 0x80
    while n_extra < 8 and b0 & mask:
        n_extra += 1
        mask >>= 1
    if n_extra == 8:
        v = int.from_bytes(buf[off + 1 : off + 9], "big")
        off += 9
    else:
        payload_first = b0 & ((1 << (7 - n_extra)) - 1)
        v = payload_first
        for i in range(n_extra):
            v = (v << 8) | buf[off + 1 + i]
        off += 1 + n_extra
    if v & (1 << 63):
        v -= 1 << 64
    return v, off


# --- blocks ----------------------------------------------------------------
def _write_block(out: bytearray, content_type: int, content_id: int, data: bytes,
                 compress: bool = True, codec: str = "gzip") -> None:
    if compress and len(data) > 32:
        if codec == "rans":
            from adam_spark.sources.rans import rans_compress

            # order-1 conditions each byte on its predecessor — wins on
            # base/quality streams; tiny blocks stay order-0
            comp = rans_compress(data, 1 if len(data) >= 256 else 0)
            method = _M_RANS
        else:
            comp = gzip.compress(data, 6, mtime=0)
            method = _M_GZIP
    else:
        comp, method = data, _M_RAW
    # spec §8: the CRC covers the WHOLE block — method byte through the
    # compressed data — not just the payload (readers that validate,
    # e.g. htslib, reject a payload-only CRC on the first container)
    blk = bytearray()
    blk.append(method)
    blk.append(content_type)
    blk += itf8_encode(content_id)
    blk += itf8_encode(len(comp))
    blk += itf8_encode(len(data))
    blk += comp
    out += blk
    out += struct.pack("<I", zlib.crc32(bytes(blk)) & 0xFFFFFFFF)


def _read_block(buf, off: int):
    method = buf[off]
    ctype = buf[off + 1]
    cid, off2 = itf8_decode(buf, off + 2)
    csize, off2 = itf8_decode(buf, off2)
    usize, off2 = itf8_decode(buf, off2)
    comp = bytes(buf[off2 : off2 + csize])
    off2 += csize
    off2 += 4  # CRC32
    if method == _M_GZIP:
        data = gzip.decompress(comp)
    elif method == _M_RAW:
        data = comp
    elif method == _M_RANS:
        from adam_spark.sources.rans import rans_uncompress

        data = rans_uncompress(comp)
    elif method == _M_BZIP2:
        import bz2

        data = bz2.decompress(comp)
    elif method == _M_LZMA:
        import lzma

        data = lzma.decompress(comp)
    else:
        raise ValueError(f"unsupported CRAM block method {method}")
    if len(data) != usize:
        raise ValueError("CRAM block size mismatch")
    return ctype, cid, data, off2


def _container_header(length: int, ref_id: int, start: int, span: int,
                      n_records: int, counter: int, bases: int,
                      n_blocks: int, landmarks: list[int]) -> bytes:
    out = bytearray()
    out += struct.pack("<i", length)
    out += itf8_encode(ref_id)
    out += itf8_encode(start)
    out += itf8_encode(span)
    out += itf8_encode(n_records)
    out += ltf8_encode(counter)
    out += ltf8_encode(bases)
    out += itf8_encode(n_blocks)
    out += itf8_encode(len(landmarks))
    for lm in landmarks:
        out += itf8_encode(lm)
    crc = zlib.crc32(bytes(out)) & 0xFFFFFFFF
    out += struct.pack("<I", crc)
    return bytes(out)


def _read_container_header(buf, off: int):
    (length,) = struct.unpack_from("<i", buf, off)
    p = off + 4
    ref_id, p = itf8_decode(buf, p)
    start, p = itf8_decode(buf, p)
    span, p = itf8_decode(buf, p)
    n_records, p = itf8_decode(buf, p)
    counter, p = ltf8_decode(buf, p)
    bases, p = ltf8_decode(buf, p)
    n_blocks, p = itf8_decode(buf, p)
    n_landmarks, p = itf8_decode(buf, p)
    for _ in range(n_landmarks):
        _, p = itf8_decode(buf, p)
    p += 4  # CRC32
    return dict(
        length=length, ref_id=ref_id, start=start, span=span,
        n_records=n_records, n_blocks=n_blocks, header_size=p - off,
    )


# --- compression header ----------------------------------------------------
def _encoding_external(cid: int) -> bytes:
    params = itf8_encode(cid)
    return itf8_encode(1) + itf8_encode(len(params)) + params


def _encoding_byte_array_stop(stop: int, cid: int) -> bytes:
    params = bytes((stop,)) + itf8_encode(cid)
    return itf8_encode(5) + itf8_encode(len(params)) + params


def _encoding_byte_array_len(len_cid: int, val_cid: int) -> bytes:
    nested = _encoding_external(len_cid) + _encoding_external(val_cid)
    return itf8_encode(4) + itf8_encode(len(nested)) + nested


def _compression_header(tag_lines: list[tuple[tuple[str, str], ...]],
                        tag_cids: dict[tuple[str, str], int],
                        rr: bool = False) -> bytes:
    # preservation map: RN=true, AP=false (absolute), RR + TD
    td = bytearray()
    for line in tag_lines:
        for tag, typ in line:
            td += tag.encode() + typ.encode()
        td.append(0)
    pres = bytearray()
    entries = [
        (b"RN", bytes((1,))),
        (b"AP", bytes((0,))),
        (b"RR", bytes((1 if rr else 0,))),
        (b"TD", itf8_encode(len(td)) + bytes(td)),
    ]
    if rr:
        # substitution matrix (spec §8.6): BS stores 2-bit codes, not
        # bases; identity ranking (ACGTN order) per reference-base row
        entries.insert(3, (b"SM", _SM_DEFAULT))
    pres += itf8_encode(len(entries))
    for k, v in entries:
        pres += k + v
    pres_block = itf8_encode(len(pres)) + bytes(pres)

    ds = bytearray()
    series = []
    for key in ("BF", "CF", "RI", "RL", "AP", "RG", "MF", "NS", "NP", "TS",
                "TL", "FN", "FC", "FP", "DL", "QS", "BA", "RS", "HC", "PD", "MQ",
                "MS", "BS"):
        series.append((key.encode(), _encoding_external(_CID[key])))
    series.append((b"RN", _encoding_byte_array_stop(0, _CID["RN"])))
    series.append((b"IN", _encoding_byte_array_stop(0, _CID["IN"])))
    series.append((b"SC", _encoding_byte_array_stop(0, _CID["SC"])))
    series.append((b"BB", _encoding_byte_array_len(_CID["BBl"], _CID["BBv"])))
    ds += itf8_encode(len(series))
    for k, enc in series:
        ds += k + enc
    ds_block = itf8_encode(len(ds)) + bytes(ds)

    tags = bytearray()
    tags += itf8_encode(len(tag_cids))
    for (tag, typ), cid in sorted(tag_cids.items(), key=lambda kv: kv[1]):
        key = (ord(tag[0]) << 16) | (ord(tag[1]) << 8) | ord(typ)
        tags += itf8_encode(key) + _encoding_external(cid)
    tag_block = itf8_encode(len(tags)) + bytes(tags)

    return bytes(pres_block) + bytes(ds_block) + bytes(tag_block)


# --- value codecs (read-side) ----------------------------------------------
# CRAM 3.0 encodes each data series through a declared codec. Our writer
# only emits EXTERNAL / BYTE_ARRAY_STOP / BYTE_ARRAY_LEN(EXTERNAL,
# EXTERNAL), but the READER accepts any mix of the codecs below — in
# particular the bit-packed core encodings (HUFFMAN, BETA, GAMMA,
# SUBEXP) that third-party writers (htslib, htsjdk) use for series like
# MQ/FN/TL — so foreign layouts decode instead of failing. Unknown
# codec ids (GOLOMB/GOLOMB_RICE, unused by modern writers) still raise.


class _BitReader:
    """MSB-first bit reader over a slice's core block (spec §2.1)."""

    __slots__ = ("data", "p", "bit")

    def __init__(self, data: bytes):
        self.data = data
        self.p = 0
        self.bit = 0

    def read(self, n: int) -> int:
        v = 0
        data, p, bit = self.data, self.p, self.bit
        for _ in range(n):
            v = (v << 1) | ((data[p] >> (7 - bit)) & 1)
            bit += 1
            if bit == 8:
                bit = 0
                p += 1
        self.p, self.bit = p, bit
        return v


class _ExternalCodec:
    """EXTERNAL(1): ITF8 ints / raw bytes from a per-series block."""

    __slots__ = ("cid",)

    def __init__(self, cid: int):
        self.cid = cid

    def read_int(self, c: "_Cursors") -> int:
        return c._ext_itf8(self.cid)

    def read_bytes(self, c: "_Cursors", n: int) -> bytes:
        return c._ext_bytes(self.cid, n)

    def read_array(self, c: "_Cursors") -> bytes:
        raise ValueError("EXTERNAL codec is not self-delimiting for arrays")


class _HuffmanCodec:
    """HUFFMAN(3): canonical codes over an int alphabet, bits from core.

    Codes are assigned per the spec's canonical construction: symbols
    sorted by (bit length, symbol value) — htslib's canonical assignment
    breaks equal-length ties by symbol VALUE, not declaration order, so
    a foreign CRAM declaring equal-length symbols out of value order
    still decodes correctly — sequential code values with left-shift on
    length growth. The ubiquitous single-symbol zero-bit form reads no
    bits at all.
    """

    __slots__ = ("const", "codes", "maxlen")

    def __init__(self, symbols: list[int], lengths: list[int]):
        if len(symbols) == 1 and lengths[0] == 0:
            self.const = symbols[0]
            self.codes = {}
            self.maxlen = 0
            return
        self.const = None
        order = sorted(range(len(symbols)), key=lambda i: (lengths[i], symbols[i]))
        codes: dict[tuple[int, int], int] = {}
        code = 0
        cur_len = lengths[order[0]]
        for i in order:
            code <<= lengths[i] - cur_len
            cur_len = lengths[i]
            codes[(cur_len, code)] = symbols[i]
            code += 1
        self.codes = codes
        self.maxlen = cur_len

    def read_int(self, c: "_Cursors") -> int:
        if self.const is not None:
            return self.const
        code = 0
        ln = 0
        while ln <= self.maxlen:
            code = (code << 1) | c.core.read(1)
            ln += 1
            sym = self.codes.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("invalid huffman code in CRAM core block")

    def read_bytes(self, c: "_Cursors", n: int) -> bytes:
        return bytes(self.read_int(c) for _ in range(n))

    def read_array(self, c: "_Cursors") -> bytes:
        raise ValueError("HUFFMAN codec is not self-delimiting for arrays")


class _BetaCodec:
    """BETA(6): fixed-width bits from core, minus offset."""

    __slots__ = ("offset", "nbits")

    def __init__(self, offset: int, nbits: int):
        self.offset = offset
        self.nbits = nbits

    def read_int(self, c: "_Cursors") -> int:
        return c.core.read(self.nbits) - self.offset

    def read_bytes(self, c: "_Cursors", n: int) -> bytes:
        return bytes(self.read_int(c) for _ in range(n))

    def read_array(self, c: "_Cursors") -> bytes:
        raise ValueError("BETA codec is not self-delimiting for arrays")


class _GammaCodec:
    """GAMMA(9): Elias gamma from core, minus offset."""

    __slots__ = ("offset",)

    def __init__(self, offset: int):
        self.offset = offset

    def read_int(self, c: "_Cursors") -> int:
        n = 0
        while c.core.read(1) == 0:
            n += 1
        v = 1
        for _ in range(n):
            v = (v << 1) | c.core.read(1)
        return v - self.offset

    def read_bytes(self, c: "_Cursors", n: int) -> bytes:
        return bytes(self.read_int(c) for _ in range(n))

    def read_array(self, c: "_Cursors") -> bytes:
        raise ValueError("GAMMA codec is not self-delimiting for arrays")


class _SubexpCodec:
    """SUBEXP(7): subexponential code from core (htslib semantics)."""

    __slots__ = ("offset", "k")

    def __init__(self, offset: int, k: int):
        self.offset = offset
        self.k = k

    def read_int(self, c: "_Cursors") -> int:
        count = 0
        while c.core.read(1) == 1:
            count += 1
        if count == 0:
            n = c.core.read(self.k)
        else:
            n = c.core.read(count + self.k - 1)
            n += 1 << (count + self.k - 1)
        return n - self.offset

    def read_bytes(self, c: "_Cursors", n: int) -> bytes:
        return bytes(self.read_int(c) for _ in range(n))

    def read_array(self, c: "_Cursors") -> bytes:
        raise ValueError("SUBEXP codec is not self-delimiting for arrays")


class _ByteArrayStopCodec:
    """BYTE_ARRAY_STOP(5): bytes until a stop byte, from an external block."""

    __slots__ = ("stop", "cid")

    def __init__(self, stop: int, cid: int):
        self.stop = stop
        self.cid = cid

    def read_int(self, c: "_Cursors") -> int:
        raise ValueError("BYTE_ARRAY_STOP cannot decode ints")

    def read_bytes(self, c: "_Cursors", n: int) -> bytes:
        return c._ext_bytes(self.cid, n)

    def read_array(self, c: "_Cursors") -> bytes:
        return c._ext_until(self.cid, self.stop)


class _ByteArrayLenCodec:
    """BYTE_ARRAY_LEN(4): nested length codec + nested value codec."""

    __slots__ = ("len_codec", "val_codec")

    def __init__(self, len_codec, val_codec):
        self.len_codec = len_codec
        self.val_codec = val_codec

    def read_int(self, c: "_Cursors") -> int:
        raise ValueError("BYTE_ARRAY_LEN cannot decode ints")

    def read_bytes(self, c: "_Cursors", n: int) -> bytes:
        return self.val_codec.read_bytes(c, n)

    def read_array(self, c: "_Cursors") -> bytes:
        n = self.len_codec.read_int(c)
        return self.val_codec.read_bytes(c, n)


def _parse_encoding(codec_id: int, params: bytes):
    """One declared encoding → a reader codec object (recursive for
    BYTE_ARRAY_LEN). Codec ids per CRAM 3.0 §13."""
    if codec_id == 1:  # EXTERNAL
        cid, _ = itf8_decode(params, 0)
        return _ExternalCodec(cid)
    if codec_id == 3:  # HUFFMAN
        off = 0
        n, off = itf8_decode(params, off)
        symbols = []
        for _ in range(n):
            s, off = itf8_decode(params, off)
            symbols.append(s)
        m, off = itf8_decode(params, off)
        lengths = []
        for _ in range(m):
            ln, off = itf8_decode(params, off)
            lengths.append(ln)
        return _HuffmanCodec(symbols, lengths)
    if codec_id == 4:  # BYTE_ARRAY_LEN
        off = 0
        len_id, off = itf8_decode(params, off)
        plen, off = itf8_decode(params, off)
        len_codec = _parse_encoding(len_id, params[off : off + plen])
        off += plen
        val_id, off = itf8_decode(params, off)
        plen, off = itf8_decode(params, off)
        val_codec = _parse_encoding(val_id, params[off : off + plen])
        return _ByteArrayLenCodec(len_codec, val_codec)
    if codec_id == 5:  # BYTE_ARRAY_STOP
        stop = params[0]
        cid, _ = itf8_decode(params, 1)
        return _ByteArrayStopCodec(stop, cid)
    if codec_id == 6:  # BETA
        off = 0
        offset, off = itf8_decode(params, off)
        nbits, _ = itf8_decode(params, off)
        return _BetaCodec(offset, nbits)
    if codec_id == 7:  # SUBEXP
        off = 0
        offset, off = itf8_decode(params, off)
        k, _ = itf8_decode(params, off)
        return _SubexpCodec(offset, k)
    if codec_id == 9:  # GAMMA
        offset, _ = itf8_decode(params, 0)
        return _GammaCodec(offset)
    raise ValueError(f"unsupported CRAM encoding codec id {codec_id}")


def _parse_compression_header(data: bytes):
    """Return (tag_lines, tag_codecs, rr, series_codecs).

    The data-series and tag encoding maps are parsed into reader codec
    objects — any mix of EXTERNAL / HUFFMAN / BETA / GAMMA / SUBEXP /
    BYTE_ARRAY_* decodes, so foreign content-id layouts and bit-packed
    core encodings load. Unknown codec ids fail loudly instead of
    decoding as garbage."""
    off = 0
    _size, off = itf8_decode(data, off)
    n, off = itf8_decode(data, off)
    tag_lines: list[tuple[tuple[str, str], ...]] = []
    # spec §8.4 preservation-map DEFAULTS when a key is absent: RR, RN
    # and AP all default to TRUE (htsjdk omits RR for its RR=true files
    # — pinned against artificial.cram); this writer always writes the
    # three keys explicitly, so the defaults only govern foreign files
    rr = True
    rn_pres = True
    ap_delta = True
    sm: bytes | None = None
    for _ in range(n):
        key = bytes(data[off : off + 2])
        off += 2
        if key == b"RR":
            rr = bool(data[off])
            off += 1
        elif key == b"RN":
            rn_pres = bool(data[off])
            off += 1
        elif key == b"AP":
            ap_delta = bool(data[off])
            off += 1
        elif key == b"SM":
            sm = bytes(data[off : off + 5])
            off += 5
        elif key == b"TD":
            tdlen, off = itf8_decode(data, off)
            td = data[off : off + tdlen]
            off += tdlen
            for line in td.split(b"\x00")[:-1]:
                pairs = tuple(
                    (line[i : i + 2].decode(), chr(line[i + 2]))
                    for i in range(0, len(line), 3)
                )
                tag_lines.append(pairs)
        else:
            raise ValueError(f"unknown preservation key {key!r}")
    # data series map: parse every declared encoding into a codec object
    size, off = itf8_decode(data, off)
    ds_end = off + size
    n_ds, off = itf8_decode(data, off)
    series: dict[str, object] = {}
    for _ in range(n_ds):
        skey = bytes(data[off : off + 2]).decode()
        off += 2
        codec, off = itf8_decode(data, off)
        plen, off = itf8_decode(data, off)
        series[skey] = _parse_encoding(codec, bytes(data[off : off + plen]))
        off += plen
    if off != ds_end:
        raise ValueError("CRAM data-series map length mismatch")
    off = ds_end
    # tag encoding map
    _size, off = itf8_decode(data, off)
    n, off = itf8_decode(data, off)
    tag_codecs: dict[tuple[str, str], object] = {}
    for _ in range(n):
        key, off = itf8_decode(data, off)
        codec, off = itf8_decode(data, off)
        plen, off = itf8_decode(data, off)
        tag = chr((key >> 16) & 0xFF) + chr((key >> 8) & 0xFF)
        tag_codecs[(tag, chr(key & 0xFF))] = _parse_encoding(
            codec, bytes(data[off : off + plen])
        )
        off += plen
    return tag_lines, tag_codecs, rr, series, sm, rn_pres, ap_delta


# --- record codec ----------------------------------------------------------
class _Streams:
    """Per-container external streams (append-side)."""

    def __init__(self):
        self.b: dict[int, bytearray] = {}

    def put_int(self, key: str, v: int) -> None:
        self.b.setdefault(_CID[key], bytearray()).extend(itf8_encode(v))

    def put_bytes(self, key: str, v: bytes) -> None:
        self.b.setdefault(_CID[key], bytearray()).extend(v)

    def put_stop(self, key: str, v: bytes) -> None:
        self.b.setdefault(_CID[key], bytearray()).extend(v + b"\x00")

    def put_tag(self, cid: int, v: bytes) -> None:
        self.b.setdefault(cid, bytearray()).extend(v)


class _Cursors:
    """Per-slice decode state: external stream positions, the core-block
    bit reader, and the series/tag codec maps from the compression
    header. Series reads dispatch through their declared codec, so the
    same decode loop handles our fixed EXTERNAL layout and foreign
    bit-packed layouts alike."""

    def __init__(self, blocks: dict[int, bytes], core: bytes,
                 series: dict[str, object],
                 tag_codecs: dict[tuple[str, str], object]):
        self.blocks = blocks
        self.pos: dict[int, int] = {cid: 0 for cid in blocks}
        self.core = _BitReader(core)
        self.series = series
        self.tag_codecs = tag_codecs

    # external-stream primitives used by the codec objects
    def _ext_itf8(self, cid: int) -> int:
        v, self.pos[cid] = itf8_decode(self.blocks[cid], self.pos[cid])
        return v

    def _ext_bytes(self, cid: int, n: int) -> bytes:
        p = self.pos[cid]
        self.pos[cid] = p + n
        return self.blocks[cid][p : p + n]

    def _ext_until(self, cid: int, stop: int) -> bytes:
        buf = self.blocks[cid]
        p = self.pos[cid]
        e = buf.index(stop, p)
        self.pos[cid] = e + 1
        return buf[p:e]

    def _codec(self, key: str):
        try:
            return self.series[key]
        except KeyError:
            raise ValueError(
                f"CRAM data series {key!r} missing from the encoding map"
            ) from None

    def get_int(self, key: str) -> int:
        return self._codec(key).read_int(self)

    def get_bytes(self, key: str, n: int) -> bytes:
        return self._codec(key).read_bytes(self, n)

    def get_array(self, key: str) -> bytes:
        return self._codec(key).read_array(self)

    def read_tag(self, tag: str, typ: str) -> bytes:
        """One BAM-typed tag value (raw bytes, self-delimited)."""
        codec = self.tag_codecs[(tag, typ)]
        if isinstance(codec, _ExternalCodec):
            # per-(tag,type) external stream: value length is implied by
            # the BAM type — slice exactly one value, no tail copy
            cid = codec.cid
            buf, p = self.blocks[cid], self.pos[cid]
            ln = _tag_value_len(typ, buf, p)
            self.pos[cid] = p + ln
            return buf[p : p + ln]
        return codec.read_array(self)


_CIGAR_FEATURES = {"S": "SC", "I": "IN", "D": "DL", "N": "RS", "H": "HC", "P": "PD"}


def _encode_record(fields: list[str], ref_index: dict[str, int], s: _Streams,
                   tag_lines: dict[tuple, int], tag_line_list: list,
                   tag_cids: dict[tuple[str, str], int],
                   ref_seqs: dict[str, str] | None = None) -> int:
    """One SAM line (split fields) → streams. Returns #bases.

    With ``ref_seqs`` (contig → sequence; RR=true), plain-M stretches
    are reference-coded: an 'm' feature carries only the span length
    (MS stream) and per-base 'X' features carry the substituted read
    bases (BS stream) — matching bases are never stored, which is the
    compression model that makes real CRAMs ~40% smaller than BAM
    (docs/benchmarks/storage.rst:27-30). Extended '='/'X' cigar ops
    keep verbatim stretch coding so their op codes round-trip.
    """

    name, flag, rname, pos1, mapq, cigar, rnext, pnext1, tlen, seq, qual = fields[:11]
    flag = int(flag)
    mapped = not (flag & 0x4)
    ref_id = ref_index.get(rname, -1)
    rl = 0 if seq == "*" else len(seq)
    # CF bit 0x8 = "decode sequence as '*'" (spec §8.5): a sequence-less
    # mapped read (e.g. a minimap2 secondary alignment) still carries its
    # CIGAR as features with N placeholder bases; the decoder sees the
    # flag and emits seq '*' while reconstructing the CIGAR exactly
    seqless_mapped = mapped and seq == "*" and cigar != "*"
    # CF 0x1 = "quality scores stored as array" (spec §8.5): set only
    # when real quals exist; the decoder keys the rl-byte QS read on it,
    # so '*'-qual records cost zero QS bytes (and a conformant reader
    # agrees on which records carry quality arrays)
    has_quals = bool(rl) and qual != "*"
    cf = 2 | (8 if seqless_mapped else 0) | (1 if has_quals else 0)

    s.put_int("BF", flag)
    s.put_int("CF", cf)  # detached (+unknown-bases when set)
    s.put_int("RI", ref_id)
    s.put_int("RL", rl)
    s.put_int("AP", int(pos1))
    s.put_int("RG", -1)
    s.put_stop("RN", name.encode())
    # detached mate data
    s.put_int("MF", 0)
    if rnext == "=":
        s.put_int("NS", ref_id)
    else:
        s.put_int("NS", ref_index.get(rnext, -1))
    s.put_int("NP", int(pnext1))
    s.put_int("TS", int(tlen))
    # tags
    line_key = tuple((f[:2], f.split(":", 2)[1]) for f in fields[11:])
    if line_key not in tag_lines:
        tag_lines[line_key] = len(tag_line_list)
        tag_line_list.append(line_key)
    s.put_int("TL", tag_lines[line_key])
    for f in fields[11:]:
        tag, typ = f[:2], f.split(":", 2)[1]
        cid = tag_cids[(tag, typ)]
        s.put_tag(cid, _aux_from_text(f)[3:])  # strip tag+type prefix
    if mapped and cigar != "*" and (seq != "*" or seqless_mapped):
        # base-stretch feature code per CIGAR op so '='/'X' reconstruct
        # exactly: 'b' carries M, 'E' carries '=', 'x' carries 'X'
        # ('E'/'x' are this codec's own codes — the spec's single-base
        # 'X' substitution feature is a different animal and any foreign
        # layout is rejected up front by the data-series map check)
        stretch_code = {"M": "b", "=": "E", "X": "x"}
        contig = ref_seqs.get(rname) if ref_seqs is not None else None
        feats = []
        read_pos = 1
        ref_pos = int(pos1) - 1  # 0-based position on the reference
        for m in re.finditer(r"(\d+)([MIDNSHP=X])", cigar):
            n, op = int(m.group(1)), m.group(2)
            bases = "N" * n if seqless_mapped else seq[read_pos - 1 : read_pos - 1 + n]
            if op == "M" and contig is not None and not seqless_mapped:
                # reference-coded match span + substitution CODES (BS is
                # a 2-bit code through the SM matrix per the spec, not a
                # base). A span with an uncodable mismatch (read base
                # outside ACGTN, or equal to the normalized ref base as
                # with soft-masked references) falls back to a verbatim
                # 'b' stretch for correctness.
                refseg = contig[ref_pos : ref_pos + n]
                subs = []
                codable = True
                for i in range(n):
                    rb = refseg[i] if i < len(refseg) else "N"
                    if rb != bases[i]:
                        row = _norm_ref_base(rb)
                        code = _SM_ENC_DEFAULT[row].get(bases[i])
                        if code is None:
                            codable = False
                            break
                        subs.append((read_pos + i, code))
                if codable:
                    feats.append(("m", read_pos, n))
                    feats.extend(("X", p, code) for p, code in subs)
                else:
                    feats.append(("b", read_pos, bases))
                read_pos += n
                ref_pos += n
            elif op in "M=X":
                feats.append((stretch_code[op], read_pos, bases))
                read_pos += n
                ref_pos += n
            elif op == "S":
                feats.append(("S", read_pos, bases))
                read_pos += n
            elif op == "I":
                feats.append(("I", read_pos, bases))
                read_pos += n
            else:  # D, N, H, P consume no read bases
                feats.append((op, read_pos, n))
                if op in "DN":
                    ref_pos += n
        s.put_int("FN", len(feats))
        prev = 0
        for code, fpos, payload in feats:
            s.put_bytes("FC", code.encode())
            s.put_int("FP", fpos - prev)
            prev = fpos
            if code in ("b", "E", "x"):
                s.put_int("BBl", len(payload))
                s.put_bytes("BBv", payload.encode())
            elif code == "m":
                s.put_int("MS", payload)
            elif code == "X":
                s.put_int("BS", payload)  # 2-bit substitution code
            elif code == "S":
                s.put_stop("SC", payload.encode())
            elif code == "I":
                s.put_stop("IN", payload.encode())
            else:
                s.put_int(_CIGAR_FEATURES[code], payload)
        s.put_int("MQ", int(mapq))
    else:
        # unmapped: bases verbatim (mapped cigar-less reads keep FN=0)
        if mapped:
            if ref_seqs is not None and rl:
                # in the reference-coded layout FN=0 means "all implicit
                # matches" on decode; a cigar-less read's BA bytes would
                # be misread as implicit — refuse rather than corrupt
                raise ValueError(
                    "reference-coded CRAM cannot store a mapped, "
                    f"CIGAR-less read with sequence ({name!r}); write "
                    "without reference= or drop the record"
                )
            s.put_int("FN", 0)
            s.put_int("MQ", int(mapq))
        if rl:
            s.put_bytes("BA", seq.encode())
    if has_quals:
        s.put_bytes("QS", qual.encode())
    return rl


def _tag_value_len(typ: str, buf, p: int) -> int:
    """Byte length of one BAM-typed tag value at ``p`` (self-delimited)."""
    if typ in "cCA":
        return 1
    if typ in "sS":
        return 2
    if typ in "iIf":
        return 4
    if typ in "ZH":
        return buf.index(b"\x00", p) - p + 1
    if typ == "B":
        sub = chr(buf[p])
        n = struct.unpack_from("<I", buf, p + 1)[0]
        width = {"c": 1, "C": 1, "s": 2, "S": 2, "i": 4, "I": 4, "f": 4}[sub]
        return 5 + n * width
    raise ValueError(f"unknown tag type {typ!r}")


def _decode_record(c: _Cursors, ref_names: list[str],
                   tag_lines: list,
                   rr: bool = False,
                   ref_seqs: dict[str, str] | None = None,
                   sm_dec: dict[str, list[str]] | None = None,
                   rn_pres: bool = True,
                   slice_ref: int = -2,
                   ap_prev: list[int] | None = None,
                   legacy_qs: bool = False):
    flag = c.get_int("BF")
    _cf = c.get_int("CF")
    # single-reference slices (header ref >= 0) have no RI series: every
    # record shares the slice's reference (spec §8.5)
    ref_id = c.get_int("RI") if slice_ref == -2 else slice_ref
    rl = c.get_int("RL")
    pos1 = c.get_int("AP")
    if ap_prev is not None:
        # AP=true preservation: delta from the previous record's start
        pos1 += ap_prev[0]
        ap_prev[0] = pos1
    _rg = c.get_int("RG")
    detached = bool(_cf & 0x2)
    has_mate_downstream = bool(_cf & 0x4)
    # read names are stored when preserved, and ALWAYS for detached
    # records (htslib semantics); otherwise synthesized post-decode
    name = c.get_array("RN").decode() if (rn_pres or detached) else None
    nf = None
    if detached:
        # explicit mate fields (our writer's layout and htslib's
        # cross-slice mates)
        mf = c.get_int("MF")
        ns = c.get_int("NS")
        np_ = c.get_int("NP")
        ts = c.get_int("TS")
        # MF carries the mate's strand/unmapped bits when BF was
        # stripped of them (spec §10.2): 0x1 mate-reverse, 0x2 mate-unmapped
        if mf & 0x1:
            flag |= 0x20
        if mf & 0x2:
            flag |= 0x8
    elif has_mate_downstream:
        # mate graph: NF = records to skip to the next fragment in this
        # slice; mate fields resolved by decode_container afterwards
        nf = c.get_int("NF")
        ns, np_, ts = -1, 0, 0
    else:
        ns, np_, ts = -1, 0, 0
    tl = c.get_int("TL")
    tags = []
    for tag, typ in tag_lines[tl]:
        # one self-delimited value via the tag's declared codec — no
        # O(stream) tail copy per tag, so container decode stays linear
        raw = c.read_tag(tag, typ)
        txt, _ = _aux_to_text(b"XX" + typ.encode() + raw, 0)
        tags.append(f"{tag}{txt[2:]}")
    mapped = not (flag & 0x4)
    seqless = bool(_cf & 0x8)  # decode sequence as '*' (spec §8.5)
    # quality scores stored as an array: CF 0x1 per spec; legacy .0000
    # files written by this repo always stored QS without setting the bit
    quals_stored = bool(_cf & 0x1) or legacy_qs
    seq, cigar, mapq = "*", "*", 0
    qual_over: list[int] | None = None  # sparse B/Q/q quality features
    if mapped:
        rname_for_ref = ref_names[ref_id] if ref_id >= 0 else None
        contig = (
            ref_seqs.get(rname_for_ref)
            if (ref_seqs is not None and rname_for_ref is not None)
            else None
        )
        fn = c.get_int("FN")
        # seq assembled positionally. Spec files store only DIFFERENCE
        # features: read positions no feature covers are implicit
        # reference matches, filled from the contig between features and
        # after the last one. This codec's own writer emits explicit
        # coverage ('m' match spans, 'b'/'E'/'x' stretches), so the
        # implicit fill never triggers on round-trips; foreign
        # htslib-style containers lean on it for every match run.
        chars: list[str] = []
        # (n, op, fuzzy) runs: runs touching an implicit fill merge with
        # same-op neighbors (spec files — htslib emits one clean M run
        # around substitutions), while purely explicit runs stay
        # verbatim so this writer's round-trips preserve cigars exactly
        # as written (e.g. an adjacent-run '7M3M6M')
        cig: list = []
        pos = 0
        ref_pos = pos1 - 1
        stretch_op = {"b": "M", "E": "=", "x": "X"}

        def add_cig(n: int, op: str, fuzzy: bool = False) -> None:
            if n <= 0:
                return
            if cig and cig[-1][1] == op and (fuzzy or cig[-1][2]):
                cig[-1] = (cig[-1][0] + n, op, fuzzy or cig[-1][2])
            else:
                cig.append((n, op, fuzzy))

        def fill_implicit(n: int) -> None:
            nonlocal ref_pos
            if n <= 0:
                return
            if contig is None:
                raise ValueError(
                    "implicit reference-match decode needs the reference: "
                    "pass load_cram(..., reference=...)"
                )
            chars.extend(contig[ref_pos : ref_pos + n].ljust(n, "N"))
            add_cig(n, "M", fuzzy=True)
            ref_pos += n

        def set_qual(idx0: int, value: int) -> None:
            nonlocal qual_over
            if qual_over is None:
                qual_over = [-1] * rl
            if 0 <= idx0 < rl:
                qual_over[idx0] = value

        for _ in range(fn):
            code = c.get_bytes("FC", 1).decode()
            pos += c.get_int("FP")
            if code == "X" and pos <= len(chars):
                # this writer's layout: 'X' AFTER its containing 'm'
                # span — the index is already assembled with the
                # reference base; overwrite it (BS is a 2-bit code via
                # the SM matrix; legacy SM-less files stored the byte)
                if sm_dec is not None:
                    sub_code = c.get_int("BS")
                    row = _norm_ref_base(chars[pos - 1])
                    chars[pos - 1] = sm_dec[row][sub_code]
                else:
                    chars[pos - 1] = c.get_bytes("BS", 1).decode()
                continue
            # spec layout: the feature starts AT read position `pos`;
            # everything between the previous feature and here is an
            # implicit reference match
            fill_implicit(pos - 1 - len(chars))
            if code in stretch_op:
                bases = c.get_array("BB").decode()
                n = len(bases)
                chars.extend(bases)
                add_cig(n, stretch_op[code])
                ref_pos += n
            elif code == "m":
                n = c.get_int("MS")
                if contig is None:
                    raise ValueError(
                        "reference-coded CRAM (RR=true) needs the reference: "
                        "pass load_cram(..., reference=...)"
                    )
                chars.extend(contig[ref_pos : ref_pos + n].ljust(n, "N"))
                add_cig(n, "M")
                ref_pos += n
            elif code == "X":
                # spec substitution at an implicit position: one read
                # base differing from the reference (CIGAR stays M)
                if sm_dec is not None:
                    sub_code = c.get_int("BS")
                    rb = contig[ref_pos] if contig and ref_pos < len(contig) else "N"
                    chars.append(sm_dec[_norm_ref_base(rb)][sub_code])
                else:
                    chars.append(c.get_bytes("BS", 1).decode())
                add_cig(1, "M", fuzzy=True)
                ref_pos += 1
            elif code == "B":
                # read base + quality score (spec §10.4)
                chars.append(c.get_bytes("BA", 1).decode())
                set_qual(pos - 1, c.get_bytes("QS", 1)[0])
                add_cig(1, "M", fuzzy=True)
                ref_pos += 1
            elif code == "i":
                # single-base insertion
                chars.append(c.get_bytes("BA", 1).decode())
                add_cig(1, "I")
            elif code == "Q":
                # quality of an implicit-match base at `pos`
                fill_implicit(pos - len(chars))
                set_qual(pos - 1, c.get_bytes("QS", 1)[0])
            elif code == "q":
                # quality stretch over implicit-match bases
                arr = c.get_array("QQ")
                fill_implicit(pos - 1 + len(arr) - len(chars))
                for k, qv in enumerate(arr):
                    set_qual(pos - 1 + k, qv)
            elif code == "S":
                bases = c.get_array("SC").decode()
                chars.extend(bases)
                add_cig(len(bases), "S")
            elif code == "I":
                bases = c.get_array("IN").decode()
                chars.extend(bases)
                add_cig(len(bases), "I")
            else:
                n = c.get_int(_CIGAR_FEATURES[code])
                add_cig(n, code)
                if code in "DN":
                    ref_pos += n
        if fn == 0 and rl and not rr:
            # non-reference-coded layout (RR=false) for mapped cigar-less
            # reads: bases verbatim in BA. Keyed on the FILE-level RR flag,
            # not on whether the caller happened to pass a reference —
            # decoding an RR=false file with reference= supplied must NOT
            # flip these records onto the implicit-reference-match path
            # (that would substitute reference bases for the stored ones
            # and desync every later BA read in the slice). RR=true files
            # never store BA for mapped reads — they take the implicit
            # path below — and this writer's RR=true mode refuses
            # cigar-less mapped records.
            mapq = c.get_int("MQ")
            seq = c.get_bytes("BA", rl).decode()
        else:
            # trailing implicit reference matches (incl. the fn == 0
            # perfect-match read: the whole sequence is implicit)
            fill_implicit(rl - len(chars))
            mapq = c.get_int("MQ")
            if fn or rl:
                seq = "*" if (seqless or not chars) else "".join(chars)
                cigar = "".join(f"{n}{op}" for n, op, _f in cig) if cig else "*"
    elif rl:
        seq = c.get_bytes("BA", rl).decode()
    qual = "*"
    if rl:
        if quals_stored:
            q = c.get_bytes("QS", rl)
            qual = "*" if all(b == 0xFF for b in q) else q.decode()
        elif qual_over is not None:
            # sparse feature-coded qualities; unspecified positions get
            # phred 0 ('!') — SAM has no partial-quality representation
            qual = "".join(chr(q) if q >= 0 else "!" for q in qual_over)
    rname = ref_names[ref_id] if ref_id >= 0 else "*"
    if ns < 0:
        rnext = "*"
    elif ns == ref_id:
        rnext = "="
    else:
        rnext = ref_names[ns]
    # reference span for mate-graph TLEN resolution (M/D/N/=/X consume)
    ref_len = 0
    if mapped and cigar != "*":
        ref_len = sum(
            int(m.group(1))
            for m in re.finditer(r"(\d+)([MDN=X])", cigar)
        )
    out = [name if name is not None else "*", str(flag), rname, str(pos1),
           str(mapq), cigar, rnext, str(np_), str(ts), seq, qual] + tags
    return out, {"nf": nf, "ref_id": ref_id, "pos1": pos1,
                 "ref_len": ref_len, "mapped": mapped, "named": name is not None}


# --- container write/read --------------------------------------------------
def _write_data_container(out: bytearray, sam_lines: list[str],
                          ref_index: dict[str, int], counter: int,
                          codec: str = "gzip",
                          ref_seqs: dict[str, str] | None = None) -> int:
    s = _Streams()
    tag_lines: dict[tuple, int] = {}
    tag_line_list: list = []
    # pre-scan tags to assign content ids (stable order of appearance)
    tag_cids: dict[tuple[str, str], int] = {}
    for ln in sam_lines:
        for f in ln.split("\t")[11:]:
            key = (f[:2], f.split(":", 2)[1])
            if key not in tag_cids:
                tag_cids[key] = _TAG_CID_BASE + len(tag_cids)
    bases = 0
    for ln in sam_lines:
        bases += _encode_record(ln.rstrip("\n").split("\t"), ref_index, s,
                                tag_lines, tag_line_list, tag_cids,
                                ref_seqs=ref_seqs)

    blocks = bytearray()
    comp = _compression_header(tag_line_list, tag_cids, rr=ref_seqs is not None)
    _write_block(blocks, _CT_COMPRESSION_HEADER, 0, comp)
    # slice header: multiref (-2), content ids of external blocks
    ext_ids = sorted(cid for cid, b in s.b.items() if b)
    sh = bytearray()
    sh += itf8_encode(-2)
    sh += itf8_encode(0)  # start
    sh += itf8_encode(0)  # span
    sh += itf8_encode(len(sam_lines))
    sh += ltf8_encode(counter)
    sh += itf8_encode(len(ext_ids) + 1)  # core + externals
    sh += itf8_encode(len(ext_ids))
    for cid in ext_ids:
        sh += itf8_encode(cid)
    sh += itf8_encode(-1)  # embedded reference content id
    sh += b"\x00" * 16  # reference MD5 (RR=false)
    _write_block(blocks, _CT_SLICE_HEADER, 0, bytes(sh))
    _write_block(blocks, _CT_CORE, 0, b"", compress=False)
    for cid in ext_ids:
        _write_block(blocks, _CT_EXTERNAL, cid, bytes(s.b[cid]), codec=codec)

    out += _container_header(
        len(blocks), -2, 0, 0, len(sam_lines), counter, bases,
        len(ext_ids) + 3, [],
    )
    out += blocks
    return bases


def decode_container(buf, off: int, hdr, ref_names: list[str],
                     ref_seqs: dict[str, str] | None = None,
                     legacy_qs: bool = False):
    """Decode one data container at ``off`` → list of SAM lines.

    Multi-slice containers are supported: streams (external blocks,
    core block, mate graph, AP-delta seed) are slice-scoped, so each
    slice's block group decodes independently under the container's one
    compression header."""
    p = off + hdr["header_size"]
    end = off + hdr["header_size"] + hdr["length"]
    comp_data = None
    slices: list[dict] = []
    while p < end:
        ctype, cid, data, p = _read_block(buf, p)
        if ctype == _CT_COMPRESSION_HEADER:
            comp_data = data
        elif ctype == _CT_SLICE_HEADER:
            q = 0
            slice_ref, q = itf8_decode(data, q)
            slice_start, q = itf8_decode(data, q)
            _span, q = itf8_decode(data, q)
            n_records, q = itf8_decode(data, q)
            slices.append(
                {
                    "ref": slice_ref,
                    "start": slice_start,
                    "n": n_records,
                    "core": b"",
                    "ext": {},
                }
            )
        elif ctype == _CT_EXTERNAL and slices:
            slices[-1]["ext"][cid] = data
        elif ctype == _CT_CORE and slices:
            slices[-1]["core"] = data
    if comp_data is None or not slices:
        return []
    (tag_lines, tag_codecs, rr, series, sm, rn_pres,
     ap_delta) = _parse_compression_header(comp_data)
    sm_dec = _sm_tables(sm)[1] if sm is not None else None
    if rr and ref_seqs is None:
        raise ValueError(
            "reference-coded CRAM (RR=true): pass load_cram(..., reference=...) "
            "with the contig sequences the file was written against"
        )
    lines: list[str] = []
    for sl in slices:
        c = _Cursors(sl["ext"], sl["core"], series, tag_codecs)
        # AP preservation (coord-sorted foreign files): positions are
        # delta-coded from the previous record, seeded by the slice start
        prev_ap = [sl["start"]]
        decoded = [
            _decode_record(c, ref_names, tag_lines, rr=rr, ref_seqs=ref_seqs,
                           sm_dec=sm_dec, rn_pres=rn_pres,
                           slice_ref=sl["ref"],
                           ap_prev=prev_ap if ap_delta else None,
                           legacy_qs=legacy_qs)
            for _ in range(sl["n"])
        ]
        # synthesized mate names must be unique across slices AND
        # containers — key them by container offset + slice ordinal
        _resolve_mate_graph(decoded, ref_names,
                            name_prefix=f"q{off}s{len(lines)}")
        lines.extend("\t".join(fields) for fields, _ in decoded)
    return lines


def _resolve_mate_graph(decoded: list, ref_names: list[str],
                        name_prefix: str = "q") -> None:
    """Reconstruct mate fields for NF-linked (non-detached) records.

    Spec §11: a record with CF 0x4 points NF records ahead to the next
    fragment of its template; the chain's last member links back to the
    first. Each member gets its successor's position/reference as
    RNEXT/PNEXT, mate strand/unmapped bits from the successor's flags,
    the paired bit, and a template-span TLEN (leftmost member positive,
    others negative — exact for pairs, htslib-style approximation for
    longer chains). Unnamed members (RN preservation off) share a
    synthesized name keyed by the chain head's slice index."""
    n = len(decoded)
    visited = [False] * n
    for start in range(n):
        if visited[start] or decoded[start][1]["nf"] is None:
            continue
        chain = [start]
        i = start
        while decoded[i][1]["nf"] is not None:
            j = i + 1 + decoded[i][1]["nf"]
            # j <= i also rejects negative NF: a sign-extended itf8
            # would otherwise wrap to a wrong record via Python's
            # negative indexing and silently splice unrelated reads
            if j <= i or j >= n or visited[j]:
                break  # malformed link: leave remaining fields as-is
            visited[j] = True
            chain.append(j)
            i = j
        visited[start] = True
        if len(chain) < 2:
            continue
        metas = [decoded[i][1] for i in chain]
        spans = [
            (m["pos1"], m["pos1"] + max(m["ref_len"], 1) - 1)
            for m in metas
        ]
        mapped_same_ref = all(m["mapped"] for m in metas) and len(
            {m["ref_id"] for m in metas}
        ) == 1
        tspan = (
            max(e for _, e in spans) - min(p for p, _ in spans) + 1
            if mapped_same_ref
            else 0
        )
        leftmost = min(range(len(chain)), key=lambda k: spans[k][0])
        head_name = decoded[chain[0]][0][0]
        if not metas[0]["named"] or head_name == "*":
            head_name = f"{name_prefix}r{chain[0]}"
        for k, idx in enumerate(chain):
            fields, meta = decoded[idx]
            succ = decoded[chain[(k + 1) % len(chain)]][1]
            succ_flag = int(decoded[chain[(k + 1) % len(chain)]][0][1])
            flag = int(fields[1]) | 0x1  # paired
            if succ_flag & 0x10:
                flag |= 0x20  # mate reverse
            if not succ["mapped"]:
                flag |= 0x8  # mate unmapped
            fields[1] = str(flag)
            fields[6] = (
                "*"
                if succ["ref_id"] < 0
                else ("=" if succ["ref_id"] == meta["ref_id"]
                      else ref_names[succ["ref_id"]])
            )
            fields[7] = str(succ["pos1"])
            fields[8] = str(tspan if k == leftmost else -tspan)
            if not meta["named"]:
                fields[0] = head_name


_HDR_PROBE = 4096  # a container header (ours has no landmarks) fits easily


def _file_header_text(data: bytes) -> str:
    """File-header block payload → SAM header text. Spec §8.1 prefixes
    the text with an int32 length (htsjdk writes it; pinned against
    artificial.cram); tolerate the bare form for pre-r9 files this
    writer produced."""
    if data[:1] != b"@" and len(data) >= 4:
        n = struct.unpack_from("<i", data, 0)[0]
        if 0 <= n <= len(data) - 4:
            return data[4 : 4 + n].decode()
    return data.decode()


def _parse_header_text(header_text: str):
    header_lines = [ln for ln in header_text.splitlines() if ln.startswith("@")]
    ref_names = [
        dict(kv.split(":", 1) for kv in ln.split("\t")[1:] if ":" in kv)["SN"]
        for ln in header_lines
        if ln.startswith("@SQ")
    ]
    return header_lines, ref_names


def _read_file_header(path: str):
    """O(1) driver I/O: decode only the leading FILE_HEADER container."""
    size = os.path.getsize(path)
    with open(path, "rb") as f:
        if f.read(len(_MAGIC)) != _MAGIC:
            raise ValueError("not a CRAM 3.0 file")
        p = len(_MAGIC) + 20
        f.seek(p)
        probe = f.read(min(_HDR_PROBE, size - p))
        hdr = _read_container_header(probe, 0)
        f.seek(p + hdr["header_size"])
        block = f.read(hdr["length"])
        ctype, _cid, data, _ = _read_block(block, 0)
        if ctype != _CT_FILE_HEADER:
            raise ValueError("first CRAM container must be the file header")
    return _parse_header_text(_file_header_text(data))


def _write_crai(path: str, entries: list[tuple[int, int, int, int, int]],
                fs=None) -> None:
    """CRAI sidecar (spec §1: gzip text, one line per slice:
    seq_id, start, span, container offset, slice landmark, slice size).

    Entries: (offset, length, seq_id, start, span). Containers whose
    records all map to ONE contig carry its real (seq_id, start, span),
    so ``load_indexed_cram`` can prune containers by region;
    mixed-contig containers record seq_id −2 (always read). Either way
    the offset list lets ``load_cram`` skip the serial driver walk.
    The alignment-start column is 1-BASED on disk per the CRAI spec
    (internal spans are 0-based half-open)."""
    from adam_spark.sources.filesystem import get_fs

    fs, path = get_fs(path, fs)
    lines = [
        f"{seq_id}\t{start + 1 if seq_id >= 0 else 0}\t{span}\t{off}\t0\t{length}"
        for off, length, seq_id, start, span in entries
    ]
    raw = fs.open_write(path + ".crai")
    try:
        with gzip.GzipFile(fileobj=raw, mode="wb", mtime=0) as f:
            f.write(("\n".join(lines) + ("\n" if lines else "")).encode())
    finally:
        raw.close()


def _read_crai(path: str) -> list[tuple[int, int, int, int, int]] | None:
    """CRAI entries (offset, length, seq_id, start, span), or None."""
    crai = path + ".crai"
    if not os.path.exists(crai):
        return None
    # sidecars written alongside legacy .0000 files stored 0-BASED starts
    # (the spec and .0001 sidecars are 1-based) — reinterpreting them
    # in place would shift every container window left one base and let
    # an indexed query wrongly prune a container's last covered position
    base = 0 if _read_file_id(path) == _LEGACY_FILE_ID else 1
    entries = []
    with gzip.open(crai, "rt") as f:
        for ln in f:
            parts = ln.split("\t")
            if len(parts) >= 6:
                # on-disk start is 1-based (CRAI spec); keep 0-based here
                entries.append(
                    (int(parts[3]), int(parts[5]), int(parts[0]),
                     max(0, int(parts[1]) - base), int(parts[2]))
                )
            elif len(parts) >= 4:  # older minimal sidecars
                entries.append((int(parts[3]), 0, -2, 0, 0))
    return entries


def _scan_containers(spark: SparkSession, path: str, offsets: list[int],
                     ref_names: list[str], ref_seqs) -> DataFrame:
    """Distributed decode of the given container offsets → raw SAM-line
    DataFrame. Offsets are DEDUPLICATED first: a spec .crai carries one
    line per SLICE, so a multi-slice container repeats its byte offset —
    decoding it once per entry would duplicate every record."""
    offsets = list(dict.fromkeys(offsets))
    par = spark.sparkContext.defaultParallelism
    n_tasks = max(1, min(len(offsets), par * 2))
    # contiguous slices (not round-robin strides): partition-index order
    # reproduces container/file order, matching the single-task path
    step = -(-len(offsets) // n_tasks) if offsets else 1
    chunks = [offsets[i : i + step] for i in range(0, len(offsets), step)]
    rdd = spark.sparkContext.parallelize(chunks, max(1, len(chunks))).flatMap(
        lambda c: _decode_container_range(path, c, ref_names, ref_seqs)
    )
    return spark.createDataFrame(rdd.map(lambda ln: (ln,)), "value string")


def _index_containers(path: str):
    """Driver-side seek-walk over container HEADERS only — O(containers)
    work and memory, no payload reads (the executor decode is what
    touches payload bytes)."""
    size = os.path.getsize(path)
    header_text = None
    containers = []
    with open(path, "rb") as f:
        magic = f.read(len(_MAGIC))
        if magic != _MAGIC:
            raise ValueError("not a CRAM 3.0 file")
        p = len(_MAGIC) + 20
        while p < size:
            f.seek(p)
            probe = f.read(min(_HDR_PROBE, size - p))
            hdr = _read_container_header(probe, 0)
            body = p + hdr["header_size"]
            if header_text is None:
                f.seek(body)
                block = f.read(hdr["length"])
                ctype, _cid, data, _ = _read_block(block, 0)
                if ctype != _CT_FILE_HEADER:
                    raise ValueError("first CRAM container must be the file header")
                header_text = _file_header_text(data)
            elif hdr["n_records"] > 0:
                containers.append((p, hdr))
            p = body + hdr["length"]
    header_lines, ref_names = _parse_header_text(header_text)
    return header_lines, ref_names, containers


# --- public API ------------------------------------------------------------
def _resolve_reference(reference) -> dict[str, str] | None:
    """reference → {contig: sequence}: accepts a dict, a ReferenceFile
    object (TwoBitFile/IndexedFastaFile), or a .fa/.2bit path."""
    if reference is None or isinstance(reference, dict):
        return reference
    rf = reference
    if isinstance(reference, str):
        from adam_spark.sources.reference_file import load_reference_file

        rf = load_reference_file(reference)
    return {n: rf.extract(n, 0, rf.length(n)) for n in rf.names()}


def _encode_cram_shard(lines, shard_path: str, ref_index: dict[str, int],
                       counter_base: int, codec: str,
                       ref_seqs: dict[str, str] | None,
                       records_per_container: int, fs=None):
    """Executor task: SAM lines → one shard file of whole CRAM
    containers (each self-contained). Returns (shard_path,
    compressed_len, [(rel_offset, length, seq_id, start, span)],
    n_records); single-contig containers carry their real genomic span
    for crai-based region pruning."""
    out = bytearray()
    entries: list[tuple[int, int, int, int, int]] = []
    counter = counter_base
    chunk: list[str] = []

    def flush():
        nonlocal counter, chunk
        if not chunk:
            return
        start = len(out)
        rids: set[int] = set()
        lo, hi = None, None
        for ln in chunk:
            f = ln.split("\t", 6)
            rid = ref_index.get(f[2], -1)
            if rid < 0 or int(f[1]) & 0x4:
                continue
            rids.add(rid)
            beg = int(f[3]) - 1
            end = beg + max(1, _cigar_ref_len(f[5]) if f[5] != "*" else 1)
            lo = beg if lo is None else min(lo, beg)
            hi = end if hi is None else max(hi, end)
        if len(rids) == 1 and lo is not None:
            seq_id, c_start, c_span = rids.pop(), lo, hi - lo
        else:
            seq_id, c_start, c_span = -2, 0, 0
        _write_data_container(out, chunk, ref_index, counter, codec, ref_seqs)
        entries.append((start, len(out) - start, seq_id, c_start, c_span))
        counter += len(chunk)
        chunk = []

    for line in lines:
        chunk.append(line)
        if len(chunk) >= records_per_container:
            flush()
    flush()
    if fs is None:
        from adam_spark.sources.filesystem import LocalFileSystem

        fs = LocalFileSystem()
    f = fs.open_write(shard_path)
    try:
        f.write(bytes(out))
    finally:
        f.close()
    return (shard_path, len(out), entries, counter - counter_base)


def cram_eof_bytes(counter: int = 0) -> bytes:
    """The CRAM EOF container (zero records, one raw ``EOF`` sentinel
    block; CRAM 3.0 spec §9 / the reference's MergeShards -write_cram_eof
    consumer) — the same terminator :func:`save_cram` writes."""
    eof_block = bytearray()
    _write_block(eof_block, _CT_EXTERNAL, 0, b"EOF", compress=False)
    return (
        _container_header(len(eof_block), -1, 4542278, 0, 0, counter, 0, 1, [])
        + bytes(eof_block)
    )


def save_cram(gf: GenomicFrame, path: str, codec: str = "gzip",
              reference=None,
              records_per_container: int | None = None, fs=None) -> None:
    """Alignments → single-file CRAM via PARALLEL container encoding.

    Containers are self-contained (compression header + slice +
    streams), so executors encode their partitions into shard files of
    whole containers and the driver concatenates: file definition +
    FILE_HEADER container, shards in partition order, EOF container —
    the reference's FileMerger boundary (AlignmentDataset.saveAsSam:
    810-997). A cheap per-partition count pass first gives each shard
    its global record-counter base (the counter lives inside the
    compressed container headers, so it cannot be patched after the
    fact); the lines frame is persisted across the two passes.

    ``codec``: external-block compression — ``"gzip"`` (default) or
    ``"rans"`` (rANS 4x8, the codec real-world CRAMs use; see
    :mod:`adam_spark.sources.rans`).

    ``reference``: contig sequences (dict / ReferenceFile / .fa/.2bit
    path). When given, the file is written REFERENCE-CODED (RR=true):
    matching bases are never stored — only match-span lengths and the
    substituted bases — the model behind real CRAM's ~40%-smaller-than-
    BAM storage (docs/benchmarks/storage.rst:27-30). Reading such a
    file requires passing the same reference to :func:`load_cram`."""
    from pyspark.storagelevel import StorageLevel

    from adam_spark.sources.filesystem import get_fs
    from adam_spark.sources.sam import sam_body_lines, sam_header_lines

    # resolved ONCE here; the handle rides the task closures so shard
    # bytes stream executor->store directly (HDFS/S3 via pyarrow.fs)
    fs, path = get_fs(path, fs)

    rpc = records_per_container or _RECORDS_PER_CONTAINER
    ref_seqs = _resolve_reference(reference)
    header = sam_header_lines(gf.meta)
    refs = [r for r in gf.meta.references.references]
    ref_index = {r.name: i for i, r in enumerate(refs)}
    text = "\n".join(header) + "\n"

    lines = sam_body_lines(gf.df).persist(StorageLevel.MEMORY_AND_DISK)
    shard_dir = path + ".__shards"
    fs.rmtree(shard_dir)
    fs.makedirs(shard_dir)
    try:
        counts = lines.rdd.mapPartitions(lambda it: [sum(1 for _ in it)]).collect()
        bases = [0]
        for c in counts[:-1]:
            bases.append(bases[-1] + c)
        total = sum(counts)
        shards = (
            lines.rdd.map(lambda r: r["value"])
            .mapPartitionsWithIndex(
                lambda i, it: [
                    _encode_cram_shard(
                        it, fs.join(shard_dir, f"part-{i:05d}"), ref_index,
                        bases[i], codec, ref_seqs, rpc, fs,
                    )
                ]
            )
            .collect()
        )
        out = bytearray()
        out += _MAGIC + _FILE_ID
        hdr_block = bytearray()
        # spec §8.1: the header text is int32-length-prefixed inside the
        # block (htsjdk expects the prefix; the reader accepts both)
        enc = text.encode()
        _write_block(
            hdr_block, _CT_FILE_HEADER, 0, struct.pack("<i", len(enc)) + enc
        )
        out += _container_header(len(hdr_block), 0, 0, 0, 0, 0, 0, 1, [])
        out += hdr_block

        # sequential concat (FileMerger shape);
        # EOF container: zero records, one raw sentinel block
        from adam_spark.sources.merge import concat_files

        live = [(sp, entries) for sp, clen, entries, _n in shards if clen]
        offsets = concat_files(
            path, [sp for sp, _ in live], bytes(out), cram_eof_bytes(total),
            fs=fs,
        )
        crai_entries: list = [
            (base + off, ln, sid, st_, span)
            for (_sp, entries), base in zip(live, offsets)
            for off, ln, sid, st_, span in entries
        ]
    finally:
        fs.rmtree(shard_dir)
        lines.unpersist()
    _write_crai(path, crai_entries, fs=fs)


def _decode_container_range(path: str, offsets: list[int], ref_names: list[str],
                            ref_seqs: dict[str, str] | None = None):
    """Executor task: decode a list of container offsets → SAM lines.
    Reads only the assigned containers' bytes (seek + bounded read)."""
    size = os.path.getsize(path)
    legacy_qs = _read_file_id(path) == _LEGACY_FILE_ID
    with open(path, "rb") as f:
        for off in offsets:
            f.seek(off)
            probe = f.read(min(_HDR_PROBE, size - off))
            hdr = _read_container_header(probe, 0)
            f.seek(off)
            buf = f.read(hdr["header_size"] + hdr["length"])
            yield from decode_container(buf, 0, hdr, ref_names, ref_seqs,
                                        legacy_qs=legacy_qs)


def load_cram(
    spark: SparkSession, path: str, reference=None,
    stringency: str = "SILENT",
) -> GenomicFrame:
    """CRAM → alignments via a distributed per-container scan
    (reference: ADAMContext.loadBam:2027-2111 CRAM dispatch). With a
    ``.crai`` sidecar (``save_cram`` writes one) driver I/O is O(1):
    the file-header container plus the gzip'd offset list; otherwise
    the driver seek-walks container headers serially. Executors decode
    containers in parallel (each is self-contained: compression header
    + slice + streams) and feed the shared SAM line parser."""
    from adam_spark.sources.sam import _aligned_with_meta

    path = os.path.abspath(path)
    # reference-coded files (RR=true) need the contig sequences on every
    # executor; resolved driver-side, shipped in the task closure (the
    # same broadcast-the-reference shape ADAM uses for its ReferenceFile)
    ref_seqs = _resolve_reference(reference)
    crai_entries = _read_crai(path)
    if crai_entries is not None:
        header_lines, ref_names = _read_file_header(path)
        offsets = [en[0] for en in crai_entries]
    else:
        header_lines, ref_names, containers = _index_containers(path)
        offsets = [off for off, _ in containers]
    raw = _scan_containers(spark, path, offsets, ref_names, ref_seqs)
    return GenomicFrame(
        *_aligned_with_meta(raw, header_lines, stringency)
    )


def load_indexed_cram(
    spark: SparkSession,
    path: str,
    regions: list[tuple[str, int, int]],
    reference=None,
) -> GenomicFrame:
    """Region-filtered CRAM load via ``.crai`` container pruning.

    The sidecar records each single-contig container's (seq_id, start,
    span), so only containers overlapping the query regions are read
    and decoded — I/O and decode cost scale with the overlap fraction
    when the input was position-sorted (mixed-contig containers carry
    seq_id −2 and are always read). The exact region predicate still
    applies after decode. Without a sidecar this falls back to the
    distributed full scan plus the overlap filter — the same contract
    as ``load_indexed_bam``."""
    path = os.path.abspath(path)
    entries = _read_crai(path)
    if entries is None:
        return load_cram(spark, path, reference=reference).filter_by_overlapping_regions(
            regions
        )
    from adam_spark.sources.sam import _aligned_with_meta

    header_lines, ref_names = _read_file_header(path)
    rid = {n: i for i, n in enumerate(ref_names)}
    wanted = [
        (rid[rname], max(0, beg), end) for rname, beg, end in regions if rname in rid
    ]
    offsets = [
        off
        for off, _ln, seq_id, c_start, c_span in entries
        if seq_id == -2
        or any(
            seq_id == r and c_start < end and beg < c_start + c_span
            for r, beg, end in wanted
        )
    ]
    ref_seqs = _resolve_reference(reference)
    raw = _scan_containers(spark, path, offsets, ref_names, ref_seqs)
    gf = GenomicFrame(
        *_aligned_with_meta(raw, header_lines)
    )
    return gf.filter_by_overlapping_regions(regions)
