"""BGZF container layer shared by BAM, BCF and bgzipped VCF.

BGZF (SAM spec §4.1) is a series of gzip members (RFC1952), each at
most 64 KiB compressed and carrying a ``BC`` extra subfield with its
block size. The reference reads BAM and VCF through one BGZF split
machinery (hadoop-bam) and writes single files through one merger
(util/FileMerger.scala:35); this module is that shared layer, so
``bam.py``, ``bcf.py`` and ``vcf.py`` keep only their record framing
and codecs:

- **Block I/O.** One header parser behind :func:`read_block`,
  compression to blocks (:func:`compress_blocks`, :func:`compress_to`),
  streaming whole-stream decompression (:func:`decompress`,
  :func:`inflate`) and executor-side resync to a block boundary
  (:func:`next_block_offset`).
- **Full scans.** Splits are arithmetic over the compressed bytes
  (:func:`plan_ranges`), so the driver does O(header blocks) + O(splits)
  work. :func:`scan_range` is the Hadoop split contract lifted to
  BGZF records: a block belongs to the range holding its start offset;
  a non-first range resyncs to its first block, then to the first
  record boundary the format's chain check accepts (the htsjdk
  BAMSplitGuesser shape); every range reads past its end to finish its
  last record. :func:`scan` wires both into a one-column DataFrame.
- **Indexed loads.** :func:`read_chunk` decodes one virtual-offset
  chunk; :func:`indexed_lines` turns query regions into merged chunks,
  contiguous byte-balanced tasks and decoded lines.
- **Writes.** :func:`save_sharded` is the single-file writer: executors
  encode and compress their partitions into shard files and return an
  O(bins) index manifest; the driver concatenates the shards (BGZF
  members concatenate, so shards join byte-for-byte), picks the index
  depth and writes the ``.bai``/``.tbi``/``.csi`` sidecar.
"""

from __future__ import annotations

import gzip
import struct
import zlib

from adam_spark.sources.binned_index import (
    ShardIndexAgg,
    max_bin_coord,
    merge_chunks,
    new_index,
    split_chunks_contiguous,
    voffset,
    vsplit,
    write_bai,
    write_csi,
    write_tbi,
)
from adam_spark.sources.filesystem import LocalFileSystem, get_fs

#: uncompressed bytes per block. Must stay < 2^16 so the in-block part
#: of a virtual offset fits 16 bits; every writer's virtual-offset math
#: uses this value.
BLOCK_SIZE = 60_000

#: the fixed empty block that terminates a BGZF file
EOF = bytes.fromhex("1f8b08040000000000ff0600424302001b0003000000000000000000")

_MAGIC = b"\x1f\x8b\x08\x04"

#: largest compressed block (BSIZE is 16 bits): a block boundary lies
#: within this many bytes of any offset inside the file body, so a
#: split range smaller than this would mostly resync to nothing
_MAX_BLOCK = 64 << 10


def _local(fs):
    return LocalFileSystem() if fs is None else fs


# --- block I/O -------------------------------------------------------------
def _block_header(f, off: int) -> tuple[int, int]:
    """Parse the block header at ``off`` → (total block size, XLEN),
    leaving ``f`` positioned at the start of the deflate payload."""
    f.seek(off)
    h = f.read(12)
    if len(h) < 12 or h[:4] != _MAGIC:
        raise ValueError(f"bad BGZF block magic at offset {off}")
    xlen = struct.unpack_from("<H", h, 10)[0]
    extra = f.read(xlen)
    e = 0
    while e + 4 <= len(extra):
        if extra[e : e + 2] == b"BC":
            return struct.unpack_from("<H", extra, e + 4)[0] + 1, xlen
        e += 4 + struct.unpack_from("<H", extra, e + 2)[0]
    raise ValueError(f"BGZF block at {off} has no BC subfield")


def read_block(f, off: int) -> tuple[int, bytes]:
    """(total block size, inflated payload) of the block at ``off``, in
    one sequential read: consecutive calls never re-seek or re-read."""
    total, xlen = _block_header(f, off)
    rest = f.read(total - 12 - xlen)
    return total, zlib.decompress(rest[:-8], -15)


def is_bgzf(path: str, fs=None) -> bool:
    """True when the file starts with a BGZF block (plain gzip, which
    has no ``BC`` subfield, and uncompressed files are not)."""
    try:
        with _local(fs).open_read(path) as f:
            _block_header(f, 0)
        return True
    except (ValueError, struct.error):
        return False


def _chain_ok(f, off: int, fsize: int, chain: int = 3) -> bool:
    """True when ``off`` starts ``chain`` well-formed blocks whose
    BSIZE chain lands on EOF or on further valid blocks."""
    try:
        for _ in range(chain):
            if off == fsize:
                return True
            total, _ = _block_header(f, off)
            off += total
            if off > fsize:
                return False
        return True
    except (ValueError, struct.error):
        return False


def next_block_offset(f, start: int, fsize: int) -> int | None:
    """First verified block boundary at or after ``start``: scan two
    maximal block lengths for the 4-byte magic and verify each candidate
    by walking the BSIZE chain (the hadoop-bam guesser shape)."""
    f.seek(start)
    buf = f.read(2 * _MAX_BLOCK)
    i = 0
    while True:
        j = buf.find(_MAGIC, i)
        if j == -1:
            return None
        if _chain_ok(f, start + j, fsize):
            return start + j
        i = j + 1


def compress_blocks(data: bytes, block_size: int = BLOCK_SIZE) -> tuple[bytes, list[int]]:
    """Compress ``data`` into blocks (no EOF block) → (bytes, offset of
    each block in the returned bytes plus the end offset). Blocks
    concatenate, so independently compressed shards join into one
    valid file."""
    out = bytearray()
    offsets: list[int] = []
    for off in range(0, len(data), block_size):
        offsets.append(len(out))
        chunk = data[off : off + block_size]
        comp = zlib.compressobj(6, zlib.DEFLATED, -15)
        payload = comp.compress(chunk) + comp.flush()
        # BSIZE = total block length − 1 (SAM spec §4.1):
        # header(12) + extra(6) + payload + crc(4) + isize(4) − 1
        bsize = len(payload) + 25
        out += (
            _MAGIC  # magic, deflate, FEXTRA
            + b"\x00\x00\x00\x00"  # mtime
            + b"\x00\xff"  # XFL, OS
            + struct.pack("<H", 6)  # XLEN
            + b"BC"
            + struct.pack("<H", 2)
            + struct.pack("<H", bsize)
            + payload
            + struct.pack("<I", zlib.crc32(chunk) & 0xFFFFFFFF)
            + struct.pack("<I", len(chunk))
        )
    offsets.append(len(out))
    return bytes(out), offsets


def compress_to(
    path: str, data: bytes, block_size: int = BLOCK_SIZE, fs=None
) -> list[int]:
    """Write ``data`` as blocks + the EOF block. Returns the compressed
    offset of each block plus the EOF block's, so an uncompressed offset
    ``u`` maps to block ``u // block_size`` at in-block offset
    ``u % block_size``."""
    fs, path = get_fs(path, fs)
    blob, offsets = compress_blocks(data, block_size)
    out = fs.open_write(path)
    try:
        out.write(blob)
        out.write(EOF)
    finally:
        out.close()
    return offsets


def inflate(fileobj) -> bytes:
    """Decompress every gzip member of a binary stream. ``GzipFile``
    streams members linearly; ``gzip.decompress`` re-slices the
    remaining buffer once per member, quadratic in member count."""
    with gzip.GzipFile(fileobj=fileobj) as g:
        return g.read()


def decompress(path: str, fs=None) -> bytes:
    """Whole-file decompression (see :func:`inflate`)."""
    with _local(fs).open_read(path) as raw:
        return inflate(raw)


def body_start(path: str, header_end, fs=None):
    """Driver-side, O(header blocks): inflate blocks from the file start
    until ``header_end(decoded prefix)`` returns ``(header, n)`` — the
    parsed header and the decoded offset where records begin — and
    return ``(header, block offset, in-block offset)`` of that record
    start. ``None`` when the file ends first."""
    fs = _local(fs)
    size = fs.size(path)
    data = bytearray()
    walked: list[tuple[int, int]] = []  # (compressed offset, decoded length)
    with fs.open_read(path) as f:
        pos = 0
        while pos < size:
            total, chunk = read_block(f, pos)
            data += chunk
            walked.append((pos, len(chunk)))
            pos += total
            found = header_end(data)
            if found is not None:
                header, rec_off = found
                for off, ulen in walked:
                    if rec_off < ulen:
                        return header, off, rec_off
                    rec_off -= ulen
                return header, pos, 0  # records start at the next block
    return None


# --- full scans ------------------------------------------------------------
def plan_ranges(
    size: int, body_off: int, target_split_bytes: int, parallelism: int
) -> list[tuple[int, int]]:
    """Arithmetic split of compressed bytes [body_off, size) into at
    least ``2 × parallelism`` ranges of about ``target_split_bytes``,
    never smaller than one maximal block."""
    body = size - body_off
    if body <= 0:
        return []
    n = max(1, parallelism * 2, body // target_split_bytes)
    n = int(min(n, max(1, body // _MAX_BLOCK)))
    bounds = [body_off + (body * i) // n for i in range(n + 1)]
    bounds[-1] = size
    return [(bounds[i], bounds[i + 1]) for i in range(n) if bounds[i] < bounds[i + 1]]


def scan_range(
    path: str, start: int, end: int, first_intra: int, resync: bool,
    head: str, plausible, fs=None,
):
    """Executor task: yield the records STARTING inside compressed byte
    range [start, end), each as bytes including its length prefix.

    ``head`` is the struct format of a record's length prefix; the
    record length is the prefix size plus the sum of its fields (BAM
    ``<i`` block_size, BCF ``<II`` l_shared + l_indiv).
    ``plausible(buf, off, extend=...)`` is the format's record-boundary
    chain check; it may call ``extend()`` to inflate the next block when
    its chain outruns the buffer.

    With ``resync`` the task finds the first block at or after ``start``
    and the first plausible record in it; otherwise records begin
    ``first_intra`` bytes into the block at ``start``. Ranges that tile
    the file partition blocks and records exactly."""
    fs = _local(fs)
    head_len = struct.calcsize(head)
    fsize = fs.size(path)
    with fs.open_read(path) as f:
        if resync:
            first = next_block_offset(f, start, fsize)
            if first is None or first >= end:
                return
        else:
            first = start
        data = bytearray()
        next_off = first
        while next_off < end and next_off < fsize:
            total, block = read_block(f, next_off)
            data += block
            next_off += total
        owned = len(data)
        if owned == 0:
            return

        def extend() -> bool:
            nonlocal next_off
            if next_off >= fsize:
                return False
            total, block = read_block(f, next_off)
            data.extend(block)
            next_off += total
            return True

        pos = first_intra
        if resync:
            # the check EXTENDS past the range tail when a candidate
            # chain outruns the buffer, never a blind accept (a record
            # spanning the whole range would otherwise "match" garbage)
            pos = next(
                (o for o in range(owned) if plausible(data, o, extend=extend)), None
            )
            if pos is None:
                return
        # the consumed prefix is trimmed so a tail record extending into
        # following blocks doesn't stack the next range's bytes on top of
        # the whole buffer
        trimmed = 0
        while pos < owned:
            if pos - trimmed > (8 << 20):
                del data[: pos - trimmed]
                trimmed = pos
            while pos - trimmed + head_len > len(data):
                if not extend():
                    if pos - trimmed == len(data):
                        return  # clean EOF
                    raise ValueError("truncated BGZF record length")
            n = head_len + sum(struct.unpack_from(head, data, pos - trimmed))
            while pos - trimmed + n > len(data):
                if not extend():
                    raise ValueError("truncated BGZF record body")
            p = pos - trimmed
            yield bytes(data[p : p + n])
            pos += n


def _lines_frame(spark, rdd):
    return spark.createDataFrame(rdd.map(lambda ln: (ln,)), "value string")


def scan(spark, path: str, body: tuple[int, int], head: str, plausible, decode,
         target_split_bytes: int, fs=None):
    """Distributed full scan → DataFrame ``value string`` with one
    ``decode(record bytes)`` line per record, in file order. ``body`` is
    the (block offset, in-block offset) where records begin."""
    sc = spark.sparkContext
    body_off, body_intra = body
    ranges = plan_ranges(_local(fs).size(path), body_off, target_split_bytes,
                         sc.defaultParallelism)
    tasks = [(s, e, body_intra if i == 0 else 0, i > 0) for i, (s, e) in enumerate(ranges)]
    rdd = sc.parallelize(tasks, max(1, len(tasks))).flatMap(
        lambda t: map(decode, scan_range(path, *t, head, plausible, fs))
    )
    return _lines_frame(spark, rdd)


# --- indexed loads ---------------------------------------------------------
def read_chunk(path: str, vbeg: int, vend: int, fs=None) -> bytes:
    """Decompressed bytes of one virtual-offset chunk [vbeg, vend)."""
    cbeg, ubeg = vsplit(vbeg)
    cend, uend = vsplit(vend)
    out = bytearray()
    with _local(fs).open_read(path) as f:
        pos = cbeg
        while pos <= cend:
            if pos == cend and uend == 0:
                # htsjdk writes chunk ends as (next block)<<16 — for the
                # last chunk that is (file length)<<16, one past the EOF
                # block; nothing of the end block is needed when the
                # in-block offset is 0 (pinned on the reference's real
                # indexed_bams/sorted.bam.bai)
                break
            total, data = read_block(f, pos)
            lo = ubeg if pos == cbeg else 0
            hi = uend if pos == cend else len(data)
            out += data[lo:hi]
            pos += total
    return bytes(out)


def indexed_lines(spark, path: str, idx, ref_ids: dict, regions, chunk_lines, fs=None):
    """Region-restricted load: the ``idx`` chunks overlapping
    ``regions`` (``(name, beg, end)``; ``ref_ids`` maps names to index
    ref ids) are merged, cut into contiguous byte-balanced task slices
    (partition order is file order, so order-sensitive single-file saves
    downstream keep the source's record order) and decoded with
    ``chunk_lines(chunk bytes)`` → DataFrame ``value string``. Bins are
    coarse: callers apply their exact overlap predicate."""
    chunks = merge_chunks([
        c
        for (rname, beg, end) in regions
        if rname in ref_ids
        for c in idx.chunks_for(ref_ids[rname], beg, end)
    ])
    sc = spark.sparkContext
    tasks = split_chunks_contiguous(
        chunks, max(1, min(len(chunks), sc.defaultParallelism * 2))
    )

    def _lines(task_chunks):
        for vb, ve in task_chunks:
            yield from chunk_lines(read_chunk(path, vb, ve, fs))

    return _lines_frame(spark, sc.parallelize(tasks, max(1, len(tasks))).flatMap(_lines))


# --- writes ----------------------------------------------------------------
#: index kind → the sidecar suffixes a save at the same path may leave;
#: a save removes every one it did not write (readers prefer .bai/.tbi,
#: so a stale one would serve region queries for old data)
_SIDECARS = {"bai": (".bai", ".csi"), "tbi": (".tbi", ".csi"), "csi": (".csi",)}


def _write_shard(i: int, rows, encode, shard_dir: str, fs):
    """Executor task: one partition → one BGZF shard file (no EOF block)
    plus its index manifest, with shard-local virtual offsets."""
    body = bytearray()
    spans: list[tuple] = []
    unmapped: dict = {}
    no_coor = 0
    for row in rows:
        u0 = len(body)
        rec, span = encode(row["value"])
        body += rec
        if span is None:
            continue
        ref, beg, end = span
        if ref is None:
            no_coor += 1
        elif beg is None:
            unmapped[ref] = unmapped.get(ref, 0) + 1
        else:
            spans.append((ref, beg, end, u0, len(body)))
    blob, offsets = compress_blocks(bytes(body))
    bs = BLOCK_SIZE
    # the index aggregates to per-(ref, bin) chunk extents HERE: the
    # driver receives O(bins) per shard, never O(records)
    agg = ShardIndexAgg()
    for ref, beg, end, u0, u1 in spans:
        agg.add(
            ref, beg, end,
            voffset(offsets[u0 // bs], u0 % bs),
            voffset(offsets[u1 // bs], u1 % bs),
        )
    sp = fs.join(shard_dir, f"part-{i:05d}")
    out = fs.open_write(sp)
    try:
        out.write(blob)
    finally:
        out.close()
    return [(i, sp, agg.manifest(), unmapped, no_coor)]


def save_sharded(
    body, path: str, encode, index: str, header: bytes = b"",
    write_index: bool = True, ref_names: list[str] | None = None, fs=None,
) -> dict:
    """Single-file BGZF save through parallel shard compression.

    ``body``: DataFrame with a ``value`` string column whose partition
    order is the file order. ``encode(value)`` → ``(record bytes,
    span)``; ``span`` is None for bytes that are not an indexed record,
    ``(ref, beg, end)`` for a placed record, with ``beg`` None for a
    placed-but-unmapped one (counted, not binned) and ``ref`` None for
    an unplaced one (the index's n_no_coor trailer). ``header`` is
    compressed as its own blocks ahead of the shards. ``index`` is the
    sidecar kind written while coordinates fit the classic 2^29 scheme
    (``bai``/``tbi``/``csi``); past it a depth-scaled ``.csi`` is
    written (tabix aux block for ``tbi``), htslib's ``-c``/``-C``
    behavior. ``ref_names`` is the index's contig order, with spans
    keyed by contig id; None when spans carry contig names, numbered in
    order of first appearance.

    Executors write the shards straight to the store through the
    pickled ``fs`` handle; the driver concatenates them in partition
    order between the header and the EOF block (util/FileMerger.scala:35,
    ParallelFileMerger.scala:34) and folds the manifests, shifted by each
    shard's output offset, into the index. The staging directory
    ``path + ".__shards"`` is removed whether or not the save succeeds."""
    from adam_spark.sources.merge import concat_files_parallel

    fs, path = get_fs(path, fs)
    shard_dir = path + ".__shards"
    fs.rmtree(shard_dir)
    fs.makedirs(shard_dir)
    try:
        shards = (
            body.select("value")
            .rdd.mapPartitionsWithIndex(
                lambda i, rows: _write_shard(i, rows, encode, shard_dir, fs)
            )
            .collect()
        )
        shards.sort(key=lambda s: s[0])
        bases = concat_files_parallel(
            path, [s[1] for s in shards], compress_blocks(header)[0], EOF, fs=fs
        )
    finally:
        fs.rmtree(shard_dir)

    manifests = [s[2] for s in shards]
    written = None
    if write_index:
        ref_ids = None
        if ref_names is None:
            ref_ids = {}
            for _, _, _, ref_order, _ in manifests:
                for ref in ref_order:
                    ref_ids.setdefault(ref, len(ref_ids))
            ref_names = list(ref_ids)
        max_end = max((m[2] for m in manifests), default=0)
        depth = 5
        while max_bin_coord(14, depth) < max_end and depth < 10:
            depth += 1
        idx = new_index(ref_names, depth=depth)
        mapped: dict = {}
        unmapped: dict = {}
        for (bins, linear, _, _, counts), base in zip(manifests, bases):
            # the linear fold feeds the CSI per-bin loffsets too
            idx.add_shard(bins, linear, base, ref_ids=ref_ids)
            for ref, n in counts.items():
                mapped[ref] = mapped.get(ref, 0) + n
        for _, _, _, shard_unmapped, _ in shards:
            for ref, n in shard_unmapped.items():
                unmapped[ref] = unmapped.get(ref, 0) + n
        # htslib metadata pseudo-bins + unplaced trailer: the payload
        # `samtools idxstats` / `bcftools index -s` read without a scan
        for ref in {**mapped, **unmapped}:
            rid = ref if ref_ids is None else ref_ids[ref]
            idx.set_ref_stats(rid, mapped.get(ref, 0), unmapped.get(ref, 0))
        idx.n_no_coor = sum(s[4] for s in shards)
        if depth == 5:
            written = "." + index
            {"bai": write_bai, "tbi": write_tbi, "csi": write_csi}[index](
                idx, path + written, fs=fs
            )
        else:
            written = ".csi"
            write_csi(idx, path + written, tabix_aux=index == "tbi", fs=fs)
    for suffix in _SIDECARS[index]:
        if suffix != written and fs.exists(path + suffix):
            fs.remove(path + suffix)
    return {
        "shards": len(shards),
        "index_manifest_chunks": sum(len(c) for m in manifests for c in m[0].values()),
    }
