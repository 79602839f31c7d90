"""UCSC-binned genomic indexes over BGZF virtual offsets (.tbi / .bai).

The reference reads these through htsjdk: tabix-indexed VCF in
ADAMContext.loadIndexedVcf (ADAMContext.scala:2760-2776) and
.bai-indexed BAM in ADAMContext.loadIndexedBam (:2125-2308). This
module implements the shared machinery directly from the public SAM /
tabix specifications:

- the 5-level UCSC binning scheme (``reg2bin`` / ``reg2bins``),
- BGZF **virtual offsets** ``(compressed_block_offset << 16) | offset_
  into_decompressed_block``,
- the binary **.tbi** (tabix) and **.bai** layouts — both are the same
  binned structure; tabix adds column metadata and contig names, .bai
  implies contigs from the BAM header,
- index WRITERS, so files produced by ``save_vcf_bgzf`` / ``save_bam``
  are seekable, and chunk QUERY (bin lookup + linear-index pruning +
  chunk merge) for region-restricted scans that touch only the
  overlapping fraction of a file.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field


# --- binning (SAM spec §5.3, generalized per the CSI spec) -----------------
#: the 5-level UCSC scheme addresses < 2^29; longer contigs need CSI
#: with a larger depth (real tabix refuses them too — silent
#: out-of-range bins would write indexes htsjdk/bcftools reject)
MAX_BIN_COORD = 1 << 29


def max_bin_coord(min_shift: int = 14, depth: int = 5) -> int:
    return 1 << (min_shift + 3 * depth)


def reg2bin(beg: int, end: int, min_shift: int = 14, depth: int = 5) -> int:
    """Smallest bin fully containing [beg, end) (0-based half-open) —
    the hts-specs CSI ``reg2bin`` loop; the default (14, 5) reproduces
    the classic BAI/tabix numbering exactly."""
    if end > max_bin_coord(min_shift, depth):
        raise ValueError(
            f"coordinate {end} exceeds the binning limit "
            f"2^{min_shift + 3 * depth} (min_shift={min_shift}, "
            f"depth={depth}); raise the CSI depth to address it"
        )
    end -= 1
    s, t = min_shift, ((1 << (3 * depth)) - 1) // 7
    for level in range(depth, 0, -1):
        if beg >> s == end >> s:
            return t + (beg >> s)
        s += 3
        t -= 1 << (3 * (level - 1))
    return 0


def reg2bins(beg: int, end: int, min_shift: int = 14, depth: int = 5) -> list[int]:
    """Every bin overlapping [beg, end), coarsest first."""
    end -= 1
    bins = [0]
    s = min_shift + 3 * (depth - 1)
    base = 1
    for level in range(1, depth + 1):
        bins.extend(range(base + (beg >> s), base + (end >> s) + 1))
        base = base * 8 + 1
        s -= 3
    return bins


# --- virtual offsets -------------------------------------------------------
def voffset(coffset: int, uoffset: int) -> int:
    return (coffset << 16) | uoffset


def vsplit(v: int) -> tuple[int, int]:
    return v >> 16, v & 0xFFFF


_LINEAR_SHIFT = 14  # 16 kb linear-index windows


@dataclass
class _RefIndex:
    bins: dict[int, list[tuple[int, int]]] = field(default_factory=dict)
    linear: list[int] = field(default_factory=list)
    #: per-bin loffset as read from a CSI file (CSI carries no linear
    #: index; this is its replacement for start-offset pruning)
    loffset: dict[int, int] = field(default_factory=dict)


@dataclass
class BinnedIndex:
    """In-memory binned index; ``names`` empty for .bai (BAM header
    supplies contig order). ``min_shift``/``depth`` default to the
    classic BAI/tabix (14, 5) scheme; CSI indexes may raise ``depth``
    to address contigs past 2^29 bp (wheat-scale chromosomes — the
    reason CSI exists)."""

    names: list[str]
    refs: list[_RefIndex]
    # tabix header metadata (ignored for .bai)
    fmt: int = 2  # VCF
    col_seq: int = 1
    col_beg: int = 2
    col_end: int = 0
    meta_char: int = ord("#")
    skip: int = 0
    min_shift: int = 14
    depth: int = 5
    #: htslib metadata pseudo-bin payload per ref id:
    #: (off_beg, off_end, n_mapped, n_unmapped) — what `samtools
    #: idxstats` / `bcftools index -s` read; written when non-empty
    meta: dict = field(default_factory=dict)
    #: count of unplaced records (no ref/pos), the optional u64 trailer
    n_no_coor: int | None = None

    @property
    def bin_limit(self) -> int:
        """Number of valid bins for this (min_shift-independent) depth;
        htslib's metadata pseudo-bin is ``bin_limit + 1`` (37450 for
        the classic 5-level scheme)."""
        return ((1 << (3 * (self.depth + 1))) - 1) // 7

    def add_record(self, ref_id: int, beg: int, end: int, vbeg: int, vend: int) -> None:
        r = self.refs[ref_id]
        b = reg2bin(beg, max(end, beg + 1), self.min_shift, self.depth)
        chunks = r.bins.setdefault(b, [])
        if chunks and chunks[-1][1] == vbeg:
            chunks[-1] = (chunks[-1][0], vend)  # extend adjacent chunk
        else:
            chunks.append((vbeg, vend))
        win_lo, win_hi = beg >> _LINEAR_SHIFT, max(end - 1, beg) >> _LINEAR_SHIFT
        if len(r.linear) <= win_hi:
            r.linear.extend([0] * (win_hi + 1 - len(r.linear)))
        for w in range(win_lo, win_hi + 1):
            if r.linear[w] == 0 or vbeg < r.linear[w]:
                r.linear[w] = vbeg

    def add_shard(
        self,
        bins: dict,
        linear: dict,
        base: int,
        ref_ids: dict | None = None,
        from_depth: int | None = None,
    ) -> None:
        """Fold one shard's :class:`ShardIndexAgg` manifest, called in
        partition-index order: shift the shard-local virtual offsets by
        the shard's compressed ``base`` byte offset (``v + (base <<
        16)`` — in-block offsets are depth-0 exact because every shard's
        blocks restart at local uncompressed 0), remap the aggregation
        bins down to this index's depth, and append with the same
        adjacent-chunk coalescing ``add_record`` uses — so for sorted
        data the folded index is byte-identical to the per-record
        build. ``ref_ids`` maps the agg's ref keys to this index's ref
        ids (identity when the tasks already binned by rid)."""
        from_depth = AGG_DEPTH if from_depth is None else from_depth
        shift = base << 16
        for (ref_key, b_agg), chunks in bins.items():
            rid = ref_ids[ref_key] if ref_ids is not None else ref_key
            b = rebin(b_agg, from_depth, self.depth)
            lst = self.refs[rid].bins.setdefault(b, [])
            for vb, ve in chunks:
                gvb, gve = vb + shift, ve + shift
                if lst and lst[-1][1] == gvb:
                    lst[-1] = (lst[-1][0], gve)
                else:
                    lst.append((gvb, gve))
        for (ref_key, w), vb in linear.items():
            rid = ref_ids[ref_key] if ref_ids is not None else ref_key
            r = self.refs[rid]
            if len(r.linear) <= w:
                r.linear.extend([0] * (w + 1 - len(r.linear)))
            gv = vb + shift
            if r.linear[w] == 0 or gv < r.linear[w]:
                r.linear[w] = gv

    def _loffset_floor(self, r: _RefIndex, beg: int) -> int:
        """CSI start-offset pruning floor: the loffset of the closest
        indexed bin at or before ``beg``'s deepest-level bin — htslib's
        ``hts_itr_query`` walk (previous sibling within a level, else
        parent) when no linear index exists. Every record overlapping
        the query in a position-sorted file starts at or after it."""
        b = _LEVEL_BASES[self.depth] + (beg >> self.min_shift)
        while True:
            lo = r.loffset.get(b)
            if lo is not None:
                return lo
            if b == 0:
                return 0
            first_sibling = (((b - 1) >> 3) << 3) + 1
            b = b - 1 if b > first_sibling else (b - 1) >> 3

    def set_ref_stats(self, rid: int, n_mapped: int, n_unmapped: int = 0) -> None:
        """Record the htslib metadata pseudo-bin payload for one ref:
        counts from the fold, byte span from the folded bins."""
        r = self.refs[rid]
        starts = [vb for chunks in r.bins.values() for vb, _ in chunks]
        ends = [ve for chunks in r.bins.values() for _, ve in chunks]
        self.meta[rid] = (
            min(starts, default=0), max(ends, default=0), n_mapped, n_unmapped
        )

    def chunks_for(self, ref_id: int, beg: int, end: int) -> list[tuple[int, int]]:
        """Merged chunks that may contain records overlapping [beg, end)."""
        if not (0 <= ref_id < len(self.refs)):
            return []
        r = self.refs[ref_id]
        beg = max(beg, 0)  # negative (flank-padded) queries would index
        # linear[-1] — the LAST window's offset — and prune valid chunks
        win = beg >> _LINEAR_SHIFT
        if win < len(r.linear):
            min_voff = r.linear[win]
        elif r.loffset:
            # CSI files carry per-bin loffsets instead of a linear index
            min_voff = self._loffset_floor(r, beg)
        else:
            min_voff = 0
        out = []
        for b in reg2bins(beg, max(end, beg + 1), self.min_shift, self.depth):
            for vb, ve in r.bins.get(b, ()):
                if ve > min_voff:
                    # the linear index proves nothing before min_voff can
                    # overlap the query: clamp the chunk start (the
                    # standard tabix optimization)
                    out.append((max(vb, min_voff), ve))
        return merge_chunks(out)


#: executor-side aggregation depth: every shard task bins its records
#: at this fixed deep CSI scheme (addresses 2^44 bp) so the driver can
#: pick the FINAL depth from the global max coordinate and remap with
#: :func:`rebin` — no second pass over the data
AGG_DEPTH = 10
#: per-bin chunk-list cap inside a shard aggregation; past it the list
#: collapses to one covering extent, keeping each shard's manifest
#: strictly O(bins-touched) even for pathologically unsorted input
_AGG_CHUNK_CAP = 64

_LEVEL_BASES = [((1 << (3 * lvl)) - 1) // 7 for lvl in range(AGG_DEPTH + 2)]


def rebin(b: int, from_depth: int, to_depth: int) -> int:
    """Remap a bin number between CSI depths (same min_shift).

    A bin's physical window size is fixed by its level counted from the
    BOTTOM (the finest level is 2^min_shift at every depth; deeper
    schemes add coarser levels on top), so the level from the top
    shifts by the depth delta while the in-level position (beg >> s)
    is unchanged. Raises when the bin is coarser than ``to_depth``'s
    root — i.e. the record did not fit the target addressing space."""
    if from_depth == to_depth:
        return b
    lvl = 0
    while lvl + 1 <= from_depth and _LEVEL_BASES[lvl + 1] <= b:
        lvl += 1
    new_lvl = lvl - (from_depth - to_depth)
    if new_lvl < 0:
        raise ValueError(
            f"bin {b} (level {lvl} of depth {from_depth}) does not fit a "
            f"depth-{to_depth} index"
        )
    return _LEVEL_BASES[new_lvl] + (b - _LEVEL_BASES[lvl])


class ShardIndexAgg:
    """Executor-side index aggregation for the parallel single-file
    writers: O(bins-touched) per shard instead of O(records).

    Each shard task feeds its records' (ref, beg, end) + shard-LOCAL
    virtual offsets; the task returns only per-(ref, bin) coalesced
    chunk lists, per-(ref, 16kb-window) min offsets, and the max end
    coordinate. The driver prefix-shifts the local virtual offsets by
    each shard's compressed base (``v + (base << 16)`` — exactly how it
    already shifts block offsets), picks the final depth from the
    global max coordinate, and folds shards in partition order with
    :meth:`BinnedIndex.add_shard`. For position-sorted data the result
    is IDENTICAL to the former per-record ``add_record`` stream; at
    100 TB the driver holds O(bins × shards) tuples, not O(records).

    ``ref_key`` may be any hashable (a numeric rid when the task knows
    the contig dictionary, a contig NAME when the driver assigns rids
    on fold); ``ref_order`` records first appearance so the driver can
    reproduce the stream's contig-discovery order."""

    __slots__ = (
        "min_shift", "depth", "bins", "linear", "max_end", "ref_order",
        "counts", "_seen",
    )

    def __init__(self, min_shift: int = 14, depth: int = AGG_DEPTH):
        self.min_shift = min_shift
        self.depth = depth
        self.bins: dict[tuple, list[tuple[int, int]]] = {}
        self.linear: dict[tuple, int] = {}
        self.max_end = 0
        self.ref_order: list = []
        #: records added per ref key — feeds the htslib metadata
        #: pseudo-bin (n_mapped) on the driver
        self.counts: dict = {}
        self._seen: set = set()

    def add(self, ref_key, beg: int, end: int, vbeg: int, vend: int) -> None:
        if ref_key not in self._seen:
            self._seen.add(ref_key)
            self.ref_order.append(ref_key)
        self.counts[ref_key] = self.counts.get(ref_key, 0) + 1
        end = max(end, beg + 1)
        if end > self.max_end:
            self.max_end = end
        b = reg2bin(beg, end, self.min_shift, self.depth)
        key = (ref_key, b)
        chunks = self.bins.setdefault(key, [])
        if chunks and chunks[-1][1] == vbeg:
            chunks[-1] = (chunks[-1][0], vend)
        elif len(chunks) >= _AGG_CHUNK_CAP:
            # shard-local voffsets are monotone, so the first chunk's
            # start / new end form a valid covering extent
            chunks[:] = [(chunks[0][0], vend)]
        else:
            chunks.append((vbeg, vend))
        win_lo = beg >> _LINEAR_SHIFT
        win_hi = (end - 1) >> _LINEAR_SHIFT
        for w in range(win_lo, win_hi + 1):
            lk = (ref_key, w)
            cur = self.linear.get(lk)
            if cur is None or vbeg < cur:
                self.linear[lk] = vbeg

    def manifest(self) -> tuple[dict, dict, int, list, dict]:
        """Plain-data payload to return from the task (picklable,
        O(bins) + O(windows))."""
        return (self.bins, self.linear, self.max_end, self.ref_order,
                self.counts)


def merge_chunks(chunks: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Sort + coalesce overlapping/adjacent virtual-offset ranges."""
    out: list[tuple[int, int]] = []
    for vb, ve in sorted(chunks):
        if out and vb <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], ve))
        else:
            out.append((vb, ve))
    return out


def new_index(names: list[str], **meta) -> BinnedIndex:
    return BinnedIndex(names=names, refs=[_RefIndex() for _ in names], **meta)


# --- binary layouts --------------------------------------------------------
def _encode_refs(idx: BinnedIndex) -> bytes:
    """(14,5)-scheme ref blocks for .bai/.tbi, including htslib's
    metadata pseudo-bin 37450 per ref when stats are present: two
    pseudo-chunks (off_beg, off_end) and (n_mapped, n_unmapped) — the
    payload `samtools idxstats` reads without touching the BAM."""
    out = bytearray()
    for i, r in enumerate(idx.refs):
        meta = idx.meta.get(i)
        out += struct.pack("<i", len(r.bins) + (1 if meta else 0))
        for b in sorted(r.bins):
            chunks = r.bins[b]
            out += struct.pack("<Ii", b, len(chunks))
            for vb, ve in chunks:
                out += struct.pack("<QQ", vb, ve)
        if meta:
            off_beg, off_end, n_mapped, n_unmapped = meta
            out += struct.pack("<Ii4Q", 37450, 2, off_beg, off_end,
                               n_mapped, n_unmapped)
        out += struct.pack("<i", len(r.linear))
        for v in r.linear:
            out += struct.pack("<Q", v)
    return bytes(out)


def _decode_refs(
    data: bytes, off: int, n_ref: int, bin_limit: int = 37449
) -> tuple[list[_RefIndex], int, dict]:
    refs = []
    meta: dict = {}
    for i in range(n_ref):
        (n_bin,) = struct.unpack_from("<i", data, off)
        off += 4
        r = _RefIndex()
        for _ in range(n_bin):
            b, n_chunk = struct.unpack_from("<Ii", data, off)
            off += 8
            chunks = []
            for _ in range(n_chunk):
                vb, ve = struct.unpack_from("<QQ", data, off)
                off += 16
                chunks.append((vb, ve))
            if b >= bin_limit:
                # htslib metadata pseudo-bin: pseudo-chunks are stats,
                # not byte ranges — never merge them into the bin map
                if len(chunks) == 2:
                    meta[i] = (chunks[0][0], chunks[0][1],
                               chunks[1][0], chunks[1][1])
            else:
                r.bins[b] = chunks
        (n_intv,) = struct.unpack_from("<i", data, off)
        off += 4
        r.linear = [struct.unpack_from("<Q", data, off + 8 * i)[0] for i in range(n_intv)]
        off += 8 * n_intv
        refs.append(r)
    return refs, off, meta


def write_tbi(idx: BinnedIndex, path: str, fs=None) -> None:
    """Serialize as a tabix index (BGZF-wrapped, per the spec). The
    .tbi format is hard-wired to the (14, 5) scheme — deeper indexes
    must go through :func:`write_csi`."""
    if (idx.min_shift, idx.depth) != (14, 5):
        raise ValueError(".tbi cannot express a non-(14,5) binning; use write_csi")
    from adam_spark.sources import bgzf

    names_blob = b"".join(n.encode() + b"\x00" for n in idx.names)
    out = bytearray()
    out += b"TBI\x01"
    out += struct.pack(
        "<8i",
        len(idx.refs), idx.fmt, idx.col_seq, idx.col_beg, idx.col_end,
        idx.meta_char, idx.skip, len(names_blob),
    )
    out += names_blob
    out += _encode_refs(idx)
    if idx.n_no_coor is not None:
        out += struct.pack("<Q", idx.n_no_coor)
    bgzf.compress_to(path, bytes(out), fs=fs)


def read_tbi(path: str, fs=None) -> BinnedIndex:
    from adam_spark.sources import bgzf

    data = bgzf.decompress(path, fs)
    if data[:4] != b"TBI\x01":
        raise ValueError(f"{path} is not a tabix index")
    n_ref, fmt, col_seq, col_beg, col_end, meta_char, skip, l_nm = struct.unpack_from(
        "<8i", data, 4
    )
    off = 36
    names = [n.decode() for n in data[off : off + l_nm].split(b"\x00")[:-1]]
    off += l_nm
    refs, off, meta = _decode_refs(data, off, n_ref)
    n_no_coor = (
        struct.unpack_from("<Q", data, off)[0] if off + 8 <= len(data) else None
    )
    return BinnedIndex(
        names=names, refs=refs, fmt=fmt, col_seq=col_seq, col_beg=col_beg,
        col_end=col_end, meta_char=meta_char, skip=skip, meta=meta,
        n_no_coor=n_no_coor,
    )


def _bin_bot_window(b: int, depth: int) -> int:
    """Index of a bin's bottom-left leaf window (htslib
    ``hts_bin_bot``): the first min_shift-sized window the bin covers,
    counted in leaf units."""
    lvl = 0
    while lvl + 1 <= depth and _LEVEL_BASES[lvl + 1] <= b:
        lvl += 1
    return (b - _LEVEL_BASES[lvl]) << (3 * (depth - lvl))


def _csi_loffsets(r: _RefIndex, depth: int) -> dict[int, int]:
    """Per-bin loffsets with htslib semantics (``update_loff`` in
    hts.c): the forward-filled LINEAR-index value at each bin's
    bottom-left window — leading zeros filled from the ref's first
    chunk offset. This is a true pruning floor: the linear minimum
    covers records that OVERLAP the window from coarser (parent) bins,
    so a reader's ``max(vb, loffset)`` clamp never truncates a
    window-spanning record (the min-chunk-start-within-bin value the
    old writer used is NOT safe — r12 advice, high)."""
    if not r.linear:
        # no linear index (e.g. an index built only from a foreign CSI
        # read-back): 0 disables pruning rather than risking a floor
        # that discards parent-bin records
        return {b: 0 for b in r.bins}
    filled = list(r.linear)
    offset0 = min(
        (vb for chunks in r.bins.values() for vb, _ in chunks), default=0
    )
    prev = offset0
    for i, v in enumerate(filled):
        if v == 0:
            filled[i] = prev
        else:
            prev = v
    out = {}
    last = filled[-1] if filled else offset0
    for b in r.bins:
        w = _bin_bot_window(b, depth)
        out[b] = filled[w] if w < len(filled) else last
    return out


def write_csi(idx: BinnedIndex, path: str, tabix_aux: bool = False, fs=None) -> None:
    """Serialize as a CSIv1 index (BGZF-wrapped, per the hts-specs CSI
    layout), honoring the index's (min_shift, depth): the default
    (14, 5) numbering is IDENTICAL to the 5-level UCSC scheme, and a
    deeper index addresses contigs past 2^29 bp. Each bin's
    ``loffset`` carries htslib semantics (:func:`_csi_loffsets`) so
    both this module's ``chunks_for`` walk and foreign htslib readers
    prune safely. With ``tabix_aux`` the aux block carries the tabix
    column config + contig names (htslib's tbx layout — what ``tabix
    -C`` writes for text formats); plain BCF indexes leave aux empty
    (BCF carries contig names in its own header dictionary)."""
    from adam_spark.sources import bgzf

    if idx.min_shift != _LINEAR_SHIFT and any(r.linear for r in idx.refs):
        # the in-memory linear index is built at 16 kb windows; a
        # non-14 min_shift would misalign bottom windows
        raise ValueError(
            f"CSI loffsets need min_shift == {_LINEAR_SHIFT} when a "
            f"linear index is present (got {idx.min_shift})"
        )

    aux = b""
    if tabix_aux:
        names_blob = b"".join(n.encode() + b"\x00" for n in idx.names)
        aux = struct.pack(
            "<7i",
            idx.fmt, idx.col_seq, idx.col_beg, idx.col_end,
            idx.meta_char, idx.skip, len(names_blob),
        ) + names_blob
    out = bytearray()
    out += b"CSI\x01"
    out += struct.pack("<3i", idx.min_shift, idx.depth, len(aux))
    out += aux
    out += struct.pack("<i", len(idx.refs))
    meta_bin = idx.bin_limit + 1
    for i, r in enumerate(idx.refs):
        meta = idx.meta.get(i)
        loffsets = _csi_loffsets(r, idx.depth)
        out += struct.pack("<i", len(r.bins) + (1 if meta else 0))
        for b in sorted(r.bins):
            chunks = r.bins[b]
            out += struct.pack("<IQi", b, loffsets[b], len(chunks))
            for vb, ve in chunks:
                out += struct.pack("<QQ", vb, ve)
        if meta:
            off_beg, off_end, n_mapped, n_unmapped = meta
            out += struct.pack("<IQi4Q", meta_bin, 0, 2, off_beg, off_end,
                               n_mapped, n_unmapped)
    if idx.n_no_coor is not None:
        out += struct.pack("<Q", idx.n_no_coor)
    bgzf.compress_to(path, bytes(out), fs=fs)


def read_csi(path: str, fs=None) -> BinnedIndex:
    """Read a CSIv1 index written by :func:`write_csi` (any
    min_shift/depth). A tabix aux block, when present, supplies the
    column config + contig names. The linear index stays empty (CSI's
    per-bin ``loffset`` replaces it); ``chunks_for`` prunes chunk
    starts with the htslib loffset walk instead."""
    from adam_spark.sources import bgzf

    data = bgzf.decompress(path, fs)
    if data[:4] != b"CSI\x01":
        raise ValueError(f"{path} is not a CSI index")
    min_shift, depth, l_aux = struct.unpack_from("<3i", data, 4)
    names: list[str] = []
    meta: dict = {}
    if l_aux >= 28:
        fmt, col_seq, col_beg, col_end, meta_char, skip, l_nm = struct.unpack_from(
            "<7i", data, 16
        )
        if 0 <= l_nm <= l_aux - 28:
            names = [
                n.decode()
                for n in data[44 : 44 + l_nm].split(b"\x00")[:-1]
            ]
            meta = dict(
                fmt=fmt, col_seq=col_seq, col_beg=col_beg, col_end=col_end,
                meta_char=meta_char, skip=skip,
            )
    off = 16 + l_aux
    (n_ref,) = struct.unpack_from("<i", data, off)
    off += 4
    bin_limit = ((1 << (3 * (depth + 1))) - 1) // 7
    refs = []
    stats: dict = {}
    for i in range(n_ref):
        (n_bin,) = struct.unpack_from("<i", data, off)
        off += 4
        r = _RefIndex()
        for _ in range(n_bin):
            b, loffset, n_chunk = struct.unpack_from("<IQi", data, off)
            off += 16
            chunks = []
            for _ in range(n_chunk):
                vb, ve = struct.unpack_from("<QQ", data, off)
                off += 16
                chunks.append((vb, ve))
            if b >= bin_limit:
                # htslib metadata pseudo-bin — stats, not byte ranges
                if len(chunks) == 2:
                    stats[i] = (chunks[0][0], chunks[0][1],
                                chunks[1][0], chunks[1][1])
            else:
                r.bins[b] = chunks
                r.loffset[b] = loffset
        refs.append(r)
    n_no_coor = (
        struct.unpack_from("<Q", data, off)[0] if off + 8 <= len(data) else None
    )
    return BinnedIndex(
        names=names, refs=refs, min_shift=min_shift, depth=depth,
        meta=stats, n_no_coor=n_no_coor, **meta
    )


def write_bai(idx: BinnedIndex, path: str, fs=None) -> None:
    """Serialize as a .bai (plain binary, not BGZF-wrapped)."""
    from adam_spark.sources.filesystem import get_fs

    fs, path = get_fs(path, fs)
    out = bytearray()
    out += b"BAI\x01"
    out += struct.pack("<i", len(idx.refs))
    out += _encode_refs(idx)
    if idx.n_no_coor is not None:
        out += struct.pack("<Q", idx.n_no_coor)
    f = fs.open_write(path)
    try:
        f.write(bytes(out))
    finally:
        f.close()


def read_bai(path: str, fs=None) -> BinnedIndex:
    if fs is None:
        from adam_spark.sources.filesystem import LocalFileSystem

        fs = LocalFileSystem()
    with fs.open_read(path) as f:
        data = f.read()
    if data[:4] != b"BAI\x01":
        raise ValueError(f"{path} is not a .bai index")
    (n_ref,) = struct.unpack_from("<i", data, 4)
    refs, off, meta = _decode_refs(data, 8, n_ref)
    n_no_coor = (
        struct.unpack_from("<Q", data, off)[0] if off + 8 <= len(data) else None
    )
    return BinnedIndex(names=[], refs=refs, meta=meta, n_no_coor=n_no_coor)


def split_chunks_contiguous(
    chunks: list[tuple[int, int]], n_tasks: int
) -> list[list[tuple[int, int]]]:
    """Partition an ordered chunk list into ≤ ``n_tasks`` CONTIGUOUS
    runs balanced by compressed byte size — task i holds a slice, not a
    stride, so concatenating partitions in index order reproduces file
    order (round-robin interleaved rows across tasks; order-sensitive
    single-file saves downstream would reorder records). Greedy fill to
    the mean task size; a giant chunk takes a task alone."""
    if not chunks:
        return []
    n_tasks = max(1, n_tasks)
    total = sum((ve >> 16) - (vb >> 16) + 1 for vb, ve in chunks)
    target = max(1, total // n_tasks)
    out: list[list[tuple[int, int]]] = [[]]
    acc = 0
    for vb, ve in chunks:
        size = (ve >> 16) - (vb >> 16) + 1
        if out[-1] and acc + size > target and len(out) < n_tasks:
            out.append([])
            acc = 0
        out[-1].append((vb, ve))
        acc += size
    return out
