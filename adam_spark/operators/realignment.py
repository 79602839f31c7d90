"""Local indel realignment.

Mirrors the reference's RealignIndels pipeline
(ds/read/realignment/RealignIndels.scala:35-745,
RealignmentTargetFinder.scala:27-126, algorithms/consensus/*):

1. **Target finding** — candidate regions from per-read evidence
   (indel reference spans from the CIGAR, mismatch positions from the
   MD tag), merged when overlapping, dropped when longer than
   ``max_target_size``. Evidence extraction is one Arrow-batched UDF
   per read; interval merging is the relational run-length pattern
   (window cummax over per-contig start order).
2. **Read→target mapping** — broadcast overlap join; a read overlapping
   several targets goes to the LEFTMOST (the reference's
   TargetOrdering choice, RealignIndels.scala:79-125).
3. **Per-target realignment** — ``groupBy(target).applyInPandas``:
   reconstruct the local reference from the reads' MD tags
   (getReferenceFromReads), generate consensus sequences from observed
   indels (ConsensusGeneratorFromReads) — or from known indel variants
   (ConsensusGeneratorFromKnowns + IndelTable) or from per-read local
   Smith-Waterman realignments (ConsensusGeneratorFromSmithWaterman +
   algorithms/smithwaterman/*, numpy row-sweep DP here) — cap at
   ``max_consensus_number`` by observation frequency, sweep every read
   over every consensus for its minimum quality-weighted mismatch sum
   (sweepReadOverReferenceForQuality:617-651 — numpy sliding-window
   vectorized here), pick the best consensus, and only if the LOD
   improvement ``(before-after)/10`` exceeds ``lod_threshold`` rewrite
   start/end/CIGAR/MD and bump mappingQuality by 10
   (realignTargetGroup:278-440).

Skew note (RealignIndels.scala:126-180): groups are keyed by target id;
empty-target reads bypass the shuffle entirely (union after), which is
the dominant volume — matching the reference's no-op spreading intent.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from adam_spark.functions.cigar import (
    aligned_pairs,
    cigar_reference_length,
    md_from_reference,
    parse_cigar,
    reference_from_read,
    walk_md,
)

PHRED_OFFSET = 33


# --------------------------------------------------------------------------
# 1. target finding
# --------------------------------------------------------------------------

def find_realignment_targets(
    reads: DataFrame,
    max_indel_size: int = 500,
    max_target_size: int = 3000,
    extra_targets: DataFrame | None = None,
) -> DataFrame:
    """Merged realignment target READ ranges (referenceName, start, end)
    — reference semantics end to end:

    - a read contributes a target only when its cigar carries EXACTLY
      ONE indel within ``max_indel_size``; the target's variation is
      that indel's reference span and its read range is the alignment
      span. No-indel and multi-indel reads contribute nothing — their
      empty targets are filtered (IndelRealignmentTarget.apply,
      IndelRealignmentTarget.scala:84-120; findTargets
      ``filter(!_.isEmpty)``, RealignmentTargetFinder.scala:110-113).
    - read-range-sorted targets chain-merge while one side's VARIATION
      overlaps the other's read range, hulling both ranges
      (TargetOrdering.overlap :69-72 + merge :164-176).
    - merged targets whose read range exceeds ``max_target_size`` drop
      entirely (findTargets :121-124).

    Pinned on the reference's own fixtures: artificial.sam merges to
    ONE target; the NA12878.1_922305 insertion pile realigns 41 reads
    at lodThreshold=0 (tests/test_reference_goldens.py).

    ``extra_targets``: optional (referenceName, start, end) regions to
    union in before merging — the knowns model's ``targetsToAdd``
    (ConsensusGeneratorFromKnowns.scala:31-60); each is its own
    variation+read range.

    Scale shape: the single-indel extraction is a narrow Catalyst
    aggregate over cigar tokens (no MD parsing, no UDF); the chain
    merge runs per contig in applyInPandas over the (tiny) single-indel
    target set — the reference itself folds the whole TargetSet
    sequentially into one in-memory TreeSet."""
    import pandas as pd

    tok = F.expr(r"regexp_extract_all(cigar, '(\\d+[MIDNSHP=X])', 1)")
    acc0 = F.struct(
        F.col("start").cast("long").alias("pos"),
        F.lit(0).alias("n"),
        F.lit(None).cast("long").alias("vs"),
        F.lit(None).cast("long").alias("ve"),
    )

    def _step(acc, t):
        ln = F.regexp_extract(t, r"^(\d+)", 1).cast("long")
        op = F.regexp_extract(t, r"([MIDNSHP=X])$", 1)
        gated = ln <= F.lit(max_indel_size)
        is_i = (op == "I") & gated
        is_d = (op == "D") & gated
        return F.struct(
            (
                acc["pos"]
                + F.when(op.isin("M", "D", "N", "=", "X"), ln).otherwise(F.lit(0))
            ).alias("pos"),
            (acc["n"] + F.when(is_i | is_d, 1).otherwise(0)).alias("n"),
            F.when(is_i | is_d, acc["pos"]).otherwise(acc["vs"]).alias("vs"),
            F.when(is_i, acc["pos"] + 1)
            .when(is_d, acc["pos"] + ln)
            .otherwise(acc["ve"])
            .alias("ve"),
        )

    agg = F.aggregate(tok, acc0, _step)
    per_read = (
        reads.where(
            F.coalesce(F.col("readMapped"), F.lit(False))
            & F.col("cigar").isNotNull()
            & F.col("start").isNotNull()
            & F.col("end").isNotNull()
        )
        .select(
            "referenceName",
            F.col("start").cast("long").alias("rr_start"),
            F.col("end").cast("long").alias("rr_end"),
            agg.alias("__a"),
        )
        .where(F.col("__a")["n"] == 1)
        .select(
            "referenceName",
            "rr_start",
            "rr_end",
            F.col("__a")["vs"].alias("v_start"),
            F.col("__a")["ve"].alias("v_end"),
        )
        .distinct()
    )
    if extra_targets is not None:
        per_read = per_read.unionByName(
            extra_targets.select(
                "referenceName",
                F.col("start").cast("long").alias("rr_start"),
                F.col("end").cast("long").alias("rr_end"),
                F.col("start").cast("long").alias("v_start"),
                F.col("end").cast("long").alias("v_end"),
            )
        ).distinct()

    def _merge(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["rr_start", "rr_end"])
        out: list[list[int]] = []
        cur: list[int] | None = None
        for r in pdf.itertuples(index=False):
            if cur is None:
                cur = [r.rr_start, r.rr_end, r.v_start, r.v_end]
                continue
            # TargetOrdering.overlap: running VARIATION hull vs incoming
            # read range, or incoming variation vs running read-range hull
            o1 = cur[2] < r.rr_end and r.rr_start < cur[3]
            o2 = r.v_start < cur[1] and cur[0] < r.v_end
            if o1 or o2:
                cur[0] = min(cur[0], r.rr_start)
                cur[1] = max(cur[1], r.rr_end)
                cur[2] = min(cur[2], r.v_start)
                cur[3] = max(cur[3], r.v_end)
            else:
                out.append(cur)
                cur = [r.rr_start, r.rr_end, r.v_start, r.v_end]
        if cur is not None:
            out.append(cur)
        keep = [
            (key[0], a, b) for a, b, _, _ in out if b - a <= max_target_size
        ]
        return pd.DataFrame(keep, columns=["referenceName", "start", "end"])

    return per_read.groupBy("referenceName").applyInPandas(
        _merge, "referenceName string, start long, end long"
    )


# --------------------------------------------------------------------------
# consensus generators: Smith-Waterman local alignment + known indels
# --------------------------------------------------------------------------

#: (wMatch, wMismatch, wInsert, wDelete) — the reference API takes these
#: explicitly (ConsensusGenerator.fromReadsWithSmithWaterman:72-80);
#: these defaults are the classic 1 / −1/3 / −2 SW weights
SW_DEFAULT_WEIGHTS = (1.0, -1.0 / 3.0, -2.0, -2.0)


def smith_waterman(
    read: str,
    ref: str,
    w_match: float = SW_DEFAULT_WEIGHTS[0],
    w_mismatch: float = SW_DEFAULT_WEIGHTS[1],
    w_insert: float = SW_DEFAULT_WEIGHTS[2],
    w_delete: float = SW_DEFAULT_WEIGHTS[3],
) -> tuple[str, int, int]:
    """Local Smith-Waterman with constant gap scores.

    Semantics mirror the reference's SW stack
    (algorithms/smithwaterman/SmithWatermanConstantGapScoring.scala:28-60,
    SmithWatermanGapScoringFromFn.scala buildScoringMatrix,
    SmithWaterman.scala trackback): clamp-at-zero local DP, move priority
    match ≥ read-gap ≥ ref-gap, traceback from the LAST maximal cell.
    Returns (cigar, read_start, ref_start) of the aligned block — cigar
    ops are M/I/D over the aligned span only (callers add soft clips for
    unaligned read tails).

    The matrix fills in O(read_len) vectorized numpy rows: the in-row
    deletion dependency ``H[i][j] = max(…, H[i][j-1]+wDel)`` is a
    max-plus prefix scan, so each row is one ``maximum.accumulate``.
    """
    L, R = len(read), len(ref)
    if L == 0 or R == 0:
        return "", 0, 0
    x = np.frombuffer(read.upper().encode(), dtype=np.uint8)
    y = np.frombuffer(ref.upper().encode(), dtype=np.uint8)
    H = np.zeros((L + 1, R + 1), dtype=np.float64)
    jidx = np.arange(1, R + 1, dtype=np.float64)
    for i in range(1, L + 1):
        sub = np.where(y == x[i - 1], w_match, w_mismatch)
        cand = np.maximum(H[i - 1, :-1] + sub, H[i - 1, 1:] + w_insert)
        # row[j] = max(0, cand[j], row[j-1] + wDelete)  (j = 1..R)
        t = cand - jidx * w_delete
        row = np.maximum.accumulate(t) + jidx * w_delete
        H[i, 1:] = np.maximum(row, 0.0)
    best = H.max()
    if best <= 0:
        return "", 0, 0
    cells = np.argwhere(H == best)  # row-major: last entry = max i, then j
    i, j = (int(v) for v in cells[-1])
    ops: list[str] = []
    while i > 0 and j > 0 and H[i, j] > 0:
        m = H[i - 1, j - 1] + (w_match if x[i - 1] == y[j - 1] else w_mismatch)
        d = H[i - 1, j] + w_insert
        ins = H[i, j - 1] + w_delete
        if m >= d and m >= ins and m > 0:
            ops.append("M")
            i -= 1
            j -= 1
        elif d >= ins and d > 0:
            ops.append("I")
            i -= 1
        elif ins > 0:
            ops.append("D")
            j -= 1
        else:
            break
    ops.reverse()
    cig = []
    for op in ops:
        if cig and cig[-1][1] == op:
            cig[-1][0] += 1
        else:
            cig.append([1, op])
    return "".join(f"{n}{op}" for n, op in cig), i, j


def _sw_realign_rows(rows: list[dict], ref: str, ref_start: int, weights) -> list[dict]:
    """SW-preprocess reads for consensus generation
    (ConsensusGeneratorFromSmithWaterman.scala:33-76): realign each read
    locally; when the realignment has ≤ 2 match blocks (i.e. at most one
    consolidated indel), adopt the new cigar/start for consensus finding."""
    out = []
    for r in rows:
        seq = r.get("sequence")
        if not seq:
            out.append(r)
            continue
        cig, xs, ys = smith_waterman(seq, ref, *weights)
        if not cig:
            out.append(r)
            continue
        blocks = sum(1 for _, op in parse_cigar(cig) if op == "M")
        indels = sum(1 for _, op in parse_cigar(cig) if op in "ID")
        read_consumed = sum(n for n, op in parse_cigar(cig) if op in "MI")
        if blocks <= 2 and indels <= 1:
            suffix = len(seq) - xs - read_consumed
            full = (f"{xs}S" if xs else "") + cig + (f"{suffix}S" if suffix else "")
            r2 = dict(r)
            r2["start"] = ref_start + ys
            r2["cigar"] = full
            out.append(r2)
        else:
            out.append(r)
    return out


def known_indels_table(variants) -> dict[str, list[tuple[int, str, int, str]]]:
    """Driver-side indel table from known variants
    (models/IndelTable.scala:58-78): contig → [(ref_pos, op, length,
    bases)]. ``variants``: DataFrame or iterable of rows with
    (referenceName, start, referenceAllele, alternateAllele); only
    length-changing variants contribute."""
    rows = variants.collect() if hasattr(variants, "collect") else variants
    table: dict[str, list[tuple[int, str, int, str]]] = {}
    for v in rows:
        ra, aa = v["referenceAllele"] or "", v["alternateAllele"] or ""
        if len(ra) == len(aa):
            continue
        # only prefix-anchored alleles describe a pure indel (VCF
        # normalization guarantees this for biallelic indels); a complex
        # substitution like AT>G has no single (pos, op, len) model and
        # would produce a consensus matching no real allele
        if not (aa.startswith(ra) or ra.startswith(aa)):
            continue
        start = int(v["start"])
        if len(aa) > len(ra):  # insertion after the anchor bases
            cons = (start + len(ra), "I", len(aa) - len(ra), aa[len(ra):])
        else:  # deletion of the unmatched reference span
            cons = (start + len(aa), "D", len(ra) - len(aa), "")
        table.setdefault(v["referenceName"], []).append(cons)
    return table


def _known_consensus(
    table: dict, contig: str, ref_start: int, ref_end: int, max_n: int
) -> list[tuple[int, str, int, str]]:
    """Known-indel consensuses overlapping [ref_start, ref_end)
    (ConsensusGeneratorFromKnowns.findConsensus + IndelTable
    .getIndelsInRegion), in group-local coordinates."""
    out = []
    for pos, op, n, bases in table.get(contig, []):
        # deletion consensus spans [pos, pos+len+1) — one base past the
        # deleted run (Consensus.scala:68-71; IndelTableSuite pins
        # ACAT>A at 50 → index [51, 55))
        span = n + 1 if op == "D" else 1
        if pos < ref_end and pos + span > ref_start:
            out.append((pos - ref_start, op, n, bases))
    return out[:max_n]


# --------------------------------------------------------------------------
# 3. per-target realignment kernel (pure python/numpy, runs in applyInPandas)
# --------------------------------------------------------------------------


def _local_reference(rows: list[dict], ref_start: int, ref_end: int) -> str:
    """Reconstruct the reference over [ref_start, ref_end) from the
    reads' MD tags (getReferenceFromReads semantics)."""
    buf = np.full(ref_end - ref_start, ord("N"), dtype=np.uint8)
    for r in rows:
        md = r.get("mismatchingPositions")
        if not md:
            continue
        try:
            ref = reference_from_read(r["cigar"], md, r["sequence"])
        except Exception:
            continue
        # place per cigar op: M/=/X/D consume both ref-string chars and
        # reference positions, N consumes positions but contributes no
        # chars (reference_from_read omits the intron) — a contiguous
        # write would shift every post-intron base left by the N span
        ref_pos = int(r["start"])
        seg_off = 0
        for n, op in parse_cigar(r["cigar"]):
            if op in "M=XD":
                seg = np.frombuffer(ref[seg_off : seg_off + n].encode(), dtype=np.uint8)
                off = ref_pos - ref_start
                lo = max(0, off)
                hi = min(len(buf), off + len(seg))
                if hi > lo:
                    buf[lo:hi] = seg[lo - off : hi - off]
                seg_off += n
                ref_pos += n
            elif op == "N":
                ref_pos += n
            # I/S/H/P consume no reference
    return buf.tobytes().decode()


def _consensus_candidates(rows: list[dict], ref_start: int, max_n: int):
    """Observed-indel consensus set: (pos_in_ref, op, length, bases),
    capped by frequency (ConsensusGeneratorFromReads + cap logic)."""
    seen: Counter = Counter()
    for r in rows:
        cig = parse_cigar(r["cigar"])
        indels = [(i, n, op) for i, (n, op) in enumerate(cig) if op in "ID"]
        if len(indels) != 1:
            continue
        idx, n, op = indels[0]
        ref_off = int(r["start"]) - ref_start
        read_off = 0
        for j, (m, o) in enumerate(cig):
            if j == idx:
                break
            if o in "M=X":
                ref_off += m
                read_off += m
            elif o in "IS":
                read_off += m
            elif o in "DN":
                ref_off += m
        if op == "I":
            bases = r["sequence"][read_off : read_off + n]
            seen[(ref_off, "I", n, bases)] += 1
        else:
            seen[(ref_off, "D", n, "")] += 1
    return [c for c, _ in seen.most_common(max_n)]


def _apply_consensus(ref: str, cons) -> str:
    pos, op, n, bases = cons
    if pos < 0 or pos > len(ref):
        return ref
    if op == "I":
        return ref[:pos] + bases + ref[pos:]
    return ref[:pos] + ref[pos + n :]


def _sweep(seq: bytes, quals: np.ndarray, consensus: bytes, original: int):
    """Min quality-weighted mismatch sum over all offsets
    (sweepReadOverReferenceForQuality): returns (score, offset) with
    offset −1 when no placement beats the original score."""
    L, C = len(seq), len(consensus)
    if C < L:
        return original, -1
    cons = np.frombuffer(consensus, dtype=np.uint8)
    read = np.frombuffer(seq, dtype=np.uint8)
    windows = np.lib.stride_tricks.sliding_window_view(cons, L)
    mism = windows != read
    scores = (mism * quals).sum(axis=1)
    best = int(scores.argmin())
    if scores[best] <= original:
        return int(scores[best]), best
    return original, -1


def _mismatch_quality(r: dict, ref: str, ref_start: int) -> int:
    """Quality-weighted mismatches of the read at its current alignment
    (sumMismatchQuality over aligned bases)."""
    total = 0
    seq = r["sequence"]
    quals = r.get("qualityScores") or ""
    for ab in aligned_pairs(r["cigar"], int(r["start"])):
        p = ab.ref_pos - ref_start
        if 0 <= p < len(ref) and seq[ab.read_idx].upper() != ref[p].upper():
            total += (ord(quals[ab.read_idx]) - PHRED_OFFSET) if ab.read_idx < len(quals) else 30
    return total


def _new_cigar(read_len: int, offset: int, cons, ref_start: int):
    """Start + CIGAR for a read placed at ``offset`` in the consensus
    (cigarAndCoordinates semantics, simplified to untrimmed reads)."""
    pos, op, n, _ = cons
    if op == "I":
        ins_start, ins_end = pos, pos + n
        read_start_c, read_end_c = offset, offset + read_len
        if read_start_c >= ins_end:
            return ref_start + offset - n, f"{read_len}M"
        if read_end_c <= ins_start:
            return ref_start + offset, f"{read_len}M"
        before = max(0, ins_start - read_start_c)
        inside = min(read_end_c, ins_end) - max(read_start_c, ins_start)
        after = read_len - before - inside
        parts = []
        if before:
            parts.append(f"{before}M")
        if inside:
            parts.append(f"{inside}I")
        if after:
            parts.append(f"{after}M")
        if read_start_c < ins_start:
            start = ref_start + offset
        else:
            # read begins INSIDE the insertion: its first reference-
            # consuming base sits exactly at the insertion anchor, not
            # offset - n (which over-shifts by the insertion bases that
            # lie left of the read)
            start = ref_start + ins_start
        return start, "".join(parts)
    else:  # deletion
        del_pos = pos
        read_start_c, read_end_c = offset, offset + read_len
        if read_end_c <= del_pos or read_start_c >= del_pos:
            # read does not span the deletion point in consensus coords:
            # plain match, shifted when right of the deletion
            start = ref_start + offset + (n if read_start_c >= del_pos else 0)
            return start, f"{read_len}M"
        before = del_pos - read_start_c
        after = read_len - before
        return ref_start + offset, f"{before}M{n}D{after}M"


def _clip_spans(cigar: str) -> tuple[int, int, int, int]:
    """(lead_H, lead_S, tail_S, tail_H) base counts of a cigar's clip
    runs (order per SAM: H may only flank S, S may only flank the core)."""
    cg = parse_cigar(cigar)
    lead_h = lead_s = tail_s = tail_h = 0
    i, j = 0, len(cg)
    if i < j and cg[i][1] == "H":
        lead_h = cg[i][0]
        i += 1
    if i < j and cg[i][1] == "S":
        lead_s = cg[i][0]
        i += 1
    if i < j and cg[j - 1][1] == "H":
        tail_h = cg[j - 1][0]
        j -= 1
    if i < j and cg[j - 1][1] == "S":
        tail_s = cg[j - 1][0]
        j -= 1
    return lead_h, lead_s, tail_s, tail_h


def realign_group(
    rows: list[dict],
    lod_threshold: float,
    max_consensus_number: int,
    unclip_reads: bool = False,
    consensus_model: str = "reads",
    known_table: dict | None = None,
    sw_weights: tuple = SW_DEFAULT_WEIGHTS,
) -> list[dict]:
    """Realign one target group; returns the (possibly rewritten) rows.

    ``consensus_model``: ``"reads"`` (observed indels,
    ConsensusGeneratorFromReads), ``"sw"`` (reads are first locally
    SW-realigned to consolidate indel blocks, then the reads model runs
    on the rewritten alignments — ConsensusGeneratorFromSmithWaterman),
    ``"knowns"`` (candidates come from the broadcast known-indel
    table — ConsensusGeneratorFromKnowns), or ``"union"`` (knowns +
    observed candidates concatenated, dedup-preserving-order —
    ConsensusGenerator.union / UnionConsensusGenerator.scala:38-56)."""
    mapped = [r for r in rows if r.get("readMapped") and r.get("cigar") and r.get("sequence")]
    if len(mapped) < 2:
        return rows
    ref_start = min(int(r["start"]) for r in mapped)
    ref_end = max(int(r["end"]) for r in mapped)
    if ref_end - ref_start > 100_000:
        return rows
    ref = _local_reference(mapped, ref_start, ref_end)
    if consensus_model == "knowns":
        consensus = _known_consensus(
            known_table or {}, mapped[0]["referenceName"], ref_start, ref_end,
            max_consensus_number,
        )
    elif consensus_model == "union":
        known = _known_consensus(
            known_table or {}, mapped[0]["referenceName"], ref_start, ref_end,
            max_consensus_number,
        )
        observed = _consensus_candidates(mapped, ref_start, max_consensus_number)
        seen: set = set()
        consensus = [
            c for c in known + observed if not (c in seen or seen.add(c))
        ][:max_consensus_number]
    elif consensus_model == "sw":
        pre = _sw_realign_rows(mapped, ref, ref_start, sw_weights)
        consensus = _consensus_candidates(pre, ref_start, max_consensus_number)
    else:
        consensus = _consensus_candidates(mapped, ref_start, max_consensus_number)
    if not consensus:
        return rows

    before = [_mismatch_quality(r, ref, ref_start) for r in mapped]
    total_before = sum(before)

    quals_arr = [
        np.array(
            [ord(c) - PHRED_OFFSET for c in (r.get("qualityScores") or "")], dtype=np.int64
        )
        if r.get("qualityScores")
        else np.full(len(r["sequence"]), 30, dtype=np.int64)
        for r in mapped
    ]
    seqs = [r["sequence"].upper().encode() for r in mapped]
    # clip bookkeeping: soft clips are PRESERVED (only the aligned core
    # sweeps against the consensus, S runs re-attach afterwards) unless
    # unclip_reads=True re-aligns the clipped bases too (reference:
    # RealignIndels unclipReads); hard clips always survive in the cigar
    clip = [_clip_spans(r["cigar"]) for r in mapped]
    if unclip_reads:
        core = [(0, len(r["sequence"])) for r in mapped]
    else:
        core = [
            (ls, len(mapped[i]["sequence"]) - ls - ts)
            for i, (_lh, ls, ts, _th) in enumerate(clip)
        ]
        seqs = [seqs[i][ls : ls + n] for i, (ls, n) in enumerate(core)]
        quals_arr = [quals_arr[i][ls : ls + n] for i, (ls, n) in enumerate(core)]

    best = None  # (total, cons, offsets)
    for cons in consensus:
        cseq = _apply_consensus(ref, cons).upper().encode()
        total = 0
        offsets = []
        for i, r in enumerate(mapped):
            score, off = _sweep(seqs[i], quals_arr[i], cseq, before[i])
            total += score
            offsets.append(off)
        if best is None or total < best[0]:
            best = (total, cons, offsets)

    total_after, cons, offsets = best
    lod = (total_before - total_after) / 10.0
    if lod <= lod_threshold:
        return rows

    out = []
    for i, r in enumerate(mapped):
        off = offsets[i]
        ls, core_len = core[i]
        if off == -1 or core_len <= 0:
            out.append(r)
            continue
        new_start, core_cigar = _new_cigar(core_len, off, cons, ref_start)
        lh, _ls, ts, th = clip[i]
        pieces = []
        if lh:
            pieces.append(f"{lh}H")
        if ls:
            pieces.append(f"{ls}S")
        pieces.append(core_cigar)
        if core_len < len(r["sequence"]) - ls and ts:
            pieces.append(f"{ts}S")
        if th:
            pieces.append(f"{th}H")
        new_cigar = "".join(pieces)
        new_end = new_start + cigar_reference_length(new_cigar)
        if new_end <= new_start:
            out.append(r)
            continue
        r2 = dict(r)
        r2["start"] = new_start
        r2["end"] = new_end
        r2["cigar"] = new_cigar
        r2["mappingQuality"] = (r.get("mappingQuality") or 0) + 10
        # recompute MD against the ORIGINAL reference at the new position
        ref_off = new_start - ref_start
        ref_len = cigar_reference_length(new_cigar)
        if 0 <= ref_off and ref_off + ref_len <= len(ref):
            md, _ = md_from_reference(new_cigar, r["sequence"], ref[ref_off : ref_off + ref_len])
            r2["mismatchingPositions"] = md
        out.append(r2)
    mapped_ids = {id(r) for r in mapped}
    out.extend(r for r in rows if id(r) not in mapped_ids)
    return out


# --------------------------------------------------------------------------
# 2. + orchestration
# --------------------------------------------------------------------------


def realign_indels(
    reads: DataFrame,
    targets: DataFrame | None = None,
    lod_threshold: float = 5.0,
    max_consensus_number: int = 30,
    max_indel_size: int = 500,
    max_target_size: int = 3000,
    max_reads_per_target: int = 20_000,
    consensus_model: str = "reads",
    known_indels: DataFrame | None = None,
    sw_weights: tuple = SW_DEFAULT_WEIGHTS,
    unclip_reads: bool = False,
) -> DataFrame:
    """AlignmentDataset.realignIndels as a DataFrame operator.

    ``consensus_model`` selects the candidate generator (see
    :func:`realign_group`); passing ``known_indels`` (a variants frame
    with referenceName/start/referenceAllele/alternateAllele) implies
    the knowns model and also unions the known-indel regions into the
    target set (targetsToAdd, ConsensusGeneratorFromKnowns.scala:48-60).
    The known-indel table is tiny (a dimension), so it rides to the
    executors inside the kernel closure — the DataFrame analogue of the
    reference's ``indelTable`` broadcast."""
    known_table: dict = {}
    if known_indels is not None:
        if consensus_model == "reads":
            consensus_model = "knowns"
        known_table = known_indels_table(known_indels)
        if targets is None:
            spark = reads.sparkSession
            extra_rows = [
                # deletion consensus index spans len+1 (Consensus.scala:68-71)
                (contig, pos, pos + (n + 1 if op == "D" else 1))
                for contig, entries in known_table.items()
                for (pos, op, n, _b) in entries
            ]
            extra = spark.createDataFrame(
                extra_rows, "referenceName string, start long, end long"
            )
            targets = find_realignment_targets(
                reads, max_indel_size, max_target_size, extra_targets=extra
            )
    if targets is None:
        targets = find_realignment_targets(reads, max_indel_size, max_target_size)
    t = targets.select(
        F.col("referenceName").alias("__t_ref"),
        F.col("start").alias("__t_start"),
        F.col("end").alias("__t_end"),
    ).withColumn(
        "__t_id",
        F.concat_ws(":", F.col("__t_ref"), F.col("__t_start"), F.col("__t_end")),
    )
    # Bin both sides so the read→target mapping compiles to a
    # BroadcastHashJoin on (referenceName, bin) instead of a broadcast
    # nested loop — the DataFrame analogue of the reference's broadcast
    # binary search (RealignIndels.scala:79-180): per read, probe only
    # the targets in its bins, not the whole target list. Reads
    # straddling a bin boundary appear once per bin; the leftmost-
    # target row_number below collapses them back to one row.
    from adam_spark.operators.region_join import _bins, _pin_row_order

    # Split FIRST: unmapped/coordinate-less reads must pass through
    # untouched (explode on a null bins array silently drops rows), and
    # only coordinate-bearing reads belong in the target join at all.
    elig_cond = (
        F.coalesce(F.col("readMapped"), F.lit(False))
        & F.col("referenceName").isNotNull()
        & F.col("start").isNotNull()
        & F.col("end").isNotNull()
    )
    # row ids branch into the matched subtree AND the anti-join recovery
    # below — pin shuffle-rooted lineages so both observe the same ids
    eligible = _pin_row_order(reads.where(elig_cond)).withColumn(
        "__row_id", F.monotonically_increasing_id()
    )
    passthrough = reads.where(~elig_cond)

    bin_size = max(max_target_size, 1)
    reads_keyed = eligible.withColumn(
        "__bin", F.expr(f"explode({_bins('`start`', '`end`', bin_size)})")
    )
    t_binned = t.withColumn(
        "__bin", F.expr(f"explode({_bins('__t_start', '__t_end', bin_size)})")
    )
    # INNER join: the no-target majority never enters the join output,
    # so the leftmost-target window below exchanges only reads that
    # actually overlap a target — the empty-target bulk of a 100 TB
    # dataset stays exchange-free (it is recovered via the anti-join on
    # the slim matched-id set, which AQE broadcasts when small)
    matched = reads_keyed.join(
        F.broadcast(t_binned),
        (F.col("referenceName") == F.col("__t_ref"))
        & (reads_keyed["__bin"] == t_binned["__bin"])
        & (F.col("start") < F.col("__t_end"))
        & (F.col("__t_start") < F.col("end")),
        "inner",
    ).drop("__bin")
    # leftmost target per read (TargetOrdering); also collapses the
    # per-bin duplicates of matched pairs
    order_w = Window.partitionBy("__row_id").orderBy(F.col("__t_start").asc())
    matched = (
        matched.withColumn("__rn", F.row_number().over(order_w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    with_target = matched.drop("__t_ref", "__t_start", "__t_end", "__row_id")
    without_target = eligible.join(
        matched.select("__row_id").distinct(), "__row_id", "left_anti"
    ).drop("__row_id")

    out_schema = reads.schema

    def _realign(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.drop(columns=["__t_id"])
        rows = pdf.to_dict("records")

        def _nn(v):
            # NaN→None for scalars only: pandas delivers ArrayType
            # columns as np.ndarray, where pd.isna is elementwise and
            # `if pd.isna(v)` would raise
            if v is None or isinstance(v, (str, list, dict, bytes, np.ndarray)):
                return v
            try:
                return None if pd.isna(v) else v
            except (TypeError, ValueError):
                return v

        rows = [{k: _nn(v) for k, v in r.items()} for r in rows]
        if len(rows) > max_reads_per_target:
            result = rows
        else:
            result = realign_group(
                rows,
                lod_threshold,
                max_consensus_number,
                unclip_reads=unclip_reads,
                consensus_model=consensus_model,
                known_table=known_table,
                sw_weights=sw_weights,
            )
        return pd.DataFrame(result, columns=[f.name for f in out_schema.fields], dtype=object).where(
            lambda d: pd.notna(d), None
        )

    realigned = with_target.groupBy("__t_id").applyInPandas(_realign, schema=out_schema)
    cols = [f.name for f in out_schema.fields]
    return realigned.unionByName(without_target.select(cols)).unionByName(
        passthrough.select(cols)
    )
