"""The ``pipe`` operator: run an external tool over genome-binned data.

Mirrors GenomicDataset.pipe (GenomicDataset.scala:786-917): partition
records into genome bins (GenomeBins :806-835), pad each bin by
``flank`` so boundary-spanning analyses see context, run one subprocess
per bin feeding records in a text format (InFormatter :875-883), parse
stdout back into records (OutFormatter), and drop flank-duplicated
outputs by keeping only rows whose start falls inside the bin's own
span (:897-916). ``$0``..``$N`` tokens in the command expand to shipped
file paths (:95-121).

Spark mapping: ``groupBy(bin).applyInPandas`` — one Arrow-batched
subprocess per bin, records sorted by position within the bin. Bins are
global-genome coordinates (contig offsets from the sequence dictionary)
so bin count ≈ requested parallelism regardless of contig skew.
"""

from __future__ import annotations

import os
import shlex
import subprocess
import threading
from collections.abc import Callable, Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from adam_spark import schemas
from adam_spark.core.genomic_frame import GenomicFrame

# --- text formatters (InFormatter/OutFormatter analogues) -----------------


def _sam_header(meta) -> list[str]:
    lines = ["@HD\tVN:1.6\tSO:coordinate"]
    for r in meta.references.references:
        lines.append(f"@SQ\tSN:{r.name}" + (f"\tLN:{r.length}" if r.length else ""))
    for g in meta.read_groups:
        lines.append(f"@RG\tID:{g.id}" + (f"\tSM:{g.sampleId}" if g.sampleId else ""))
    return lines


def _sam_flag(row: dict) -> int:
    f = 0
    if row.get("readPaired"):
        f |= 0x1
    if row.get("properPair"):
        f |= 0x2
    if not row.get("readMapped"):
        f |= 0x4
    if row.get("readPaired") and row.get("mateMapped") is False:
        f |= 0x8
    if row.get("readNegativeStrand"):
        f |= 0x10
    if row.get("mateNegativeStrand"):
        f |= 0x20
    if row.get("readPaired") and row.get("readInFragment") == 0:
        f |= 0x40
    if row.get("readPaired") and row.get("readInFragment") == 1:
        f |= 0x80
    if row.get("secondaryAlignment"):
        f |= 0x100
    if row.get("failedVendorQualityChecks"):
        f |= 0x200
    if row.get("duplicateRead"):
        f |= 0x400
    if row.get("supplementaryAlignment"):
        f |= 0x800
    return f


def _n(v):
    """NaN/None-safe accessor (pandas to_dict yields NaN for nulls)."""
    try:
        if v is None or pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    return v


def _sam_in(row: dict) -> str:
    mate_ref = _n(row.get("mateReferenceName"))
    rnext = "=" if mate_ref and mate_ref == _n(row.get("referenceName")) else (mate_ref or "*")
    start = _n(row.get("start"))
    mate_start = _n(row.get("mateAlignmentStart"))
    return "\t".join(
        [
            _n(row.get("readName")) or "*",
            str(_sam_flag(row)),
            _n(row.get("referenceName")) or "*",
            str(int(start) + 1 if start is not None else 0),
            str(int(_n(row.get("mappingQuality")) or 0)),
            _n(row.get("cigar")) or "*",
            rnext,
            str(int(mate_start) + 1 if mate_start is not None else 0),
            str(int(_n(row.get("insertSize")) or 0)),
            _n(row.get("sequence")) or "*",
            _n(row.get("qualityScores")) or "*",
        ]
    )


def _sam_out(line: str) -> dict | None:
    if not line or line.startswith("@"):
        return None
    t = line.rstrip("\n").split("\t")
    if len(t) < 11:
        return None
    flag = int(t[1])
    mapped = not (flag & 0x4)
    start = int(t[3]) - 1 if t[3] != "0" else None
    from adam_spark.functions.cigar import cigar_reference_length

    return {
        "readName": t[0] if t[0] != "*" else None,
        "referenceName": t[2] if (mapped and t[2] != "*") else None,
        "start": start if mapped else None,
        "end": (start + cigar_reference_length(t[5])) if (mapped and t[5] != "*" and start is not None) else None,
        "mappingQuality": int(t[4]) if mapped else None,
        "cigar": t[5] if t[5] != "*" else None,
        "sequence": t[9] if t[9] != "*" else None,
        "qualityScores": t[10] if t[10] != "*" else None,
        "readPaired": bool(flag & 0x1),
        "properPair": bool(flag & 0x2),
        "readMapped": mapped,
        "mateMapped": (not (flag & 0x8)) if (flag & 0x1) else None,
        "readNegativeStrand": bool(flag & 0x10),
        "mateNegativeStrand": bool(flag & 0x20) if (flag & 0x1) else None,
        "primaryAlignment": not (flag & 0x100) and not (flag & 0x800),
        "secondaryAlignment": bool(flag & 0x100),
        "supplementaryAlignment": bool(flag & 0x800),
        "failedVendorQualityChecks": bool(flag & 0x200),
        "duplicateRead": bool(flag & 0x400),
        "readInFragment": 0 if (flag & 0x40) else (1 if (flag & 0x80) else 0),
    }


def _bed_in(row: dict) -> str:
    score = _n(row.get("score"))
    return "\t".join(
        [
            _n(row.get("referenceName")) or ".",
            str(int(_n(row.get("start")) or 0)),
            str(int(_n(row.get("end")) or 0)),
            _n(row.get("name")) or ".",
            str(score) if score is not None else ".",
            {"FORWARD": "+", "REVERSE": "-", "INDEPENDENT": "."}.get(_n(row.get("strand")), "?"),
        ]
    )


def _bed_out(line: str) -> dict | None:
    if not line or line.startswith(("#", "track", "browser")):
        return None
    t = line.rstrip("\n").split("\t")
    if len(t) < 3:
        return None
    strand = {"+": "FORWARD", "-": "REVERSE", ".": "INDEPENDENT", "?": "UNKNOWN"}.get(
        t[5] if len(t) > 5 else ".", None
    )
    return {
        "referenceName": t[0],
        "start": int(t[1]),
        "end": int(t[2]),
        "name": t[3] if len(t) > 3 and t[3] != "." else None,
        "score": float(t[4]) if len(t) > 4 and t[4] != "." else None,
        "strand": strand,
    }


def _fastq_in(row: dict) -> str:
    name = _n(row.get("readName")) or _n(row.get("name")) or "*"
    seq = _n(row.get("sequence")) or ""
    qual = _n(row.get("qualityScores")) or "B" * len(seq)
    return f"@{name}\n{seq}\n+\n{qual}"


def _fastq_out_block(lines: list[str]) -> list[dict]:
    """4-line FASTQ records → READ rows (reference FASTQ piping:
    interleaved_fastq_sample*.ifq golden tests)."""
    out = []
    rec: list[str] = []
    for line in lines:
        if not line:
            continue
        rec.append(line.rstrip("\n"))
        if len(rec) == 4:
            name = rec[0][1:] if rec[0].startswith("@") else rec[0]
            out.append(
                {
                    "name": name.split(" ")[0] or None,
                    "sequence": rec[1] or None,
                    "length": len(rec[1]),
                    "qualityScores": rec[3] or None,
                    "alphabet": "DNA",
                }
            )
            rec = []
    return out


# Features.gatherAttributes / assignAttributes (Features.scala:125-212)
# mirrored row-side so piped GFF3/GTF carry the same attribute surface as
# the file savers (the reference pipes through the very same
# toGff3/toGtf formatters)
_FEATURE_ATTR_SCALARS = [
    ("ID", "featureId"), ("Name", "name"), ("Target", "target"),
    ("Gap", "gap"), ("Derives_from", "derivesFrom"),
    ("gene_id", "geneId"), ("transcript_id", "transcriptId"),
    ("exon_id", "exonId"), ("protein_id", "proteinId"),
    ("sampleId", "sampleId"),
]
_FEATURE_ATTR_LISTS = [
    ("Alias", "aliases"), ("Note", "notes"), ("Parent", "parentIds"),
    ("Dbxref", "dbxrefs"), ("Ontology_term", "ontologyTerms"),
]


def _gather_feature_attrs(row: dict) -> list[tuple[str, str]]:
    out = []
    for key, field in _FEATURE_ATTR_SCALARS[:5]:
        if _n(row.get(field)) is not None:
            out.append((key, str(row[field])))
    if row.get("circular") is not None:
        out.append(("Is_circular", "true" if row["circular"] else "false"))
    for key, field in _FEATURE_ATTR_SCALARS[5:]:
        if _n(row.get(field)) is not None:
            out.append((key, str(row[field])))
    for key, field in _FEATURE_ATTR_LISTS:
        vals = row.get(field)
        # Arrow hands list columns over as numpy arrays, which are not
        # truthy — compare against None explicitly
        for v in (vals if vals is not None else []):
            out.append((key, v))
    attrs = row.get("attributes")
    for k in sorted(attrs if attrs is not None else {}):
        out.append((k, attrs[k]))
    return out


def _assign_feature_attrs(entries: list[tuple[str, str]]) -> dict:
    scalars = {k: f for k, f in _FEATURE_ATTR_SCALARS}
    lists = {k: f for k, f in _FEATURE_ATTR_LISTS}
    out: dict = {"attributes": {}}
    for k, v in entries:
        if k in scalars:
            out[scalars[k]] = v
        elif k in lists:
            out.setdefault(lists[k], []).append(v)
        elif k == "Is_circular":
            out["circular"] = v.lower() == "true"
        else:
            out["attributes"][k] = v
    return out


def _gff3_in(row: dict) -> str:
    score = _n(row.get("score"))
    attrs = [f"{k}={v}" for k, v in _gather_feature_attrs(row)]
    return "\t".join(
        [
            _n(row.get("referenceName")) or ".",
            _n(row.get("source")) or ".",
            _n(row.get("featureType")) or ".",
            str(int(_n(row.get("start")) or 0) + 1),
            str(int(_n(row.get("end")) or 0)),
            str(score) if score is not None else ".",
            {"FORWARD": "+", "REVERSE": "-", "INDEPENDENT": "."}.get(_n(row.get("strand")), "?"),
            ".",
            ";".join(attrs) or ".",
        ]
    )


def _gff3_out(line: str) -> dict | None:
    if not line or line.startswith("#"):
        return None
    t = line.rstrip("\n").split("\t")
    if len(t) < 8:
        return None
    entries = []
    if len(t) > 8 and t[8] != ".":
        for kv in t[8].split(";"):
            if "=" in kv:
                k, v = kv.split("=", 1)
                entries.append((k.strip(), v))
    return {
        "referenceName": t[0] if t[0] != "." else None,
        "source": t[1] if t[1] != "." else None,
        "featureType": t[2] if t[2] != "." else None,
        "start": int(t[3]) - 1,
        "end": int(t[4]),
        "score": float(t[5]) if t[5] != "." else None,
        "strand": {"+": "FORWARD", "-": "REVERSE", ".": "INDEPENDENT", "?": "UNKNOWN"}.get(t[6]),
        **_assign_feature_attrs(entries),
    }


def _gtf_in(row: dict) -> str:
    score = _n(row.get("score"))
    attrs = [f'{k} "{v}";' for k, v in _gather_feature_attrs(row)]
    return "\t".join(
        [
            _n(row.get("referenceName")) or ".",
            _n(row.get("source")) or ".",
            _n(row.get("featureType")) or ".",
            str(int(_n(row.get("start")) or 0) + 1),
            str(int(_n(row.get("end")) or 0)),
            str(score) if score is not None else ".",
            {"FORWARD": "+", "REVERSE": "-", "INDEPENDENT": "."}.get(_n(row.get("strand")), "?"),
            ".",
            " ".join(attrs) or ".",
        ]
    )


def _gtf_out(line: str) -> dict | None:
    if not line or line.startswith("#"):
        return None
    t = line.rstrip("\n").split("\t")
    if len(t) < 8:
        return None
    entries = []
    if len(t) > 8 and t[8] != ".":
        import re as _re

        for m in _re.finditer(r'([^\s"]+)\s+"([^"]+)"', t[8]):
            entries.append((m.group(1), m.group(2)))
    return {
        "referenceName": t[0] if t[0] != "." else None,
        "source": t[1] if t[1] != "." else None,
        "featureType": t[2] if t[2] != "." else None,
        "start": int(t[3]) - 1,
        "end": int(t[4]),
        "score": float(t[5]) if t[5] != "." else None,
        "strand": {"+": "FORWARD", "-": "REVERSE", ".": "INDEPENDENT", "?": "UNKNOWN"}.get(t[6]),
        **_assign_feature_attrs(entries),
    }


def _narrowpeak_in(row: dict) -> str:
    score = _n(row.get("score"))
    return "\t".join(
        [
            _n(row.get("referenceName")) or ".",
            str(int(_n(row.get("start")) or 0)),
            str(int(_n(row.get("end")) or 0)),
            _n(row.get("name")) or ".",
            str(int(score)) if score is not None else "0",
            {"FORWARD": "+", "REVERSE": "-", "INDEPENDENT": "."}.get(_n(row.get("strand")), "?"),
            "-1",
            "-1",
            "-1",
            "-1",
        ]
    )


def _narrowpeak_out(line: str) -> dict | None:
    d = _bed_out(line)
    return d


def _vcf_header(meta) -> list[str]:
    lines = ["##fileformat=VCFv4.2"]
    for r in meta.references.references:
        lines.append(
            f"##contig=<ID={r.name}" + (f",length={r.length}>" if r.length else ">")
        )
    lines.append("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO")
    return lines


def _vcf_in(row: dict) -> str:
    names = _n(row.get("names"))
    qual = _n(row.get("quality"))
    applied = _n(row.get("filtersApplied"))
    passed = _n(row.get("filtersPassed"))
    failed = _n(row.get("filtersFailed"))
    # failed-filter NAMES, not a made-up 'FAIL' token (reference
    # VCFInFormatter emits the actual filters; filter-aware tools reject
    # undeclared names)
    filt = (
        "."
        if not applied
        else (
            "PASS"
            if passed
            else (";".join(failed) if failed is not None and len(failed) else "FAIL")
        )
    )
    return "\t".join(
        [
            _n(row.get("referenceName")) or ".",
            str(int(_n(row.get("start")) or 0) + 1),
            ";".join(names) if names is not None and len(names) else ".",
            _n(row.get("referenceAllele")) or ".",
            _n(row.get("alternateAllele")) or ".",
            str(qual) if qual is not None else ".",
            filt,
            ".",
        ]
    )


def _vcf_out(line: str) -> dict | None:
    if not line or line.startswith("#"):
        return None
    t = line.rstrip("\n").split("\t")
    if len(t) < 8:
        return None
    ref = t[3] if t[3] != "." else None
    return {
        "referenceName": t[0] if t[0] != "." else None,
        "start": int(t[1]) - 1,
        "end": int(t[1]) - 1 + (len(ref) if ref else 1),
        "names": t[2].split(";") if t[2] != "." else None,
        "referenceAllele": ref,
        "alternateAllele": t[4] if t[4] != "." else None,
        "quality": float(t[5]) if t[5] != "." else None,
        "filtersApplied": t[6] != ".",
        "filtersPassed": t[6] == "PASS" if t[6] != "." else None,
    }


def _fasta_in(row: dict) -> str:
    name = _n(row.get("name")) or "*"
    desc = _n(row.get("description"))
    header = f">{name}" + (f" {desc}" if desc else "")
    seq = _n(row.get("sequence")) or ""
    wrapped = "\n".join(seq[i : i + 60] for i in range(0, len(seq), 60)) or ""
    return f"{header}\n{wrapped}" if wrapped else header


def _fasta_out_block(lines: list[str]) -> list[dict]:
    out = []
    name, desc, chunks = None, None, []

    def flush():
        if name is not None:
            seq = "".join(chunks)
            out.append(
                {
                    "name": name,
                    "description": desc,
                    "sequence": seq or None,
                    "length": len(seq),
                    "alphabet": "DNA",
                }
            )

    for line in lines:
        line = line.rstrip("\n")
        if line.startswith(">"):
            flush()
            head = line[1:].split(" ", 1)
            name, desc, chunks = head[0], head[1] if len(head) > 1 else None, []
        elif line:
            chunks.append(line)
    flush()
    return out


def _frag_reads(row: dict) -> list[dict]:
    """First ≤2 alignments of a fragment, in readInFragment order
    (Tab5InFormatter.scala:62-76: 'More than two reads … taking first 2')."""
    aligns = row.get("alignments")
    reads = [] if aligns is None else list(aligns)
    reads.sort(key=lambda r: (r.get("readInFragment") or 0))
    return reads[:2]


def _trim_suffix(name: str | None) -> str:
    n = name or "*"
    return n[:-2] if n.endswith(("/1", "/2")) else n


def _read_sq(r: dict) -> tuple[str, str]:
    seq = _n(r.get("sequence")) or ""
    qual = _n(r.get("qualityScores")) or "B" * len(seq)
    return seq, qual


def _tab5_in(row: dict) -> str:
    """Bowtie tab5: unpaired '[name]\\t[seq]\\t[qual]'; paired
    '[name]\\t[seq1]\\t[qual1]\\t[seq2]\\t[qual2]' with the first
    read's suffix-trimmed name (Tab5InFormatter.scala:44-80)."""
    reads = _frag_reads(row)
    if not reads:
        return ""
    name = _trim_suffix(_n(row.get("name")) or _n(reads[0].get("readName")))
    parts = [name]
    for r in reads:
        seq, qual = _read_sq(r)
        parts += [seq, qual]
    return "\t".join(parts)


def _tab6_in(row: dict) -> str:
    """Bowtie tab6: '[name1]\\t[seq1]\\t[qual1]\\t[name2]\\t[seq2]\\t
    [qual2]' with /1,/2 suffixes (Tab6InFormatter.scala)."""
    reads = _frag_reads(row)
    if not reads:
        return ""
    base = _trim_suffix(_n(row.get("name")) or _n(reads[0].get("readName")))
    parts = []
    for i, r in enumerate(reads):
        seq, qual = _read_sq(r)
        name = f"{base}/{i + 1}" if len(reads) == 2 else base
        parts += [name, seq, qual]
    return "\t".join(parts)


def _ifq_in(row: dict) -> str:
    """Interleaved FASTQ: r1 then r2 4-line records with /1,/2
    suffixes (InterleavedFASTQInFormatter.scala)."""
    reads = _frag_reads(row)
    base = _trim_suffix(_n(row.get("name")) or (_n(reads[0].get("readName")) if reads else "*"))
    blocks = []
    for i, r in enumerate(reads):
        seq, qual = _read_sq(r)
        suffix = f"/{i + 1}" if len(reads) == 2 else ""
        blocks.append(f"@{base}{suffix}\n{seq}\n+\n{qual}")
    return "\n".join(blocks)


FORMATTERS: dict[str, tuple] = {
    # name -> (format_row, parse_line_or_None, parse_block_or_None,
    #          out_schema, header_fn_or_None, out_kind)
    # (reference formatter inventory: SURVEY §2.9 — SAM/BAM, FASTQ,
    #  VCF, BED/GTF/GFF3/NarrowPeak, FASTA)
    "sam": (_sam_in, _sam_out, None, schemas.ALIGNMENT, _sam_header, "alignment"),
    # binary BAM on the subprocess stdin (reference BAMInFormatter,
    # ds/read/BAMInFormatter.scala:32) — rows format as SAM lines, then
    # the bin runner encodes header+records to one BGZF BAM stream.
    # Input-only: tools that READ BAM usually still WRITE text (view,
    # flagstat, callers) — read results back with out_format="sam"
    # (or "any_sam" if the tool might answer in BAM)
    "bam": (_sam_in, None, None, schemas.ALIGNMENT, _sam_header, "alignment"),
    # sniffing SAM/BAM output parser (reference AnySAMOutFormatter,
    # ds/read/AnySAMOutFormatter.scala:32): the subprocess stdout is
    # captured as BYTES and dispatched on magic — BGZF/gzip members are
    # inflated, a BAM\x01 stream decodes via the BAM record codec,
    # anything else parses as text SAM. Usable on the in-side too
    # (formats rows as SAM text, like the reference's AnySAMInFormatter)
    "any_sam": (_sam_in, _sam_out, None, schemas.ALIGNMENT, _sam_header, "alignment"),
    "bed": (_bed_in, _bed_out, None, schemas.FEATURE, None, "feature"),
    "gff3": (_gff3_in, _gff3_out, None, schemas.FEATURE, None, "feature"),
    "gtf": (_gtf_in, _gtf_out, None, schemas.FEATURE, None, "feature"),
    "narrowpeak": (_narrowpeak_in, _narrowpeak_out, None, schemas.FEATURE, None, "feature"),
    "fastq": (_fastq_in, None, _fastq_out_block, schemas.READ, None, "read"),
    "vcf": (_vcf_in, _vcf_out, None, schemas.VARIANT, _vcf_header, "variant"),
    "fasta": (_fasta_in, None, _fasta_out_block, schemas.SEQUENCE, None, "sequence"),
    # fragment in-formatters (input-only, like the reference's — piped
    # INTO aligners; results come back as SAM via out_format="sam")
    "tab5": (_tab5_in, None, None, schemas.FRAGMENT, None, "fragment"),
    "tab6": (_tab6_in, None, None, schemas.FRAGMENT, None, "fragment"),
    "ifq": (_ifq_in, None, None, schemas.FRAGMENT, None, "fragment"),
}


#: in-formatters whose stdin is a BINARY stream, not text lines
BINARY_IN_FORMATS = {"bam"}


def _bam_stdin_bytes(
    header_lines: list[str],
    body_lines: list[str],
    bam_refs: list[tuple[str, int]],
    ref_index: dict[str, int],
) -> bytes:
    """SAM text (header + records) → one complete BAM byte stream
    (BGZF-compressed, EOF-terminated) for a subprocess stdin. Reuses the
    save_bam record encoder so piped bytes and written files agree."""
    from adam_spark.sources import bgzf
    from adam_spark.sources.bam import bam_header_bytes, sam_line_to_bam_record

    raw = bytearray(bam_header_bytes(header_lines, bam_refs))
    for line in body_lines:
        raw += sam_line_to_bam_record(line, ref_index)
    return bgzf.compress_blocks(bytes(raw))[0] + bgzf.EOF


def _run_subprocess_raw(
    cmd: list[str], data: bytes, env: dict | None, timeout: float | None,
    on_timeout: str = "error",
) -> bytes:
    """Binary twin of ``_run_subprocess``: feeds raw bytes, returns raw
    stdout (same concurrent-drain + kill-on-timeout discipline)."""
    proc = subprocess.Popen(
        cmd,
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        env={**os.environ, **(env or {})},
    )
    try:
        out, _ = proc.communicate(input=data, timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        if on_timeout == "drop":
            # the reference's optTimeout semantics (GenomicDataset.pipe;
            # AlignmentDatasetSuite "lose all/some records when a
            # command times out"): the bin's records drop silently
            return b""
        raise RuntimeError(f"piped command {cmd!r} timed out after {timeout}s")
    if proc.returncode != 0:
        raise RuntimeError(f"piped command {cmd!r} exited with {proc.returncode}")
    return out


def _sniff_sam_lines(out: bytes) -> list[str]:
    """AnySAMOutFormatter dispatch (AnySAMOutFormatter.scala:32): BGZF/
    gzip members inflate first; a BAM\\x01 stream decodes through the
    BAM record codec; anything else is text SAM."""
    import zlib

    if out[:2] == b"\x1f\x8b":
        raw = bytearray()
        off = 0
        while off < len(out):
            d = zlib.decompressobj(wbits=31)
            raw += d.decompress(out[off:])
            tail = len(d.unused_data)
            if tail == len(out) - off:  # no progress — corrupt trailer
                break
            off = len(out) - tail
        out = bytes(raw)
    if out[:4] == b"BAM\x01":
        from adam_spark.sources.bam import bam_bytes_to_sam

        header_lines, records = bam_bytes_to_sam(out)
        return list(header_lines) + list(records)
    return out.decode().splitlines()


def _run_subprocess(
    cmd: list[str], lines: Iterable[str], env: dict | None, timeout: float | None,
    on_timeout: str = "error",
) -> list[str]:
    proc = subprocess.Popen(
        cmd,
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        env={**os.environ, **(env or {})},
        text=True,
    )
    # communicate() drains both pipes concurrently (no feed/read
    # deadlock) AND enforces the timeout on the whole exchange — a bare
    # stdout.read() would block forever on a hung tool before any
    # wait(timeout) ran, and a TimeoutExpired must kill the child rather
    # than leak it
    data = "".join(line + "\n" for line in lines)
    try:
        out, _ = proc.communicate(input=data, timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        if on_timeout == "drop":
            return []  # reference optTimeout semantics: bin drops
        raise RuntimeError(f"piped command {cmd!r} timed out after {timeout}s")
    if proc.returncode != 0:
        raise RuntimeError(f"piped command {cmd!r} exited with {proc.returncode}")
    return out.splitlines()


def pipe(
    gf: GenomicFrame,
    cmd: str | list[str],
    in_format: str = "sam",
    out_format: str | None = None,
    flank: int = 0,
    partitions: int | None = None,
    environment: dict | None = None,
    timeout: float | None = None,
    files: list[str] | None = None,
    on_timeout: str = "error",
) -> GenomicFrame:
    """Run ``cmd`` once per genome bin over the formatted records.

    ``files`` are shipped to executors via ``sc.addFile`` and referenced
    in ``cmd`` as ``$0..$N`` (resolved executor-side with
    ``SparkFiles.get``). Two caveats of that mechanism: basenames must
    be unique (enforced with a ValueError — SparkFiles has a flat
    namespace), and addFile caches per SparkContext, so re-piping a
    MODIFIED file under an unchanged name within one context serves the
    stale first-added copy — ship changed content under a new name.
    """
    # binary in-formatters default the OUTPUT side to text SAM (tools
    # that read BAM emit text); everything else round-trips its own format
    out_format = out_format or ("sam" if in_format in BINARY_IN_FORMATS else in_format)
    fmt_row, _, _, _, header_fn, _ = FORMATTERS[in_format]
    _, parse_line, parse_block, out_schema, _, out_kind = FORMATTERS[out_format]
    if parse_line is None and parse_block is None:
        raise ValueError(
            f"format {out_format!r} is input-only (no parser); pass "
            "out_format='sam' (or another parseable format) for the results"
        )
    binary_in = in_format in BINARY_IN_FORMATS
    sniff_out = out_format == "any_sam"

    cmd_list = shlex.split(cmd) if isinstance(cmd, str) else list(cmd)
    # $0..$N token substitution for SHIPPED files (GenomicDataset.scala:
    # 95-121): files are distributed to every executor via sc.addFile —
    # substituting the driver-local path would break the moment an
    # executor doesn't share the driver's filesystem — and the tokens
    # resolve executor-side through SparkFiles.get
    file_tokens: dict[str, str] = {}
    if files:
        # SparkFiles resolves by BASENAME only: two shipped files with
        # the same basename from different directories would collide
        # (addFile raises, or one silently shadows the other), so
        # reject the ambiguity up front. Note also that addFile caches
        # per SparkContext — re-piping a MODIFIED file under an
        # unchanged name within one context serves the stale
        # first-added copy; ship changed content under a new name.
        basenames = [os.path.basename(f) for f in files]
        dupes = {b for b in basenames if basenames.count(b) > 1}
        if dupes:
            raise ValueError(
                "pipe(files=...) ships files by basename via "
                f"sc.addFile; duplicate basenames {sorted(dupes)} would "
                "collide executor-side — rename the inputs so every "
                "basename is unique"
            )
        sc = gf.df.sparkSession.sparkContext
        for i, f in enumerate(files):
            sc.addFile(f)
            file_tokens[f"${i}"] = os.path.basename(f)

    df = gf.df
    n_bins = partitions or df.sparkSession.sparkContext.defaultParallelism
    # global-genome bin layout from the sequence dictionary
    refs = gf.meta.references.references
    offsets: dict[str, int] = {}
    total = 0
    for r in refs:
        offsets[r.name] = total
        total += r.length or 0
    if total == 0:
        # no dictionary: fall back to per-contig bins
        offsets = {}
        bin_size = None
    else:
        bin_size = max(1, (total + n_bins - 1) // n_bins)

    header = header_fn(gf.meta) if header_fn else []
    meta = gf.meta
    # driver-side precompute for the binary BAM stdin path: slim tuples,
    # not the metadata object, ship in the task closure
    bam_refs = [(r.name, r.length or 0) for r in refs] if binary_in else None
    bam_ref_index = {name: i for i, (name, _l) in enumerate(bam_refs or [])}

    if bin_size is not None:
        off_map = F.create_map(
            *[x for name, off in offsets.items() for x in (F.lit(name), F.lit(off))]
        )
        gpos = off_map.getItem(F.col("referenceName")) + F.col("start")
        gend = off_map.getItem(F.col("referenceName")) + F.col("end")
        lo = F.floor((gpos - F.lit(flank)) / bin_size).cast("int")
        hi = F.floor((gend - 1 + F.lit(flank)) / bin_size).cast("int")
        # null coordinates / contigs missing from the dictionary cannot
        # bin — explode(null) would silently DROP those records; they
        # ride a dedicated bin instead (the own-bin filter passes
        # coordinate-less output through)
        bins = F.sequence(F.greatest(lo, F.lit(0)), F.greatest(hi, F.lit(0)))
        binned = df.withColumn(
            "__bin",
            F.explode(F.coalesce(bins, F.array(F.lit(-1).cast("int")))),
        )
    else:
        # no genome bin layout: spread by contig when locatable, else by
        # record identity (unlocatable kinds — reads/sequences — have no
        # flank semantics, so any even spread is correct)
        if "referenceName" in df.columns:
            key = F.abs(F.hash(F.col("referenceName")))
        elif "name" in df.columns:
            key = F.abs(F.hash(F.col("name")))
        else:
            key = F.monotonically_increasing_id()
        binned = df.withColumn("__bin", key % F.lit(n_bins))

    out_fields = [f.name for f in out_schema.fields]
    result_schema = out_schema

    bin_size_b = bin_size
    offsets_b = offsets
    # The own-bin output filter must run even at flank=0: a record whose
    # span crosses a bin boundary is copied into every bin it overlaps
    # (context for the subprocess), and only the copy starting inside
    # the bin may emit output (reference: GenomicDataset.scala:897-916).
    keep_all = bin_size is None

    def _run_bin(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        (bin_id,) = key
        sort_cols = [c for c in ("referenceName", "start", "name") if c in pdf.columns]
        if sort_cols:
            pdf = pdf.sort_values(sort_cols, na_position="last", kind="mergesort")
        rows = pdf.to_dict("records")
        # formatters return '' for unrepresentable rows (e.g. a fragment
        # with no alignments in tab5/tab6) — a blank stdin line would
        # abort most tools mid-stream
        body = [ln for ln in (fmt_row(r) for r in rows) if ln != ""]
        if file_tokens:
            from pyspark import SparkFiles

            resolved = {t: SparkFiles.get(b) for t, b in file_tokens.items()}
            resolved["$root"] = SparkFiles.getRootDirectory()
            cmd_run = [resolved.get(tok, tok) for tok in cmd_list]
        else:
            cmd_run = cmd_list
        if binary_in or sniff_out:
            if binary_in:
                data = _bam_stdin_bytes(header, body, bam_refs, bam_ref_index)
            else:
                data = ("".join(ln + "\n" for ln in header + body)).encode()
            raw_out = _run_subprocess_raw(cmd_run, data, environment, timeout,
                                          on_timeout)
            out_lines = (
                _sniff_sam_lines(raw_out) if sniff_out else raw_out.decode().splitlines()
            )
        else:
            out_lines = _run_subprocess(cmd_run, header + body, environment,
                                        timeout, on_timeout)
        if parse_block is not None:
            parsed = parse_block(out_lines)
        else:
            parsed = [p for p in (parse_line(l) for l in out_lines) if p is not None]
        if not keep_all:
            lo_pos = bin_id * bin_size_b
            hi_pos = lo_pos + bin_size_b

            def _own(p):
                if p.get("referenceName") is None or p.get("start") is None:
                    return True
                g = offsets_b.get(p["referenceName"], 0) + p["start"]
                return lo_pos <= g < hi_pos

            parsed = [p for p in parsed if _own(p)]
        out = pd.DataFrame(parsed, columns=out_fields, dtype=object)
        return out.where(pd.notna(out), None)

    piped = binned.groupBy("__bin").applyInPandas(_run_bin, schema=result_schema)
    new_meta = meta.copy()
    new_meta.kind = out_kind or meta.kind
    return GenomicFrame(piped, new_meta)
