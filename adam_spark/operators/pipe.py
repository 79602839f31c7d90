"""The ``pipe`` operator: run an external tool over genome-binned data.

Mirrors GenomicDataset.pipe (GenomicDataset.scala:786-917): partition
records into genome bins (GenomeBins :806-835), pad each bin by
``flank`` so boundary-spanning analyses see context, run one subprocess
per bin feeding records in a text format (InFormatter :875-883), parse
stdout back into records (OutFormatter), and drop flank-duplicated
outputs by keeping only rows whose start falls inside the bin's own
span (:897-916). ``$0``..``$N`` tokens in the command expand to shipped
file paths (:95-121).

Like the reference, which pipes through the formatters its savers and
loaders use (e.g. VCFInFormatter.scala:57), every format round-trips
through its file codec in ``sources/``: records render to text lines
with the saver's expression, and each bin's stdout parses as one text
file with the loader's expression, both in Catalyst. Only the fragment
in-formats tab5, tab6 and ifq are pipe-specific (SQL over the
``alignments`` array below).

Spark mapping: ``groupBy(bin).applyInPandas`` over (bin, sort keys,
line) — one Arrow-batched subprocess per bin, lines sorted by position
within the bin, answering (bin, line number, line). Bins are
global-genome coordinates (contig offsets from the sequence dictionary)
so bin count ≈ requested parallelism regardless of contig skew.
"""

from __future__ import annotations

import os
import shlex
import signal
import subprocess
from functools import partial

import pandas as pd

from adam_spark import schemas
from adam_spark.core.genomic_frame import GenomicFrame
from adam_spark.operators.conversions import variants_to_variant_contexts
from adam_spark.schemas import sql_ident, sql_literal
from adam_spark.sources import fasta, fastq, features_io, sam, vcf

# --- fragment in-formats (pipe-only: Tab5/Tab6/InterleavedFASTQ
#     InFormatter) ------------------------------------------------------


def _fragment_reads(df) -> str:
    """SQL: a fragment's first ≤2 reads in readInFragment order
    (Tab5InFormatter.scala:62-76: 'More than two reads … taking first
    2') as (readName, seq, qual) structs; a missing quality string
    becomes a B-run the length of the sequence. Read fields the
    ``alignments`` element type lacks are NULL."""
    have = set(df.schema["alignments"].dataType.elementType.fieldNames())

    def fld(name: str, typ: str) -> str:
        return f"__a.{name}" if name in have else f"CAST(NULL AS {typ})"

    seq = f"coalesce({fld('sequence', 'STRING')}, '')"
    return (
        "slice(array_sort(transform(alignments, __a -> named_struct("
        f"'readName', {fld('readName', 'STRING')}, "
        f"'rif', coalesce({fld('readInFragment', 'INT')}, 0), "
        f"'seq', {seq}, "
        f"'qual', coalesce(nullif({fld('qualityScores', 'STRING')}, ''),"
        f" repeat('B', length({seq}))))), "
        "(__l, __r) -> __l.rif - __r.rif), 1, 2)"
    )


#: SQL per fragment in-format over ``__r`` (the reads), ``__n`` (their
#: count) and ``__base`` (the suffix-trimmed fragment name); '' marks a
#: fragment with nothing to send
_FRAGMENT_SQL = {
    # Bowtie tab5: unpaired '[name]\t[seq]\t[qual]'; paired
    # '[name]\t[seq1]\t[qual1]\t[seq2]\t[qual2]' (Tab5InFormatter.scala:44-80)
    "tab5": "CASE WHEN __n > 0 THEN concat_ws('\\t', __base,"
    " flatten(transform(__r, __x -> array(__x.seq, __x.qual)))) ELSE '' END",
    # Bowtie tab6: '[name1]\t[seq1]\t[qual1]\t[name2]\t[seq2]\t[qual2]'
    # with /1,/2 suffixes (Tab6InFormatter.scala)
    "tab6": "CASE WHEN __n > 0 THEN concat_ws('\\t', flatten(transform(__r,"
    " (__x, __i) -> array(CASE WHEN __n = 2 THEN concat(__base, '/',"
    " CAST(__i + 1 AS STRING)) ELSE __base END, __x.seq, __x.qual))))"
    " ELSE '' END",
    # interleaved FASTQ: r1 then r2 4-line records with /1,/2 suffixes
    # (InterleavedFASTQInFormatter.scala)
    "ifq": "array_join(transform(__r, (__x, __i) -> concat('@', __base,"
    " CASE WHEN __n = 2 THEN concat('/', CAST(__i + 1 AS STRING)) ELSE '' END,"
    " '\\n', __x.seq, '\\n+\\n', __x.qual)), '\\n')",
}


def _fragment_lines(fmt: str, df, keep=()):
    """Fragment rows → ``fmt`` records (column ``value``, after the
    ``keep`` columns)."""
    name = "name" if "name" in df.columns else "CAST(NULL AS STRING)"
    keep = [sql_ident(k) for k in keep]
    return (
        df.selectExpr(*keep, f"{_fragment_reads(df)} AS __r", f"{name} AS __name")
        .selectExpr(
            *keep, "__r", "coalesce(size(__r), 0) AS __n",
            # the fragment name, else the first read's, minus a /1 or /2
            "regexp_replace(coalesce(nullif(__name, ''),"
            " nullif(try_element_at(__r, 1).readName, ''), '*'), '/[12]$', '')"
            " AS __base",
        )
        .selectExpr(*keep, f"{_FRAGMENT_SQL[fmt]} AS value")
    )


# --- the format table ----------------------------------------------------


def _sam_header(gf: GenomicFrame) -> list[str]:
    return sam.sam_header_lines(gf.meta, sort_order="coordinate")


def _as_contexts(df):
    # VariantDataset.toVariantContexts: a VARIANT-kind frame gains a
    # null genotypes column; a variant-context frame passes through
    if "variant" in df.columns:
        return df
    return variants_to_variant_contexts(schemas.conform(df, schemas.VARIANT))


def _as(schema):
    return lambda df: schemas.conform(df, schema)


def _same(df):
    return df


def _lines(render):
    """A saver-side renderer of (df, keep) as a (frame, keep) one."""
    return lambda gf, keep: render(gf.df, keep)


_ALIGNMENT_IN = (_as(schemas.ALIGNMENT), _lines(sam.sam_body_lines), _sam_header)
_FEATURE = _as(schemas.FEATURE)

#: in-format -> (input frame → codec input frame, (frame, keep) → text
#: lines after the ``keep`` columns, frame → header lines, or None)
#: (reference formatter inventory: SURVEY §2.9 — SAM/BAM, FASTQ, VCF,
#: BED/GTF/GFF3/NarrowPeak, FASTA, and the fragment formats)
IN_FORMATS: dict[str, tuple] = {
    "sam": _ALIGNMENT_IN,
    # binary BAM on the subprocess stdin (reference BAMInFormatter,
    # ds/read/BAMInFormatter.scala:32) — rows render as SAM lines, then
    # the bin runner encodes header+records to one BGZF BAM stream.
    # Input-only: tools that READ BAM usually still WRITE text (view,
    # flagstat, callers) — read results back with out_format="sam"
    # (or "any_sam" if the tool might answer in BAM)
    "bam": _ALIGNMENT_IN,
    "any_sam": _ALIGNMENT_IN,
    "bed": (_FEATURE, _lines(features_io.bed_lines), None),
    "narrowpeak": (_FEATURE, _lines(features_io.narrowpeak_lines), None),
    "gff3": (_FEATURE, _lines(features_io.gff3_lines), None),
    "gtf": (_FEATURE, _lines(features_io.gtf_lines), None),
    "vcf": (_as_contexts, vcf.vcf_body_lines, vcf.render_vcf_header),
    "fastq": (
        _same,
        _lines(lambda df, keep: df.select(*keep, fastq.fastq_record(df).alias("value"))),
        None,
    ),
    "fasta": (
        _same,
        _lines(lambda df, keep: df.select(*keep, fasta.fasta_record().alias("value"))),
        None,
    ),
    # fragment in-formats (input-only, like the reference's — piped
    # INTO aligners; results come back as SAM via out_format="sam")
    **{fmt: (_same, _lines(partial(_fragment_lines, fmt)), None) for fmt in _FRAGMENT_SQL},
}

#: in-formats whose stdin is a BINARY stream, not text lines
BINARY_IN_FORMATS = {"bam"}

#: the bin id column of the piped lines: each bin's stdout is one text
#: file, and its parse carries the id through for the own-bin filter
_BIN = ("file",)


def _parse_sam(lines, gf):
    return sam.sam_lines_to_alignments(lines, gf.meta, keep=_BIN)


def _parse_vcf(lines, gf):
    # typed by the header the tool was sent (the input frame's)
    contexts = vcf.vcf_text_to_contexts(lines, vcf.render_vcf_header(gf), keep=_BIN)
    return vcf.contexts_to_variants_frame(contexts, keep=_BIN).df


#: out-format -> ((lines (file, lineno, value), input frame) → records
#: of the output kind after the ``file`` column where the format has
#: coordinates, output kind)
OUT_FORMATS: dict[str, tuple] = {
    "sam": (_parse_sam, "alignment"),
    # sniffing SAM/BAM output parser (reference AnySAMOutFormatter,
    # ds/read/AnySAMOutFormatter.scala:32): the subprocess stdout is
    # dispatched on magic — BGZF/gzip members are inflated, a BAM\x01
    # stream decodes via the BAM record codec, anything else parses as
    # text SAM
    "any_sam": (_parse_sam, "alignment"),
    "bed": (lambda lines, gf: features_io.bed_lines_to_features(lines, _BIN), "feature"),
    "narrowpeak": (
        lambda lines, gf: features_io.narrowpeak_lines_to_features(lines, _BIN),
        "feature",
    ),
    "gff3": (lambda lines, gf: features_io.gff3_lines_to_features(lines, _BIN), "feature"),
    "gtf": (lambda lines, gf: features_io.gtf_lines_to_features(lines, _BIN), "feature"),
    "vcf": (_parse_vcf, "variant"),
    "fastq": (
        lambda lines, gf: schemas.conform(fastq.fastq_lines_to_reads(lines), schemas.READ),
        "read",
    ),
    "fasta": (lambda lines, gf: fasta.fasta_lines_to_sequences(lines), "sequence"),
}


# --- the bin runner ---------------------------------------------------------


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


def run_subprocess(
    cmd: list[str], data: bytes, env: dict | None, timeout: float | None,
    on_timeout: str = "error",
) -> bytes:
    """Feed ``data`` to ``cmd``'s stdin and return its stdout.

    ``communicate()`` drains both pipes concurrently (no feed/read
    deadlock) AND enforces the timeout on the whole exchange — a bare
    stdout.read() would block forever on a hung tool before any
    wait(timeout) ran. A timeout kills the command's whole process
    group: killing only the child would leave a tool it started (e.g.
    under ``sh -c``) holding stdout open, and the drain would wait for
    it. ``on_timeout="drop"`` answers b"" instead of raising: the
    reference's optTimeout semantics (GenomicDataset.pipe;
    AlignmentDatasetSuite "lose all/some records when a command times
    out")."""
    proc = subprocess.Popen(
        cmd,
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        env={**os.environ, **(env or {})},
        start_new_session=True,
    )
    try:
        out, _ = proc.communicate(input=data, timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        if on_timeout == "drop":
            return b""
        raise RuntimeError(f"piped command {cmd!r} timed out after {timeout}s")
    if proc.returncode != 0:
        raise RuntimeError(f"piped command {cmd!r} exited with {proc.returncode}")
    return out


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

    Each format round-trips through its file codec: the tool receives
    what ``save_<format>`` writes, and its stdout parses as
    ``load_<format>`` parses a file. In particular:

    - SAM carries every tag, the mate fields and the full ``@SQ``/
      ``@RG`` header (``SO:coordinate``);
    - FASTQ reverse-complements negative-strand reads, as ``save_fastq``
      and the reference's FASTQInFormatter do;
    - VCF carries FORMAT and sample columns when the frame carries
      genotypes (a variant-context frame); its stdout is typed by the
      header sent in, and comes back as VARIANT rows;
    - BED keeps the BED12 block fields and narrowPeak its
      signalValue/pValue/qValue/peak.

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
    prepare, render, header_fn = IN_FORMATS[in_format]
    if out_format not in OUT_FORMATS:
        raise ValueError(
            f"format {out_format!r} is input-only (no parser); pass "
            "out_format='sam' (or another parseable format) for the results"
        )
    parse, out_kind = OUT_FORMATS[out_format]
    binary_in = in_format in BINARY_IN_FORMATS
    sniff_out = out_format == "any_sam"
    # reads and sequences come back without coordinates
    located_out = out_kind not in ("read", "sequence")

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
        # reject the ambiguity up front
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

    meta = gf.meta
    df = prepare(gf.df)
    n_bins = partitions or df.sparkSession.sparkContext.defaultParallelism
    # global-genome bin layout from the sequence dictionary
    refs = meta.references.references
    offsets: dict[str, int] = {}
    total = 0
    for r in refs:
        offsets[r.name] = total
        total += r.length or 0
    gpos = None
    if total and {"referenceName", "start", "end"} <= set(df.columns):
        bin_size = max(1, (total + n_bins - 1) // n_bins)
        off_map = "map(" + ", ".join(
            f"{sql_literal(name)}, {off}L" for name, off in offsets.items()
        ) + ")"
        off = f"try_element_at({off_map}, referenceName)"
        gpos = f"({off} + start)"

        def _bin(pos: str) -> str:
            # null coordinates / contigs missing from the dictionary
            # bin to 0 (greatest skips nulls); the own-bin filter passes
            # their output through
            return f"greatest(CAST(floor({pos} / {bin_size}L) AS INT), 0)"

        lo, hi = _bin(f"({gpos} - {flank})"), _bin(f"({off} + `end` - 1 + {flank})")
        if not located_out:
            # output without coordinates cannot be filtered to its own
            # bin, so each record goes to one bin only, its start's
            lo = hi = _bin(gpos)
        binned = df.selectExpr(
            "*", f"{gpos} AS __pos", f"explode(sequence({lo}, {hi})) AS __bin"
        )
        sort_keys = ["__pos"]
    else:
        # no genome bin layout: spread by contig when locatable, else by
        # record identity (unlocatable kinds — reads/sequences — have no
        # flank semantics, so any even spread is correct)
        if "referenceName" in df.columns:
            key = "hash(referenceName)"
        elif "name" in df.columns:
            key = "hash(name)"
        else:
            key = "monotonically_increasing_id()"
        sort_cols = [c for c in ("referenceName", "start", "name") if c in df.columns]
        sort_keys = [f"__sort{i}" for i in range(len(sort_cols))]
        binned = df.selectExpr(
            "*",
            f"CAST(pmod({key}, {n_bins}) AS INT) AS __bin",
            *(f"{c} AS {k}" for c, k in zip(sort_cols, sort_keys)),
        )

    framed = GenomicFrame(binned, meta)
    header = header_fn(framed) if header_fn else []
    lines = render(framed, ("__bin", *sort_keys))
    # driver-side precompute for the binary BAM stdin path: slim tuples,
    # not the metadata object, ship in the task closure
    bam_refs = [(r.name, r.length or 0) for r in refs] if binary_in else None
    bam_ref_index = {name: i for i, (name, _l) in enumerate(bam_refs or [])}

    def _run_bin(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        (bin_id,) = key
        if sort_keys:
            pdf = pdf.sort_values(sort_keys, na_position="last", kind="mergesort")
        # formatters render '' for unrepresentable rows (e.g. a fragment
        # with no alignments in tab5/tab6) — a blank stdin line would
        # abort most tools mid-stream. Dropped here, not by a Spark
        # filter: pushed below the render and conform projections, a
        # predicate over the whole line makes Catalyst's constraint
        # propagation grow exponentially with the column count.
        body = [ln for ln in pdf["value"] if ln]
        if file_tokens:
            from pyspark import SparkFiles

            resolved = {t: SparkFiles.get(b) for t, b in file_tokens.items()}
            resolved["$root"] = SparkFiles.getRootDirectory()
            cmd_run = [resolved.get(tok, tok) for tok in cmd_list]
        else:
            cmd_run = cmd_list
        if binary_in:
            data = _bam_stdin_bytes(header, body, bam_refs, bam_ref_index)
        else:
            data = "".join(ln + "\n" for ln in header + body).encode()
        out = run_subprocess(cmd_run, data, environment, timeout, on_timeout)
        out_lines = _sniff_sam_lines(out) if sniff_out else out.decode().splitlines()
        return pd.DataFrame(
            {
                "file": [bin_id] * len(out_lines),
                "lineno": range(len(out_lines)),
                "value": out_lines,
            }
        )

    piped = lines.groupBy("__bin").applyInPandas(
        _run_bin, schema="file int, lineno long, value string"
    )
    parsed = parse(piped, gf)
    if gpos is not None and located_out:
        # The own-bin output filter must run even at flank=0: a record
        # whose span crosses a bin boundary is copied into every bin it
        # overlaps (context for the subprocess), and only the copy
        # starting inside the bin may emit output (reference:
        # GenomicDataset.scala:897-916)
        parsed = parsed.where(
            f"{gpos} IS NULL OR ({gpos} >= file * {bin_size}L"
            f" AND {gpos} < (file + 1) * {bin_size}L)"
        )
    new_meta = meta.copy()
    new_meta.kind = out_kind
    return GenomicFrame(parsed.drop("file"), new_meta)
