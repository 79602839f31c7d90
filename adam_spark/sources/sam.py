"""SAM text format: load/save as a DataFrame pipeline.

The reference ingests SAM/BAM/CRAM via hadoop-bam (ADAMContext.loadBam
:2041-2111) and exports via htsjdk (AlignmentDataset.saveAsSam
:810-997). This engine parses SAM text relationally (this module) and
implements BAM natively in `sources/bam.py` (pure-Python BGZF + record
codec sharing this module's column mapping); CRAM needs reference-
based codecs not present here and stays external. The header
(@SQ/@RG/@PG) maps to the metadata sidecar both ways.

Flag decoding follows the SAM spec bit-for-bit (matches the boolean
columns the reference's AlignmentConverter sets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from adam_spark import schemas
from adam_spark.core.genomic_frame import GenomicFrame
from adam_spark.core.metadata import (
    GenomicMetadata,
    ReadGroup,
    Reference,
    SequenceDictionary,
)
from adam_spark.operators.filters import SAM_FLAGS_SQL


#: SAM body line → its tab-separated fields (``value`` is the line)
_FIELDS = "split(value, '\\t')"


def _field(i: int) -> str:
    return f"try_element_at({_FIELDS}, {i})"


def _star_null(i: int) -> str:
    # '*' is SAM's "no value"
    return f"CASE WHEN {_field(i)} = '*' THEN NULL ELSE {_field(i)} END"


#: stage 1 of the parse: the eleven mandatory fields plus the optional
#: tags as a map (TAG:TYPE:VALUE → key=TAG, value="TYPE:VALUE")
_SPLIT_SQL = [
    f"{_field(1)} AS readName",
    f"try_cast({_field(2)} AS INT) AS flag",
    f"{_star_null(3)} AS rname",
    f"try_cast({_field(4)} AS BIGINT) AS pos1",
    f"try_cast({_field(5)} AS INT) AS mapq",
    f"{_star_null(6)} AS cigar",
    f"{_field(7)} AS rnext",
    f"try_cast({_field(8)} AS BIGINT) AS pnext1",
    f"try_cast({_field(9)} AS BIGINT) AS tlen",
    f"{_star_null(10)} AS sequence",
    f"{_star_null(11)} AS qualityScores",
    f"CASE WHEN size({_FIELDS}) > 11 THEN map_from_entries(transform("
    f"slice({_FIELDS}, 12, 10000), x -> struct("
    "substring_index(x, ':', 1) AS k, substring(x, 4, 1000000) AS v))) END"
    " AS attributes",
]


def _bit(bit: int) -> str:
    return f"((flag & {bit}) != 0)"


def _tag(tag: str) -> str:
    # attribute values carry their "TYPE:" prefix; the typed columns
    # hold the bare value
    return f"substring(attributes['{tag}'], 3, 1000000)"


#: reference-consumed length of the CIGAR (M/D/N/=/X ops)
_REF_LEN = (
    "aggregate(transform(regexp_extract_all(cigar, '(\\\\d+)[MDN=X]', 1),"
    " x -> cast(x as long)), try_cast(0 AS BIGINT), (a, v) -> a + v)"
)

#: stage 2 of the parse: ALIGNMENT fields from the split fields (fields
#: not listed are null), cast to their types by ``schemas.project``
_ALIGNMENT_SQL = {
    "referenceName": f"CASE WHEN {_bit(0x4)} THEN NULL ELSE rname END",
    "start": f"CASE WHEN {_bit(0x4)} OR pos1 = 0 THEN NULL ELSE pos1 - 1 END",
    "end": f"CASE WHEN {_bit(0x4)} OR pos1 = 0 THEN NULL"
    f" ELSE pos1 - 1 + {_REF_LEN} END",
    "mappingQuality": f"CASE WHEN {_bit(0x4)} THEN NULL ELSE mapq END",
    "readName": "readName",
    "sequence": "sequence",
    "qualityScores": "qualityScores",
    "cigar": "cigar",
    "readPaired": _bit(0x1),
    "properPair": _bit(0x2),
    "readMapped": f"NOT {_bit(0x4)}",
    "mateMapped": f"CASE WHEN {_bit(0x1)} THEN NOT {_bit(0x8)}"
    " ELSE CAST(NULL AS BOOLEAN) END",
    "failedVendorQualityChecks": _bit(0x200),
    "duplicateRead": _bit(0x400),
    "readNegativeStrand": _bit(0x10),
    "mateNegativeStrand": f"CASE WHEN {_bit(0x1)} THEN {_bit(0x20)}"
    " ELSE CAST(NULL AS BOOLEAN) END",
    "primaryAlignment": f"NOT {_bit(0x100)} AND NOT {_bit(0x800)}",
    "secondaryAlignment": _bit(0x100),
    "supplementaryAlignment": _bit(0x800),
    "mismatchingPositions": _tag("MD"),
    "readGroupId": _tag("RG"),
    # realignment provenance tags (AlignmentConverter.scala: OP is
    # 1-based on disk, OC/OQ verbatim)
    "originalStart": f"try_cast({_tag('OP')} AS BIGINT) - 1",
    "originalCigar": _tag("OC"),
    "originalQualityScores": _tag("OQ"),
    # htsjdk semantics (AlignmentConverter.scala:159-168): mate
    # fields are set whenever RNEXT resolves to a real reference —
    # INDEPENDENT of the mate-unmapped flag, so a placed unmapped
    # mate keeps its mate reference/position (samtools-flagstat's
    # crossChromosome counters depend on this; pinned against
    # NA12878.sam in tests/test_reference_goldens.py)
    "mateAlignmentStart": "CASE WHEN rnext != '*' AND pnext1 > 0 THEN pnext1 - 1 END",
    "mateReferenceName": "CASE WHEN rnext = '=' THEN CASE WHEN rname != '*'"
    " THEN rname END WHEN rnext != '*' THEN rnext END",
    "insertSize": "CASE WHEN tlen != 0 THEN tlen END",
    "readInFragment": f"CASE WHEN {_bit(0x40)} THEN 0 WHEN {_bit(0x80)} THEN 1 ELSE 0 END",
    "attributes": "attributes",
}


def _sample_id_sql(read_groups) -> str:
    """``readGroupSampleId`` from the header's read-group dictionary
    (@RG SM), matching AlignmentConverter.scala:221
    setReadGroupSampleId(recordGroup.getSample). The dictionary is
    driver-sized, so the lookup is a literal CASE — no join. Reads
    with no RG (or an RG without SM) stay null."""
    pairs = [(g.id, g.sampleId) for g in read_groups if g.sampleId is not None]
    if not pairs:
        return "NULL"
    whens = " ".join(
        f"WHEN {schemas.sql_literal(rg)} THEN {schemas.sql_literal(sm)}"
        for rg, sm in pairs
    )
    return f"CASE {_ALIGNMENT_SQL['readGroupId']} {whens} END"


def _aligned_with_meta(
    raw: DataFrame, header_lines, stringency: str = "SILENT"
) -> tuple:
    """(alignments df, metadata) for a raw SAM-lines frame + header
    lines — the shared assembly used by the BAM/CRAM decoders so every
    binary loader also resolves readGroupSampleId from @RG SM.
    ``stringency`` governs malformed header lines exactly as in
    ``load_sam`` (htsjdk applies ValidationStringency to BAM headers
    too)."""
    meta = header_metadata_from_lines(header_lines, stringency)
    return sam_lines_to_alignments(raw, meta), meta


def _header_lines_driver(path: str) -> list[str] | None:
    """Each file's leading '@' lines, streamed DRIVER-SIDE — O(header
    bytes) instead of the full distributed scan+filter pass (htsjdk
    reads SAM headers the same way before any job runs). Returns None
    when the driver cannot open the path (non-local filesystem) so the
    caller falls back to the distributed collect."""
    import glob as _glob
    import gzip as _gzip
    import os as _os

    if _os.path.isdir(path):
        entries = sorted(_glob.glob(_os.path.join(path, "*")))
    else:
        entries = sorted(_glob.glob(path)) or [path]
    files = [p for p in entries if _os.path.isfile(p)]
    if not files:
        return None
    lines: list[str] = []
    try:
        for p in files:
            opener = _gzip.open if p.endswith(".gz") else open
            with opener(p, "rt") as f:
                for line in f:
                    if not line.startswith("@"):
                        break
                    lines.append(line.rstrip("\n"))
    except OSError:
        return None
    return lines


def load_sam(
    spark: SparkSession, path: str, stringency: str = "SILENT"
) -> GenomicFrame:
    raw = spark.read.text(path)
    hdr = _header_lines_driver(path)
    meta = (
        header_metadata_from_lines(hdr, stringency)
        if hdr is not None
        else _header_metadata(raw, stringency)
    )
    return GenomicFrame(sam_lines_to_alignments(raw, meta), meta)


def sam_lines_to_alignments(raw: DataFrame, meta=None, keep=()) -> DataFrame:
    """Parse a DataFrame of raw SAM text lines (column ``value``) into
    ALIGNMENT rows, after the pass-through columns named in ``keep``;
    ``meta`` (the header's metadata) resolves ``readGroupSampleId``.
    Works on batch AND streaming DataFrames — the parse is stateless
    per line.

    Both stages are SQL text, so the whole parse costs a few gateway
    calls however many expressions it holds."""
    body = raw.where("NOT startswith(value, '@') AND length(trim(value)) > 0")
    exprs = dict(_ALIGNMENT_SQL)
    if meta is not None:
        exprs["readGroupSampleId"] = _sample_id_sql(meta.read_groups)
    split = body.selectExpr(*(schemas.sql_ident(k) for k in keep), *_SPLIT_SQL)
    return schemas.project(split, schemas.ALIGNMENT, exprs, keep)


def _header_metadata(raw: DataFrame, stringency: str = "SILENT") -> GenomicMetadata:
    hdr = [r["value"] for r in raw.where(F.col("value").startswith("@")).collect()]
    return header_metadata_from_lines(hdr, stringency)


def header_metadata_from_lines(
    hdr: list[str], stringency: str = "SILENT"
) -> GenomicMetadata:
    """@SQ/@RG header lines → GenomicMetadata (shared by SAM and the
    distributed BAM scan, which parses the header driver-side).

    ``stringency`` governs malformed header lines (@SQ without SN, or a
    non-integer LN — ADAMContextSuite "bad header" cases): STRICT
    raises, LENIENT warns and skips the bad field, SILENT skips."""
    import sys as _sys

    def _bad(msg: str) -> None:
        if stringency == "STRICT":
            raise ValueError(msg)
        if stringency == "LENIENT":
            print(f"warning: {msg}", file=_sys.stderr)

    refs, rgs = [], []
    for line in hdr:
        parts = line.split("\t")
        fields = dict(kv.split(":", 1) for kv in parts[1:] if ":" in kv)
        if parts[0] == "@SQ":
            if "SN" not in fields:
                _bad(f"@SQ header line without SN: {line!r}")
                continue
            length = None
            if "LN" in fields:
                try:
                    length = int(fields["LN"])
                except ValueError:
                    _bad(f"@SQ header line with non-integer LN: {line!r}")
            refs.append(
                Reference(
                    name=fields["SN"],
                    length=length,
                    md5=fields.get("M5"),
                )
            )
        elif parts[0] == "@RG" and "ID" in fields:
            pi = fields.get("PI")
            try:
                pi = int(pi) if pi is not None else None
            except ValueError:
                _bad(f"@RG header line with non-integer PI: {line!r}")
                pi = None
            dt = fields.get("DT")
            epoch = None
            if dt:
                try:
                    from datetime import datetime, timezone

                    epoch = int(
                        datetime.fromisoformat(dt)
                        .replace(tzinfo=timezone.utc)
                        .timestamp()
                    )
                except ValueError:
                    _bad(f"@RG header line with unparseable DT: {line!r}")
            rgs.append(
                ReadGroup(
                    id=fields["ID"],
                    sampleId=fields.get("SM"),
                    library=fields.get("LB"),
                    platform=fields.get("PL"),
                    platformUnit=fields.get("PU"),
                    sequencingCenter=fields.get("CN"),
                    description=fields.get("DS"),
                    runDateEpoch=epoch,
                    flowOrder=fields.get("FO"),
                    keySequence=fields.get("KS"),
                    predictedMedianInsertSize=pi,
                )
            )
    return GenomicMetadata(
        references=SequenceDictionary(refs), read_groups=rgs, kind="alignment"
    )


#: typed-column-backed tags, rendered from their authoritative columns
#: (operators update those, not the raw map values). AlignmentConverter-
#: Suite 'testing the fields in a converted ADAM Read': originalStart 12
#: emits OP:i:13; OC/OQ verbatim
_TYPED_TAG_SQL = {
    "MD": "concat('MD:Z:', mismatchingPositions)",
    "RG": "concat('RG:Z:', readGroupId)",
    "OP": "concat('OP:i:', CAST(originalStart + 1 AS STRING))",
    "OC": "concat('OC:Z:', originalCigar)",
    "OQ": "concat('OQ:Z:', originalQualityScores)",
}

#: optional tags, tab-joined: the map's entries in stored order (the
#: loader keeps file order) with the typed columns substituted IN PLACE
#: — a load→save cycle is byte-stable against third-party files (pinned
#: vs ordered.sam / sorted.sam in tests/test_reference_goldens.py) — then
#: each typed tag the map never carried (e.g. freshly computed MD)
_TAGS_SQL = (
    "array_join(filter(concat("
    "coalesce(transform(map_entries(attributes), e -> CASE e.key "
    + " ".join(f"WHEN '{t}' THEN {sql}" for t, sql in _TYPED_TAG_SQL.items())
    + " ELSE concat(e.key, ':', e.value) END), CAST(array() AS array<string>)), "
    "array("
    + ", ".join(
        f"CASE WHEN NOT coalesce(map_contains_key(attributes, '{t}'), false)"
        f" THEN {sql} END"
        for t, sql in _TYPED_TAG_SQL.items()
    )
    + ")), x -> x IS NOT NULL), '\\t')"
)

#: one SAM body line from ALIGNMENT columns
_LINE_SQL = (
    "concat_ws('\\t', "
    "coalesce(readName, '*'), "
    f"CAST({SAM_FLAGS_SQL} AS STRING), "
    "coalesce(referenceName, '*'), "
    "coalesce(CAST(start + 1 AS STRING), '0'), "
    "coalesce(CAST(mappingQuality AS STRING), '0'), "
    "coalesce(cigar, '*'), "
    # IS NOT NULL guard: null <=> null would emit RNEXT '=' with RNAME
    # '*' for unmapped unpaired reads
    "coalesce(CASE WHEN mateReferenceName IS NOT NULL"
    " AND mateReferenceName <=> referenceName THEN '='"
    " ELSE mateReferenceName END, '*'), "
    "coalesce(CAST(mateAlignmentStart + 1 AS STRING), '0'), "
    "coalesce(CAST(insertSize AS STRING), '0'), "
    "coalesce(sequence, '*'), "
    "coalesce(qualityScores, '*'), "
    f"nullif({_TAGS_SQL}, '')) AS value"
)


def sam_body_lines(df: DataFrame, keep=()) -> DataFrame:
    """ALIGNMENT rows → SAM body lines (column ``value``, after the
    pass-through columns named in ``keep``), including optional tags:
    MD/RG/OP/OC/OQ re-emitted from their typed columns (authoritative —
    operators update them), every other attribute passed through as
    TAG:TYPE:VALUE. SQL text, so the build costs a few gateway calls."""
    df = schemas.conform(df, schemas.ALIGNMENT, keep)
    return df.selectExpr(*(schemas.sql_ident(k) for k in keep), _LINE_SQL)


def sam_header_lines(
    meta: GenomicMetadata,
    pg_line: str | None = None,
    sort_order: str = "unsorted",
) -> list[str]:
    """``pg_line``: optional ``@PG`` program record appended after the
    read groups (the reference writes one per run unless ``-disable_pg``
    — TransformAlignments.scala:188). ``sort_order`` lands in the @HD
    SO field (saveAsSam isSorted → "coordinate",
    AlignmentDataset.scala:691-700).

    @SQ attribute order (SN, LN, M5 upper-cased, UR, SP) and @RG
    attribute order (SM, CN, DS, DT, FO, KS, LB, PI, PL, PU) follow the
    reference's htsjdk-record insertion order
    (SequenceDictionary.scala:353-373, ReadGroupDictionary.scala:302-
    320) — byte-pinned against ordered.sam/sorted.sam in
    tests/test_reference_goldens.py."""
    header = [f"@HD\tVN:1.6\tSO:{sort_order}"]
    for r in meta.references.references:
        sq = f"@SQ\tSN:{r.name}" + (f"\tLN:{r.length}" if r.length else "")
        if r.md5 is not None:
            sq += f"\tM5:{r.md5.upper()}"
        if r.url is not None:
            sq += f"\tUR:{r.url}"
        if r.species is not None:
            sq += f"\tSP:{r.species}"
        header.append(sq)
    for g in meta.read_groups:
        rg = f"@RG\tID:{g.id}"
        for tag, val in (
            ("SM", g.sampleId), ("CN", g.sequencingCenter),
            ("DS", g.description),
        ):
            if val is not None:
                rg += f"\t{tag}:{val}"
        if g.runDateEpoch is not None:
            from datetime import datetime, timezone

            rg += "\tDT:" + datetime.fromtimestamp(
                g.runDateEpoch, tz=timezone.utc
            ).strftime("%Y-%m-%dT%H:%M:%SZ")
        for tag, val in (
            ("FO", g.flowOrder), ("KS", g.keySequence), ("LB", g.library),
            ("PI", g.predictedMedianInsertSize), ("PL", g.platform),
            ("PU", g.platformUnit),
        ):
            if val is not None:
                rg += f"\t{tag}:{val}"
        header.append(rg)
    if pg_line:
        header.append(pg_line)
    return header


def save_sam(
    gf: GenomicFrame,
    path: str,
    single_file: bool = True,
    pg_line: str | None = None,
    is_sorted: bool = False,
    sort_order: str | None = None,
) -> None:
    """Alignments → SAM text with reconstructed flags + header.
    ``sort_order`` overrides the ``is_sorted`` shorthand — the
    reference's saveAsSam sortOrder param (e.g. "queryname" after
    sortByReadName; byte-pinned against readname_sorted.sam)."""
    body = sam_body_lines(gf.df)
    header = sam_header_lines(
        gf.meta, pg_line=pg_line,
        sort_order=sort_order or ("coordinate" if is_sorted else "unsorted"),
    )
    from adam_spark.sources.merge import local_lines_df, write_text_single_file

    if single_file:
        # distributed render + FileMerger concat with the header
        # prepended (the reference's -single shape)
        write_text_single_file(body, path, header_lines=header)
        return
    hdr_df = local_lines_df(gf.df.sparkSession, [(h,) for h in header], "value string")
    out = (
        hdr_df.select(F.lit(0).alias("__o"), "value")
        .unionByName(body.select(F.lit(1).alias("__o"), "value"))
    )
    out.select("value").write.text(path)
