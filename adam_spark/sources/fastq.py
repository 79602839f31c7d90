"""FASTQ sources/sinks as DataFrame line-stitching pipelines.

The reference reads FASTQ through custom Hadoop input formats
(adam-core/src/main/java/org/bdgenomics/adam/io/*.java; loaders
ADAMContext.scala:2468-2660) and writes via AlignmentDataset.saveAsFastq
(AlignmentDataset.scala:1394-1666). Here the 4-line record structure is
re-assembled relationally: read lines, number them per file, group by
``record = line_number div 4``, pivot the 4 positions into columns.

Ordering note: line numbering uses ``monotonically_increasing_id`` which
follows Spark's file-split ordering (splits of one file are generated in
offset order and packed into ascending partition indices). Structure is
validated — every stitched record must have ``@``-prefixed name line and
``+`` separator — so a mis-ordered input fails loudly instead of
producing garbage. Gzipped FASTQ (the common case) is unsplittable and
therefore always safely ordered.

At 100 TB: one shuffle (groupBy record id, partial-agg combinable) per
load; everything stays in whole-stage codegen — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from adam_spark import schemas
from adam_spark.core.genomic_frame import GenomicFrame
from adam_spark.core.metadata import GenomicMetadata
from adam_spark.sources.merge import write_lines

#: READ plus the pairing column (the reference models pairing via
#: Fragment grouping; we keep it inline for save_paired_fastq)
_READ_PAIRED = schemas.StructType(
    list(schemas.READ.fields)
    + [schemas.StructField("readInFragment", schemas.IntegerType(), True)]
)


def _numbered_lines(spark: SparkSession, path: str) -> DataFrame:
    """Lines with a per-file 0-based line number."""
    w = Window.partitionBy("file").orderBy("mid")
    return (
        spark.read.text(path)
        .select(
            F.input_file_name().alias("file"),
            F.monotonically_increasing_id().alias("mid"),
            "value",
        )
        .withColumn("lineno", F.row_number().over(w) - 1)
    )


#: InterleavedFastqInputFormat.firstReadSuffix
#: (adam-core/src/main/java/org/bdgenomics/adam/io/
#: InterleavedFastqInputFormat.java:61) anchored on the '@' name line
_FIRST_OF_PAIR_RE = r"^@.+([/ +_]1| 1:[YN]:[02468]+:[0-9ACTNG]+)$"


def _resync(lines: DataFrame, start_pred) -> DataFrame:
    """Drop each file's leading lines up to the first valid record
    start — FastqRecordReader.positionAtFirstRecord (FastqRecordReader.
    java:235-302 + per-format checkBuffer): a split (or truncated
    shard) beginning mid-record skips forward to the next record
    boundary. Single-end candidate = a line starting with '@'
    (SingleFastqInputFormat.java:68-71); interleaved candidate = an '@'
    name line with a FIRST-of-pair suffix (InterleavedFastqInputFormat.
    java:82-96). A candidate alone is ambiguous — a quality line can
    begin with '@' (Phred 31) — so the reference reads two lines ahead
    (FastqRecordReader.java:270-300): if the NEXT line starts with '@'
    the candidate WAS a quality line and the boundary is that next
    line; else the candidate is accepted only when the line two ahead
    starts with '+'. Pinned against the reference's committed
    *_fastq_sample{2,3,4} truncated fixtures and their .output goldens.
    Windowed leads + min over the per-file partitioning the line
    numbering already shuffled on — no new exchange."""
    wo = Window.partitionBy("file").orderBy("lineno")
    lead1 = F.lead("value", 1).over(wo)
    lead2 = F.lead("value", 2).over(wo)
    p0 = start_pred(F.col("value"))
    # branch 1 requires the NEXT line to itself satisfy the start
    # predicate (FastqRecordReader advances to the next CANDIDATE, not
    # any '@' line): in interleaved mode a quality line matching the
    # first-of-pair regex followed by an '@name/2' line must NOT set
    # the boundary on the /2 record — '/2' fails the /1 predicate here
    boundary = F.when(
        p0 & lead1.startswith("@") & start_pred(lead1), F.col("lineno") + 1
    ).when(p0 & lead2.startswith("+"), F.col("lineno"))
    w = Window.partitionBy("file")
    first = F.min(boundary).over(w)
    return (
        lines.withColumn("__first", first)
        .where(F.col("__first").isNotNull() & (F.col("lineno") >= F.col("__first")))
        .withColumn("lineno", F.col("lineno") - F.col("__first"))
        .drop("__first")
    )


def _stitch(lines: DataFrame, group_size: int) -> DataFrame:
    """Group ``group_size`` consecutive lines into one row with columns
    l0..l{group_size-1}; validates FASTQ structure."""
    pos = F.col("lineno") % group_size
    rec = (F.col("lineno") / group_size).cast("long")
    grouped = (
        lines.select("file", rec.alias("rec"), pos.alias("pos"), "value")
        .groupBy("file", "rec")
        .agg(
            *[
                F.max(F.when(F.col("pos") == i, F.col("value"))).alias(f"l{i}")
                for i in range(group_size)
            ]
        )
    )
    for i in range(0, group_size, 4):
        grouped = grouped.where(
            F.col(f"l{i}").startswith("@") & F.col(f"l{i + 2}").startswith("+")
        )
    return grouped


#: FastqRecordConverter.scala:43-50: the pair suffixes ([/ +_]1, [/ +_]2)
#: and Illumina casava metadata ( 1:N:0:2 style) stripped off read names.
#: Names may contain spaces — the whole header minus the suffix is the
#: name ("@more desc/1" → "more desc"), per the converter's suffixRegex.
_SUFFIX_RE = r"[/ +_]1$|[/ +_]2$| [12]:[YN]:[02468]+:[0-9ACTNG+]+$"


def _record(name_line, seq_line, qual_line, read_in_fragment, stringency="strict"):
    """FASTQ record columns → READ-schema columns
    (FastqRecordConverter.parseReadInFastq:75-124).

    ``stringency``: "strict" keeps the raw quality string (the
    reference's STRICT branch — length validation happens downstream);
    "lenient"/"silent" normalize it: '*' → all-B, shorter-than-read →
    right-padded with B, longer-than-read → error (the reference throws
    this IAE even under LENIENT)."""
    full = F.regexp_replace(name_line, "^@", "")
    if stringency == "strict":
        qual = qual_line
    else:
        qual = (
            F.when(qual_line == "*", F.repeat(F.lit("B"), F.length(seq_line)))
            .when(
                F.length(qual_line) > F.length(seq_line),
                F.raise_error(
                    F.lit("Quality scores length must not be longer than read length")
                ),
            )
            .otherwise(F.rpad(qual_line, F.length(seq_line), "B"))
        )
    return [
        F.regexp_replace(full, _SUFFIX_RE, "").alias("name"),
        # description = EVERYTHING after the first space (multi-word
        # Illumina headers) — a READ-schema enrichment beyond the
        # reference, which folds the whole header into the name
        F.when(
            F.instr(full, " ") > 0, F.regexp_replace(full, r"^\S+\s+", "")
        ).alias("description"),
        F.lit("DNA").alias("alphabet"),
        seq_line.alias("sequence"),
        F.length(seq_line).cast("long").alias("length"),
        qual.alias("qualityScores"),
        F.lit("FASTQ_SANGER").alias("qualityScoreVariant"),
        F.lit(read_in_fragment).cast("int").alias("readInFragment"),
    ]


def _check_pair_suffix(name_line, rif: int, stringency: str):
    """FastqRecordConverter.readNameSuffixAndIndexOfPairMustMatch
    (:55-74): under strict, a read claimed as first-of-pair must not
    carry a second-read suffix and vice versa; lenient/silent pass
    through. Returns a filter-shaped error column (true when ok)."""
    if stringency != "strict":
        return F.lit(True)
    wrong = r"[/ +_]2$" if rif == 0 else r"[/ +_]1$"
    which = "1" if rif == 0 else "2"
    return F.when(
        F.regexp_like(F.regexp_replace(name_line, "^@", ""), F.lit(wrong)),
        F.raise_error(
            F.concat(
                F.lit("Found read name "),
                name_line,
                F.lit(f" with bad suffix for read {which} of pair"),
            )
        ),
    ).otherwise(F.lit(True))


def load_unpaired_fastq(
    spark: SparkSession, path: str, stringency: str = "strict"
) -> GenomicFrame:
    """FASTQ → reads (reference: ADAMContext.loadUnpairedFastq:2594)."""
    df = fastq_lines_to_reads(_numbered_lines(spark, path), stringency)
    return GenomicFrame(schemas.conform(df, _READ_PAIRED), GenomicMetadata(kind="read"))


def fastq_lines_to_reads(lines: DataFrame, stringency: str = "strict") -> DataFrame:
    """Numbered FASTQ text lines (``file``, ``lineno``, ``value``) →
    single-end read columns: each file resyncs to its first record,
    then every 4 lines stitch into one record."""
    g = _stitch(_resync(lines, lambda c: c.startswith("@")), 4)
    return g.select(*_record(F.col("l0"), F.col("l1"), F.col("l3"), 0, stringency))


def load_interleaved_fastq(
    spark: SparkSession, path: str, stringency: str = "strict"
) -> GenomicFrame:
    """8-line groups → r1/r2 pairs (ADAMContext.loadInterleavedFastq:2468)."""
    g = _stitch(
        _resync(
            _numbered_lines(spark, path),
            lambda c: F.regexp_like(c, F.lit(_FIRST_OF_PAIR_RE)),
        ),
        8,
    )
    g = g.where(_check_pair_suffix(F.col("l0"), 0, stringency)).where(
        _check_pair_suffix(F.col("l4"), 1, stringency)
    )
    r1 = g.select(*_record(F.col("l0"), F.col("l1"), F.col("l3"), 0, stringency))
    r2 = g.select(*_record(F.col("l4"), F.col("l5"), F.col("l7"), 1, stringency))
    df = r1.unionByName(r2)
    return GenomicFrame(schemas.conform(df, _READ_PAIRED), GenomicMetadata(kind="read"))


def load_paired_fastq(
    spark: SparkSession, path1: str, path2: str, stringency: str = "strict"
) -> GenomicFrame:
    """Two parallel FASTQ files → union with readInFragment 0/1
    (ADAMContext.loadPairedFastq:2539)."""
    g1 = _stitch(
        _resync(_numbered_lines(spark, path1), lambda c: c.startswith("@")), 4
    ).where(_check_pair_suffix(F.col("l0"), 0, stringency))
    g2 = _stitch(
        _resync(_numbered_lines(spark, path2), lambda c: c.startswith("@")), 4
    ).where(_check_pair_suffix(F.col("l0"), 1, stringency))
    r1 = g1.select(*_record(F.col("l0"), F.col("l1"), F.col("l3"), 0, stringency))
    r2 = g2.select(*_record(F.col("l0"), F.col("l1"), F.col("l3"), 1, stringency))
    df = r1.unionByName(r2)
    return GenomicFrame(schemas.conform(df, _READ_PAIRED), GenomicMetadata(kind="read"))


def load_fastq_alignments(
    spark: SparkSession,
    path: str,
    path2: str | None = None,
    interleaved: bool = False,
) -> GenomicFrame:
    """FASTQ → unaligned ALIGNMENT records, the shape the reference's
    ``loadFastq`` returns (ADAMContext.scala:2505-2538).
    ``interleaved`` reads 8-line r1/r2 groups from the single ``path``."""
    if interleaved:
        gf = load_interleaved_fastq(spark, path)
    else:
        gf = (
            load_paired_fastq(spark, path, path2)
            if path2
            else load_unpaired_fastq(spark, path)
        )
    paired = interleaved or path2 is not None
    df = gf.df.select(
        F.col("name").alias("readName"),
        "sequence",
        "qualityScores",
        F.lit(False).alias("readMapped"),
        F.lit(paired).alias("readPaired"),
        F.col("readInFragment"),
    )
    return GenomicFrame(
        schemas.conform(df, schemas.ALIGNMENT), GenomicMetadata(kind="alignment")
    )


def _fastq_strand_out(df: DataFrame):
    """(sequence, qualityScores) columns for FASTQ output
    (AlignmentConverter.prepareFastq:264-295): negative-strand reads are
    written reverse-complemented with reversed quality scores — even
    when unmapped (the 0x10 flag alone decides) — and null or '*'
    quality becomes a B-run the length of the sequence."""
    qual = F.col("qualityScores")
    qual = F.when(
        qual.isNull() | (qual == "*"), F.repeat(F.lit("B"), F.length("sequence"))
    ).otherwise(qual)
    if "readNegativeStrand" in df.columns:
        from adam_spark.functions import reverse_complement

        neg = F.coalesce(F.col("readNegativeStrand"), F.lit(False))
        return (
            F.when(neg, reverse_complement(F.col("sequence"))).otherwise(
                F.col("sequence")
            ),
            F.when(neg, F.reverse(qual)).otherwise(qual),
        )
    return F.col("sequence"), qual


def save_fastq(
    gf: GenomicFrame,
    path: str,
    sort_by_name: bool = False,
    write_suffixes: bool = False,
    single_file: bool = False,
) -> None:
    """Reads/alignments → FASTQ text (AlignmentDataset.saveAsFastq:1394;
    ``write_suffixes`` mirrors the reference's writeSuffixes flag)."""
    df = gf.df
    name_col, rif = _fastq_name_rif(df)
    out = df.select(
        name_col.alias("__name"),
        rif.alias("__rif"),
        fastq_record(df, write_suffixes).alias("value"),
    )
    if sort_by_name:
        out = out.orderBy("__name", "__rif")
    write_lines(out.select("value"), path, single_file)


def _fastq_name_rif(df: DataFrame):
    """(read name, read-in-fragment) Columns of a reads or alignments
    frame."""
    name_col = F.col("readName") if "readName" in df.columns else F.col("name")
    rif = (
        F.coalesce(F.col("readInFragment"), F.lit(0))
        if "readInFragment" in df.columns
        else F.lit(0)
    )
    return name_col, rif


def fastq_record(df: DataFrame, write_suffixes: bool = False) -> Column:
    """One 4-line FASTQ record per row of a reads or alignments frame:
    negative-strand reads reverse-complemented (see
    :func:`_fastq_strand_out`)."""
    name_col, rif = _fastq_name_rif(df)
    suffix = (
        # AlignmentConverter.prepareFastq:255-262: only add /1 or /2 when
        # the name does not already carry a pair suffix
        F.when(name_col.rlike("/[12]$"), F.lit(""))
        .when(rif == 0, "/1")
        .otherwise("/2")
        if write_suffixes
        else F.lit("")
    )
    seq, qual = _fastq_strand_out(df)
    return F.concat_ws(
        "\n",
        F.concat(F.lit("@"), name_col, suffix),
        seq,
        F.lit("+"),
        qual,
    )


def save_reads_fastq(gf: GenomicFrame, path: str, single_file: bool = False) -> None:
    """READ-schema rows → FASTQ with the description carried on the
    name line ('@name description'), no pair suffixes or strand flips
    (reference: ReadDataset.saveAsFastq:384-407 toFastq).

    Documented divergence: the reference's toFastq appends a non-null
    description unconditionally, because its Read records never carry
    the description inside the name (the reference has no FASTQ→Read
    loader at all). This repo's FASTQ loader keeps the reference's
    FastqRecordConverter name semantics (the FULL header is the name,
    spaces kept) AND mirrors the after-space part into `description`,
    so this writer skips the append when the description is already the
    name's suffix — otherwise a load→save cycle would double it. A
    user-constructed read whose name legitimately ends with
    ' '+description therefore serializes without the second copy,
    unlike the reference; constructing such a read requires writing
    both fields by hand, and the round-trip-safe behavior is the one
    users hit in practice."""
    df = gf.df
    out = df.select(
        F.concat_ws(
            "\n",
            F.concat(
                F.lit("@"),
                F.col("name"),
                # the FASTQ loader keeps the full header in `name` AND
                # mirrors the after-space part into `description` — skip
                # the append when it is already the name's suffix, so a
                # load→save cycle doesn't double it
                F.when(
                    F.col("description").isNotNull()
                    & ~F.col("name").endswith(
                        F.concat(F.lit(" "), F.col("description"))
                    ),
                    F.concat(F.lit(" "), F.col("description")),
                ).otherwise(""),
            ),
            F.col("sequence"),
            F.lit("+"),
            F.col("qualityScores"),
        ).alias("value")
    )
    write_lines(out, path, single_file)


def save_paired_fastq(gf: GenomicFrame, path1: str, path2: str) -> None:
    """Split pairs to two files, name-sorted so r1/r2 line up
    (AlignmentDataset.saveAsPairedFastq:1468)."""
    df = gf.df
    name_col = F.col("readName") if "readName" in df.columns else F.col("name")
    seq, qual = _fastq_strand_out(df)
    for rif, path, suffix in ((0, path1, "/1"), (1, path2, "/2")):
        part = (
            df.where(F.coalesce(F.col("readInFragment"), F.lit(0)) == rif)
            .select(
                name_col.alias("__name"),
                F.concat_ws(
                    "\n",
                    F.concat(F.lit("@"), name_col, F.lit(suffix)),
                    seq,
                    F.lit("+"),
                    qual,
                ).alias("value"),
            )
            .orderBy("__name")
            .select("value")
        )
        from adam_spark.sources.merge import write_text_single_file

        write_text_single_file(part, path)
