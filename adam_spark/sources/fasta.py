"""FASTA source/sink as a DataFrame pipeline.

The reference parses FASTA with driver-shipped converters
(converters/FastaConverters.scala, ~301 LoC; loaders
ADAMContext.loadFastaDna/Rna/Protein:3904-3926, slice variant :4066) and
writes with SequenceDataset.saveAsFasta (SequenceDataset.scala:508,
line-wrap 60).

Relational re-expression: number lines per file, mark ``>`` header
lines, assign each line the running count of headers (a window
cumulative sum) as its record id, then assemble each record with an
order-preserving ``sort_array(collect_list(struct(lineno, line)))``.
One shuffle per load; no Python UDFs. Ordering relies on the same
split-order property as fastq.py (validated there).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from adam_spark import schemas
from adam_spark.core.genomic_frame import GenomicFrame
from adam_spark.core.metadata import GenomicMetadata, Reference, SequenceDictionary


def load_fasta_sequences(
    spark: SparkSession, path: str, alphabet: str = "DNA"
) -> GenomicFrame:
    """FASTA → SEQUENCE records (ADAMContext.loadFastaDna:3904)."""
    from adam_spark.sources.fastq import _numbered_lines

    return GenomicFrame(
        fasta_lines_to_sequences(_numbered_lines(spark, path), alphabet),
        GenomicMetadata(kind="sequence"),
    )


def fasta_lines_to_sequences(lines: DataFrame, alphabet: str = "DNA") -> DataFrame:
    """Numbered FASTA text lines (``file``, ``lineno``, ``value``) →
    SEQUENCE rows: each line takes the running count of ``>`` headers
    in its file as its record id."""
    w = Window.partitionBy("file").orderBy("lineno")
    lines = (
        lines.where(
            (F.length(F.trim("value")) > 0)
            # classic FASTA ';' comment lines (ADAMContextSuite "read a
            # fasta file with comments, gaps, and translation stops")
            & ~F.trim(F.col("value")).startswith(";")
        )
        .select("file", "lineno", F.trim(F.col("value")).alias("line"))
        .withColumn("is_hdr", F.col("line").startswith(">"))
        # a LEADING headerless block is a legitimate record — legacy
        # FASTA, FastaConverters.parseDescriptionLine's optLine=None arm
        # (pinned on legacy.fa: comment-prefixed first sequence) — so
        # rec 0 is kept, with a null header
        .withColumn("rec", F.sum(F.col("is_hdr").cast("int")).over(w))
    )
    assembled = lines.groupBy("file", "rec").agg(
        F.max(F.when(F.col("is_hdr"), F.col("line"))).alias("header"),
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            ~F.col("is_hdr"),
                            F.struct(F.col("lineno"), F.col("line")),
                        )
                    )
                ),
                lambda s: s["line"],
            ),
            "",
        ).alias("sequence"),
    ).where(F.length("sequence") > 0)
    hdr = F.regexp_replace(F.col("header"), "^>", "")
    # parseDescriptionLine (FastaConverters.scala:91-116): split at the
    # first WHITESPACE (space or tab — the HLA fixture's header is
    # tab-separated); a first token containing '|' is NCBI-style
    # metadata → name stays NULL and the WHOLE header is the
    # description (pinned on chr20.250k.fa.gz); otherwise name = first
    # token, description = rest
    first_tok = F.regexp_extract(hdr, r"^\S+", 0)
    has_space = F.regexp_like(hdr, F.lit(r"\s"))
    rest = F.regexp_replace(hdr, r"^\S+\s+", "")
    meta_form = has_space & (F.instr(first_tok, "|") > 0)
    # cleanSequence (FastaConverters.scala:80-82): legacy translation-
    # stop '*' suffixes strip off
    seq = F.regexp_replace(F.upper(F.col("sequence")), r"\*$", "")
    df = assembled.select(
        F.when(F.col("header").isNotNull() & ~meta_form, first_tok).alias("name"),
        F.when(meta_form, F.trim(hdr))
        .when(has_space, F.trim(rest))
        .alias("description"),
        F.lit(alphabet).alias("alphabet"),
        seq.alias("sequence"),
        F.length(seq).cast("long").alias("length"),
    )
    return schemas.conform(df, schemas.SEQUENCE)


def load_fasta_slices(
    spark: SparkSession, path: str, maximum_length: int = 10_000
) -> GenomicFrame:
    """FASTA → fixed-size SLICE records (ADAMContext.loadFastaDna(maximumLength):4066)."""
    from adam_spark.operators.conversions import slice_sequences

    seqs = load_fasta_sequences(spark, path)
    df = slice_sequences(seqs.df, maximum_length)
    return GenomicFrame(
        schemas.conform(df, schemas.SLICE), GenomicMetadata(kind="slice")
    )


def create_references(gf: GenomicFrame) -> SequenceDictionary:
    """Sequence dictionary from loaded sequences
    (SequenceDataset.createReferences:460) — a small driver collect."""
    rows = gf.df.select("name", "length").collect()
    return SequenceDictionary(
        [Reference(name=r["name"], length=r["length"]) for r in rows]
    )


def save_fasta(
    gf: GenomicFrame, path: str, line_width: int = 60,
    single_file: bool = False, fs=None,
) -> None:
    """Sequences/slices → FASTA, line-wrapped (SequenceDataset.scala:508)."""
    if single_file:
        # single-file saves also emit a samtools-faidx sidecar
        # (part-00000.fai) so the output is random-accessible by
        # IndexedFastaFile / samtools without a rebuild pass: each
        # shard task returns O(sequences-in-shard) (name, length,
        # local first-base offset) entries alongside its text bytes,
        # and the driver prefix-shifts them — the same manifest shape
        # as the binary index writers.
        from adam_spark.sources.filesystem import get_fs
        from adam_spark.sources.merge import concat_files

        # resolved ONCE; the handle rides the task closure so shard
        # bytes stream executor->store directly
        fs, path = get_fs(path, fs)

        header = _fasta_header()
        fai_df = gf.df.select(
            fasta_record(line_width).alias("value"),
            F.substring_index(
                F.coalesce(F.col("name"), F.col("description"), F.lit("")),
                " ", 1,
            ).alias("__fai_name"),
            F.length("sequence").alias("__fai_len"),
            # first base sits right after the header line's newline;
            # the shard buffer advances in UTF-8 BYTES, so the skip
            # must too (octet_length, not length — a non-ASCII
            # description would shift every later offset)
            (F.octet_length(header) + 1).cast("long").alias("__fai_skip"),
        )
        shard_dir = path + ".__shards"
        fs.rmtree(shard_dir)
        fs.makedirs(shard_dir)

        def _enc(i, it):
            # the per-sequence (name, length, local offset) entries go
            # to a shard-local sidecar, NOT the driver manifest: the
            # driver fold stays O(shards) and streams the .fai in O(1)
            # memory even for a many-million-record FASTA
            buf = bytearray()
            sp = fs.join(shard_dir, f"part-{i:05d}")
            ef = fs.open_write(sp + ".entries")
            try:
                for row in it:
                    name, seq_len = row["__fai_name"], row["__fai_len"]
                    if name and seq_len > 0:  # unnamed/empty: not seekable
                        ef.write(
                            f"{name}\t{seq_len}\t"
                            f"{len(buf) + row['__fai_skip']}\n".encode()
                        )
                    buf += row["value"].encode() + b"\n"
            finally:
                ef.close()
            f = fs.open_write(sp)
            try:
                f.write(bytes(buf))
            finally:
                f.close()
            return [(i, sp)]

        manifests = fai_df.rdd.mapPartitionsWithIndex(_enc).collect()
        manifests.sort(key=lambda m: m[0])
        fs.makedirs(path)
        for stale in fs.glob(fs.join(path, "part-*")) + fs.glob(
            fs.join(path, "_SUCCESS")
        ):
            fs.remove(stale)
        out_part = fs.join(path, "part-00000")
        offs = concat_files(
            out_part, [m[1] for m in manifests], fs=fs
        )
        fai = fs.open_write(out_part + ".fai")
        try:
            for (_, sp), base in zip(manifests, offs):
                ef = fs.open_read(sp + ".entries")
                try:
                    for line in ef.read().decode().splitlines():
                        name, seq_len, skip = line.split("\t")
                        linebases = min(int(seq_len), line_width)
                        fai.write(
                            f"{name}\t{seq_len}\t{base + int(skip)}\t"
                            f"{linebases}\t{linebases + 1}\n".encode()
                        )
                finally:
                    ef.close()
                fs.remove(sp + ".entries")
                fs.remove(sp)
        finally:
            fai.close()
        fs.rmtree(shard_dir)
        fs.touch(fs.join(path, "_SUCCESS"))
    else:
        gf.df.select(fasta_record(line_width).alias("value")).write.text(path)


def _fasta_header() -> Column:
    # name may be NULL with the full header held in description (NCBI
    # metadata form, parseDescriptionLine) — emit whichever parts exist
    return F.concat(
        F.lit(">"),
        F.concat_ws(
            " ",
            *[
                F.when(F.col(c).isNotNull(), F.col(c))
                for c in ("name", "description")
            ],
        ),
    )


def fasta_record(line_width: int = 60) -> Column:
    """One FASTA record per sequence row: the header line, then the
    sequence wrapped at ``line_width``."""
    wrapped = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.floor((F.length("sequence") - 1) / line_width)),
            lambda i: F.substring(
                F.col("sequence"), (i * line_width + 1).cast("int"), line_width
            ),
        ),
        "\n",
    )
    return F.concat_ws("\n", _fasta_header(), wrapped)
