"""Command-line layer mirroring adam-cli (ADAMMain.scala:28-67).

Commands compose the library exactly like the reference's CLI composes
adam-core: ``transform_alignments`` is the pipeline driver
(TransformAlignments.scala:45-653 flag set, core subset). All 15
reference commands are mirrored: count_kmers, count_slice_kmers,
transform_{alignments,features,genotypes,sequences,slices,variants,
fragments}, merge_shards, coverage, adam2fastq, print, flagstat, view.
Run via ``python -m adam_spark <command> ...``.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import functions as F


def _spark(args):
    from adam_spark import get_spark

    return get_spark(f"adam_spark {args.command}")


def _parse_regions(spec: str) -> list[tuple[str, int, int]]:
    """'chr1:0-1000,chr2:50-100' → [(name, start, end), ...]
    (reference -region_predicate syntax, TransformAlignments.scala:68)."""
    regions = []
    for part in spec.split(","):
        name, span = part.rsplit(":", 1)
        beg, end = span.split("-", 1)
        regions.append((name, int(beg), int(end)))
    return regions


def _indexed_contexts(spark, path: str, regions):
    """Region-pruned variant-context load through an index sidecar, or
    ``None`` when the input has no usable index (caller falls back to
    the full scan + overlap filter). Mirrors how the compat surface
    routes loadIndexedBcf/loadIndexedVcf — the CLI's
    ``-region_predicate`` reads only the index-addressed chunks instead
    of scanning the whole file."""
    import os as _os

    lp = path.lower().rstrip("/")
    if lp.endswith(".bcf") and _os.path.exists(path + ".csi"):
        from adam_spark.sources.bcf import load_indexed_bcf

        return load_indexed_bcf(spark, path, regions)
    if lp.endswith((".vcf.gz", ".vcf.bgz", ".vcf.bgzf.gz")) and (
        _os.path.exists(path + ".tbi") or _os.path.exists(path + ".csi")
    ):
        from adam_spark.sources.vcf import load_indexed_vcf

        return load_indexed_vcf(spark, path, regions)
    return None


_STRINGENCIES = ("SILENT", "LENIENT", "STRICT")

#: text formats eligible for the -disable_fast_concat serial-concat path
_TEXT_SAVE_EXTS = (
    ".sam", ".fq", ".fastq", ".ifq", ".bed", ".gtf", ".gff3",
    ".narrowpeak", ".interval_list", ".vcf", ".fa", ".fasta",
)


def _resolve_single(args) -> bool:
    """ADAMSaveAnyArgs single-file resolution shared by the transform
    commands: the reference's ``-single`` flag, or this CLI's default
    non-``-sharded`` mode; ``-defer_merging`` leaves the sharded
    directory in place either way."""
    single = getattr(args, "single", False) or not getattr(args, "sharded", False)
    return single and not getattr(args, "defer_merging", False)


def _save_any(gf, output: str, single_file: bool,
              disable_fast_concat: bool = False, **save_kwargs) -> None:
    """Save dispatch plus the ``-disable_fast_concat`` variant
    (util/FileMerger.scala:35's non-parallel branch). The default
    single-file path is the FileMerger shape: shards render and write
    at full parallelism and the driver streams them into one file
    (sources/merge.write_text_single_file). ``-disable_fast_concat``
    reaches the same bytes through the explicit two-step — a sharded
    save to a directory, then a separate merge_shards concat pass —
    mirroring the reference's flag, which switches the merge away from
    the filesystem's native parallel concat."""
    from adam_spark import context as ctx

    if single_file and disable_fast_concat and output.lower().endswith(_TEXT_SAVE_EXTS):
        import os as _os
        import shutil as _shutil

        from adam_spark.sources.merge import merge_shards

        # keep the extension so the sharded save dispatches by format
        base, ext = _os.path.splitext(output)
        shard_dir = base + ".shards" + ext
        ctx.save(gf, shard_dir, single_file=False, **save_kwargs)
        merge_shards(shard_dir, output)
        _shutil.rmtree(shard_dir)
    else:
        ctx.save(gf, output, single_file=single_file, **save_kwargs)


def _maybe_coalesce(df, n: int | None, force_shuffle: bool):
    """-coalesce / -force_shuffle_coalesce (TransformGenotypes.scala:52-56):
    a plain coalesce() can collapse upstream parallelism into the narrow
    ancestor; the shuffle variant repartitions instead."""
    if not n or n == -1:
        return df
    return df.repartition(n) if force_shuffle else df.coalesce(n)


def _maybe_sort(df, sort_on_save: bool, sort_lexicographically: bool, references):
    """-sort_on_save (contig-index order) / -sort_lexicographically_on_save
    (TransformGenotypes.scala:118-130 maybeSort)."""
    if sort_on_save:
        from adam_spark.operators import sorts

        return sorts.sort(df, references, drop_unmapped=False)
    if sort_lexicographically:
        return df.orderBy("referenceName", "start")
    return df


def _write_text_lines(df, output: str, single_file: bool) -> None:
    """Text lines → one file (sharded write + driver concat, the
    writeTextRdd asSingleFile shape) or a sharded directory."""
    if single_file:
        import shutil as _shutil

        from adam_spark.sources.merge import merge_shards

        shard_dir = output + ".shards"
        df.write.mode("overwrite").text(shard_dir)
        merge_shards(shard_dir, output)
        _shutil.rmtree(shard_dir)
    else:
        df.write.mode("overwrite").text(output)


def _cmd_transform_alignments(args) -> int:
    from adam_spark import context as ctx
    from adam_spark.core.genomic_frame import GenomicFrame
    from adam_spark.operators import filters as flt
    from adam_spark.operators.mark_duplicates import mark_duplicates
    from adam_spark.operators import sorts
    from adam_spark.operators.quality import bin_quality_scores, left_normalize_indels

    if args.stringency not in _STRINGENCIES:
        print(f"-stringency must be one of {_STRINGENCIES}", file=sys.stderr)
        return 2
    if args.region_predicate and args.aligned_read_predicate:
        print("-region_predicate and -aligned_read_predicate are exclusive",
              file=sys.stderr)
        return 2

    n_force = sum(
        1 for f in (args.force_load_bam, args.force_load_fastq,
                    args.force_load_ifastq, args.force_load_parquet) if f
    )
    if n_force > 1:
        print("at most one -force_load_* flag may be given", file=sys.stderr)
        return 2

    spark = _spark(args)
    # -force_load_* bypasses extension dispatch (TransformAlignments
    # .scala:140-149); -paired_fastq supplies the r2 path (.scala:161)
    if args.force_load_bam:
        # BAM vs text SAM by content, not name: BAM is BGZF (gzip magic)
        from adam_spark.sources import sam as _sam_mod
        from adam_spark.sources.bam import load_bam

        with open(args.input, "rb") as fh:
            magic = fh.read(2)
        gf = (load_bam(spark, args.input) if magic == b"\x1f\x8b"
              else _sam_mod.load_sam(spark, args.input))
    elif args.force_load_fastq or args.paired_fastq:
        from adam_spark.sources.fastq import load_fastq_alignments

        gf = load_fastq_alignments(spark, args.input, args.paired_fastq)
    elif args.force_load_ifastq:
        from adam_spark.sources.fastq import load_fastq_alignments

        gf = load_fastq_alignments(spark, args.input, interleaved=True)
    elif args.force_load_parquet:
        gf = ctx._load_parquet(spark, args.input, "alignment")
    else:
        gf = None
        if args.region_predicate and args.input.lower().endswith(".bam"):
            import os as _os

            # an index sidecar narrows the scan to the chunks the
            # regions address (the loadIndexedBam shape); the overlap
            # filter below still applies, so semantics are unchanged
            if _os.path.exists(args.input + ".bai") or _os.path.exists(
                args.input + ".csi"
            ):
                from adam_spark.sources.bam import load_indexed_bam

                # -stringency reaches the header parse on this arm too
                # (the fallback passes it to load_alignments; without
                # this, whether a malformed header raised depended on
                # whether a .bai happened to exist)
                gf = load_indexed_bam(
                    spark, args.input, _parse_regions(args.region_predicate),
                    stringency=args.stringency,
                )
        if gf is None:
            # -stringency reaches the SAM header parse
            # (TransformAlignments passes its stringency to loadAlignments)
            gf = ctx.load_alignments(spark, args.input, stringency=args.stringency)
    is_fastq_input = (
        args.force_load_fastq or args.force_load_ifastq or args.paired_fastq
        or args.input.lower().endswith((".fq", ".fastq", ".ifq"))
    )
    if args.read_group is not None and is_fastq_input:
        # set converted FASTQs' read group; empty string → input
        # basename minus extension (TransformAlignments.scala:164)
        import os as _os

        from adam_spark.core.metadata import ReadGroup

        rg_id = args.read_group or _os.path.splitext(
            _os.path.basename(args.input)
        )[0]
        meta = gf.meta.copy()
        meta.read_groups = [ReadGroup(id=rg_id)]
        gf = GenomicFrame(gf.df.withColumn("readGroupId", F.lit(rg_id)), meta)
    if args.max_read_length and args.max_read_length > 0 and is_fastq_input:
        # FastqRecordReader.setMaxReadLength analog (.scala:445-446):
        # over-long reads are an error under STRICT, dropped (with a
        # count to stderr) otherwise
        too_long = gf.df.where(F.length("sequence") > args.max_read_length)
        if args.stringency == "STRICT":
            n_bad = too_long.count()
            if n_bad:
                print(f"{n_bad} reads exceed -max_read_length "
                      f"{args.max_read_length}", file=sys.stderr)
                return 1
        gf = GenomicFrame(
            gf.df.where(F.length("sequence") <= args.max_read_length), gf.meta
        )
    if args.concat:
        other = ctx.load_alignments(spark, args.concat)
        gf = GenomicFrame(gf.df.unionByName(other.df, allowMissingColumns=True),
                          gf.meta)
    # load-side predicates/projection (pushed into the parquet scan by
    # Catalyst when the source is parquet — filter + select reach the
    # reader as PushedFilters/ReadSchema; TransformAlignments.scala:62-69)
    if args.region_predicate:
        gf = gf.filter_by_overlapping_regions(_parse_regions(args.region_predicate))
    df = gf.df
    if args.aligned_read_predicate:
        df = df.where(F.col("readMapped").eqNullSafe(F.lit(True)))
    if args.limit_projection:
        keep = [
            "readName", "referenceName", "start", "end", "cigar", "sequence",
            "qualityScores", "mappingQuality", "readMapped", "readPaired",
            "properPair", "readNegativeStrand", "readInFragment", "readGroupId",
            "duplicateRead", "primaryAlignment", "secondaryAlignment",
            "supplementaryAlignment", "mateReferenceName", "mateAlignmentStart",
            "mateMapped", "mateNegativeStrand", "insertSize",
            "mismatchingPositions", "failedVendorQualityChecks",
            "originalQualityScores",
        ]
        df = df.select([c for c in keep if c in df.columns])
    if args.repartition:
        df = df.repartition(args.repartition)
    if args.min_mapping_quality is not None:
        df = flt.filter_by_mapping_quality(df, args.min_mapping_quality)
    if args.filter_duplicates:
        df = flt.filter_duplicate_reads(df)
    if args.mark_duplicate_reads:
        df = mark_duplicates(df, {g.id: (g.library or g.id) for g in gf.meta.read_groups})
    if args.recalibrate_base_qualities:
        from adam_spark.operators.bqsr import recalibrate_base_qualities

        known = None
        if args.known_snps:
            known = ctx.load_variants(spark, args.known_snps).df
        df = recalibrate_base_qualities(
            df, known, min_acceptable_quality=args.min_acceptable_quality,
            sampling_fraction=args.sampling_fraction,
            # seed 0 means "unset" in the reference (.scala:92-93)
            sampling_seed=args.sampling_seed or None,
        )
    if args.realign_indels:
        from adam_spark.operators.realignment import realign_indels

        known = None
        if args.known_indels:
            known = ctx.load_variants(spark, args.known_indels).df
        df = realign_indels(
            df,
            known_indels=known,
            lod_threshold=args.log_odds_threshold,
            max_consensus_number=args.max_consensus_number,
            max_indel_size=args.max_indel_size,
            max_target_size=args.max_target_size,
            max_reads_per_target=args.max_reads_per_target,
            unclip_reads=args.unclip_reads,
        )
        if args.reference:
            # -reference (TransformAlignments.scala:125, :280-283):
            # realigned reads get fresh MD tags against the reference
            # (the reference engine threads optReferenceFile into
            # realignIndels for exactly this)
            from adam_spark.operators.md_tagging import compute_mismatching_positions

            ref = args.reference
            if not ref.lower().endswith(".2bit"):
                from adam_spark.sources.fasta import load_fasta_sequences

                ref = load_fasta_sequences(spark, ref).df
            df = compute_mismatching_positions(df, ref, overwrite=True)
    if args.left_normalize_indels:
        df = left_normalize_indels(df)
    if args.add_md_tags:
        from adam_spark.operators.md_tagging import compute_mismatching_positions

        ref = args.add_md_tags
        if ref.lower().endswith(".2bit"):
            df = compute_mismatching_positions(df, ref, overwrite=args.md_tag_overwrite)
        elif args.md_tag_fragment_size:
            # -md_tag_fragment_size (.scala:173-174, :282): bound per-
            # fragment reference memory by tagging against OVERLAPPING
            # slices of that length (pad covers boundary-spanning reads)
            from adam_spark.operators.md_tagging import tag_reads_with_md
            from adam_spark.sources.fasta import load_fasta_sequences

            fs = int(args.md_tag_fragment_size)
            pad = 10_000  # >= max read reference span
            seqs = load_fasta_sequences(spark, ref).df
            slices = seqs.select(
                "name",
                F.posexplode(
                    F.sequence(
                        F.lit(0),
                        F.floor((F.length("sequence") - F.lit(1)) / F.lit(fs)).cast("long"),
                    )
                ).alias("__i", "__step"),
                F.col("sequence").alias("__full"),
            ).select(
                "name",
                (F.col("__i") * fs).cast("long").alias("start"),
                F.least(
                    F.length("__full").cast("long"),
                    (F.col("__i") * fs + fs + pad).cast("long"),
                ).alias("end"),
                F.col("__full").substr(
                    (F.col("__i") * fs + 1).cast("int"), F.lit(fs + pad)
                ).alias("sequence"),
            )
            df = tag_reads_with_md(df, slices)
        else:
            # FASTA: load to the SEQUENCE schema; the kernel collects
            # contigs into its broadcast dict (2bit stays the scale path)
            from adam_spark.sources.fasta import load_fasta_sequences

            df = compute_mismatching_positions(
                df, load_fasta_sequences(spark, ref).df,
                overwrite=args.md_tag_overwrite,
            )
    if args.bin_quality_scores:
        df = bin_quality_scores(df, args.bin_quality_scores.split(";"))
    if args.sort_by_read_name:
        df = sorts.sort_by_read_name(df)
    elif args.sort_by_reference_position:
        df = sorts.sort_by_reference_position(df)
        # the reference replaces the dictionary with stripIndices.sorted
        # (AlignmentDataset.scala:1023-1029) so the isSorted save writes
        # @SQ in the file's record order (byte-pinned vs ordered.sam)
        from dataclasses import replace as _replace

        from adam_spark.core.metadata import SequenceDictionary

        gf = gf.__class__(gf.df, gf.meta.copy())
        gf.meta.references = SequenceDictionary(
            [
                _replace(r, index=None)
                for r in sorted(gf.meta.references.references, key=lambda r: r.name)
            ]
        )
    elif args.sort_by_reference_position_and_index:
        df = sorts.sort_by_reference_position_and_index(df, gf.meta.references)
    if args.cache:
        # -storage_level names a pyspark StorageLevel constant
        # (StorageLevel.fromString analog, TransformAlignments.scala:441)
        from pyspark import StorageLevel

        level = getattr(StorageLevel, args.storage_level, None)
        if level is None:
            print(f"unknown -storage_level {args.storage_level}", file=sys.stderr)
            return 2
        df = df.persist(level)
    df = _maybe_coalesce(df, args.coalesce, args.force_shuffle_coalesce)
    out = gf.__class__(df, gf.meta)
    # a fresh @PG program record goes into SAM/BAM headers unless
    # -disable_pg (TransformAlignments.scala:188)
    pg_line = (
        None
        if args.disable_pg
        else "@PG\tID:adam_spark\tPN:adam_spark\tCL:transform_alignments"
    )
    single_file = _resolve_single(args)
    is_fastq_out = args.output.lower().endswith((".fq", ".fastq"))
    save_kwargs = {}
    # isSorted flows to the SAM header exactly when a sort ran
    # (TransformAlignments.scala:646): @HD SO:queryname for the
    # read-name sort, SO:coordinate + dictionary-ordered @SQ otherwise
    if args.sort_by_read_name:
        save_kwargs["sort_order"] = "queryname"
    elif args.sort_by_reference_position or args.sort_by_reference_position_and_index:
        save_kwargs["is_sorted"] = True
    if is_fastq_out and args.sort_fastq_output:
        save_kwargs["sort_by_name"] = True  # .scala:137-138
    if args.partition_by_start_pos:
        from adam_spark.sources.parquet import save_partitioned_parquet

        save_partitioned_parquet(out, args.output, partition_size=args.partition_bin_size)
    elif args.partition_size:
        ctx.save(out, args.output, partition_size=args.partition_size)
    else:
        _save_any(out, args.output, single_file, args.disable_fast_concat,
                  pg_line=pg_line, **save_kwargs)
    return 0


def _cmd_idxstats(args) -> int:
    """samtools-idxstats analog (beyond the reference CLI): per-contig
    `name  length  n_mapped  n_unmapped` plus a trailing `*` row for
    unplaced reads, answered ENTIRELY from the index sidecar's metadata
    pseudo-bins when one exists (.bai/.csi next to a .bam — O(index)
    driver I/O, the data file is never opened); without an index it
    falls back to one distributed scan + groupBy.

    Variant inputs (.vcf.gz/.vcf.bgz/.bcf with a .tbi/.csi sidecar)
    print `bcftools index -s` rows instead: `name  length-or-.
    n_records`, one per contig WITH records, from the same metadata
    pseudo-bins (the payload save_vcf_bgzf/save_bcf write) — the
    header read is O(header) and the data body is never scanned. The
    index-less fallback counts loaded rows, which on per-alt-line
    files (what this repo's writers produce) equals the record count."""
    import os as _os

    spark = None
    lines: list[str] = []
    low = args.input.lower()
    bam_like = low.endswith(".bam")
    vcf_like = low.endswith((".vcf.gz", ".vcf.bgz", ".bcf"))
    idx = None
    if bam_like:
        from adam_spark.sources.binned_index import read_bai, read_csi

        if _os.path.exists(args.input + ".bai"):
            idx = read_bai(args.input + ".bai")
        elif _os.path.exists(args.input + ".csi"):
            idx = read_csi(args.input + ".csi")
    elif vcf_like:
        from adam_spark.sources.binned_index import read_csi, read_tbi

        if _os.path.exists(args.input + ".tbi"):
            idx = read_tbi(args.input + ".tbi")
        elif _os.path.exists(args.input + ".csi"):
            idx = read_csi(args.input + ".csi")
    if vcf_like:
        if idx is not None and idx.meta:
            # contig dictionary (rid order + lengths): the BCF header
            # or the VCF '##contig' lines — O(header) driver reads
            if low.endswith(".bcf"):
                from adam_spark.sources.bcf import _bcf_header_driver_side

                _, _, refs_, _ = _bcf_header_driver_side(args.input)
            else:
                from adam_spark.sources.vcf import (
                    _header_from_lines,
                    _header_lines_local,
                )

                _, refs_, _ = _header_from_lines(
                    _header_lines_local(args.input)
                )
            lengths = {r.name: r.length for r in refs_}
            # .tbi / tabix-over-CSI carry rid-ordered names in the
            # index itself; a plain BCF .csi doesn't (BCF keeps them
            # in its own header dictionary)
            names = list(idx.names) or [r.name for r in refs_]
            for rid_, name in enumerate(names):
                m = idx.meta.get(rid_)
                if m and m[2] + m[3] > 0:
                    lng = lengths.get(name)
                    lines.append(f"{name}\t{lng if lng else '.'}\t{m[2] + m[3]}")
        else:
            from adam_spark import context as ctx

            spark = _spark(args)
            gf = ctx.load_variant_contexts(spark, args.input)
            counts = {
                r["referenceName"]: r["n"]
                for r in gf.df.groupBy("referenceName")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            lengths = {
                r.name: r.length for r in gf.meta.references.references
            }
            ordered = [
                r.name
                for r in gf.meta.references.references
                if counts.get(r.name)
            ] + sorted(
                k for k in counts
                if k is not None and k not in lengths
            )
            for name in ordered:
                lng = lengths.get(name)
                lines.append(f"{name}\t{lng if lng else '.'}\t{counts[name]}")
        print("\n".join(lines))
        return 0
    if idx is not None and (idx.meta or idx.n_no_coor is not None):
        from adam_spark.sources.bam import _read_bam_header_lazy

        header_lines, ref_names, _, _ = _read_bam_header_lazy(args.input)
        lengths = {}
        for ln in header_lines:
            if ln.startswith("@SQ"):
                f = dict(t.split(":", 1) for t in ln.split("\t")[1:] if ":" in t)
                if "SN" in f:
                    lengths[f["SN"]] = int(f.get("LN", 0))
        for rid_, name in enumerate(ref_names):
            m = idx.meta.get(rid_, (0, 0, 0, 0))
            lines.append(f"{name}\t{lengths.get(name, 0)}\t{m[2]}\t{m[3]}")
        lines.append(f"*\t0\t0\t{idx.n_no_coor or 0}")
    else:
        from adam_spark import context as ctx

        spark = _spark(args)
        gf = ctx.load_alignments(spark, args.input)
        counts = {
            r["referenceName"]: (r["m"], r["u"])
            for r in gf.df.groupBy("referenceName")
            .agg(
                F.sum(F.when(F.col("readMapped"), 1).otherwise(0)).alias("m"),
                F.sum(F.when(~F.coalesce("readMapped", F.lit(False)), 1)
                      .otherwise(0)).alias("u"),
            )
            .collect()
        }
        listed = set()
        for ref in gf.meta.references.references:
            m, u = counts.get(ref.name, (0, 0))
            lines.append(f"{ref.name}\t{ref.length or 0}\t{m}\t{u}")
            listed.add(ref.name)
        # contigs present in the data but absent from the sequence
        # dictionary still get a row (length 0) — samtools idxstats
        # totals always sum to the read count, so dropping unlisted
        # groupBy keys would silently lose reads from the totals
        for name in sorted(k for k in counts if k is not None and k not in listed):
            m, u = counts[name]
            lines.append(f"{name}\t0\t{m}\t{u}")
        un = counts.get(None, (0, 0))
        lines.append(f"*\t0\t0\t{un[0] + un[1]}")
    print("\n".join(lines))
    return 0


def _cmd_flagstat(args) -> int:
    from adam_spark import context as ctx
    from adam_spark.operators.flagstat import flagstat

    if args.stringency not in _STRINGENCIES:
        print(f"-stringency must be one of {_STRINGENCIES}", file=sys.stderr)
        return 2
    spark = _spark(args)
    gf = ctx.load_alignments(spark, args.input)
    lines = [
        f"{k}\t{v}"
        for row in flagstat(gf.df).collect()
        for k, v in row.asDict().items()
    ]
    if args.o:
        # -o: write the stats to a file instead of stdout (FlagStat.scala:37)
        with open(args.o, "w") as fh:
            fh.write("\n".join(lines) + "\n")
    else:
        for line in lines:
            print(line)
    return 0


def _cmd_coverage(args) -> int:
    from adam_spark import context as ctx
    from adam_spark.core.genomic_frame import GenomicFrame
    from adam_spark.operators.coverage import collapse_coverage, to_coverage

    # reference requires -collapse with -sort_lexicographically
    # (Coverage.scala run(): "-sort_lexicographically can only be used
    # with -collapse")
    if args.sort_lexicographically and not args.collapse:
        print("-sort_lexicographically requires -collapse", file=sys.stderr)
        return 2
    spark = _spark(args)
    gf = ctx.load_alignments(spark, args.input)
    df = gf.df
    # strand restriction before the pileup (Coverage.scala:72-78)
    if args.only_negative_strands:
        df = df.where(F.col("readNegativeStrand") == True)  # noqa: E712
    if args.only_positive_strands:
        df = df.where(F.coalesce(F.col("readNegativeStrand"), F.lit(False)) == False)  # noqa: E712
    cov = to_coverage(df)
    if args.collapse:
        cov = collapse_coverage(cov)
    if args.sort_lexicographically:
        cov = cov.orderBy("referenceName", "start")
    meta = gf.meta.copy()
    meta.kind = "coverage"
    _save_any(GenomicFrame(cov, meta), args.output, _resolve_single(args),
              args.disable_fast_concat, mode="overwrite")
    return 0


def _kmer_output(counts, args) -> int:
    """Shared histogram/sort/save tail of count_kmers and
    count_slice_kmers (CountReadKmers.scala:86-104)."""
    if args.print_histogram:
        counts = counts.persist()
        # multiplicity histogram, ordered by count value — the
        # reference's countByValue().toSeq.sortBy println of tuples
        for row in (
            counts.groupBy("count").agg(F.count("*").alias("n"))
            .orderBy("count").collect()
        ):
            print(f"({row['count']},{row['n']})")
    if args.sort:
        counts = counts.orderBy("kmer")
    out = counts.select(F.concat_ws("\t", F.col("kmer"), F.col("count")))
    _write_text_lines(out, args.output, args.single)
    if args.print_histogram:
        counts.unpersist()
    return 0


def _cmd_count_kmers(args) -> int:
    from adam_spark import context as ctx
    from adam_spark.operators.kmers import count_kmers

    spark = _spark(args)
    gf = ctx.load_alignments(spark, args.input)
    # Projection(sequence) (CountReadKmers.scala:75): prune the scan to
    # the one column the kernel reads
    df = gf.df.select("sequence")
    if args.repartition and args.repartition != -1:
        df = df.repartition(args.repartition)
    return _kmer_output(count_kmers(df, args.kmer_length), args)


def _cmd_view(args) -> int:
    from adam_spark import context as ctx
    from adam_spark.operators.filters import view_filter

    spark = _spark(args)
    gf = ctx.load_alignments(spark, args.input)
    df = view_filter(
        gf.df,
        match_all_bits=args.f,
        mismatch_all_bits=args.F,
        match_some_bits=args.g,
        mismatch_some_bits=args.G,
    )
    # -o FILE, or FILE as the second positional (View.scala:77-83)
    output = args.output or args.output_pos
    if args.count:
        print(df.count())
    elif output:
        # single-file by default (this CLI's convention); -single is
        # accepted for reference-parity, -defer_merging leaves shards
        single = not args.defer_merging
        _save_any(gf.__class__(df, gf.meta), output, single,
                  args.disable_fast_concat)
    else:
        for line in df.limit(args.limit).collect():
            print(line)
    return 0


def _cmd_transform_features(args) -> int:
    from adam_spark import context as ctx
    from adam_spark.core.genomic_frame import GenomicFrame

    spark = _spark(args)
    gf = ctx.load_features(spark, args.input)
    if args.reference:
        # -reference: .dict / .genome / .txt sequence dictionary attached
        # to the dataset (TransformFeatures.scala:47-49)
        meta = gf.meta.copy()
        meta.references = ctx.load_sequence_dictionary(args.reference)
        gf = GenomicFrame(gf.df, meta)
    if args.num_partitions:
        # -num_partitions sizes the text-load parallelism in the
        # reference (minPartitions of the Hadoop text read); DataFrame
        # text scans split by maxPartitionBytes instead, so the load
        # parallelism contract is delivered as an explicit repartition
        gf = GenomicFrame(gf.df.repartition(args.num_partitions), gf.meta)
    if args.partition_by_start_pos:
        from adam_spark.sources.parquet import save_partitioned_parquet

        save_partitioned_parquet(gf, args.output, partition_size=args.partition_bin_size)
    else:
        _save_any(gf, args.output, _resolve_single(args), args.disable_fast_concat)
    return 0


def _is_vcf_out(path: str) -> bool:
    return path.lower().endswith((".vcf", ".vcf.gz", ".vcf.bgz"))


def _cmd_transform_variants(args) -> int:
    from adam_spark import context as ctx
    from adam_spark.core.genomic_frame import GenomicFrame

    if args.stringency not in _STRINGENCIES:
        print(f"-stringency must be one of {_STRINGENCIES}", file=sys.stderr)
        return 2
    if args.sort_on_save and args.sort_lexicographically_on_save:
        # TransformVariants run(): "Cannot set both -sort_on_save and
        # -sort_lexicographically_on_save"
        print("-sort_on_save conflicts with -sort_lexicographically_on_save",
              file=sys.stderr)
        return 2
    spark = _spark(args)
    # TransformVariants.run() loads VARIANTS (sc.loadVariants) — the
    # toVariants step drops FORMAT header lines and samples, so the
    # VCF output is sites-only (byte-pinned vs sorted-variants.vcf)
    if args.region_predicate:
        regions = _parse_regions(args.region_predicate)
        pruned = _indexed_contexts(spark, args.input, regions)
        if pruned is not None:
            from adam_spark.sources import vcf as _vcf

            gf = _vcf.contexts_to_variants_frame(pruned)
        else:
            gf = ctx.load_variants(spark, args.input).filter_by_overlapping_regions(
                regions
            )
    else:
        gf = ctx.load_variants(spark, args.input)
    df = _maybe_coalesce(gf.df, args.coalesce, args.force_shuffle_coalesce)
    df = _maybe_sort(df, args.sort_on_save, args.sort_lexicographically_on_save,
                     gf.meta.references)
    out = GenomicFrame(df, gf.meta)
    if not _is_vcf_out(args.output) and args.partition_by_start_pos:
        from adam_spark.sources.parquet import save_partitioned_parquet

        save_partitioned_parquet(out, args.output, partition_size=args.partition_bin_size)
    else:
        _save_any(out, args.output, _resolve_single(args), args.disable_fast_concat)
    return 0


def _cmd_count_slice_kmers(args) -> int:
    from adam_spark import context as ctx
    from adam_spark.operators.kmers import count_slice_kmers

    spark = _spark(args)
    gf = ctx.load_slices(spark, args.input, maximum_length=args.maximum_length)
    return _kmer_output(count_slice_kmers(gf.df, args.kmer_length), args)


def _cmd_transform_genotypes(args) -> int:
    from adam_spark import context as ctx
    from adam_spark.core.genomic_frame import GenomicFrame

    if args.stringency not in _STRINGENCIES:
        print(f"-stringency must be one of {_STRINGENCIES}", file=sys.stderr)
        return 2
    if args.sort_on_save and args.sort_lexicographically_on_save:
        print("-sort_on_save conflicts with -sort_lexicographically_on_save",
              file=sys.stderr)
        return 2
    spark = _spark(args)
    if args.region_predicate:
        regions = _parse_regions(args.region_predicate)
        pruned = _indexed_contexts(spark, args.input, regions)
        if pruned is not None:
            from adam_spark.sources import vcf as _vcf

            gf = _vcf.contexts_to_genotypes_frame(pruned)
        else:
            gf = ctx.load_genotypes(spark, args.input).filter_by_overlapping_regions(
                regions
            )
    else:
        gf = ctx.load_genotypes(spark, args.input)
    df = gf.df
    is_vcf_in = args.input.lower().rstrip("/").endswith(
        (".vcf", ".vcf.gz", ".vcf.bgz", ".vcf.bgzf.gz")
    )
    if not args.nested_annotations and is_vcf_in and "variant" in df.columns:
        # the reference populates genotype.variant.annotation only with
        # -nested_annotations (TransformGenotypes.scala:57-59, disabled
        # by default); this loader always carries it, so the default
        # path nulls it out. The property gates the htsjdk→Avro
        # CONVERSION only (VariantContextConverter.genotypeVariant:
        # 350-356) — a parquet input carries whatever was stored, so
        # the strip applies only when the input is VCF
        ann_type = df.schema["variant"].dataType["annotation"].dataType
        df = df.withColumn(
            "variant",
            F.col("variant").withField("annotation", F.lit(None).cast(ann_type)),
        )
    df = _maybe_coalesce(df, args.coalesce, args.force_shuffle_coalesce)
    if _is_vcf_out(args.output):
        # genotypes → variant contexts for VCF emission
        # (TransformGenotypes run(): .toVariantContexts.saveAsVcf)
        from adam_spark.operators.conversions import genotypes_to_variant_contexts

        vc = genotypes_to_variant_contexts(df)
        vc = _maybe_sort(vc, args.sort_on_save,
                         args.sort_lexicographically_on_save, gf.meta.references)
        meta = gf.meta.copy()
        meta.kind = "variant_context"
        _save_any(GenomicFrame(vc, meta), args.output, _resolve_single(args),
                  args.disable_fast_concat)
    else:
        df = _maybe_sort(df, args.sort_on_save,
                         args.sort_lexicographically_on_save, gf.meta.references)
        out = GenomicFrame(df, gf.meta)
        if args.partition_by_start_pos:
            from adam_spark.sources.parquet import save_partitioned_parquet

            save_partitioned_parquet(out, args.output,
                                     partition_size=args.partition_bin_size)
        else:
            _save_any(out, args.output, _resolve_single(args),
                      args.disable_fast_concat)
    return 0


_ALPHABETS = ("DNA", "PROTEIN", "RNA")


def _create_references_meta(gf):
    """-create_references (TransformSequences.scala:44-46): derive the
    sequence dictionary from sequence names and lengths. One tiny
    driver collect — the dictionary is header metadata by design."""
    from adam_spark.core.metadata import Reference

    rows = (
        gf.df.groupBy("name")
        .agg(
            F.max(
                F.coalesce(
                    F.col("totalLength") if "totalLength" in gf.df.columns
                    else F.col("length"),
                    F.col("length"),
                    F.length("sequence").cast("long"),
                )
            ).alias("len")
        )
        .collect()
    )
    meta = gf.meta.copy()
    meta.references = meta.references.__class__(
        [Reference(name=r["name"], length=int(r["len"]) if r["len"] is not None else None)
         for r in sorted(rows, key=lambda r: r["name"])]
    )
    return meta


def _cmd_transform_sequences(args) -> int:
    from adam_spark import context as ctx
    from adam_spark.core.genomic_frame import GenomicFrame

    if args.alphabet not in _ALPHABETS:
        print(f"-alphabet must be one of {_ALPHABETS}", file=sys.stderr)
        return 2
    spark = _spark(args)
    gf = ctx.load_sequences(spark, args.input, alphabet=args.alphabet)
    if args.create_references:
        gf = GenomicFrame(gf.df, _create_references_meta(gf))
    _save_any(gf, args.output, _resolve_single(args), args.disable_fast_concat)
    return 0


def _cmd_transform_slices(args) -> int:
    from adam_spark import context as ctx
    from adam_spark.core.genomic_frame import GenomicFrame

    spark = _spark(args)
    gf = ctx.load_slices(spark, args.input, maximum_length=args.maximum_length)
    if args.create_references:
        gf = GenomicFrame(gf.df, _create_references_meta(gf))
    _save_any(gf, args.output, _resolve_single(args), args.disable_fast_concat)
    return 0


def _cmd_transform_fragments(args) -> int:
    from adam_spark import context as ctx
    from adam_spark.core.genomic_frame import GenomicFrame
    from adam_spark.operators.conversions import (
        alignments_to_fragments,
        fragments_to_alignments,
    )

    n_sorts = sum(1 for s in (args.sort_by_read_name, args.sort_by_reference_position,
                              args.sort_by_reference_position_and_index) if s)
    if n_sorts > 1:
        # TransformFragments run(): only one sort flag may be given
        print("only one -sort_by_* flag may be specified", file=sys.stderr)
        return 2
    if n_sorts and not args.save_as_alignments:
        # TransformFragments run(): require(saveAsAlignments) for sorts
        print("-sort_by_* flags are only valid with -save_as_alignments",
              file=sys.stderr)
        return 2
    spark = _spark(args)
    if args.load_as_alignments or args.paired_fastq:
        # -load_as_alignments / -paired_fastq: treat INPUT as alignments
        # (two FASTQs when paired), then group to fragments
        # (TransformFragments.scala:138-142 loadAlignments().toFragments)
        agf = ctx.load_alignments(spark, args.input, path2=args.paired_fastq)
        if args.max_read_length and args.max_read_length > 0:
            agf = GenomicFrame(
                agf.df.where(F.length("sequence") <= args.max_read_length), agf.meta
            )
        meta = agf.meta.copy()
        meta.kind = "fragment"
        gf = GenomicFrame(alignments_to_fragments(agf.df), meta)
    else:
        gf = ctx.load_fragments(spark, args.input)
    df = gf.df
    if args.bin_quality_scores:
        from adam_spark.operators.quality import bin_fragment_quality_scores

        df = bin_fragment_quality_scores(df, args.bin_quality_scores.split(";"))
    if args.mark_duplicate_reads:
        from adam_spark.operators.mark_duplicates import mark_duplicate_fragments

        df = mark_duplicate_fragments(df)
    if args.save_as_alignments:
        # -save_as_alignments (TransformFragments.scala:55-57 + run():
        # .toAlignments, optional sort, save)
        from adam_spark.operators import sorts

        adf = fragments_to_alignments(df)
        meta = gf.meta.copy()
        save_kwargs = {}
        if args.sort_by_read_name:
            adf = sorts.sort_by_read_name(adf)
            save_kwargs["sort_order"] = "queryname"
        elif args.sort_by_reference_position:
            adf = sorts.sort_by_reference_position(adf)
            # stripIndices.sorted dictionary replacement + SO:coordinate
            # (same contract as transform_alignments; byte-pinned vs
            # sorted.sam through this command)
            from dataclasses import replace as _replace

            from adam_spark.core.metadata import SequenceDictionary

            meta.references = SequenceDictionary(
                [
                    _replace(r, index=None)
                    for r in sorted(meta.references.references, key=lambda r: r.name)
                ]
            )
            save_kwargs["is_sorted"] = True
        elif args.sort_by_reference_position_and_index:
            adf = sorts.sort_by_reference_position_and_index(adf, gf.meta.references)
            save_kwargs["is_sorted"] = True
        meta.kind = "alignment"
        _save_any(GenomicFrame(adf, meta), args.output, _resolve_single(args),
                  args.disable_fast_concat, **save_kwargs)
    else:
        _save_any(GenomicFrame(df, gf.meta), args.output, _resolve_single(args),
                  args.disable_fast_concat)
    return 0


def _cmd_adam2fastq(args) -> int:
    from adam_spark import context as ctx
    from adam_spark.core.genomic_frame import GenomicFrame
    from adam_spark.sources.fastq import save_fastq, save_paired_fastq

    if args.validation not in _STRINGENCIES:
        print(f"-validation must be one of {_STRINGENCIES}", file=sys.stderr)
        return 2
    spark = _spark(args)
    gf = ctx.load_alignments(spark, args.input)
    df = gf.df
    if not args.no_projection:
        # the reference projects to the five fields FASTQ needs
        # (ADAM2Fastq.scala:75-84) so the parquet scan prunes; -no_projection
        # disables it ("useful for testing / comparison")
        keep = [c for c in ("readName", "sequence", "qualityScores",
                            "readInFragment", "readPaired", "attributes")
                if c in df.columns]
        df = df.select(*keep)
    if args.output_oq and "attributes" in df.columns:
        # -output_oq: emit the pre-recalibration original qualities from
        # the OQ tag where present (ADAM2Fastq.scala:40 outputOriginalBaseQualities)
        oq = F.substring(
            F.try_element_at(F.col("attributes"), F.lit("OQ")), 3, 1_000_000
        )
        df = df.withColumn(
            "qualityScores",
            F.coalesce(F.nullif(oq, F.lit("")), F.col("qualityScores")),
        )
    if args.persist_level:
        from pyspark import StorageLevel

        level = getattr(StorageLevel, args.persist_level, None)
        if level is None:
            print(f"unknown -persist_level {args.persist_level}", file=sys.stderr)
            return 2
        df = df.persist(level)
    if args.repartition and args.repartition != -1:
        df = df.repartition(args.repartition)
    if args.validation == "STRICT" and args.output2 and "readPaired" in df.columns:
        # STRICT: all reads must be paired before a paired-FASTQ split
        # (ADAM2Fastq.scala:36-38 validation)
        n_unpaired = df.where(
            ~F.coalesce(F.col("readPaired"), F.lit(False))
        ).count()
        if n_unpaired:
            print(f"{n_unpaired} unpaired reads under -validation STRICT",
                  file=sys.stderr)
            return 1
    out = GenomicFrame(df, gf.meta)
    if args.output2:
        save_paired_fastq(out, args.output, args.output2)
    elif args.disable_fast_concat:
        # sharded write at full parallelism + serial driver concat
        # (the ADAMSaveAnyArgs -disable_fast_concat contract)
        import shutil as _shutil

        from adam_spark.sources.merge import merge_shards

        shard_dir = args.output + ".shards"
        save_fastq(
            out, shard_dir,
            sort_by_name=args.sort_by_name,
            write_suffixes=args.write_suffixes,
            single_file=False,
        )
        merge_shards(shard_dir, args.output)
        _shutil.rmtree(shard_dir)
    else:
        save_fastq(
            out,
            args.output,
            sort_by_name=args.sort_by_name,
            write_suffixes=args.write_suffixes,
            single_file=True,
        )
    return 0


def _cmd_print(args) -> int:
    """PrintADAM parity: show the first rows of one or more datasets
    (PrintADAM.scala prints every FILE argument); -pretty emits
    indented JSON records (displayRaw), -o writes to a local file
    (PrintADAM.scala:43)."""
    from adam_spark.sources.parquet import load_parquet

    spark = _spark(args)
    out_fh = open(args.o, "w") if args.o else None
    try:
        for path in [args.input, *args.inputs]:
            gf = load_parquet(spark, path)
            if args.pretty or args.o:
                import json

                rows = gf.df.limit(args.limit).toJSON().collect()
                indent = 2 if args.pretty else None
                text = "\n".join(
                    json.dumps(json.loads(r), indent=indent) for r in rows
                )
                if out_fh:
                    out_fh.write(text + "\n")
                else:
                    print(text)
            else:
                gf.df.show(args.limit, truncate=not args.full)
    finally:
        if out_fh:
            out_fh.close()
    return 0


def _cmd_merge_shards(args) -> int:
    from adam_spark.sources.merge import merge_shards

    n = merge_shards(
        args.input,
        args.output,
        header_path=args.header_path,
        buffer_size=args.buffer_size,
        write_empty_gzip_at_eof=args.write_empty_gzip_at_eof,
        write_cram_eof=args.write_cram_eof,
    )
    print(f"merged {n} shards into {args.output}")
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="adam_spark", description=__doc__)
    sub = p.add_subparsers(dest="command", required=True)

    ta = sub.add_parser("transform_alignments", help="alignment pipeline driver")
    ta.add_argument("input")
    ta.add_argument("output")
    ta.add_argument("-mark_duplicate_reads", dest="mark_duplicate_reads", action="store_true")
    ta.add_argument("-recalibrate_base_qualities", dest="recalibrate_base_qualities", action="store_true")
    ta.add_argument("-known_snps", dest="known_snps", default=None)
    ta.add_argument("-realign_indels", dest="realign_indels", action="store_true")
    ta.add_argument("-known_indels", dest="known_indels", default=None)
    ta.add_argument("-left_normalize_indels", dest="left_normalize_indels", action="store_true")
    ta.add_argument("-bin_quality_scores", dest="bin_quality_scores", default=None,
                    help="semicolon-separated low,high,value bins")
    ta.add_argument("-min_mapping_quality", dest="min_mapping_quality", type=int, default=None)
    ta.add_argument("-filter_duplicates", dest="filter_duplicates", action="store_true")
    ta.add_argument("-sort_by_read_name", dest="sort_by_read_name", action="store_true")
    ta.add_argument("-sort_by_reference_position", dest="sort_by_reference_position", action="store_true")
    ta.add_argument("-sort_by_reference_position_and_index",
                    dest="sort_by_reference_position_and_index", action="store_true")
    ta.add_argument("-limit_projection", dest="limit_projection", action="store_true",
                    help="project only core alignment fields (parquet column pruning)")
    ta.add_argument("-aligned_read_predicate", dest="aligned_read_predicate",
                    action="store_true", help="load only aligned reads")
    ta.add_argument("-region_predicate", dest="region_predicate", default=None,
                    help="load only regions, e.g. 'chr1:0-1000,chr2:50-100'")
    ta.add_argument("-concat", dest="concat", default=None,
                    help="concatenate this input with INPUT before transforming")
    ta.add_argument("-repartition", dest="repartition", type=int, default=None,
                    help="repartition input to this many partitions")
    ta.add_argument("-coalesce", dest="coalesce", type=int, default=None,
                    help="coalesce output to this many partitions")
    ta.add_argument("-force_shuffle_coalesce", dest="force_shuffle_coalesce",
                    action="store_true")
    ta.add_argument("-cache", dest="cache", action="store_true",
                    help="persist between pipeline stages")
    ta.add_argument("-stringency", dest="stringency", default="LENIENT",
                    help="SILENT, LENIENT, or STRICT")
    ta.add_argument("-min_acceptable_quality", dest="min_acceptable_quality",
                    type=int, default=5)
    ta.add_argument("-max_indel_size", dest="max_indel_size", type=int, default=500)
    ta.add_argument("-max_consensus_number", dest="max_consensus_number",
                    type=int, default=30)
    ta.add_argument("-log_odds_threshold", dest="log_odds_threshold",
                    type=float, default=5.0)
    ta.add_argument("-max_target_size", dest="max_target_size", type=int, default=3000)
    ta.add_argument("-max_reads_per_target", dest="max_reads_per_target",
                    type=int, default=20_000)
    ta.add_argument("-unclip_reads", dest="unclip_reads", action="store_true")
    ta.add_argument("-add_md_tags", dest="add_md_tags", default=None,
                    help="reference file (.2bit/FASTA) for MD tagging")
    ta.add_argument("-md_tag_overwrite", dest="md_tag_overwrite", action="store_true")
    ta.add_argument("-partition_by_start_pos", dest="partition_by_start_pos",
                    action="store_true",
                    help="save Hive-partitioned by genomic position bin")
    ta.add_argument("-partition_bin_size", dest="partition_bin_size",
                    type=int, default=1_000_000)
    ta.add_argument("-partition_size", dest="partition_size", type=int, default=None,
                    help="write partitioned parquet with this bin size")
    ta.add_argument("-sharded", dest="sharded", action="store_true")
    ta.add_argument("-single", dest="single", action="store_true",
                    help="save OUTPUT as a single file")
    ta.add_argument("-defer_merging", dest="defer_merging", action="store_true",
                    help="write single-file output as unmerged shards (merge later with merge_shards)")
    ta.add_argument("-disable_fast_concat", dest="disable_fast_concat",
                    action="store_true",
                    help="serial driver-side shard concat instead of the one-pass coalesce write")
    ta.add_argument("-disable_pg", dest="disable_pg", action="store_true",
                    help="do not write a new @PG header line")
    ta.add_argument("-paired_fastq", dest="paired_fastq", default=None,
                    help="r2 path when converting paired FASTQ")
    ta.add_argument("-sort_fastq_output", dest="sort_fastq_output",
                    action="store_true")
    ta.add_argument("-force_load_bam", dest="force_load_bam", action="store_true")
    ta.add_argument("-force_load_fastq", dest="force_load_fastq", action="store_true")
    ta.add_argument("-force_load_ifastq", dest="force_load_ifastq", action="store_true")
    ta.add_argument("-force_load_parquet", dest="force_load_parquet", action="store_true")
    ta.add_argument("-read_group", dest="read_group", default=None,
                    help="read-group id for converted FASTQs ('' = input basename)")
    ta.add_argument("-sampling_fraction", dest="sampling_fraction", type=float,
                    default=None, help="observe BQSR covariates on a sample of reads")
    ta.add_argument("-sampling_seed", dest="sampling_seed", type=int, default=0)
    ta.add_argument("-storage_level", dest="storage_level", default="MEMORY_ONLY",
                    help="StorageLevel name used by -cache")
    ta.add_argument("-max_read_length", dest="max_read_length", type=int, default=0)
    ta.add_argument("-md_tag_fragment_size", dest="md_tag_fragment_size", type=int,
                    default=None)
    ta.add_argument("-reference", dest="reference", default=None,
                    help="reference file (.2bit/FASTA): refresh MD tags after -realign_indels")
    ta.set_defaults(fn=_cmd_transform_alignments)

    ix = sub.add_parser("idxstats", help="samtools-idxstats per-contig counts"
                        " for BAM, `bcftools index -s` rows for"
                        " .vcf.gz/.bcf (from the index sidecar when present)")
    ix.add_argument("input")
    ix.set_defaults(fn=_cmd_idxstats)

    fs = sub.add_parser("flagstat", help="samtools-flagstat counters")
    fs.add_argument("input")
    fs.add_argument("-o", dest="o", default=None,
                    help="write the stats to this file (FlagStat.scala:37)")
    fs.add_argument("-stringency", dest="stringency", default="SILENT",
                    help="SILENT | LENIENT | STRICT (FlagStat.scala:39)")
    fs.set_defaults(fn=_cmd_flagstat)

    cv = sub.add_parser("coverage", help="alignments -> per-base coverage")
    cv.add_argument("input")
    cv.add_argument("output")
    cv.add_argument("-collapse", dest="collapse", action="store_true")
    cv.add_argument("-only_negative_strands", dest="only_negative_strands",
                    action="store_true", help="Coverage.scala:46")
    cv.add_argument("-only_positive_strands", dest="only_positive_strands",
                    action="store_true", help="Coverage.scala:49")
    cv.add_argument("-sort_lexicographically", dest="sort_lexicographically",
                    action="store_true", help="requires -collapse (Coverage.scala:58)")
    cv.add_argument("-single", dest="single", action="store_true")
    cv.add_argument("-sharded", dest="sharded", action="store_true")
    cv.add_argument("-defer_merging", dest="defer_merging", action="store_true")
    cv.add_argument("-disable_fast_concat", dest="disable_fast_concat",
                    action="store_true")
    cv.set_defaults(fn=_cmd_coverage)

    def _kmer_flags(parser):
        parser.add_argument("-print_histogram", dest="print_histogram",
                            action="store_true",
                            help="print a (count, #kmers) histogram "
                                 "(CountReadKmers.scala:86-97)")
        parser.add_argument("-sort", dest="sort", action="store_true",
                            help="sort kmers before writing")
        parser.add_argument("-single", dest="single", action="store_true",
                            help="save as a single file")
        parser.add_argument("-disable_fast_concat", dest="disable_fast_concat",
                            action="store_true")

    km = sub.add_parser("count_kmers", help="k-mer counts to text")
    km.add_argument("input")
    km.add_argument("output")
    km.add_argument("kmer_length", type=int)
    km.add_argument("-repartition", dest="repartition", type=int, default=-1)
    _kmer_flags(km)
    km.set_defaults(fn=_cmd_count_kmers)

    vw = sub.add_parser("view", help="samtools-view flag filters")
    vw.add_argument("input")
    vw.add_argument("output_pos", nargs="?", default=None,
                    help="output path (View.scala:83: -o FILE may also be "
                         "passed as the second argument)")
    vw.add_argument("-f", type=int, default=None, help="match all flag bits")
    vw.add_argument("-F", type=int, default=None, help="mismatch all flag bits")
    vw.add_argument("-g", type=int, default=None, help="match some flag bits")
    vw.add_argument("-G", type=int, default=None, help="mismatch some flag bits")
    vw.add_argument("-c", dest="count", action="store_true", help="print count only")
    vw.add_argument("-o", dest="output", default=None)
    vw.add_argument("-limit", dest="limit", type=int, default=20)
    vw.add_argument("-single", dest="single", action="store_true")
    vw.add_argument("-defer_merging", dest="defer_merging", action="store_true")
    vw.add_argument("-disable_fast_concat", dest="disable_fast_concat",
                    action="store_true")
    vw.set_defaults(fn=_cmd_view)

    tf = sub.add_parser("transform_features", help="feature format conversion")
    tf.add_argument("input")
    tf.add_argument("output")
    tf.add_argument("-reference", dest="reference", default=None,
                    help=".dict/.genome/.txt sequence dictionary "
                         "(TransformFeatures.scala:47)")
    tf.add_argument("-num_partitions", dest="num_partitions", type=int, default=None,
                    help="text-load parallelism (TransformFeatures.scala:51)")
    tf.add_argument("-single", dest="single", action="store_true")
    tf.add_argument("-sharded", dest="sharded", action="store_true")
    tf.add_argument("-disable_fast_concat", dest="disable_fast_concat",
                    action="store_true")
    tf.add_argument("-partition_by_start_pos", dest="partition_by_start_pos",
                    action="store_true")
    tf.add_argument("-partition_bin_size", dest="partition_bin_size",
                    type=int, default=1_000_000)
    tf.set_defaults(fn=_cmd_transform_features)

    ck = sub.add_parser("count_slice_kmers", help="k-mer counts over slices")
    ck.add_argument("input")
    ck.add_argument("output")
    ck.add_argument("kmer_length", type=int)
    ck.add_argument("-maximum_length", dest="maximum_length", type=int,
                    default=10_000, help="CountSliceKmers.scala:58")
    _kmer_flags(ck)
    ck.set_defaults(fn=_cmd_count_slice_kmers)

    def _gt_var_flags(parser):
        parser.add_argument("-coalesce", dest="coalesce", type=int, default=None)
        parser.add_argument("-force_shuffle_coalesce", dest="force_shuffle_coalesce",
                            action="store_true")
        parser.add_argument("-sort_on_save", dest="sort_on_save",
                            action="store_true",
                            help="sort VCF output by contig index")
        parser.add_argument("-sort_lexicographically_on_save",
                            dest="sort_lexicographically_on_save",
                            action="store_true",
                            help="sort VCF output lexicographically; "
                                 "conflicts with -sort_on_save")
        parser.add_argument("-single", dest="single", action="store_true")
        parser.add_argument("-sharded", dest="sharded", action="store_true")
        parser.add_argument("-defer_merging", dest="defer_merging",
                            action="store_true")
        parser.add_argument("-disable_fast_concat", dest="disable_fast_concat",
                            action="store_true")
        parser.add_argument("-stringency", dest="stringency", default="STRICT")
        parser.add_argument("-partition_by_start_pos", dest="partition_by_start_pos",
                            action="store_true")
        parser.add_argument("-partition_bin_size", dest="partition_bin_size",
                            type=int, default=1_000_000)
        parser.add_argument("-region_predicate", dest="region_predicate",
                            default=None,
                            help="load only regions, e.g. 'chr1:0-1000,"
                                 "chr2:50-100'; indexed inputs (.bcf+.csi,"
                                 " .vcf.gz+.tbi/.csi) read only the "
                                 "index-addressed chunks")

    tg = sub.add_parser("transform_genotypes", help="genotype format conversion")
    tg.add_argument("input")
    tg.add_argument("output")
    tg.add_argument("-nested_annotations", dest="nested_annotations",
                    action="store_true",
                    help="populate genotype.variant.annotation "
                         "(TransformGenotypes.scala:57, disabled by default)")
    _gt_var_flags(tg)
    tg.set_defaults(fn=_cmd_transform_genotypes)

    ts = sub.add_parser("transform_sequences", help="sequence format conversion")
    ts.add_argument("input")
    ts.add_argument("output")
    ts.add_argument("-create_references", dest="create_references",
                    action="store_true",
                    help="derive the sequence dictionary from names+lengths "
                         "(TransformSequences.scala:44)")
    ts.add_argument("-alphabet", dest="alphabet", default="DNA",
                    help="DNA | PROTEIN | RNA (TransformSequences.scala:52)")
    ts.add_argument("-single", dest="single", action="store_true")
    ts.add_argument("-sharded", dest="sharded", action="store_true")
    ts.add_argument("-disable_fast_concat", dest="disable_fast_concat",
                    action="store_true")
    ts.set_defaults(fn=_cmd_transform_sequences)

    tl = sub.add_parser("transform_slices", help="slice format conversion")
    tl.add_argument("input")
    tl.add_argument("output")
    tl.add_argument("-maximum_length", dest="maximum_length", type=int, default=10_000)
    tl.add_argument("-create_references", dest="create_references",
                    action="store_true")
    tl.add_argument("-single", dest="single", action="store_true")
    tl.add_argument("-sharded", dest="sharded", action="store_true")
    tl.add_argument("-disable_fast_concat", dest="disable_fast_concat",
                    action="store_true")
    tl.set_defaults(fn=_cmd_transform_slices)

    tfr = sub.add_parser("transform_fragments", help="fragment format conversion")
    tfr.add_argument("input")
    tfr.add_argument("output")
    tfr.add_argument("-load_as_alignments", dest="load_as_alignments",
                     action="store_true",
                     help="treat the input as alignments and group to "
                          "fragments (TransformFragments.scala:48)")
    tfr.add_argument("-paired_fastq", dest="paired_fastq", default=None,
                     help="second FASTQ of a pair (TransformFragments.scala:51)")
    tfr.add_argument("-save_as_alignments", dest="save_as_alignments",
                     action="store_true",
                     help="save the output as alignments "
                          "(TransformFragments.scala:55)")
    tfr.add_argument("-mark_duplicate_reads", dest="mark_duplicate_reads",
                     action="store_true")
    tfr.add_argument("-bin_quality_scores", dest="bin_quality_scores", default=None,
                     help="e.g. 0,20,10;20,40,30")
    tfr.add_argument("-max_read_length", dest="max_read_length", type=int, default=0)
    tfr.add_argument("-sort_by_read_name", dest="sort_by_read_name",
                     action="store_true")
    tfr.add_argument("-sort_by_reference_position", dest="sort_by_reference_position",
                     action="store_true")
    tfr.add_argument("-sort_by_reference_position_and_index",
                     dest="sort_by_reference_position_and_index", action="store_true")
    tfr.add_argument("-single", dest="single", action="store_true")
    tfr.add_argument("-sharded", dest="sharded", action="store_true")
    tfr.add_argument("-defer_merging", dest="defer_merging", action="store_true")
    tfr.add_argument("-disable_fast_concat", dest="disable_fast_concat",
                     action="store_true")
    tfr.set_defaults(fn=_cmd_transform_fragments)

    a2f = sub.add_parser("adam2fastq", help="alignments -> FASTQ")
    a2f.add_argument("input")
    a2f.add_argument("output")
    a2f.add_argument("output2", nargs="?", default=None, help="r2 path for paired output")
    a2f.add_argument("-sort_by_name", dest="sort_by_name", action="store_true")
    a2f.add_argument("-write_suffixes", dest="write_suffixes", action="store_true")
    a2f.add_argument("-validation", dest="validation", default="LENIENT",
                     help="STRICT checks that all reads are paired "
                          "(ADAM2Fastq.scala:36)")
    a2f.add_argument("-repartition", dest="repartition", type=int, default=-1)
    a2f.add_argument("-persist_level", dest="persist_level", default=None,
                     help="persist intermediate data at this StorageLevel "
                          "(ADAM2Fastq.scala:44)")
    a2f.add_argument("-no_projection", dest="no_projection", action="store_true",
                     help="disable the FASTQ-field projection "
                          "(ADAM2Fastq.scala:46)")
    a2f.add_argument("-output_oq", dest="output_oq", action="store_true",
                     help="write original (OQ) quality scores "
                          "(ADAM2Fastq.scala:40)")
    a2f.add_argument("-single", dest="single", action="store_true")
    a2f.add_argument("-disable_fast_concat", dest="disable_fast_concat",
                     action="store_true")
    a2f.set_defaults(fn=_cmd_adam2fastq)

    pr = sub.add_parser("print", help="show the first rows of a dataset")
    pr.add_argument("input")
    pr.add_argument("inputs", nargs="*", default=[],
                    help="additional datasets (PrintADAM prints each FILE)")
    pr.add_argument("-limit", dest="limit", type=int, default=20)
    pr.add_argument("-full", dest="full", action="store_true", help="untruncated columns")
    pr.add_argument("-o", dest="o", default=None,
                    help="write to a local file (PrintADAM.scala:43)")
    pr.add_argument("-pretty", dest="pretty", action="store_true",
                    help="pretty-formatted JSON records (PrintADAM.scala:46)")
    pr.set_defaults(fn=_cmd_print)

    ms = sub.add_parser("merge_shards", help="concatenate sharded text output")
    ms.add_argument("input", help="shard directory (part-* files)")
    ms.add_argument("output", help="merged single file")
    ms.add_argument("-header_path", "-header", dest="header_path", default=None,
                    help="header file to prepend (MergeShards.scala:31)")
    ms.add_argument("-buffer_size", dest="buffer_size", type=int, default=None,
                    help="merge copy buffer bytes, default 4MB "
                         "(MergeShards.scala:33)")
    ms.add_argument("-write_empty_GZIP_at_eof", dest="write_empty_gzip_at_eof",
                    action="store_true",
                    help="append the BGZF empty-block terminator "
                         "(MergeShards.scala:37)")
    ms.add_argument("-write_cram_eof", dest="write_cram_eof", action="store_true",
                    help="append the CRAM EOF container (MergeShards.scala:41)")
    ms.set_defaults(fn=_cmd_merge_shards)

    tv = sub.add_parser("transform_variants", help="variant format conversion")
    tv.add_argument("input")
    tv.add_argument("output")
    _gt_var_flags(tv)
    tv.set_defaults(fn=_cmd_transform_variants)

    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
