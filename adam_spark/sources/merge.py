"""Shard merging: concatenate a sharded text/SAM/VCF output directory
into one file.

Mirrors util/FileMerger.scala:35-238 + the MergeShards CLI
(adam-cli/MergeShards.scala): driver-side filesystem concat of
``part-*`` shards in lexicographic order, with an optional header file
prepended — the post-step after a sharded ``save_*`` when a single
interchange file is required. Buffered copy, never loads a shard fully
into memory.
"""

from __future__ import annotations

import shutil


def local_lines_df(spark, rows: list, schema: str):
    """One-PARTITION DataFrame from a small driver-side row list (the
    header-lines branch of the single-file savers).

    ``spark.createDataFrame`` slices local data into defaultParallelism
    partitions; reading those slices through a downstream
    ``coalesce(1)`` costs ~100 ms PER SLICE inside the collapsed task
    (measured round 11: a 46-row header DataFrame added ~4 s of fixed
    cost to EVERY single-file VCF/SAM/GFF3 save on local[32]). One
    explicit slice keeps the header a single cheap parent partition."""
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


def write_text_single_file(
    body_df, path: str, header_lines: list[str] | None = None, fs=None
) -> dict:
    """Single-file text save, the reference ``-single`` shape
    (util/FileMerger.scala:35): the body renders and writes
    DISTRIBUTED — one text shard per partition, no shuffle, partition
    order preserved — and the driver streams the shards (header first)
    into ``<path>/part-00000``. Replaces the former
    ``coalesce(1)`` single-task render+write: at 100 TB the
    render/convert work stays on the executors and only the final
    sequential concat is driver I/O, exactly like the reference's
    FileMerger. Byte-identical to the coalesce shape: concatenating
    part files in name order IS the coalesced partition order.

    ``body_df`` must have a ``value`` string column; ``header_lines``
    (no trailing newlines) prepend before the first shard.

    Non-local targets (``scheme://`` or explicit ``fs``) flow through
    the :mod:`filesystem` seam: shard tasks stream their bytes straight
    to the store via the pickled handle (executor→store, never through
    the driver) and the final concat reads back through the same
    handle — the FileMerger-on-HDFS shape, minus Hadoop's temp-dir
    rename pass that object stores pay for."""
    from adam_spark.sources.filesystem import LocalFileSystem, get_fs

    fs, path = get_fs(path, fs)
    local = isinstance(fs, LocalFileSystem)
    shard_dir = path + ".__shards"
    if local:
        # Spark's native text writer is the fast path when the driver
        # and executors share the filesystem
        body_df.select("value").write.mode("overwrite").text(shard_dir)
    else:
        fs.rmtree(shard_dir)
        fs.makedirs(shard_dir)

        def _write_shard(i, it):
            out = fs.open_write(fs.join(shard_dir, f"part-{i:05d}"))
            try:
                wrote = False
                for row in it:
                    out.write(row["value"].encode() + b"\n")
                    wrote = True
            finally:
                out.close()
            return [(i, wrote)]

        body_df.select("value").rdd.mapPartitionsWithIndex(
            _write_shard
        ).collect()
    header_blob = (
        "".join(h + "\n" for h in header_lines).encode() if header_lines else b""
    )
    try:
        fs.makedirs(path)
        # overwrite semantics must cover STALE shards: the merged output
        # is only part-00000, but a previous multi-shard save at this
        # path may have left part-00001+ which directory-globbing
        # readers would pick up as duplicate rows
        for stale in fs.glob(fs.join(path, "part-*")) + fs.glob(
            fs.join(path, "_SUCCESS")
        ):
            fs.remove(stale)
        out_part = fs.join(path, "part-00000")
        try:
            n = merge_shards(shard_dir, out_part, header_blob=header_blob, fs=fs)
        except FileNotFoundError:
            # an empty frame writes no shards; the file is header-only
            n = 0
            out = fs.open_write(out_part)
            try:
                out.write(header_blob)
            finally:
                out.close()
        fs.touch(fs.join(path, "_SUCCESS"))
        return {"shards": n}
    finally:
        fs.rmtree(shard_dir)


def write_lines(
    lines, path: str, single_file: bool, header_lines: list[str] | None = None
) -> None:
    """Write a one-column (``value``) lines frame as text: one merged
    file with the header first, or one part per partition (no header —
    the sharded savers' shape)."""
    if single_file:
        write_text_single_file(lines, path, header_lines=header_lines)
    else:
        lines.write.text(path)


def concat_files(
    output_path: str,
    parts: list[str],
    header_blob: bytes = b"",
    eof_blob: bytes = b"",
    buffer_size: int = 4 * 1024 * 1024,
    fs=None,
) -> list[int]:
    """Concatenate ``parts`` (in list order) into ``output_path`` as one
    sequential stream — the reference's FileMerger
    (util/FileMerger.scala:75). Returns each part's output byte offset,
    the prefix sum of the header and the preceding part sizes (callers
    use them to prefix-shift index manifests).

    The copy is always one sequential stream. The reference's
    ParallelFileMerger (positioned writes, one per part) is gated to
    HDFS (FileMerger.scala:86, ``isHdfs``); object stores have no
    positioned write, and on a local disk a sequential append measured
    faster than competing positioned writes (32 page-cached 8 MB parts
    on 4 vCPU, 6 interleaved pairs: median 0.125 s sequential vs
    0.137 s with 4 threads)."""
    from adam_spark.sources.filesystem import get_fs

    fs, output_path = get_fs(output_path, fs)
    offsets: list[int] = []
    pos = len(header_blob)
    for p in parts:
        offsets.append(pos)
        pos += fs.size(p)
    f = fs.open_write(output_path)
    try:
        f.write(header_blob)
        for part in parts:
            src = fs.open_read(part)
            try:
                shutil.copyfileobj(src, f, buffer_size)
            finally:
                src.close()
        f.write(eof_blob)
    finally:
        f.close()
    return offsets


def merge_shards(
    shard_dir: str,
    output_path: str,
    header_path: str | None = None,
    buffer_size: int | None = None,
    write_empty_gzip_at_eof: bool = False,
    write_cram_eof: bool = False,
    header_blob: bytes | None = None,
    fs=None,
) -> int:
    """Concatenate ``part-*`` files under ``shard_dir`` into
    ``output_path``. Returns the number of shards merged.

    Copies go through :func:`concat_files`, one sequential stream.
    ``write_empty_gzip_at_eof`` appends the 28-byte BGZF
    empty-block terminator (MergeShards.scala:37
    -write_empty_GZIP_at_eof — the marker BAM readers use to detect a
    complete file); ``write_cram_eof`` appends the CRAM EOF container
    (MergeShards.scala:41 -write_cram_eof)."""
    from adam_spark.sources.filesystem import get_fs

    fs, shard_dir = get_fs(shard_dir, fs)
    if not buffer_size:
        buffer_size = 4 * 1024 * 1024
    shards = sorted(
        p
        for p in fs.glob(fs.join(shard_dir, "part-*"))
        if not p.endswith((".crc", "_SUCCESS"))
    )
    if not shards:
        raise FileNotFoundError(f"no part-* shards under {shard_dir}")
    if header_blob is None:
        header_blob = b""
        if header_path:
            hf = fs.open_read(header_path)
            try:
                header_blob = hf.read()
            finally:
                hf.close()
    eof_blob = b""
    if write_empty_gzip_at_eof:
        from adam_spark.sources import bgzf

        eof_blob = bgzf.EOF
    if write_cram_eof:
        from adam_spark.sources.cram import cram_eof_bytes

        eof_blob = cram_eof_bytes()
    concat_files(output_path, shards, header_blob, eof_blob, buffer_size, fs=fs)
    return len(shards)
