"""Structured Streaming ingestion & incremental aggregation.

The reference has NO streaming surface (SURVEY §2.11) — this is the
engine's native extension: the same relational parsers run as
Structured Streaming pipelines because they are stateless per line.

- :func:`stream_sam_directory` — watch a directory for SAM shards
  (the shape an aligner emits) and parse them incrementally.
- :func:`stream_to_partitioned_parquet` — continuous append into the
  SAME (referenceName, positionBin) layout batch queries read, so
  downstream region-pruned queries see data as it lands.
- :func:`streaming_bin_coverage` — incremental per-bin read-count
  aggregation (update mode) — the streaming analogue of
  aggregated_coverage.
- :func:`stream_events` / :func:`streaming_event_counts` — generic
  watermarked windowed counts for the events table shape, showing the
  watermark + window pattern for late data.
- :func:`streaming_sessions` — gap-based sessionization as a CUSTOM
  STATEFUL operator (``applyInPandasWithState``): per-user session
  state lives in the state store, sessions close when an in-stream gap
  is observed or the processing-time timeout fires — the streaming twin
  of the batch ``events_sessions`` window query.
- :func:`stream_fastq_directory` — the SURVEY §2.11 stretch goal:
  incremental FASTQ ingestion (wholetext per shard → Catalyst record
  explode; stateless, scales with file count).
- :func:`streaming_exact_dedup` — first-seen corpus dedup with a
  watermark-BOUNDED fingerprint state store
  (``dropDuplicatesWithinWatermark``), the streaming twin of
  llm.dedup.exact_duplicates.
- :func:`streaming_embedding_candidates` — SRP-LSH near-dup
  candidates over an embedding stream (cosine twin of the MinHash
  variant, same bucket-anchor state core and decisions combine).
- :func:`streaming_minhash_candidates` — NEAR-duplicate detection on
  an unbounded document stream: the batch MinHash+LSH pipeline's
  stateless stages (signature, banding) run on the stream unchanged,
  and the bucket lookup becomes an ``applyInPandasWithState`` anchor
  store keyed by (band, band_hash) with an event-time TTL. Combine the
  per-band verdicts per document with :func:`near_dup_decisions`
  inside ``foreachBatch`` (all bands of a document land in the same
  micro-batch, so that combine is exact, batch-land, stateless).
- :func:`verified_near_dup_decisions` /
  :func:`streaming_minhash_dedup_verified` — the PRECISION half:
  exact-Jaccard verification of every candidate pair against the
  landed corpus inside the sink, pair-for-pair equal to the batch
  verifier (llm.dedup.minhash_lsh_pairs) at the same threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from adam_spark.sources.parquet import DEFAULT_PARTITION_SIZE
from adam_spark.sources.sam import sam_lines_to_alignments


def stream_sam_directory(spark: SparkSession, path: str) -> DataFrame:
    """Streaming ALIGNMENT rows from SAM text files landing in ``path``."""
    raw = spark.readStream.format("text").load(path)
    return sam_lines_to_alignments(raw)


def stream_to_partitioned_parquet(
    alignments: DataFrame,
    path: str,
    checkpoint: str,
    partition_size: int = DEFAULT_PARTITION_SIZE,
):
    """Continuous append into the partitioned layout
    (saveAsPartitionedParquet's streaming twin). Returns the query."""
    import os

    from adam_spark.sources.parquet import FLAG_FILE

    # the layout contract: region-pruned readers take the bin size from
    # the flag file — without it they fall back to the default and
    # silently prune the wrong bins
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, FLAG_FILE), "w") as fh:
        fh.write(str(int(partition_size)))
    binned = alignments.withColumn(
        "positionBin", F.floor(F.col("start") / F.lit(float(partition_size)))
    )
    return (
        binned.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("referenceName", "positionBin")
        .outputMode("append")
        .start()
    )


def streaming_bin_coverage(
    alignments: DataFrame, bp_per_bin: int = 1000
) -> DataFrame:
    """Incremental read counts per (referenceName, bin) — run with
    outputMode('update') or ('complete')."""
    return (
        alignments.where(F.col("readMapped"))
        .groupBy(
            "referenceName",
            F.floor(F.col("start") / F.lit(float(bp_per_bin))).alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("reads"))
    )


def stream_events(spark: SparkSession, path: str, schema) -> DataFrame:
    """Streaming scan of parquet/json event shards with a timestamp col."""
    return spark.readStream.schema(schema).parquet(path)


def streaming_event_counts(
    events: DataFrame,
    timestamp_col: str = "ts",
    window_duration: str = "1 hour",
    watermark_delay: str = "2 hours",
    group_col: str = "event_type",
) -> DataFrame:
    """Watermarked sliding-window counts (late data beyond the
    watermark is dropped; append-mode emits only finalized windows)."""
    return (
        events.withWatermark(timestamp_col, watermark_delay)
        .groupBy(F.window(F.col(timestamp_col), window_duration), F.col(group_col))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            group_col,
            "n",
        )
    )


def streaming_sessions(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Gap-based sessionization as a custom stateful streaming operator.

    ``applyInPandasWithState`` keeps one (session_start, last_ts,
    n_events) row per user in the state store. A session EMITS when
    (a) a later event for the same user arrives more than
    ``gap_seconds`` after the previous one — the in-stream close, fully
    deterministic — or (b) the EVENT-TIME timeout fires: once the
    watermark (max seen event time minus ``watermark_delay``) passes
    ``last_ts + gap``, the idle session flushes. Event-time timeouts
    only fire as data advances the watermark, so the query never spins
    empty micro-batches the way a processing-time timeout does, and
    replays are deterministic. Matches the batch ``events_sessions``
    semantics (strict ``> gap`` starts a new session). Scale shape:
    state is O(active users); each micro-batch shuffles only that
    batch's events on the user key.
    """
    import pandas as pd

    gap = int(gap_seconds)

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield pd.DataFrame(
                [(key[0], start, last, n)],
                columns=["user_id", "session_start", "session_end", "n_events"],
            )
            return
        ts = sorted(int(t) for pdf in pdfs for t in pdf["tse"].tolist())
        if not ts:
            return
        closed = []
        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = ts[0], ts[0], 0  # first event counted below
        for t in ts:
            if t - last > gap:
                closed.append((key[0], start, last, n))
                start, last, n = t, t, 0
            else:
                # a late-but-within-watermark event joins the CURRENT
                # session without regressing its bounds (last = t
                # unconditionally would emit session_end < session_start
                # and split sessions on the shrunken gap base)
                start = min(start, t)
                last = max(last, t)
            n += 1
        state.update((start, last, n))
        state.setTimeoutTimestamp((last + gap) * 1000)
        if closed:
            yield pd.DataFrame(
                closed,
                columns=["user_id", "session_start", "session_end", "n_events"],
            )

    from pyspark.sql.types import LongType, StructField, StructType

    keyed = events.select(
        F.col(user_col).alias("user_id"),
        F.col(ts_col).cast("timestamp").alias("__ts"),
        F.col(ts_col).cast("timestamp").cast("long").alias("tse"),
    ).withWatermark("__ts", watermark_delay)
    # the key column keeps the INPUT's type (string user ids are the
    # common case — a hardcoded long would fail Arrow conversion on the
    # first emitted session)
    out_schema = StructType(
        [
            StructField("user_id", events.schema[user_col].dataType),
            StructField("session_start", LongType()),
            StructField("session_end", LongType()),
            StructField("n_events", LongType()),
        ]
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="session_start long, last_ts long, n_events long",
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )


def stream_fastq_directory(spark: SparkSession, path: str) -> DataFrame:
    """Streaming READ rows from FASTQ shards landing in ``path``.

    The batch FASTQ loader stitches 4-line records with a per-file
    window (sources/fastq.py), which a streaming text source cannot do
    (no cross-row ordering guarantee between micro-batches). Here each
    arriving file is read WHOLE (``wholetext`` — one row per file, the
    right granularity for the shard-sized files demultiplexers emit)
    and exploded into records with a pure Catalyst transform, so the
    stream stays stateless and scales with file count, not file size.
    """
    from adam_spark import schemas
    from adam_spark.sources.fastq import _READ_PAIRED, _record

    raw = spark.readStream.format("text").option("wholetext", "true").load(path)
    lines = F.filter(F.split(F.col("value"), "\r?\n"), lambda l: l != F.lit(""))
    # reject malformed shards loudly (the batch loader's invariant): a
    # truncated upload would otherwise shift quals into sequences and
    # silently drop the tail record
    n_rec = F.when(
        F.size(lines) % 4 == 0, (F.size(lines) / 4).cast("int")
    ).otherwise(
        F.raise_error(
            F.lit("FASTQ shard line count is not a multiple of 4 (truncated file?)")
        ).cast("int")
    )
    recs = F.when(
        n_rec > 0,
        F.transform(
            F.sequence(F.lit(0), n_rec - 1),
            lambda i: F.struct(
                F.element_at(lines, i * 4 + 1).alias("h"),
                F.element_at(lines, i * 4 + 2).alias("s"),
                F.element_at(lines, i * 4 + 4).alias("q"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<h:string,s:string,q:string>>"))
    rec = raw.select(F.explode(recs).alias("r"))
    df = rec.select(
        *_record(F.col("r.h"), F.col("r.s"), F.col("r.q"), 0)
    )
    return schemas.conform(df, _READ_PAIRED)


def streaming_exact_dedup(
    docs: DataFrame,
    text_col: str = "text",
    time_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """First-seen exact dedup over a document stream.

    Fingerprint = md5 of the lower-cased text (identical to the batch
    :func:`adam_spark.llm.dedup.exact_duplicates` policy), deduplicated
    with ``dropDuplicatesWithinWatermark`` so the fingerprint state
    store is BOUNDED by the watermark horizon — the property that lets
    this run forever on an unbounded corpus feed. The trade-off is
    explicit: duplicates arriving farther apart than the horizon pass
    through; the batch dedup operator is the exact backstop over the
    landed corpus.
    """
    fp = F.coalesce(F.md5(F.lower(F.col(text_col))), F.lit("__NULL_TEXT__"))
    return (
        docs.withColumn("fingerprint", fp)
        .withWatermark(time_col, watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


def streaming_decontaminate(
    docs: DataFrame,
    bloom: DataFrame,
    text_col: str = "text",
    n: int = 4,
    num_bits: int = 1 << 22,
    num_hashes: int = 5,
    drop: bool = True,
) -> DataFrame:
    """Decontaminate a document STREAM against a static blocklist Bloom
    filter (built once, batch-side, with
    :func:`adam_spark.llm.sketches.bloom_build` over the eval set's
    n-grams).

    The probe is :func:`~adam_spark.llm.sketches.bloom_contains_ngrams`
    — a stateless narrow map (broadcast dense filter + one Arrow pass),
    so it composes with ``readStream`` unchanged: no state store, no
    watermark, no stream-static join planning. ``drop=True`` filters
    contaminated documents out of the stream; ``drop=False`` keeps them
    flagged for a downstream quarantine sink. Never a false negative —
    anything the filter passes truly shares no ``n``-gram with the
    blocklist (the training-safety direction); false positives occur at
    the filter's standard rate and only cost recall.
    """
    from adam_spark.llm.sketches import bloom_contains_ngrams

    probed = bloom_contains_ngrams(
        bloom, docs, text_col=text_col, n=n,
        num_bits=num_bits, num_hashes=num_hashes,
    )
    if drop:
        return probed.where(~F.col("contaminated")).drop(
            "n_grams", "n_maybe_hits", "contaminated"
        )
    return probed


def streaming_minhash_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    time_col: str = "ts",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 5,
    watermark_delay: str = "10 minutes",
    state_ttl_seconds: int = 3600,
) -> DataFrame:
    """MinHash-LSH near-duplicate candidates over a document STREAM.

    The batch pipeline (llm/dedup.py: minhash_signatures → band hashes
    → bucket equi-join) splits cleanly at the shuffle: signatures and
    band hashes are pure narrow maps, so they run on ``readStream``
    unchanged and reuse the SAME hash family as the batch operator
    (identical signatures for identical text — a doc landed by the
    stream and re-checked by the batch backstop gets the same buckets).
    The bucket equi-join — the one stateful step — becomes an
    ``applyInPandasWithState`` ANCHOR store: one (anchor_id, anchor_ts)
    row per live (band, band_hash) bucket, TTL'd by event time.

    Emits one row per (document, band):
      doc_id, tse, band, band_hash, anchor_id —
    ``anchor_id`` is NULL when this document became the bucket's anchor
    (first seen) and the earlier document's id otherwise. All bands of
    a document are emitted in the SAME micro-batch, so per-document
    suppression is an exact stateless combine downstream — see
    :func:`near_dup_decisions` for the ``foreachBatch`` recipe.

    Deliberate bounded-state trade-offs (documented, not accidental):
    - one anchor per bucket (not the full membership): a later doc
      pairs with the bucket's FIRST doc, a star per bucket. Bucket
      connectivity — what the batch pipeline's duplicate_clusters
      consumes — is preserved exactly; only which pair witnesses it
      differs. State is O(live buckets), independent of corpus size.
    - event-time TTL (``state_ttl_seconds``, should be ≥ the watermark
      horizon): duplicates arriving farther apart than the TTL are not
      paired by the stream; the batch operator over the landed corpus
      is the exact backstop, same contract as streaming_exact_dedup.
    - candidates are UNVERIFIED (LSH recall/precision, tunable via
      bands × rows); exact-Jaccard verification composes in
      ``foreachBatch`` with the batch ``jaccard`` Column over the
      landed texts.

    Scale shape: per micro-batch the only shuffle is the groupBy on
    (band, band_hash) — the same key the batch equi-join shuffles on —
    and the state store holds one tiny row per live bucket.

    .. note:: **checkpoint compatibility** — the state row widened from
       (anchor_id, anchor_ts) to (anchor_id, anchor_ts, max_ts) when
       the TTL anchor switched to the bucket's newest-seen event time.
       Structured Streaming validates the state schema on restart, so a
       checkpoint written by the 2-column version cannot be resumed by
       this code: discard the old checkpoint directory (the batch
       backstop re-pairs anything the restarted stream misses — same
       recovery contract as a TTL expiry).
    """
    from adam_spark.llm.dedup import (
        _BASE_HASHES_SQL,
        _band_hashes_sql,
        _sig_udf,
        word_ngrams,
    )

    id_type = docs.schema[id_col].dataType
    ttl = int(state_ttl_seconds)

    sigs = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(time_col).cast("timestamp").alias("__ts"),
            F.col(time_col).cast("timestamp").cast("long").alias("tse"),
            word_ngrams(text_col, shingle_n).alias("__sh"),
        )
        .withWatermark("__ts", watermark_delay)
        .where(F.size("__sh") > 0)
        .select(
            "doc_id", "__ts", "tse",
            _sig_udf(num_hashes)(F.expr(_BASE_HASHES_SQL)).alias("signature"),
        )
    )
    # the batch operator's band hashes (md5 over each band's
    # comma-joined slice), one row per band, so stream and batch agree
    banded = sigs.selectExpr(
        "doc_id", "__ts", "tse",
        f"posexplode({_band_hashes_sql(num_hashes, bands)}) AS (band, band_hash)",
    )

    return _bucket_anchor_candidates(banded, id_type, ttl)


def _bucket_anchor_candidates(banded: DataFrame, id_type, ttl: int) -> DataFrame:
    """The shared stateful core of the streaming near-dup operators:
    ``banded`` rows (doc_id, tse, band, band_hash[, …]) group by bucket,
    one (anchor_id, anchor_ts) state row per live bucket with an
    event-time TTL, one output row per (doc, band) carrying the bucket
    anchor (NULL when the doc anchors). Used by both the text
    (MinHash) and embedding (SRP) candidate streams — the modality
    only changes the stateless banding in front."""
    import pandas as pd

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        rows = [
            (int(t), i)
            for pdf in pdfs
            for t, i in zip(pdf["tse"].tolist(), pdf["doc_id"].tolist())
        ]
        if not rows:
            return
        rows.sort()
        batch_max = max(t for t, _ in rows)
        if state.exists:
            anchor_id, anchor_ts, max_ts = state.get
            # monotone TTL horizon: a late-but-within-watermark row must
            # not shrink the timeout a newer row already advertised
            max_ts = max(max_ts, batch_max)
        else:
            anchor_ts, anchor_id = rows[0]
            max_ts = batch_max
        out = [
            (i, t, key[0], key[1], None if i == anchor_id else anchor_id)
            for t, i in rows
        ]
        state.update((anchor_id, anchor_ts, max_ts))
        state.setTimeoutTimestamp((max_ts + ttl) * 1000)
        yield pd.DataFrame(
            out, columns=["doc_id", "tse", "band", "band_hash", "anchor_id"]
        )

    from pyspark.sql.types import (
        IntegerType, LongType, StringType, StructField, StructType,
    )

    out_schema = StructType(
        [
            StructField("doc_id", id_type),
            StructField("tse", LongType()),
            StructField("band", IntegerType()),
            StructField("band_hash", StringType()),
            StructField("anchor_id", id_type),
        ]
    )
    return banded.groupBy("band", "band_hash").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=(
            f"anchor_id {id_type.simpleString()}, anchor_ts long, max_ts long"
        ),
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )


def streaming_embedding_candidates(
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    time_col: str = "ts",
    dim: int = 64,
    threshold: float = 0.8,
    watermark_delay: str = "10 minutes",
    state_ttl_seconds: int = 3600,
) -> DataFrame:
    """SRP-LSH near-duplicate candidates over an EMBEDDING stream —
    the cosine twin of :func:`streaming_minhash_candidates`, sharing
    its bucket-anchor state core and :func:`near_dup_decisions`
    combine. The stateless front is the batch operator's own
    ``srp_band_hashes`` (identical projection matrix and bit packing,
    so stream and batch agree bucket-for-bucket and the batch
    ``embedding_near_duplicates`` over the landed corpus is the exact
    backstop). Emitted candidates are UNVERIFIED (LSH precision);
    exact-cosine verification composes in ``foreachBatch`` against the
    landed vectors. Banding is ``srp_params(threshold)``, as in the
    batch operator."""
    from adam_spark.llm.similarity import srp_band_hashes, srp_params

    rows_per_band, bands = srp_params(threshold)
    id_type = vecs.schema[id_col].dataType
    base = vecs.select(
        F.col(id_col).alias("__vid"),
        F.col(time_col).cast("timestamp").alias("__ts"),
        F.col(time_col).cast("timestamp").cast("long").alias("tse"),
        F.col(vec_col).alias("__vec"),
    ).withWatermark("__ts", watermark_delay)
    banded = srp_band_hashes(
        base, "__vid", "__vec", dim, rows_per_band, bands,
        extra_cols=("__ts", "tse"),
    ).select(
        F.col("id").alias("doc_id"), "__ts", "tse", "band",
        # the shared core keys buckets by string; the SRP hash is a
        # packed-bit long — cast is lossless and deterministic
        F.col("band_hash").cast("string").alias("band_hash"),
    )
    return _bucket_anchor_candidates(banded, id_type, int(state_ttl_seconds))


def near_dup_decisions(band_rows: DataFrame) -> DataFrame:
    """Per-document near-dup verdicts from a micro-batch of
    :func:`streaming_minhash_candidates` / 
    :func:`streaming_embedding_candidates` output — the ``foreachBatch``
    combine (exact because every band of a document is emitted in the
    same micro-batch):

        query = (streaming_minhash_candidates(stream)
                 .writeStream.foreachBatch(
                     lambda b, _: sink(near_dup_decisions(b)))
                 .start())

    Returns (doc_id, is_near_dup, matched_anchor, n_band_hits):
    ``is_near_dup`` is true when ANY band bucket already had a
    different anchor; ``matched_anchor`` is the smallest such anchor id
    (deterministic witness, feeds duplicate_clusters edges)."""
    return band_rows.groupBy("doc_id").agg(
        F.max(F.col("anchor_id").isNotNull()).alias("is_near_dup"),
        F.min("anchor_id").alias("matched_anchor"),
        F.sum(F.col("anchor_id").isNotNull().cast("long")).alias("n_band_hits"),
    )


def verified_near_dup_decisions(
    band_rows: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    shingle_n: int = 5,
) -> DataFrame:
    """Exact-Jaccard VERIFIED verdicts for a micro-batch of
    :func:`streaming_minhash_candidates` band rows — the precision half
    of the streaming triple, previously documented as a foreachBatch
    recipe, now a tested operator.

    ``corpus`` is the landed documents table (the same table the ingest
    sink appends to — both the anchor and, at verify time, the current
    document must have landed there). Each candidate (doc, anchor) pair
    is checked with the SAME exact-Jaccard column the batch verifier
    uses (llm/dedup.jaccard over distinct word ``shingle_n``-grams), so
    stream verdicts match :func:`adam_spark.llm.dedup.minhash_lsh_pairs`
    at the same threshold/shingling for every pair the stream
    witnessed.

    Returns one row per candidate document:
    (doc_id, is_near_dup, matched_anchor, n_band_hits, n_verified,
    best_jaccard) — ``is_near_dup`` now means "some anchor VERIFIED at
    ≥ threshold", ``matched_anchor`` is the smallest verified anchor id.
    Pairs whose texts have not landed yet count in ``n_band_hits`` but
    cannot verify (exactly the batch backstop's job).

    Scale shape: the micro-batch pair set is broadcast into two joins
    against the corpus scan (filter pushdown on the id column); the
    corpus is never shuffled, and Jaccard is a narrow Catalyst map —
    no UDFs.
    """
    from adam_spark.llm.dedup import jaccard, word_ngrams

    lsh = band_rows.groupBy("doc_id").agg(
        F.sum(F.col("anchor_id").isNotNull().cast("long")).alias("n_band_hits"),
    )
    pairs = (
        band_rows.where(F.col("anchor_id").isNotNull())
        .select("doc_id", F.col("anchor_id").alias("cand"))
        .distinct()
    )
    sh = corpus.select(
        F.col(id_col).alias("__vid"),
        F.array_distinct(word_ngrams(text_col, shingle_n)).alias("__sh"),
    )
    verified = (
        F.broadcast(pairs)
        .join(sh.select(F.col("__vid").alias("doc_id"), F.col("__sh").alias("__sh_a")), "doc_id")
        .join(sh.select(F.col("__vid").alias("cand"), F.col("__sh").alias("__sh_b")), "cand")
        .withColumn("__j", jaccard(F.col("__sh_a"), F.col("__sh_b")))
        .where(F.col("__j") >= F.lit(threshold))
        .groupBy("doc_id")
        .agg(
            F.min("cand").alias("matched_anchor"),
            F.count(F.lit(1)).alias("n_verified"),
            F.round(F.max("__j"), 6).alias("best_jaccard"),
        )
    )
    return lsh.join(verified, "doc_id", "left").select(
        "doc_id",
        F.col("matched_anchor").isNotNull().alias("is_near_dup"),
        "matched_anchor",
        "n_band_hits",
        F.coalesce("n_verified", F.lit(0)).alias("n_verified"),
        "best_jaccard",
    )


def streaming_minhash_dedup_verified(
    docs: DataFrame,
    corpus_path: str,
    verdicts_path: str,
    checkpoint: str,
    threshold: float = 0.7,
    **candidate_params,
):
    """:func:`streaming_minhash_dedup` with the exact-Jaccard verify
    composed INSIDE the sink: every micro-batch's candidates are checked
    against the landed corpus at ``corpus_path`` (re-read each batch so
    newly landed documents are visible) before a verdict row is
    appended. Returns the started StreamingQuery."""
    shingle_n = candidate_params.get("shingle_n", 5)
    cands = streaming_minhash_candidates(docs, **candidate_params)

    def _land(batch: DataFrame, _epoch: int) -> None:
        corpus = batch.sparkSession.read.parquet(corpus_path)
        verified_near_dup_decisions(
            batch, corpus, threshold=threshold, shingle_n=shingle_n
        ).write.mode("append").parquet(verdicts_path)

    return (
        cands.writeStream.foreachBatch(_land)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def streaming_minhash_dedup(
    docs: DataFrame,
    verdicts_path: str,
    checkpoint: str,
    **candidate_params,
):
    """End-to-end streaming near-dup dedup: run
    :func:`streaming_minhash_candidates` and land one VERDICT row per
    document per micro-batch (doc_id, is_near_dup, matched_anchor,
    n_band_hits) into an append-only parquet table. Returns the
    started StreamingQuery.

    The intended consumption shape at training time::

        docs = spark.read.parquet(landed_docs)       # your ingest sink
        bad = spark.read.parquet(verdicts).where("is_near_dup")
        clean = docs.join(bad, "doc_id", "left_anti")

    Landing verdicts (a few bytes per doc) instead of re-writing the
    documents keeps the dedup stream independent of however documents
    themselves are persisted, and the anti-join is a broadcast at
    typical dup rates. foreachBatch is exact here because every band
    of a document is emitted in the same micro-batch.
    """
    return _land_verdicts(
        streaming_minhash_candidates(docs, **candidate_params),
        verdicts_path, checkpoint,
    )


def streaming_embedding_dedup(
    vecs: DataFrame,
    verdicts_path: str,
    checkpoint: str,
    **candidate_params,
):
    """Embedding twin of :func:`streaming_minhash_dedup`: SRP
    candidates → per-vector verdict rows appended to parquet; training
    reads vectors LEFT ANTI JOIN the flagged verdicts."""
    return _land_verdicts(
        streaming_embedding_candidates(vecs, **candidate_params),
        verdicts_path, checkpoint,
    )


def _land_verdicts(cands: DataFrame, verdicts_path: str, checkpoint: str):
    def _land(batch: DataFrame, _epoch: int) -> None:
        near_dup_decisions(batch).write.mode("append").parquet(verdicts_path)

    return (
        cands.writeStream.foreachBatch(_land)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )
