"""Structured Streaming tests: SAM shards land in a directory and flow
into the partitioned layout + incremental coverage."""

import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from adam_spark import streaming as st
from adam_spark.sources.parquet import FLAG_FILE

SAM_SHARD_1 = (
    "r1\t0\tchr1\t100\t60\t10M\t*\t0\t0\tACGTACGTAC\tIIIIIIIIII\n"
    "r2\t0\tchr1\t1500\t60\t10M\t*\t0\t0\tACGTACGTAC\tIIIIIIIIII\n"
)
SAM_SHARD_2 = (
    "r3\t0\tchr2\t300\t60\t10M\t*\t0\t0\tTTTTGGGGCC\tIIIIIIIIII\n"
    "r4\t4\t*\t0\t0\t*\t*\t0\t0\tAAAACCCC\tIIIIIIII\n"
)


def test_stream_sam_to_partitioned_parquet(spark, tmp_path):
    indir = tmp_path / "in"
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(indir)
    (indir / "shard1.sam").write_text(SAM_SHARD_1)

    alignments = st.stream_sam_directory(spark, str(indir))
    assert alignments.isStreaming
    q = st.stream_to_partitioned_parquet(
        alignments, outdir, ckpt, partition_size=1000
    )
    try:
        q.processAllAvailable()
        (indir / "shard2.sam").write_text(SAM_SHARD_2)
        q.processAllAvailable()
    finally:
        q.stop()

    got = spark.read.parquet(outdir)
    assert got.count() == 4
    bins = {
        (r["referenceName"], r["positionBin"])
        for r in got.select("referenceName", "positionBin").distinct().collect()
    }
    assert ("chr1", 0) in bins and ("chr1", 1) in bins and ("chr2", 0) in bins
    # unmapped read: null partition values land in HIVE_DEFAULT_PARTITION
    # batch loader interop: mark the layout and read it back region-pruned
    with open(os.path.join(outdir, FLAG_FILE), "w") as f:
        f.write("1000")
    from adam_spark.sources.parquet import load_partitioned_parquet
    from adam_spark.core.metadata import GenomicMetadata

    GenomicMetadata(kind="alignment").save(outdir)
    gf = load_partitioned_parquet(spark, outdir, regions=[("chr1", 0, 200)])
    assert [r["readName"] for r in gf.df.collect()] == ["r1"]


def test_streaming_bin_coverage(spark, tmp_path):
    indir = tmp_path / "in"
    os.makedirs(indir)
    (indir / "s.sam").write_text(SAM_SHARD_1 + SAM_SHARD_2)
    alignments = st.stream_sam_directory(spark, str(indir))
    cov = st.streaming_bin_coverage(alignments, bp_per_bin=1000)
    q = (
        cov.writeStream.format("memory")
        .queryName("cov_test")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {
            (r["referenceName"], r["bin"]): r["reads"]
            for r in spark.sql("select * from cov_test").collect()
        }
    finally:
        q.stop()
    assert rows == {("chr1", 0): 1, ("chr1", 1): 1, ("chr2", 0): 1}


def test_streaming_event_counts(spark, tmp_path):
    import datetime

    src = str(tmp_path / "events")
    rows = [
        (1, "click", datetime.datetime(2026, 1, 1, 10, 15)),
        (2, "click", datetime.datetime(2026, 1, 1, 10, 45)),
        (3, "error", datetime.datetime(2026, 1, 1, 11, 5)),
    ]
    df = spark.createDataFrame(rows, "event_id long, event_type string, ts timestamp")
    df.write.parquet(src)
    ev = st.stream_events(spark, src, df.schema)
    counts = st.streaming_event_counts(ev, "ts", "1 hour", "2 hours")
    q = (
        counts.writeStream.format("memory")
        .queryName("ev_test")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (str(r["window_start"]), r["event_type"]): r["n"]
            for r in spark.sql("select * from ev_test").collect()
        }
    finally:
        q.stop()
    assert got[("2026-01-01 10:00:00", "click")] == 2
    assert got[("2026-01-01 11:00:00", "error")] == 1


def test_streaming_sessions_stateful(spark, tmp_path):
    """applyInPandasWithState sessionization: a session closes
    deterministically when a later micro-batch shows a gap > the
    threshold for that user; open sessions stay in state."""
    import json

    indir = tmp_path / "ev"
    os.makedirs(indir)
    schema = "user_id long, ts timestamp"

    def shard(name, rows):
        with open(indir / name, "w") as f:
            for uid, ts in rows:
                f.write(json.dumps({"user_id": uid, "ts": ts}) + "\n")

    shard("s1.json", [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:03:00"),
                      (2, "2024-01-01 10:00:00")])
    events = spark.readStream.schema(schema).json(str(indir))
    sess = st.streaming_sessions(events, gap_seconds=1800)
    q = (
        sess.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("select * from sess_out").count() == 0  # nothing closed yet
        # user 1 returns 2h later -> the first session closes with 2 events;
        # the advanced watermark (12:30) also times out idle user 2
        shard("s2.json", [(1, "2024-01-01 12:30:00")])
        q.processAllAvailable()
        shard("s3.json", [(3, "2024-01-01 13:00:00")])  # advance watermark again
        q.processAllAvailable()
        rows = {r["user_id"]: r for r in spark.sql("select * from sess_out").collect()}
        assert rows[1]["n_events"] == 2
        assert rows[1]["session_end"] - rows[1]["session_start"] == 180
        assert rows[2]["n_events"] == 1  # idle flush via event-time timeout
        assert 3 not in rows  # user 3's session is still open
    finally:
        q.stop()


FASTQ_SHARD_1 = (
    "@q1/1\nACGTACGT\n+\nIIIIIIII\n"
    "@q2\nTTTTGGGG\n+\nJJJJJJJJ\n"
)
FASTQ_SHARD_2 = "@q3\nCCCCAAAA\n+\nKKKKKKKK\n"


def test_stream_fastq_directory(spark, tmp_path):
    indir = tmp_path / "fq"
    os.makedirs(indir)
    (indir / "a.fastq").write_text(FASTQ_SHARD_1)
    reads = st.stream_fastq_directory(spark, str(indir))
    assert reads.isStreaming
    q = (
        reads.writeStream.format("memory")
        .queryName("fq_mem")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        (indir / "b.fastq").write_text(FASTQ_SHARD_2)
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {r["name"]: r for r in spark.sql("SELECT * FROM fq_mem").collect()}
    assert set(rows) == {"q1", "q2", "q3"}
    assert rows["q1"]["sequence"] == "ACGTACGT"
    assert rows["q1"]["description"] is None  # bare pair-suffixed header
    assert rows["q3"]["qualityScores"] == "KKKKKKKK"


def test_streaming_exact_dedup(spark, tmp_path):
    import json

    indir = tmp_path / "docs"
    os.makedirs(indir)
    schema = "doc_id LONG, text STRING, ts TIMESTAMP"
    (indir / "batch1.json").write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                {"doc_id": 1, "text": "hello world", "ts": "2026-01-01T00:00:00"},
                {"doc_id": 2, "text": "HELLO world", "ts": "2026-01-01T00:00:10"},
                {"doc_id": 3, "text": "unique doc", "ts": "2026-01-01T00:00:20"},
            ]
        )
    )
    stream = spark.readStream.schema(schema).json(str(indir))
    out = st.streaming_exact_dedup(stream, watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_mem")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(r["doc_id"] for r in spark.sql("SELECT * FROM dedup_mem").collect())
    # case-insensitive fingerprint: doc 2 is a duplicate of doc 1
    assert got == [1, 3]


def test_llm_narrow_ops_run_on_streams(spark, tmp_path):
    """The stateless LLM passes (hash sampling, split tagging, PII
    scrubbing, text profile fields) are pure narrow maps/filters, so
    they compose with readStream unchanged — the property that makes
    them usable in an incremental ingestion pipeline."""
    import json

    from adam_spark.llm.sampling import hash_sample, train_test_split
    from adam_spark.llm.text import scrub_pii

    indir = tmp_path / "docs_in"
    indir.mkdir()
    rows = [
        {"doc_id": i, "text": f"doc {i} mail u{i}@ex.com body word{i % 3}"}
        for i in range(40)
    ]
    (indir / "b1.json").write_text("\n".join(json.dumps(r) for r in rows[:25]))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .json(str(indir))
    )
    out = scrub_pii(train_test_split(hash_sample(stream, 0.5, "doc_id"), 0.4, "doc_id"))
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("llm_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        (indir / "b2.json").write_text("\n".join(json.dumps(r) for r in rows[25:]))
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM llm_stream").collect()
    # streamed result == identical batch pipeline over the same rows
    batch = spark.createDataFrame([(r["doc_id"], r["text"]) for r in rows], ["doc_id", "text"])
    want = scrub_pii(train_test_split(hash_sample(batch, 0.5, "doc_id"), 0.4, "doc_id")).collect()
    key = lambda r: (r["doc_id"], r["split"], r["n_email"], r["text_scrubbed"])
    assert sorted(map(key, got)) == sorted(map(key, want))
    assert all("<EMAIL>" in r["text_scrubbed"] for r in got)


def test_streaming_sessions_string_user_ids(spark, tmp_path):
    """The session operator keys by the INPUT's user-id type; string
    ids (the common case) must not crash the Arrow conversion, and a
    late-but-within-watermark event must not regress session bounds."""
    import datetime as dt
    import json

    indir = tmp_path / "sess_in"
    indir.mkdir()

    def write(batch, rows):
        (indir / f"{batch}.json").write_text(
            "\n".join(json.dumps(r) for r in rows)
        )

    t0 = dt.datetime(2026, 1, 1, 10, 0, 0)

    def ts(sec):
        return (t0 + dt.timedelta(seconds=sec)).strftime("%Y-%m-%d %H:%M:%S")

    stream = spark.readStream.schema("user_id string, ts timestamp").json(str(indir))
    from adam_spark.streaming import streaming_sessions

    out = streaming_sessions(stream, gap_seconds=100, watermark_delay="1 hour")
    q = out.writeStream.format("memory").queryName("sess_str").outputMode("append").start()
    try:
        write("b1", [{"user_id": "alice", "ts": ts(100)}])
        q.processAllAvailable()
        # late event (ts 50 < 100) joins the session without moving last back
        write("b2", [{"user_id": "alice", "ts": ts(50)}])
        q.processAllAvailable()
        # gap-closing event: 400 - 100 > 100 closes (start=50, end=100, n=2)
        write("b3", [{"user_id": "alice", "ts": ts(400)}])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM sess_str").collect()
    assert len(rows) == 1
    r = rows[0]
    epoch0 = int(t0.timestamp())
    assert r["user_id"] == "alice"
    assert r["session_start"] == epoch0 + 50
    assert r["session_end"] == epoch0 + 100
    assert r["n_events"] == 2
    assert r["session_end"] >= r["session_start"]


def test_stream_partitioned_layout_flag_file(spark, tmp_path):
    """The streaming writer emits the layout flag file so region-pruned
    batch readers use the STREAM's bin size, not the default."""
    import os

    indir = tmp_path / "in2"
    outdir = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ckpt2")
    os.makedirs(indir)
    (indir / "s.sam").write_text(SAM_SHARD_1)
    alignments = st.stream_sam_directory(spark, str(indir))
    q = st.stream_to_partitioned_parquet(alignments, outdir, ckpt, partition_size=1000)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    from adam_spark.sources.parquet import is_partitioned, load_partitioned_parquet

    assert is_partitioned(outdir)
    with open(os.path.join(outdir, FLAG_FILE)) as fh:
        assert fh.read().strip() == "1000"
    got = load_partitioned_parquet(
        spark, outdir, regions=[("chr1", 1400, 1600)]
    )
    assert {r["start"] for r in got.df.collect()} == {1499}


def test_streaming_decontaminate(spark, tmp_path):
    """Streaming bloom decontamination: blocklist built batch-side from
    the eval set, a document stream probed through the stateless narrow
    pipeline; streamed verdicts == the batch per-row probe, and the
    drop mode never passes a truly contaminated doc (no false
    negatives)."""
    import json

    from adam_spark.llm.dedup import word_ngrams
    from adam_spark.llm.sketches import (
        bloom_build,
        bloom_contains_ngrams,
    )
    from adam_spark.streaming import streaming_decontaminate

    rows = [
        {"doc_id": i,
         "text": (f"shared benchmark sentence number {i % 5} tail"
                  if i % 3 == 0 else f"clean body text {i} with words {i*7}")}
        for i in range(30)
    ]
    eval_rows = [{"doc_id": 1000 + j,
                  "text": f"shared benchmark sentence number {j} tail"}
                 for j in range(5)]
    bench = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in eval_rows], ["doc_id", "text"]
    )
    bloom = bloom_build(
        bench.select(F.explode(word_ngrams("text", 4)).alias("gram")).distinct(),
        "gram", num_bits=8192, num_hashes=5,
    )

    indir = tmp_path / "docs_in"
    indir.mkdir()
    (indir / "b1.json").write_text("\n".join(json.dumps(r) for r in rows[:18]))
    stream = spark.readStream.schema("doc_id long, text string").json(str(indir))
    flagged = streaming_decontaminate(
        stream, bloom, n=4, num_bits=8192, num_hashes=5, drop=False
    )
    assert flagged.isStreaming
    q = (
        flagged.writeStream.format("memory")
        .queryName("decon_stream").outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        (indir / "b2.json").write_text("\n".join(json.dumps(r) for r in rows[18:]))
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["doc_id"]: r["contaminated"]
        for r in spark.sql("SELECT * FROM decon_stream").collect()
    }
    batch = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rows], ["doc_id", "text"]
    )
    want = {
        r["doc_id"]: r["contaminated"]
        for r in bloom_contains_ngrams(
            bloom, batch, "text", n=4, num_bits=8192, num_hashes=5
        ).collect()
    }
    assert got == want
    # every i%3==0 doc shares a 4-gram with the eval set → must be flagged
    assert all(got[i] for i in range(30) if i % 3 == 0)
    bloom.unpersist()


def _mh_doc(words, change=None):
    toks = [f"w{i}" for i in range(60)]
    if change is not None:
        toks[change] = "CHANGED"
    return " ".join(toks)


def test_streaming_minhash_candidates_stateful(spark, tmp_path):
    """Near-dup candidates across MICRO-BATCHES: the bucket anchor
    store must survive triggers (maxFilesPerTrigger=1 forces one file
    per micro-batch), and near_dup_decisions must combine the per-band
    rows into exact per-document verdicts."""
    import json

    indir = tmp_path / "docs"
    indir.mkdir()
    b1 = [
        {"doc_id": 1, "text": _mh_doc(60), "ts": "2026-01-01T00:00:00"},
        {"doc_id": 2, "text": _mh_doc(60, change=30), "ts": "2026-01-01T00:00:10"},
        {"doc_id": 3, "text": "completely different words entirely unrelated "
                              "zebra quark lattice phonon", "ts": "2026-01-01T00:00:20"},
    ]
    b2 = [
        {"doc_id": 4, "text": _mh_doc(60), "ts": "2026-01-01T00:10:00"},
    ]
    (indir / "b1.json").write_text("\n".join(json.dumps(d) for d in b1))
    (indir / "b2.json").write_text("\n".join(json.dumps(d) for d in b2))

    stream = (
        spark.readStream.schema("doc_id LONG, text STRING, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1)
        .json(str(indir))
    )
    cands = st.streaming_minhash_candidates(
        stream, num_hashes=32, bands=8, shingle_n=3, watermark_delay="1 hour",
        state_ttl_seconds=86400,
    )
    q = (
        cands.writeStream.format("memory")
        .queryName("mh_cands")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM mh_cands")
    got = st.near_dup_decisions(rows).orderBy("doc_id").collect()
    by_id = {r["doc_id"]: r for r in got}
    # every doc emits rows for all 8 bands
    assert all(
        r["n_band_hits"] + (rows.where(
            (F.col("doc_id") == r["doc_id"]) & F.col("anchor_id").isNull()
        ).count()) == 8
        for r in got
    )
    # doc 1 anchors its buckets; doc 2 (one word in 60 changed) collides
    # with doc 1 in at least one band; doc 3 is unrelated
    assert not by_id[1]["is_near_dup"]
    assert by_id[2]["is_near_dup"] and by_id[2]["matched_anchor"] == 1
    assert not by_id[3]["is_near_dup"]
    # doc 4 = exact copy of doc 1's text, arrives in the SECOND
    # micro-batch: pairing requires the anchor state to have persisted.
    # identical text → identical signature → all 8 bands collide
    assert by_id[4]["is_near_dup"] and by_id[4]["matched_anchor"] == 1
    assert by_id[4]["n_band_hits"] == 8


# Column-built reference for the batch operator's band hashes
# (llm/dedup.py ``_band_hashes_sql``).
def lsh_bands(signatures: DataFrame, bands: int) -> DataFrame:
    """(id, band, band_hash): hash each signature band for bucketing."""
    sig_len_expr = F.size("signature")
    rows_per_band = (sig_len_expr / F.lit(bands)).cast("int")
    return signatures.select(
        "id",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
        F.col("signature"),
    ).select(
        "id",
        "band",
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(
                        F.col("signature"),
                        F.col("band") * rows_per_band + 1,
                        rows_per_band,
                    ),
                    lambda v: v.cast("string"),
                ),
            )
        ).alias("band_hash"),
    )


def test_streaming_minhash_matches_batch_buckets(spark):
    """Stream and batch use the SAME hash family: the band hashes the
    streaming operator computes for a document equal lsh_bands' output
    over the same text (the property that lets the batch job act as an
    exact backstop over the landed corpus)."""
    from adam_spark.llm.dedup import minhash_signatures, word_ngrams

    df = spark.createDataFrame(
        [(1, _mh_doc(60), "2026-01-01T00:00:00")], "doc_id long, text string, ts string"
    )
    batch = lsh_bands(
        minhash_signatures(df, "doc_id", word_ngrams("text", 3), num_hashes=32),
        bands=8,
    ).select("band", "band_hash")
    batch_set = {(r["band"], r["band_hash"]) for r in batch.collect()}

    # drive the streaming operator over the same row via a temp dir
    import json
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        with open(os.path.join(d, "one.json"), "w") as fh:
            fh.write(json.dumps({"doc_id": 1, "text": _mh_doc(60),
                                 "ts": "2026-01-01T00:00:00"}))
        stream = spark.readStream.schema(
            "doc_id LONG, text STRING, ts TIMESTAMP"
        ).json(d)
        cands = st.streaming_minhash_candidates(
            stream, num_hashes=32, bands=8, shingle_n=3
        )
        q = (
            cands.writeStream.format("memory")
            .queryName("mh_parity")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    stream_set = {
        (r["band"], r["band_hash"])
        for r in spark.sql("SELECT band, band_hash FROM mh_parity").collect()
    }
    assert stream_set == batch_set


def test_streaming_minhash_dedup_lands_verdicts(spark, tmp_path):
    """The end-to-end wrapper writes per-doc verdict rows to parquet;
    the anti-join recipe yields exactly the non-duplicate docs."""
    import json

    indir = tmp_path / "docs"
    indir.mkdir()
    rows = [
        {"doc_id": 1, "text": _mh_doc(60), "ts": "2026-01-01T00:00:00"},
        {"doc_id": 2, "text": _mh_doc(60), "ts": "2026-01-01T00:00:10"},
        {"doc_id": 3, "text": "unrelated zebra quark lattice phonon words", "ts": "2026-01-01T00:00:20"},
    ]
    (indir / "b.json").write_text("\n".join(json.dumps(d) for d in rows))
    stream = spark.readStream.schema("doc_id LONG, text STRING, ts TIMESTAMP").json(str(indir))
    vp, cp = str(tmp_path / "verdicts"), str(tmp_path / "ckpt")
    q = st.streaming_minhash_dedup(
        stream, vp, cp, num_hashes=32, bands=8, shingle_n=3
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    verdicts = spark.read.parquet(vp)
    by_id = {r["doc_id"]: r["is_near_dup"] for r in verdicts.collect()}
    assert by_id == {1: False, 2: True, 3: False}
    docs = spark.createDataFrame([(r["doc_id"],) for r in rows], "doc_id long")
    clean = docs.join(
        verdicts.where("is_near_dup"), "doc_id", "left_anti"
    )
    assert sorted(r["doc_id"] for r in clean.collect()) == [1, 3]


def test_streaming_minhash_state_ttl_expires_anchors(spark, tmp_path):
    """The documented bounded-state trade-off: duplicates arriving
    farther apart than the event-time TTL are NOT paired — the bucket
    anchors expire as the watermark passes their timeout, so the
    late copy re-anchors instead of flagging. (The batch operator over
    the landed corpus is the exact backstop.)"""
    import json

    indir = tmp_path / "docs"
    indir.mkdir()
    text = _mh_doc(60)
    # batch1: the original. batch2: unrelated doc 2h later — advances
    # the watermark (delay 1m) far past batch1's TTL (10m). batch3: an
    # exact copy of doc 1, 4h later.
    batches = [
        [{"doc_id": 1, "text": text, "ts": "2026-01-01T00:00:00"}],
        [{"doc_id": 2, "text": "unrelated zebra quark lattice phonon words",
          "ts": "2026-01-01T02:00:00"}],
        [{"doc_id": 3, "text": text, "ts": "2026-01-01T04:00:00"}],
    ]
    stream = (
        spark.readStream.schema("doc_id LONG, text STRING, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1)
        .json(str(indir))
    )
    cands = st.streaming_minhash_candidates(
        stream, num_hashes=32, bands=8, shingle_n=3,
        watermark_delay="1 minute", state_ttl_seconds=600,
    )
    q = (
        cands.writeStream.format("memory")
        .queryName("mh_ttl")
        .outputMode("append")
        .start()
    )
    try:
        # land one file per micro-batch IN ORDER — the file source does
        # not guarantee same-mtime ordering, and an out-of-order old doc
        # would be dropped as late data rather than exercising the TTL
        for i, b in enumerate(batches):
            (indir / f"b{i}.json").write_text("\n".join(json.dumps(d) for d in b))
            q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM mh_ttl")
    got = {r["doc_id"]: r for r in st.near_dup_decisions(rows).collect()}
    # doc 3 is an exact copy of doc 1 but beyond the TTL: NOT flagged
    assert not got[3]["is_near_dup"]
    assert not got[1]["is_near_dup"] and not got[2]["is_near_dup"]


def test_streaming_embedding_candidates_stateful(spark, tmp_path):
    """SRP near-dup candidates across micro-batches: identical vector
    in batch 2 collides with the batch-1 anchor on every band; an
    orthogonal-ish vector stays clean; bucket parity with the batch
    srp_band_hashes is pinned."""
    import json

    base_vec = [1.0, 0.5, -0.25, 2.0] * 4  # dim 16
    near_vec = list(base_vec); near_vec[0] = 1.01
    far_vec = [(-1.0) ** i * (i + 1) for i in range(16)]
    indir = tmp_path / "vecs"
    indir.mkdir()
    (indir / "b1.json").write_text("\n".join(json.dumps(d) for d in [
        {"vec_id": 1, "embedding": base_vec, "ts": "2026-01-01T00:00:00"},
        {"vec_id": 2, "embedding": far_vec, "ts": "2026-01-01T00:00:05"},
    ]))
    (indir / "b2.json").write_text(json.dumps(
        {"vec_id": 3, "embedding": near_vec, "ts": "2026-01-01T00:05:00"}
    ))
    stream = (
        spark.readStream.schema("vec_id LONG, embedding ARRAY<DOUBLE>, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1)
        .json(str(indir))
    )
    cands = st.streaming_embedding_candidates(
        stream, dim=16, threshold=0.9,
        watermark_delay="1 hour", state_ttl_seconds=86400,
    )
    q = (
        cands.writeStream.format("memory")
        .queryName("srp_cands")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM srp_cands")
    got = {r["doc_id"]: r for r in st.near_dup_decisions(rows).collect()}
    assert not got[1]["is_near_dup"] and not got[2]["is_near_dup"]
    assert got[3]["is_near_dup"] and got[3]["matched_anchor"] == 1
    assert got[3]["n_band_hits"] >= 4  # near-identical vector: most bands

    # bucket parity with the batch operator's banding
    from adam_spark.llm.similarity import srp_band_hashes, srp_params

    batch = srp_band_hashes(
        spark.createDataFrame([(1, base_vec)], "vec_id long, embedding array<double>"),
        "vec_id", "embedding", 16, *srp_params(0.9),
    )
    batch_set = {(r["band"], str(r["band_hash"])) for r in batch.collect()}
    stream_set = {
        (r["band"], r["band_hash"])
        for r in rows.where("doc_id = 1").select("band", "band_hash").collect()
    }
    assert stream_set == batch_set


def test_streaming_embedding_dedup_lands_verdicts(spark, tmp_path):
    import json

    indir = tmp_path / "vecs"
    indir.mkdir()
    v = [1.0, -2.0, 0.5, 3.0] * 4
    rows = [
        {"vec_id": 1, "embedding": v, "ts": "2026-01-01T00:00:00"},
        {"vec_id": 2, "embedding": v, "ts": "2026-01-01T00:00:10"},
        {"vec_id": 3, "embedding": [(-1.0) ** i * (i + 1) for i in range(16)],
         "ts": "2026-01-01T00:00:20"},
    ]
    (indir / "b.json").write_text("\n".join(json.dumps(d) for d in rows))
    stream = spark.readStream.schema(
        "vec_id LONG, embedding ARRAY<DOUBLE>, ts TIMESTAMP"
    ).json(str(indir))
    vp, cp = str(tmp_path / "verdicts"), str(tmp_path / "ckpt")
    q = st.streaming_embedding_dedup(stream, vp, cp, dim=16, threshold=0.9)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    by_id = {r["doc_id"]: r["is_near_dup"] for r in spark.read.parquet(vp).collect()}
    assert by_id == {1: False, 2: True, 3: False}


def test_streaming_verified_near_dup_matches_batch(spark, tmp_path):
    """Verify-in-stream precision contract: verdicts from
    streaming_minhash_dedup_verified match the batch verifier
    (llm.dedup.minhash_lsh_pairs) pair-for-pair on the same corpus,
    threshold, and shingling — a banded LSH candidate below the exact
    Jaccard threshold is REJECTED in-stream, an exact/near copy is
    confirmed with its Jaccard."""
    import json

    from adam_spark.llm.dedup import minhash_lsh_pairs

    docs = [
        (1, _mh_doc(60), "2026-01-01T00:00:00"),
        (2, _mh_doc(60, change=1), "2026-01-01T00:00:10"),  # near copy of 1
        (3, "completely different words entirely unrelated zebra quark "
            "lattice phonon", "2026-01-01T00:00:20"),
        (4, _mh_doc(60), "2026-01-01T00:10:00"),  # exact copy of 1, batch 2
        # half the words changed: collides in some band with decent odds
        # but exact Jaccard is far below threshold → must NOT verify
        (5, " ".join(("CHANGED%d" % i) if i % 2 else ("w%d" % i)
                     for i in range(60)), "2026-01-01T00:10:30"),
    ]
    corpus_path = str(tmp_path / "corpus")
    corpus = spark.createDataFrame(
        [(i, t) for i, t, _ in docs], "doc_id long, text string"
    )
    corpus.write.parquet(corpus_path)

    indir = tmp_path / "docs"
    indir.mkdir()
    (indir / "b1.json").write_text("\n".join(
        json.dumps({"doc_id": i, "text": t, "ts": ts}) for i, t, ts in docs[:3]
    ))
    (indir / "b2.json").write_text("\n".join(
        json.dumps({"doc_id": i, "text": t, "ts": ts}) for i, t, ts in docs[3:]
    ))

    stream = (
        spark.readStream.schema("doc_id LONG, text STRING, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1)
        .json(str(indir))
    )
    verdicts_path = str(tmp_path / "verdicts")
    q = st.streaming_minhash_dedup_verified(
        stream, corpus_path, verdicts_path, str(tmp_path / "ckpt"),
        threshold=0.7, num_hashes=32, bands=8, shingle_n=3,
        watermark_delay="1 hour", state_ttl_seconds=86400,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {r["doc_id"]: r for r in spark.read.parquet(verdicts_path).collect()}
    assert set(got) == {1, 2, 3, 4, 5}

    # batch verifier on the same corpus/params: the parity oracle
    batch_pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(
            corpus, "doc_id", "text", num_hashes=32, bands=8,
            shingle_ngram=3, threshold=0.7,
        ).collect()
    }

    # every stream-verified pair is a batch-verified pair with the same
    # exact Jaccard (stream anchor is the earlier doc → smaller id here)
    for d, r in got.items():
        if r["is_near_dup"]:
            key = (r["matched_anchor"], d)
            assert key in batch_pairs
            assert abs(r["best_jaccard"] - batch_pairs[key]) < 1e-6

    assert not got[1]["is_near_dup"]        # anchors its buckets
    assert got[2]["is_near_dup"] and got[2]["matched_anchor"] == 1
    assert got[2]["n_verified"] >= 1
    assert not got[3]["is_near_dup"]
    assert got[4]["is_near_dup"] and got[4]["matched_anchor"] == 1
    assert got[4]["n_band_hits"] == 8       # identical signature
    # doc 5: whatever bands collide, the exact verify must reject
    assert not got[5]["is_near_dup"] and got[5]["n_verified"] == 0
    assert (1, 5) not in batch_pairs and (2, 5) not in batch_pairs
