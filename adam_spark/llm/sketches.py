"""Mergeable frequency sketches for corpus-scale term statistics.

A Count-Min sketch summarizes an unbounded token stream in O(width ×
depth) integers with a one-sided error guarantee (estimates never
undercount; overcount ≤ εN with probability 1−δ for width = e/ε,
depth = ln 1/δ). Expressed Spark-first, the sketch IS a tiny DataFrame
of (row, bucket, count): building it is one map-side-combined groupBy
whose key space is depth·width regardless of corpus size — the partial
aggregates on every executor are themselves count-min sketches being
merged, which is exactly how the sketch is meant to distribute.

Every hash is md5-derived (identical in any engine), so sketch
contents, estimates, and heavy-hitter sets have exact DuckDB oracles —
approximation here is a property of the ALGORITHM, not of the engine
run, and is therefore still hash-checkable across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# _bucket draws positions from 7 hex md5 chars: a uniform value in
# [0, 16^7). Any modulus above that silently truncates the position
# space (bits past 16^7 could never be set) and moduli near the bound
# are badly biased — so reject them instead. 16^7 ≈ 268M bits ≈ 32 MB
# packed, far past the broadcast cap that motivates these sketches.
_MAX_BUCKET_SPACE = 16**7


def _bucket(token: Column, j: Column, width: int, seed: str) -> Column:
    """Deterministic bucket for hash row ``j``: md5(seed·j·token) mod width."""
    if width > _MAX_BUCKET_SPACE:
        raise ValueError(
            f"width/num_bits {width} exceeds the 16^7 ({_MAX_BUCKET_SPACE}) "
            "position space of the 7-hex-char md5 bucket hash; bits above "
            "that bound could never be set and the false-positive formula "
            "would silently break"
        )
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(seed), j.cast("string"), F.lit("|"), token)),
                1,
                7,
            ),
            16,
            10,
        ).cast("long")
        % width
    )


def count_min_sketch(
    df: DataFrame,
    col: str,
    width: int = 1024,
    depth: int = 4,
    seed: str = "cms",
) -> DataFrame:
    """Build a Count-Min sketch over a column of items (one count per
    row). Returns the sketch as (j, bucket, n) — depth·width rows at
    most, independent of input size. The groupBy key space is tiny, so
    map-side partial aggregation reduces each partition to ≤ depth·width
    counters before anything shuffles: the shuffle cost is
    O(partitions · depth · width), never O(corpus)."""
    e = df.select(
        F.col(col).alias("t"),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("j"),
    )
    return (
        e.where(F.col("t").isNotNull())
        .groupBy("j", _bucket(F.col("t"), F.col("j"), width, seed).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def cms_estimate(
    sketch: DataFrame,
    items: DataFrame,
    col: str,
    width: int = 1024,
    depth: int = 4,
    seed: str = "cms",
) -> DataFrame:
    """Point-estimate counts for a frame of candidate items: min over
    the depth hash rows — never below the true count. The sketch is
    depth·width rows, so it broadcasts; estimation is a broadcast join
    plus a groupBy on the candidate key."""
    e = items.select(
        F.col(col).alias("t"),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("j"),
    )
    keyed = e.select(
        "t", "j", _bucket(F.col("t"), F.col("j"), width, seed).alias("bucket")
    )
    return (
        keyed.join(F.broadcast(sketch), ["j", "bucket"], "left")
        .groupBy("t")
        .agg(F.min(F.coalesce("n", F.lit(0))).cast("long").alias("est"))
    )


def cms_candidates(
    df: DataFrame,
    col: str,
    min_count: int,
) -> DataFrame:
    """Narrow per-partition candidate generation for heavy-hitter
    queries — the scale-path replacement for ``df.distinct()``.

    Pigeonhole: an item with total count ≥ ``min_count`` across P
    partitions has local count ≥ ⌈min_count / P⌉ in at least one of
    them, so emitting each partition's items with local count ≥ that
    threshold can never lose a true heavy hitter. The count runs
    inside ``mapInPandas`` (zero shuffle; each partition reduces to
    its own small above-threshold set) and only the surviving
    candidates are shuffled by the closing ``distinct()`` — the
    corpus-sized exchange the old ``distinct()`` candidate source paid
    is gone.

    P is the session's ``defaultParallelism`` (a conf read — no
    plan→RDD conversion just to count partitions): the threshold is
    ``max(1, min_count // (4·P))``, and overestimating P only LOWERS
    the threshold (more candidates, never a lost one), so runtime
    repartitioning — AQE skew splits included — stays safe within the
    4× margin. The safety is one-directional, so note the degradation:
    at very large P (≥ min_count/4) the pigeonhole threshold bottoms
    out at 1 and the candidate set approaches the union of
    per-partition distincts — still zero corpus shuffle, but the
    closing ``distinct()`` over candidates grows.
    """
    from pyspark.sql import types as T

    parts = max(1, df.sparkSession.sparkContext.defaultParallelism)
    threshold = max(1, int(min_count) // (4 * parts))
    out_schema = T.StructType([T.StructField(col, df.schema[col].dataType, True)])

    def local_heavy(batches):
        import pandas as pd

        counts: dict = {}
        for pdf in batches:
            for t, c in pdf[col].dropna().value_counts().items():
                counts[t] = counts.get(t, 0) + int(c)
        yield pd.DataFrame({col: [t for t, c in counts.items() if c >= threshold]})

    return df.select(col).mapInPandas(local_heavy, schema=out_schema).distinct()


def cms_heavy_hitters(
    df: DataFrame,
    col: str,
    min_count: int,
    width: int = 1024,
    depth: int = 4,
    seed: str = "cms",
) -> DataFrame:
    """Items whose TRUE frequency is ≥ ``min_count``, with their
    Count-Min estimates: (col, est, n) — deterministic and exact.

    Three-stage narrowing, none of it a corpus-sized shuffle:

    1. candidates — per-partition pigeonhole prefilter
       (:func:`cms_candidates`, zero-shuffle ``mapInPandas``); can
       never lose a true heavy hitter.
    2. sketch shortlist — broadcast the depth·width sketch, keep
       candidates with est ≥ min_count (est never undercounts, so no
       true heavy hitter is lost here either).
    3. exact verify — join the corpus stream to the persisted
       shortlist (Catalyst sizes the join from its measured bytes) and
       map-side-combine counts whose key space is the shortlist, then
       keep n ≥ min_count.

    Stages 1-2 only ever remove items whose true count is below
    min_count, and stage 3 applies the definition itself, so the
    output is exactly the true heavy-hitter set — which is what makes
    it oracle-checkable without replicating Spark's partitioning.
    """
    base = df.select(F.col(col).alias(col)).where(F.col(col).isNotNull())
    sk = count_min_sketch(df, col, width, depth, seed)
    cand = cms_candidates(base, col, min_count)
    short = (
        cms_estimate(sk, cand, col, width, depth, seed)
        .where(F.col("est") >= F.lit(int(min_count)))
        .select(F.col("t").alias(col), "est")
        .persist()
    )
    short.count()  # eager persist: the join is sized from its measured bytes
    out = (
        base.join(short, col, "inner")
        .groupBy(col, "est")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .where(F.col("n") >= F.lit(int(min_count)))
        .select(col, "est", "n")
    )
    return out


def bloom_build(
    df: DataFrame,
    col: str,
    num_bits: int = 1 << 22,
    num_hashes: int = 5,
    seed: str = "bloom",
) -> DataFrame:
    """Build a Bloom filter over a column of items, packed 32 bits per
    row: returns (word, bits) with ``word = position // 32`` — at most
    ``num_bits / 32`` rows however many items went in. Like the
    Count-Min sketch, the per-partition partial aggregates (bit_or) are
    themselves Bloom filters being unioned, so the build is one
    map-side-combined groupBy with an O(num_bits) shuffle ceiling.

    The scale story: :mod:`adam_spark.llm.decontaminate` broadcasts the
    benchmark's raw n-gram set, fine for real eval sets; when the
    blocklist side grows past broadcast range (regression-test suites,
    copyrighted-text corpora), the Bloom filter is the fixed-size
    membership proxy — false positives at the standard
    (1−e^{−kn/m})^k rate, never false negatives. md5 hashing makes the
    filter bit-identical in any engine, so even its false positives
    are oracle-checkable.

    Cache lifetime: the RETURNED DataFrame is the persist handle —
    call ``bloom.unpersist()`` once the last probe is materialized
    (sessions chaining many blocklists should, or the CacheManager
    entry lives until clearCache).
    """
    from pyspark.storagelevel import StorageLevel

    e = df.select(
        F.col(col).alias("t"),
        F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("j"),
    ).where(F.col("t").isNotNull())
    pos = _bucket(F.col("t"), F.col("j"), num_bits, seed)
    out = (
        e.select((pos / 32).cast("long").alias("word"), (pos % 32).alias("b"))
        .groupBy("word")
        .agg(F.expr("bit_or(shiftleft(1L, cast(b as int)))").alias("bits"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # eager: each bloom_contains call densifies the filter via one
    # toPandas — unpersisted, every probe pipeline would recompute the
    # build scan; the materialized table is <= num_bits/32 rows
    out.count()
    return out


def bloom_contains(
    bloom: DataFrame,
    items: DataFrame,
    col: str,
    num_bits: int,
    num_hashes: int = 5,
    seed: str = "bloom",
) -> DataFrame:
    """Membership probe: all input columns plus ``maybe_present``
    (true iff every one of the item's ``num_hashes`` bits is set — no
    false negatives), one output row per input row.

    The packed filter densifies into a single ``num_bits/32``-word
    numpy array and ships ONCE as a torrent broadcast variable; the k
    bit positions are still md5-derived in Catalyst (JVM codegen, and
    the reason the output stays engine-reproducible), and one
    Arrow-batched pandas UDF gathers all k words per batch — a pure
    narrow pipeline: one broadcast, zero joins, zero shuffle. Earlier
    shapes paid more for the same answer: an explode→groupBy shuffled
    the probe stream ×k, and k per-hash broadcast-joins of the packed
    table shipped the filter ``num_hashes`` times because AQE does not
    reuse the identical broadcast exchanges. Driver + broadcast memory
    is bounded by construction: ``_MAX_BUCKET_SPACE`` caps the dense
    array at 16^7 bits = 64 MiB of int64 words.

    A null item has null positions and probes to ``maybe_present`` =
    false (matching the join formulation's null-word miss)."""
    import numpy as np
    import pandas as pd

    if num_bits > _MAX_BUCKET_SPACE:  # before the dense alloc, not after
        raise ValueError(
            f"num_bits {num_bits} exceeds the 16^7 ({_MAX_BUCKET_SPACE}) "
            "position space of the md5 bucket hash"
        )
    num_words = (int(num_bits) + 31) // 32
    pdf = bloom.select("word", "bits").toPandas()  # ≤ num_bits/32 rows
    dense = np.zeros(num_words, dtype=np.int64)
    if len(pdf):
        dense[pdf["word"].to_numpy(np.int64)] = pdf["bits"].to_numpy(np.int64)
    bc = items.sparkSession.sparkContext.broadcast(dense)

    def _probe(*pos):  # no type hints: pandas_udf can't infer varargs
        a = bc.value
        ok = np.ones(len(pos[0]), dtype=bool)
        for p in pos:
            na = p.isna().to_numpy()
            idx = p.fillna(0).to_numpy(dtype=np.int64)
            hit = (a[idx >> 5] >> (idx & 31)) & np.int64(1)
            ok &= hit.astype(bool) & ~na
        return pd.Series(ok)

    probe = F.pandas_udf(_probe, "boolean")

    positions = [
        _bucket(F.col(col), F.lit(j), num_bits, seed)
        for j in range(num_hashes)
    ]
    return items.withColumn("maybe_present", probe(*positions))


def bloom_contains_ngrams(
    bloom: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    n: int = 4,
    num_bits: int = 1 << 22,
    num_hashes: int = 5,
    seed: str = "bloom",
) -> DataFrame:
    """Per-ROW n-gram decontamination probe: adds ``n_grams``,
    ``n_maybe_hits`` and ``contaminated`` to each document.

    Same membership policy as explode→:func:`bloom_contains`→groupBy
    (identical md5 bucket derivation over the same distinct
    :func:`~adam_spark.llm.dedup.word_ngrams` shingles — pinned in
    pytest), but the whole pipeline is ONE narrow map: the text column
    ships to a single Arrow-batched UDF that shingles (bit-identical
    to Catalyst ``word_ngrams``), derives the k md5 bucket positions
    (bit-identical to the ``_bucket`` expression — see the inline
    note) and tests them against the broadcast dense filter. No
    explode, no shuffle, no per-doc aggregation —
    which is what lets the same operator run UNCHANGED on a streaming
    DataFrame (:func:`adam_spark.streaming.streaming_decontaminate`):
    stateless rows need no watermark and no state store. At 100 TB the
    explode→groupBy form shuffles ~G×corpus rows; this form shuffles
    nothing.
    """
    import numpy as np
    import pandas as pd

    if num_bits > _MAX_BUCKET_SPACE:
        raise ValueError(
            f"num_bits {num_bits} exceeds the 16^7 ({_MAX_BUCKET_SPACE}) "
            "position space of the md5 bucket hash"
        )
    num_words = (int(num_bits) + 31) // 32
    pdf = bloom.select("word", "bits").toPandas()  # ≤ num_bits/32 rows
    dense = np.zeros(num_words, dtype=np.int64)
    if len(pdf):
        dense[pdf["word"].to_numpy(np.int64)] = pdf["bits"].to_numpy(np.int64)
    bc = docs.sparkSession.sparkContext.broadcast(dense)

    # The WHOLE per-row pipeline — tokenize, distinct word n-grams, k
    # md5 bucket positions, bit tests — runs inside the Arrow UDF on
    # the raw text (guide §4.2: hand whole batches to native code).
    # The Catalyst form built the shingles with higher-order
    # transform/element_at lambdas and hashed each gram with k md5
    # expressions inside another transform — ALL CodegenFallback-
    # interpreted, and measured to dominate the materialization path
    # (r13 A/B at sf0.1: noop 21.0-25.0 s → 5.0-5.3 s; hashing alone
    # in the worker measured NO win, 26-37 s — the shingle lambdas
    # were the cost, so both moved). Bit-exactness is pinned three
    # ways in pytest: worker shingles == word_ngrams (Catalyst),
    # worker md5 positions == the _bucket expression, and the probe
    # verdicts == the explode→bloom_contains composition. hashlib md5
    # hashes the identical UTF-8 bytes Catalyst's
    # md5(concat(seed, j, '|', gram)) does, so the oracle still
    # replicates the filter (and its false positives) bit-for-bit.
    # A per-batch memo collapses grams repeated across documents.
    _nb, _k, _n = int(num_bits), int(num_hashes), int(n)
    _prefixes = [f"{seed}{j}|".encode() for j in range(_k)]

    def _row_probe(texts):  # no hints: Series→DataFrame defeats inference
        from hashlib import md5

        a = bc.value
        memo: dict[str, bool] = {}
        n_grams, n_hits = [], []
        for txt in texts:
            if txt is None:
                n_grams.append(0)
                n_hits.append(0)
                continue
            toks = [t for t in txt.split(" ") if t]
            if len(toks) < _n:
                n_grams.append(0)
                n_hits.append(0)
                continue
            grams = dict.fromkeys(
                " ".join(toks[i : i + _n]) for i in range(len(toks) - _n + 1)
            )
            hits = 0
            for g in grams:
                hit = memo.get(g)
                if hit is None:
                    gb = g.encode()
                    hit = True
                    for pre in _prefixes:
                        p = int(md5(pre + gb).hexdigest()[:7], 16) % _nb
                        if not (int(a[p >> 5]) >> (p & 31)) & 1:
                            hit = False
                            break
                    memo[g] = hit
                hits += hit
            n_grams.append(len(grams))
            n_hits.append(hits)
        return pd.DataFrame({"n_grams": n_grams, "n_maybe_hits": n_hits})

    row_probe = F.pandas_udf(_row_probe, "struct<n_grams: long, n_maybe_hits: long>")

    return (
        docs.withColumn("__probe", row_probe(F.col(text_col)))
        .withColumn("n_grams", F.col("__probe")["n_grams"])
        .withColumn("n_maybe_hits", F.col("__probe")["n_maybe_hits"])
        .withColumn("contaminated", F.col("n_maybe_hits") >= 1)
        .drop("__probe")
    )
