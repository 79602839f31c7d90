"""Deduplication operators for large-scale training-data pipelines.

Exact (hash-groupBy), MinHash+LSH, SimHash, and n-gram Jaccard — all
expressed with built-in Catalyst expressions (no Python UDFs in the hot
path) so they vectorize and scale.

Portability note: every hash here is ``md5`` over strings, which yields
identical lowercase hex in Spark and in the DuckDB correctness oracle —
minhashes are the lexicographic MIN of per-seed md5 hex strings, a
standard trick that keeps the whole pipeline engine-agnostic and
deterministic (no RNG, no JVM-specific hashing).

Scale design:
- tokenize/shingle once, explode, hash per (token, seed) — the seed
  dimension is a generated column, so the shuffle key space is
  (token-space × seeds), uniformly distributed;
- LSH banding turns all-pairs similarity into an equi-join on
  (band_index, band_hash) — Catalyst shuffle-hash join, AQE-skew-safe;
- candidate pairs are verified with exact Jaccard BEFORE emission, so
  recall loss is the only approximation (tunable via bands × rows).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from adam_spark.schemas import sql_double, sql_ident


def tokens(text: Column) -> Column:
    """Whitespace tokens, empties dropped (portable to DuckDB)."""
    return F.filter(F.split(text, " "), lambda t: t != F.lit(""))


def token_count(text: Column) -> Column:
    """``size(tokens(text))`` without building the array.

    The non-empty fields of a split on a single space are exactly the
    maximal runs of non-space characters, so the count is
    ``regexp_count(text, '[^ ]+')`` — a codegen'd scalar instead of a
    split allocation plus an interpreted higher-order ``filter``
    (CodegenFallback). '' → 0 on both forms; NULL routes through
    ``size(NULL)`` so the session's sizeOfNull semantics are preserved
    exactly (-1 legacy / NULL ANSI — ``regexp_count`` alone would pin
    NULL in both modes). Pinned exactly equal (edge cases +
    whole-corpus sweep) in tests/test_optimizations_r13.py. Count-only
    call sites (quota sampling, packing, profile counters, Gopher word
    counts) use this; anything that consumes the tokens themselves
    keeps :func:`tokens`.
    """
    return F.when(
        text.isNull(), F.size(F.lit(None).cast("array<string>"))
    ).otherwise(F.regexp_count(text, F.lit("[^ ]+")))


def distinct_tokens(text: Column) -> Column:
    return F.array_distinct(tokens(text))


def has_min_tokens(text_col: str, n: int) -> Column:
    """Cheap text-level ``size(tokens(text)) >= n`` over the column
    ``text_col``, for a filter: a token is exactly a maximal run of
    non-space characters, and NULL text gives NULL (falsy in a filter).
    n == 1 uses an early-exit ``rlike`` (stops at the first non-space
    char — O(1) for ordinary text, where ``regexp_count`` would scan
    the whole string counting every token); n > 1 needs the count.
    Used as the emptiness guard below the dedup exchanges, where an
    array-level ``size(shingles) > 0`` would re-tokenize on the
    pre-exchange layout (pushed-down predicate). SQL text: one gateway
    call, where the Column form costs one per operator."""
    t = sql_ident(text_col)
    if n <= 1:
        return F.expr(f"{t} RLIKE '[^ ]'")
    return F.expr(f"regexp_count({t}, '[^ ]+') >= {int(n)}")


def word_ngrams(text_col: str, n: int) -> Column:
    """Distinct word n-gram shingles of the column ``text_col``,
    space-joined; n <= 1 gives the distinct tokens. NULL text and
    documents with fewer than ``n`` tokens yield an empty array.

    The grams are built by n - 1 ``zip_with`` steps, each joining the
    grams so far with the token array shifted one more place (past the
    end the shifted side is NULL, which ``concat_ws`` skips, so the
    trailing short grams are sliced off). The tokenizer runs n times
    per document, linear in its length; inside a per-position lambda
    it would run n times per position, quadratic. Binding the token
    array once as an outer lambda variable instead
    (``element_at(transform(array(toks), ts -> ...), 1)``) fails at run
    time under the signature pandas UDF of :func:`minhash_signatures`'
    default path (INTERNAL_ERROR "Cannot evaluate expression": the UDF
    is left unextracted). SQL text: one gateway call, where the Column
    form costs one per operator."""
    t = sql_ident(text_col)
    toks = f"filter(split({t}, ' '), __w -> __w != '')"
    empty = "CAST(array() AS ARRAY<STRING>)"
    if n <= 1:
        return F.expr(f"CASE WHEN {t} IS NULL THEN {empty} ELSE array_distinct({toks}) END")
    grams = toks
    for j in range(1, n):
        grams = (
            f"zip_with({grams}, slice({toks}, {j + 1}, size({toks})),"
            f" (__a, __b) -> concat_ws(' ', __a, __b))"
        )
    return F.expr(
        f"CASE WHEN size({toks}) >= {n}"
        f" THEN array_distinct(slice({grams}, 1, size({toks}) - {n - 1})) ELSE {empty} END"
    )


def exact_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    bounded_cache: bool = False,
) -> DataFrame:
    """Exact-content dedup on a canonical fingerprint.

    Fingerprint = md5 of the lower-cased raw text. Output: one row per
    input with (id, fingerprint, canonical_id, is_duplicate) where
    canonical_id is the group's min id — the classic keep-first policy.
    ``bounded_cache=True`` eagerly materializes the result and releases
    the internal fingerprint persist
    (:func:`adam_spark.llm.cache.eager_release`).
    """
    from pyspark.storagelevel import StorageLevel

    # null/absent text → md5 returns null; coalesce to a sentinel so those
    # rows still participate in the group/join (the earlier window version
    # grouped nulls together — the sentinel preserves that row coverage
    # instead of silently dropping them at the null-rejecting join key)
    fp = F.coalesce(F.md5(F.lower(F.col(text_col))), F.lit("__NULL_TEXT__"))
    # groupBy + join rather than a window: min() partial-aggregates
    # map-side, so a mega-cluster of identical documents (the common
    # pathology of crawled corpora) shrinks BEFORE the shuffle instead
    # of landing one window task; the re-join skew is AQE-split.
    # Persist the slim 2-column table: `canon` derives from `keyed`, and
    # Spark does NOT reuse the scan across the two differently-shaped
    # subtrees of the self-join — unpersisted, the md5 scan runs twice
    # (measured 4.4× at sf0.1).
    keyed = df.select(F.col(id_col).alias("id"), fp.alias("fingerprint")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # materialize EAGERLY: the join's two subtrees are scheduled
    # concurrently, and a lazily-populated cache lets both sides miss it
    # and recompute the scan in parallel (measured ~2x on first run)
    keyed.count()
    canon = keyed.groupBy("fingerprint").agg(F.min("id").alias("canonical_id"))
    out = (
        keyed.join(canon, "fingerprint")
        .withColumn("is_duplicate", F.col("id") != F.col("canonical_id"))
        .select("id", "fingerprint", "canonical_id", "is_duplicate")
    )
    if bounded_cache:
        from adam_spark.llm.cache import eager_release

        return eager_release(out, keyed)
    return out


#: Mersenne prime for the universal-hash family
_MH_P = 2_147_483_647


def _mh_constants(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a·x + b) mod P."""
    import random

    rng = random.Random(42)
    return [(rng.randrange(1, _MH_P), rng.randrange(0, _MH_P)) for _ in range(num_hashes)]


def _sig_udf(num_hashes: int):
    """Arrow-batched pandas UDF: array<long> base hashes → minhash sig.

    The whole batch is computed with ``num_hashes`` vectorized numpy
    passes over the concatenated token-hash array plus one
    ``minimum.reduceat`` per pass — no per-row Python work. Values stay
    below 2^59 (a,b < 2^31, base hash < 2^28) so int64 never overflows
    and the arithmetic matches the DuckDB oracle exactly.
    """
    from pyspark.sql.types import ArrayType, LongType

    consts = _mh_constants(num_hashes)
    a = [c[0] for c in consts]
    b = [c[1] for c in consts]

    @F.pandas_udf(ArrayType(LongType()))
    def sig(h0s: pd.Series) -> pd.Series:
        if len(h0s) == 0:
            return pd.Series([], dtype=object)
        lens = h0s.map(len).to_numpy(dtype=np.int64)
        total = int(lens.sum())
        flat = (
            np.concatenate([np.asarray(v, dtype=np.int64) for v in h0s])
            if total
            else np.empty(0, dtype=np.int64)
        )
        starts = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        nonempty = lens > 0
        ne_starts = starts[nonempty]
        mins = np.full((len(lens), num_hashes), _MH_P, dtype=np.int64)
        if total:
            for i in range(num_hashes):
                v = (a[i] * flat + b[i]) % _MH_P
                mins[nonempty, i] = np.minimum.reduceat(v, ne_starts)
        return pd.Series(list(mins))

    return sig


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    shingles: Column,
    num_hashes: int = 128,
    with_size: bool = False,
    repartition: bool = True,
    prefiltered: bool = False,
) -> DataFrame:
    """(id[, n], signature array<long>) via a universal hash family.

    ``with_size=True`` adds the document's shingle count ``n`` — free
    here (the array is in hand), and it lets downstream verify stages
    and broadcast-size estimates skip a re-tokenize pass.

    One base hash per shingle (md5 → 28-bit int, a Catalyst-side
    vectorized map), then the i-th hash is ``(a_i·h + b_i) mod P`` and
    the signature is the per-hash MIN over the document's shingles,
    computed in an Arrow-batched pandas UDF (:func:`_sig_udf`). Earlier
    versions expressed the fold as one 128-wide ``aggregate``/
    ``zip_with`` Catalyst expression; the data plane was fine but
    Catalyst analysis + Janino codegen of that expression cost up to
    80 s cold and varied 10× with JIT warmth, so the fold moved to
    numpy. Signature computation remains a pure narrow map: no explode,
    no groupBy, zero shuffle; at corpus scale it is embarrassingly
    parallel and the only shuffle in the LSH pipeline is the band
    equi-join. The initial repartition spreads documents across cores
    when the source is a single file split — and it sits BELOW the
    shingle projection (repartition df, THEN tokenize): projected
    first, the interpreted split/array_distinct ran on the source's
    task layout (ONE task for a single-row-group file) and the
    exchange shipped token arrays; this way the exchange ships the
    pruned raw columns and the tokenize runs on every core (r14).
    Row-identical either way — the hash partitioning is on the same id
    column with the same partition count. Empty-shingle documents
    produce no signature row (what the DuckDB oracle mirrors).
    ``repartition=False`` is for callers whose ``df`` is ALREADY
    id-partitioned below the shingle projection (minhash_lsh_pairs and
    the between-variant pre-partition the raw frame so their broadcast
    attach stages share the parallel tokenize) — a second exchange here
    would ship the token arrays for nothing. ``prefiltered=True``
    declares that ``df`` carries no empty-shingle rows and skips the
    array-level ``size(shingles) > 0`` guard.

    Default-path hazard (``repartition=True, prefiltered=False``): the
    array-level guard sits above the shingle projection while the id
    exchange sits below it, so predicate pushdown can clone the whole
    shingle expression beneath the exchange and tokenize every row a
    second time on the source's pre-exchange layout (ONE task for a
    single-row-group file). Rows are unchanged; only time is lost.
    Callers that care filter the raw frame with the text-level guard
    themselves and declare it — ``df.where(has_min_tokens(text, n))``
    with ``n`` the shingle order (1 for distinct tokens), then
    ``prefiltered=True`` — exactly what :func:`minhash_lsh_pairs`
    does internally.
    """
    src = df
    if repartition:
        src = df.repartition(
            df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
        )
    keyed = src.select(F.expr(f"{sql_ident(id_col)} AS id"), shingles.alias("__sh"))
    h0s = F.expr(
        "transform(__sh, __t -> CAST(conv(substring(md5(__t), 1, 7), 16, 10) AS BIGINT))"
    )
    sig = _sig_udf(num_hashes)(h0s).alias("signature")
    out = keyed if prefiltered else keyed.where("size(__sh) > 0")
    if with_size:
        return out.select("id", F.expr("size(__sh) AS n"), sig)
    return out.select("id", sig)


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


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two distinct-element arrays."""
    return F.size(F.array_intersect(a, b)) / F.size(F.array_union(a, b))


def _band_hashes_sql(num_hashes: int, bands: int) -> str:
    """SQL: the per-doc array of ``bands`` band hashes of ``signature``
    (md5 of each band's comma-joined values, the :func:`lsh_bands`
    construction)."""
    rpb = num_hashes // bands
    return (
        f"transform(sequence(0, {bands - 1}), __j -> md5(concat_ws(',', transform("
        f"slice(signature, __j * {rpb} + 1, {rpb}), __v -> CAST(__v AS STRING)))))"
    )


def _first_shared_band(bh_a: str, bh_b: str, bands: int) -> str:
    """SQL: 0-based index of the first band where the two hash arrays
    agree (-1 when none — callers only evaluate it on band-join
    candidates, which share at least one band).

    Unrolled as a ``bands``-arm CASE over element_at comparisons rather
    than ``filter(sequence(...), lambda ...)``: higher-order array
    functions fall out of whole-stage codegen into interpreted
    evaluation, measured ~0.4 s over the 3.35M-row sf0.1 candidate
    stream; the CASE chain codegens.
    """
    arms = " ".join(
        f"WHEN element_at({bh_a}, {j}) = element_at({bh_b}, {j}) THEN {j - 1}"
        for j in range(1, bands + 1)
    )
    return f"CASE {arms} ELSE -1 END"


def _jaccard_length_ok(n_a: str, n_b: str, threshold: float) -> str:
    """Exact PPJoin-style length prefilter: J(A,B) ≥ t needs
    |A∩B| ≥ t·(|A|+|B|)/(1+t) and |A∩B| ≤ min(|A|,|B|), so
    min·(1+t) ≥ t·(|A|+|B|) is NECESSARY for any qualifying pair —
    two comparisons evaluated before the O(|A|·|B|) array_intersect
    prune the candidate stream without touching results (measured: cuts
    most of the 1.67M sf0.1 intersect evaluations in the self-join
    verify). +0.5 slack keeps boundary pairs (e.g. min=9, total=19,
    t=0.9 → 17.1 vs 17.1) that double rounding could otherwise drop;
    the final exact-Jaccard filter still decides them. SQL text, over
    the two size columns."""
    return (
        f"least({n_a}, {n_b}) * {sql_double(1.0 + threshold)} + 0.5D"
        f" >= {sql_double(threshold)} * ({n_a} + {n_b})"
    )


def _jaccard_sql(sh_a: str, sh_b: str, n_a: str, n_b: str) -> str:
    """SQL: exact Jaccard of two distinct-shingle arrays of sizes
    ``n_a``/``n_b``: |A∩B| once, |A∪B| by arithmetic (no union
    allocation)."""
    inter = f"size(array_intersect({sh_a}, {sh_b}))"
    return f"{inter} / ({n_a} + {n_b} - {inter})"


def _shingled(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, sh): the distinct word-``n``-gram shingles of each document
    with at least one, id-partitioned below the shingle projection
    (see :func:`minhash_lsh_pairs`)."""
    return df.where(has_min_tokens(text_col, max(1, n))).repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.expr(sql_ident(id_col))
    ).select(F.expr(f"{sql_ident(id_col)} AS id"), word_ngrams(text_col, n).alias("sh"))


#: max estimated shingle-table bytes we will pin as a broadcast for the
#: verify join (~16M tokens). Past this the table is shuffled instead —
#: broadcasting the full tokenized corpus to every executor is the one
#: thing in this pipeline that would NOT survive a 100 TB corpus.
VERIFY_BROADCAST_CAP_BYTES = 256 * 1024 * 1024


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_ngram: int = 1,
    num_hashes: int = 128,
    bands: int = 64,
    threshold: float = 0.8,
    bounded_cache: bool = False,
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH, verified with exact Jaccard.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    With bands=64 × rows=2, P(miss | J≥0.8) ≈ (1−0.8²)^64 ≈ 4e−29 —
    recall is effectively exact at the default threshold.
    ``bounded_cache=True`` eagerly materializes the pair table and
    releases the internal band-table persist
    (:func:`adam_spark.llm.cache.eager_release`).
    """
    from pyspark.storagelevel import StorageLevel

    # Every expression below is SQL text: one gateway call per step,
    # where a Column tree costs one or more round trips per operator
    # (this build: about 2,000 calls as Columns, about 370 as SQL text).
    # base (full token arrays) intentionally NOT persisted: it feeds the
    # signature pipeline and the two verify broadcasts, but re-running a
    # narrow tokenize scan is cheaper at corpus scale than materializing
    # the tokenized corpus (measured: persisting buys ~0.2 s warm at
    # sf0.1 and nothing cold). The raw frame is id-partitioned BELOW
    # the shingle projection (r14): projected first, the interpreted
    # tokenize ran on the source's task layout — one task for a
    # single-row-group file — in the signature pass AND in each verify
    # broadcast build; this way every consumer of `base` re-executes a
    # cheap pruned-text exchange and tokenizes on all cores. The
    # empty-shingle guard is a TEXT-level predicate (token_count ≥ n ⟺
    # the distinct shingle array is non-empty, incl. NULL text): the
    # array-level `size(sh) > 0` pushes below the exchange and
    # re-tokenizes every row on the pre-exchange layout.
    base = _shingled(df, id_col, text_col, shingle_ngram)
    sigs = minhash_signatures(
        base, "id", F.expr("sh"), num_hashes,
        with_size=True, repartition=False, prefiltered=True,
    )
    # per-doc band-hash ARRAY first (identical hash construction to
    # lsh_bands), then posexplode for the equi-join: the banded table
    # feeds BOTH sides of the self-join, and Spark does NOT reuse the
    # exchange across the differently-aliased sides (the signature UDF
    # would run twice) — persist the slim (id, bh) table: one row per
    # doc, bands hashes each
    banded = sigs.selectExpr(
        "id", "n", f"{_band_hashes_sql(num_hashes, bands)} AS bh"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # one aggregate doubles as the eager materializer (both self-join
    # sides would race a lazy cache) AND the broadcast-size probe —
    # previously a count() job plus a separate stats job
    _bst = banded.selectExpr("count(1) AS docs", "sum(n) AS toks").first()
    bandsdf = banded.selectExpr("id", "posexplode(bh) AS (band, band_hash)")
    a = bandsdf.selectExpr("id AS id_a", "band", "band_hash")
    b = bandsdf.selectExpr("id AS id_b", "band", "band_hash")
    raw = (
        a.join(b, ["band", "band_hash"])
        .where("id_a < id_b")
        .selectExpr("id_a", "id_b", "band")
    )
    # verification: |A∩B| once, |A∪B| by arithmetic (no union allocation).
    # The shingle side is one row per document; broadcasting it pins a
    # broadcast join so the big candidate stream never shuffles. The
    # strategy comes from a measured size estimate: small corpora
    # broadcast, anything past VERIFY_BROADCAST_CAP_BYTES shuffles — a
    # rule that still works at the 100 TB design point. The estimate
    # reads the persisted banded stats rather than re-tokenizing the
    # corpus; empty-shingle docs (absent from banded) add no row
    # overhead — a strategy heuristic only, both strategies are exact.
    est = int(_bst["toks"] or 0) * 16 + int(_bst["docs"] or 0) * 48
    if est <= VERIFY_BROADCAST_CAP_BYTES:
        # verify is a pure map (both shingle sides broadcast). A pair
        # that matched in k bands would be verified k times and need a
        # final dedup shuffle — instead each side's broadcast also
        # carries the per-doc band-hash array (tiny next to the shingle
        # arrays already shipped) and the map keeps a pair only at its
        # FIRST shared band: exactly one verify per pair, zero dedup
        # exchange. Same stateless first-bin trick as the region join.
        # Persisted: the table feeds BOTH broadcast builds, which run
        # concurrently and do NOT share the exchange (aliased copies) —
        # unpersisted, the tokenize+join lineage executed twice. The
        # persist is bounded by construction: this branch only runs
        # when the estimate fits VERIFY_BROADCAST_CAP_BYTES.
        # TWO-PHASE attach (guide §2.3 "move keys and metadata, not
        # payloads", applied to broadcast-join materialization): the
        # old single join attached both documents' FULL token arrays to
        # every raw candidate row before any filter ran — ~2-4 KB of
        # array copy × 3.35M raw rows at sf0.1, the stage's dominant
        # cost (42.7 core-s measured). Phase 1 joins only the slim
        # (n, bh) columns (~100 B/doc) and applies the length +
        # first-shared-band filters; phase 2 attaches the token arrays
        # to the surviving unique pairs only, then runs the exact
        # intersect.
        slim = banded  # id, n, bh — already persisted and eager
        slim_a = slim.selectExpr("id AS id_a", "n AS n_a", "bh AS bh_a")
        slim_b = slim.selectExpr("id AS id_b", "n AS n_b", "bh AS bh_b")
        filtered = (
            raw.join(F.broadcast(slim_a), "id_a")
            .join(F.broadcast(slim_b), "id_b")
            .where(f"({_jaccard_length_ok('n_a', 'n_b', threshold)})"
                   f" AND (band = ({_first_shared_band('bh_a', 'bh_b', bands)}))")
            .selectExpr("id_a", "id_b", "n_a", "n_b")
        )
        # (an Arrow UDF doing Python-set intersection against a
        # broadcast {id: frozenset} dict was measured here and REVERTED:
        # the per-call driver collect + dict pickle/broadcast cost more
        # than the executor-side win — 3.75 s vs 2.53 s at sf0.1)
        sh_a = base.selectExpr("id AS id_a", "sh AS sh_a")
        sh_b = base.selectExpr("id AS id_b", "sh AS sh_b")
        out = (
            filtered.join(F.broadcast(sh_a), "id_a")
            .join(F.broadcast(sh_b), "id_b")
            .withColumn("jaccard", F.expr(_jaccard_sql("sh_a", "sh_b", "n_a", "n_b")))
            .where(f"jaccard >= {sql_double(threshold)}")
            .selectExpr("id_a", "id_b", "round(jaccard, 6) AS jaccard")
        )
    else:
        # shuffle verify: every candidate row costs a join shuffle, so
        # dedup first; one exchange serves both dedup and the verify-stage
        # rebalance (hash-partitioning on id_a satisfies the (id_a, id_b)
        # clustering the dropDuplicates aggregate needs). The band-hash
        # arrays are NOT carried here — at large `bands` they would
        # inflate the shuffled verify rows, and the dedup exchange
        # already collapses multiplicity.
        cand = raw.repartition(
            df.sparkSession.sparkContext.defaultParallelism, F.expr("id_a")
        ).dropDuplicates(["id_a", "id_b"])
        sized = base.withColumn("n", F.expr("size(sh)"))
        sh_a = sized.selectExpr("id AS id_a", "sh AS sh_a", "n AS n_a")
        sh_b = sized.selectExpr("id AS id_b", "sh AS sh_b", "n AS n_b")
        out = (
            cand.join(sh_a, "id_a")
            .join(sh_b, "id_b")
            .where(_jaccard_length_ok("n_a", "n_b", threshold))
            .withColumn("jaccard", F.expr(_jaccard_sql("sh_a", "sh_b", "n_a", "n_b")))
            .where(f"jaccard >= {sql_double(threshold)}")
            .selectExpr("id_a", "id_b", "round(jaccard, 6) AS jaccard")
        )
    if bounded_cache:
        from adam_spark.llm.cache import eager_release

        return eager_release(out, banded)
    return out


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    ngram: int = 1,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard (the brute-force oracle path).

    O(n²) on document count — correct at any scale factor but meant for
    validation and small corpora; the scale path is
    :func:`minhash_lsh_pairs`. Implemented as an inverted-index join on
    shared shingles (not a cartesian product), so cost is bounded by
    co-occurrence, mirroring a posting-list self-join.
    """
    sh = word_ngrams(text_col, ngram)
    base = df.select(F.col(id_col).alias("id"), sh.alias("sh"))
    posts = base.select("id", F.explode("sh").alias("tok"), F.size("sh").alias("n"))
    pa = posts.select(F.col("id").alias("id_a"), "tok", F.col("n").alias("n_a"))
    pb = posts.select(F.col("id").alias("id_b"), "tok", F.col("n").alias("n_b"))
    inter = (
        pa.join(pb, "tok")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.withColumn(
            "jaccard", F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
        )
        .where(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    bits: int = 16,
) -> DataFrame:
    """SimHash fingerprints from token md5s (engine-portable).

    For bit j: take the j-th bit of each token's md5 (hex-nibble
    arithmetic), sum ±1 over the document's distinct tokens, bit is 1
    when the sum is positive. Returns (id, simhash long).
    """
    # One array fold per document (same zero-shuffle design as
    # minhash_signatures): the accumulator carries the ``bits`` running
    # ±1 sums; the final fingerprint assembles sign bits. The
    # repartition spreads documents across cores when the source is a
    # single file split, and sits BELOW the tokenize projection (r14,
    # the minhash_signatures treatment): projected first, the
    # interpreted split/array_distinct ran on the source's task layout
    # and the exchange shipped token arrays; this way the exchange
    # ships pruned raw columns and the tokenize parallelizes. The
    # empty-token guard is the TEXT-level `token_count > 0` (⟺
    # size(distinct_tokens) > 0, incl. NULL text): an array-level
    # filter pushes below the exchange and re-tokenizes every row on
    # the pre-exchange layout.
    keyed = df.where(has_min_tokens(text_col, 1)).repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    ).select(F.col(id_col).alias("id"), distinct_tokens(F.col(text_col)).alias("__t"))

    sums = F.aggregate(
        F.transform(F.col("__t"), lambda t: F.md5(t)),
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda s, j: s
            + F.floor(
                F.conv(F.substring(h, (j / 4).cast("int") + 1, 1), 16, 10).cast("long")
                / F.pow(F.lit(2.0), (j % 4).cast("double")).cast("long")
            )
            % 2
            * 2
            - 1,
        ),
    )
    fp = F.aggregate(
        F.zip_with(
            sums,
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda s, j: F.when(
                s > 0, F.pow(F.lit(2.0), j.cast("double")).cast("long")
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return keyed.select("id", fp.alias("simhash"))


def simhash_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    bits: int = 16,
    bounded_cache: bool = False,
) -> DataFrame:
    """Documents sharing a simhash fingerprint (candidate near-dups).
    ``bounded_cache=True`` eagerly materializes the result and releases
    the internal fingerprint persist."""
    from pyspark.storagelevel import StorageLevel

    # same skew-safe shape as exact_duplicates: partial-aggregated
    # groupBy + AQE-split join instead of a hot-key window. Persisting the
    # slim (id, simhash) table stops the 16-wide Catalyst fold from running
    # once per self-join side (measured 6.2× at sf0.1 unpersisted).
    fps = simhash(df, id_col, text_col, bits).persist(StorageLevel.MEMORY_AND_DISK)
    fps.count()  # eager: both self-join sides would race a lazy cache
    canon = fps.groupBy("simhash").agg(F.min("id").alias("canonical_id"))
    out = (
        fps.join(canon, "simhash")
        .withColumn("is_duplicate", F.col("id") != F.col("canonical_id"))
        .select("id", "simhash", "canonical_id", "is_duplicate")
    )
    if bounded_cache:
        from adam_spark.llm.cache import eager_release

        return eager_release(out, fps)
    return out


def duplicate_clusters(
    pairs: DataFrame,
    all_ids: DataFrame | None = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """Connected components over the duplicate-pair graph.

    Turns pair output (:func:`minhash_lsh_pairs`,
    :func:`embedding_near_duplicates`, …) into per-document cluster
    labels — the step a corpus-pruning pipeline actually needs (keep
    one document per component, not per pair). Returns
    (id, cluster_id, is_duplicate) where cluster_id is the component's
    min id; with ``all_ids`` (a 1-column frame of every document id)
    singletons appear with cluster_id = their own id.

    Min-label propagation: each round joins labels across edges and
    takes the per-node min, converging in O(component diameter) rounds.
    LSH near-dup components are near-cliques (diameter ≈ 2), so 2-3
    rounds close real corpora; ``max_iters`` bounds adversarial chains.
    Scale shape: every round is one shuffle join on the (slim) edge
    table plus a partial-aggregated groupBy; an eager localCheckpoint
    per round cuts the lineage so plans stay O(1) deep instead of
    O(iterations), and the PREVIOUS round's checkpoint blocks are
    explicitly released once the new round is materialized, so executor
    storage stays O(1) labels-tables over the whole run (only the final
    round's checkpoint — the one the returned DataFrame reads — stays
    alive). The driver holds only the one-row convergence count.
    """
    from pyspark.storagelevel import StorageLevel

    sc = pairs.sparkSession.sparkContext

    def _ckpt(df: DataFrame) -> tuple[DataFrame, set[int]]:
        """Eager localCheckpoint + the ids of the RDD blocks it pinned
        (delta of the context's persistent-RDD registry)."""
        before = {int(i) for i in sc._jsc.getPersistentRDDs().keySet()}
        out = df.localCheckpoint(eager=True)
        after = {int(i) for i in sc._jsc.getPersistentRDDs().keySet()}
        return out, after - before

    def _release(ids: set[int]) -> None:
        """Drop a finished round's checkpoint blocks. Safe ONLY after the
        next round is eagerly materialized — a localCheckpointed RDD has
        no lineage to recompute from once unpersisted."""
        reg = sc._jsc.getPersistentRDDs()
        for i in ids:
            rdd = reg.get(i)
            if rdd is not None:
                rdd.unpersist(False)

    e = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    edges = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels, held = _ckpt(
        edges.select(F.col("a").alias("n"))
        .distinct()
        .select("n", F.col("n").alias("l"))
    )
    for _ in range(max_iters):
        prop = edges.join(
            labels.select(F.col("n").alias("b"), "l"), "b"
        ).select(F.col("a").alias("n"), "l")
        new, new_held = _ckpt(
            labels.union(prop).groupBy("n").agg(F.min("l").alias("l"))
        )
        changed = (
            new.alias("x")
            .join(labels.alias("y"), "n")
            .where(F.col("x.l") != F.col("y.l"))
            .limit(1)
            .count()
        )
        _release(held)
        labels, held = new, new_held
        if changed == 0:
            break
    edges.unpersist()
    out = labels.select(F.col("n").alias("id"), F.col("l").alias("cluster_id"))
    if all_ids is not None:
        ids = all_ids.select(F.col(all_ids.columns[0]).alias("id"))
        out = ids.join(out, "id", "left").withColumn(
            "cluster_id", F.coalesce("cluster_id", "id")
        )
    return out.withColumn("is_duplicate", F.col("id") != F.col("cluster_id"))


#: max estimated hot-span table bytes pinned as a broadcast for the
#: removal join; past this the exploded span stream shuffles instead
HOT_SPAN_BROADCAST_CAP_BYTES = 64 * 1024 * 1024


def remove_repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    delimiter: str = "\n",
    min_docs: int | None = None,
    min_frac: float | None = None,
    bounded_cache: bool = False,
) -> DataFrame:
    """C4-style cross-corpus boilerplate removal.

    Splits every document into spans on ``delimiter`` (lines by
    default), finds spans whose trimmed text occurs in at least
    ``min_docs`` DISTINCT documents (or ``ceil(min_frac * corpus
    size)`` when a fraction is given), and removes every occurrence of
    those spans from every document. Returns one row per input document:
    (id, text_clean, n_removed) — documents keep their row even when
    everything was removed (text_clean = '').

    This is the cross-document complement of the per-document Gopher
    repetition signals in :mod:`adam_spark.llm.text`: the C4 pipeline's
    "discard any line that appeared in more than one page" rule
    generalized to a span granularity and an occurrence threshold.

    Scale shape: the explode is a narrow map; span counting groups on
    ``md5(trim(span))`` — a fixed 32-byte shuffle key regardless of
    span length, with map-side partial aggregation (the distinct-doc
    count is a two-stage groupBy, never a count-distinct expand) — and
    the hot set (boilerplate spans) is small by nature, so the removal
    join back onto the exploded stream broadcasts it (measured-size
    decision with a shuffle fallback, same policy as the LSH verify
    join). Reassembly is one groupBy(id). Two unavoidable shuffles
    total at any corpus size. Collision caveat: two different spans
    sharing an md5 would be counted together — at 2^64 spans-scale
    probability, the same trade every content-hash dedup here makes.
    """
    if (min_docs is None) == (min_frac is None):
        raise ValueError("exactly one of min_docs / min_frac is required")
    import re as _re

    from pyspark.storagelevel import StorageLevel

    spark = df.sparkSession
    if min_docs is None:
        total = df.where(F.col(text_col).isNotNull()).count()
        min_docs = int(math.ceil(min_frac * total))
    spans = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), _re.escape(delimiter))).alias(
            "pos", "span"
        ),
    ).withColumn("lkey", F.md5(F.trim("span")))
    # two-stage distinct-doc count: (lkey, id) dedupe partially combines
    # map-side, then the per-key count is a plain partial-aggregated sum
    hot = (
        spans.where(F.trim("span") != "")
        .select("lkey", "id")
        .distinct()
        .groupBy("lkey")
        .agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd") >= F.lit(int(min_docs)))
        .select("lkey")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_hot = hot.count()  # eager persist + size for the broadcast decision
    maybe_bc = (
        F.broadcast if n_hot * 64 <= HOT_SPAN_BROADCAST_CAP_BYTES else (lambda x: x)
    )
    flagged = spans.join(
        maybe_bc(hot.withColumn("__hot", F.lit(True))), "lkey", "left"
    )
    per_doc = flagged.groupBy("id").agg(
        F.sum(F.when(F.col("__hot"), 1).otherwise(0)).cast("long").alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("__hot").isNull(), F.struct("pos", "span"))
                    )
                ),
                lambda s: s["span"],
            ),
            delimiter,
        ).alias("text_clean"),
    )
    out = (
        df.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
        )
    )
    if bounded_cache:
        from adam_spark.llm.cache import eager_release

        return eager_release(out, hot)
    return out


def minhash_lsh_pairs_between(
    df_new: DataFrame,
    df_ref: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_ngram: int = 1,
    num_hashes: int = 128,
    bands: int = 64,
    threshold: float = 0.8,
    bounded_cache: bool = False,
) -> DataFrame:
    """Cross-corpus near-dup pairs: an incoming batch vs a reference
    corpus (incremental dedup — "is this new document already in the
    training set?").

    Same MinHash family, banding, and exact-Jaccard verification as
    :func:`minhash_lsh_pairs`, but the two sides are different frames
    and every (id_new, id_ref) pair is reported (no ordering
    constraint; ids may even coincide across corpora). Returns
    (id_new, id_ref, jaccard ≥ threshold).

    Scale shape: each side's signatures/bands are a narrow map over its
    own corpus; the band equi-join is the only corpus-sized shuffle.
    For the verify stage the plan is picked from measured sizes, the
    same policy as the self-join variant: when BOTH token tables fit
    the broadcast cap they broadcast and the candidate stream verifies
    as a pure map (no extra materialization at all — the common case
    for any corpus small enough to enumerate pairs over); otherwise
    the candidate list is deduped, persisted, counted, and — when slim
    enough — broadcast against the STREAMED reference token table, so
    the corpus-sized side is never shuffled or broadcast (the expected
    asymmetry: new batch ≪ reference corpus); past both caps the
    verify joins shuffle.
    """
    from pyspark.storagelevel import StorageLevel

    # id-partition below the shingle projection + text-level emptiness
    # guard, and SQL-text expressions throughout: see minhash_lsh_pairs
    base_n = _shingled(df_new, id_col, text_col, shingle_ngram)
    base_r = _shingled(df_ref, id_col, text_col, shingle_ngram)
    sh_n = base_n.selectExpr("id AS id_new", "sh AS sh_n", "size(sh) AS n_n")
    sh_r = base_r.selectExpr("id AS id_ref", "sh AS sh_r", "size(sh) AS n_r")
    jac = F.expr(_jaccard_sql("sh_n", "sh_r", "n_n", "n_r"))
    # Both strategies start from the slim per-side banded tables
    # (id, n, band-hash array — one row per doc, built by one signature
    # pass each, persisted): the broadcast-cap estimates read them
    # (no extra tokenize pass), the band equi-join explodes them, and
    # the broadcast-verify filters join them back.
    bh_arr = _band_hashes_sql(num_hashes, bands)

    def _banded(base):
        # the _est aggregate below doubles as the eager materializer
        # (broadcast-branch consumers would race a lazy cache)
        return minhash_signatures(
            base, "id", F.expr("sh"), num_hashes,
            with_size=True, repartition=False, prefiltered=True,
        ).selectExpr("id", "n", f"{bh_arr} AS bh").persist(StorageLevel.MEMORY_AND_DISK)

    def _est(banded) -> int:
        st = banded.selectExpr("count(1) AS docs", "sum(n) AS toks").first()
        return int(st["toks"] or 0) * 16 + int(st["docs"] or 0) * 48

    def _bands(banded, id_as):
        return banded.selectExpr(f"id AS {id_as}", "posexplode(bh) AS (band, band_hash)")

    banded_n = _banded(base_n)
    banded_r = _banded(base_r)
    est_n = _est(banded_n)
    raw = _bands(banded_n, "id_new").join(_bands(banded_r, "id_ref"), ["band", "band_hash"])
    if est_n + _est(banded_r) <= VERIFY_BROADCAST_CAP_BYTES:
        # both token tables broadcast: verify is a pure map over the raw
        # candidate stream, a pair kept only at its FIRST shared band —
        # one exact-Jaccard per pair, no dedup exchange (same trick as
        # the self-join variant).
        # two-phase attach (see minhash_lsh_pairs: filter on slim
        # (n, bh) metadata first; token arrays attach to survivors only)
        slim_n = banded_n.selectExpr("id AS id_new", "n AS n_n", "bh AS bh_n")
        slim_r = banded_r.selectExpr("id AS id_ref", "n AS n_r", "bh AS bh_r")
        filtered = (
            raw.selectExpr("id_new", "id_ref", "band")
            .join(F.broadcast(slim_n), "id_new")
            .join(F.broadcast(slim_r), "id_ref")
            .where(f"({_jaccard_length_ok('n_n', 'n_r', threshold)})"
                   f" AND (band = ({_first_shared_band('bh_n', 'bh_r', bands)}))")
            .selectExpr("id_new", "id_ref", "n_n", "n_r")
        )
        out = (
            filtered.join(F.broadcast(sh_n.drop("n_n")), "id_new")
            .join(F.broadcast(sh_r.drop("n_r")), "id_ref")
            .withColumn("jaccard", jac)
            .where(f"jaccard >= {sql_double(threshold)}")
            .selectExpr("id_new", "id_ref", "round(jaccard, 6) AS jaccard")
        )
        if bounded_cache:
            from adam_spark.llm.cache import eager_release

            return eager_release(out, banded_n, banded_r)
        return out
    # shuffle/fallback path: the band join reads the SAME persisted
    # banded tables (the signature UDF never runs twice per side)
    cand = raw.selectExpr("id_new", "id_ref").dropDuplicates(["id_new", "id_ref"]).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    n_cand = cand.count()
    bc_cand = n_cand * 32 <= VERIFY_BROADCAST_CAP_BYTES
    maybe_bc = F.broadcast if bc_cand else (lambda x: x)
    # the new-side token table gets its own measured size decision —
    # an incremental batch is usually tiny, but nothing forces it to be
    bc_new = bc_cand and est_n <= VERIFY_BROADCAST_CAP_BYTES
    maybe_bc_new = F.broadcast if bc_new else (lambda x: x)
    out = (
        sh_r.join(maybe_bc(cand), "id_ref")
        .join(maybe_bc_new(sh_n), "id_new")
        .where(_jaccard_length_ok("n_n", "n_r", threshold))
        .withColumn("jaccard", jac)
        .where(f"jaccard >= {sql_double(threshold)}")
        .selectExpr("id_new", "id_ref", "round(jaccard, 6) AS jaccard")
    )
    if bounded_cache:
        from adam_spark.llm.cache import eager_release

        return eager_release(out, cand, banded_n, banded_r)
    return out


def remove_duplicate_substrings(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 30,
    stride: int = 1,
    min_docs: int = 2,
    bounded_cache: bool = False,
) -> DataFrame:
    """Exact duplicate-substring removal (the character-level
    complement of :func:`remove_repeated_spans`, after Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better").

    Every ``k``-char window starting at a ``stride``-aligned position is
    an anchor; anchors whose text occurs in at least ``min_docs``
    DISTINCT documents are duplicate evidence. Overlapping/adjacent hot
    anchors merge into spans (gaps-and-islands over a running max-end
    window), and the spans are cut from the text. Returns one row per
    input document: (id, text_clean, removed_chars).

    100 TB shape: the anchor explode is the dominant cost — O(chars /
    stride) rows, shuffled twice ((hash, doc) distinct then a map-side
    combined count; raise ``stride`` to trade recall for cost). The hot
    set is joined back via broadcast under HOT_SPAN_BROADCAST_CAP_BYTES
    with a shuffle-join fallback; the span merge reuses the per-doc
    partitioning from the join, and the text rebuild is one narrow
    ``aggregate`` over the collected span list — no driver collects, no
    UDFs, no suffix array (the full Lee et al. construction is
    replaced by stride-anchored hashing, which is exact for
    duplicated regions >= k + stride - 1 chars).
    """
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    npos = F.greatest(F.length("text") - F.lit(k - 1), F.lit(0))
    anchors = base.select(
        "id",
        "text",
        F.explode(
            F.when(
                npos >= 1, F.sequence(F.lit(1), npos, F.lit(stride))
            ).otherwise(F.array().cast("array<int>"))
        ).alias("p"),
    ).select("id", "p", F.xxhash64(F.col("text").substr(F.col("p"), F.lit(k))).alias("h"))

    from pyspark.storagelevel import StorageLevel

    # persisted before the sizing count: the anchors→distinct→groupBy
    # pipeline (two full shuffles) otherwise runs twice — once for
    # count() and again in the join (the remove_repeated_spans treatment)
    hot = (
        anchors.select("h", "id")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("h")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_hot = hot.count()
    maybe_bc = (
        F.broadcast if n_hot * 16 <= HOT_SPAN_BROADCAST_CAP_BYTES else (lambda x: x)
    )
    marks = anchors.join(maybe_bc(hot), "h").select("id", "p")

    w = Window.partitionBy("id").orderBy("p")
    prev_max_end = F.max(F.col("p") + k).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = marks.withColumn(
        "brk", (F.col("p") > F.coalesce(prev_max_end, F.lit(-1))).cast("int")
    ).withColumn("g", F.sum("brk").over(w))
    spans = islands.groupBy("id", "g").agg(
        F.min("p").alias("s"), (F.max("p") + k).alias("e")
    )
    span_lists = spans.groupBy("id").agg(
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("spans")
    )

    joined = base.join(span_lists, "id", "left")
    # fold the sorted spans left-to-right: acc carries the kept text so
    # far and the 1-based copy cursor
    acc0 = F.struct(F.lit("").alias("t"), F.lit(1).alias("pos"))
    folded = F.aggregate(
        F.col("spans"),
        acc0,
        lambda acc, sp: F.struct(
            F.concat(
                acc["t"], F.col("text").substr(acc["pos"], sp["s"] - acc["pos"])
            ).alias("t"),
            sp["e"].alias("pos"),
        ),
    )
    clean = F.when(
        F.col("spans").isNull(), F.col("text")
    ).otherwise(
        F.concat(
            folded["t"],
            F.col("text").substr(folded["pos"], F.length("text") - folded["pos"] + 1),
        )
    )
    out = joined.select(
        F.col("id").alias(id_col),
        clean.alias("text_clean"),
        (F.length("text") - F.length(clean)).cast("long").alias("removed_chars"),
    )
    if bounded_cache:
        from adam_spark.llm.cache import eager_release

        return eager_release(out, hot)
    return out
