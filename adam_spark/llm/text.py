"""Text analysis operators: language ID, quality scoring, token stats,
document fingerprinting.

All pure Catalyst expressions (regexp/array built-ins) — no UDFs — so
they run JVM-side at scan speed and have exact DuckDB-SQL equivalents
for the correctness oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from adam_spark.llm.dedup import distinct_tokens, token_count, tokens

#: tiny per-language stopword lists for the n-gram/stopword heuristic
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "de": ["der", "die", "das", "und", "zu", "den", "von", "ist"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un"],
    "zh": ["de5", "le5", "shi4", "zai4", "you3", "wo3", "ta1", "men5"],
}


# token_count now lives beside tokens() in dedup.py (count-only sites
# take the codegen'd regexp_count form, r13 optimization) and is
# re-exported here unchanged for existing importers.


def bpe_ish_token_count(text: Column, ltoks: Column | None = None) -> Column:
    """BPE-ish token estimate: count of word-piece units matched by a
    simple regex (runs of letters ≤4 chars count 1, longer words count
    ceil(len/4)), plus punctuation/digit singles — a deterministic
    approximation of subword tokenizer output length."""
    toks = tokens(F.lower(text)) if ltoks is None else ltoks
    per_tok = F.transform(
        toks,
        lambda t: F.ceil(F.length(F.regexp_replace(t, "[^a-z0-9]", "")) / F.lit(4.0)).cast("long")
        + F.length(F.regexp_replace(t, "[a-z0-9]", "")).cast("long"),
    )
    return F.aggregate(per_tok, F.lit(0).cast("long"), lambda acc, v: acc + v)


def stopword_ratio(text: Column, lang: str = "en", ltoks: Column | None = None) -> Column:
    toks = tokens(F.lower(text)) if ltoks is None else ltoks
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def punctuation_ratio(text: Column) -> Column:
    n_punct = F.length(text) - F.length(F.regexp_replace(text, r"[\.,;:!\?'\"\(\)\[\]\{\}-]", ""))
    return n_punct / F.greatest(F.length(text), F.lit(1))


def mean_word_length(text: Column, toks: Column | None = None) -> Column:
    toks = tokens(text) if toks is None else toks
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda a, v: a + v,
    )
    return total / F.greatest(F.size(toks), F.lit(1))


def quality_score(text: Column, toks: Column | None = None) -> Column:
    """Composite document-quality heuristic in [0, 1]: rewards texts
    with reasonable length, word diversity, and low punctuation noise —
    the shape of C4/Gopher-style quality filters, deterministic."""
    toks = tokens(text) if toks is None else toks
    n = F.size(toks)
    diversity = F.size(F.array_distinct(toks)) / F.greatest(n, F.lit(1))
    length_ok = F.least(n / F.lit(50.0), F.lit(1.0))
    punct_penalty = F.greatest(F.lit(1.0) - punctuation_ratio(text) * 5, F.lit(0.0))
    return F.round(length_ok * 0.4 + diversity * 0.4 + punct_penalty * 0.2, 6)


def _lang_hit_counts(toks: Column) -> Column:
    """Per-language stopword hit counts as one struct, computed in a
    SINGLE fold over the token array. The naive form (one interpreted
    ``filter`` pass + result-array build per language) did 5 passes
    over every token of the corpus; higher-order lambdas are
    CodegenFallback so none of it codegens. One fold with a 5-int
    struct accumulator does the same integer counts in one pass
    (r13 A/B at sf0.1: language_id noop 1.4-1.7 s → 0.32-0.5 s
    hoisted). NULL tokens → NULL struct, which the strict-> CASE in
    :func:`language_id` treats exactly like the old NULL/-1 size: no
    language ever improves on 'und'."""
    langs = sorted(STOPWORDS)
    sws = {lg: F.array(*[F.lit(w) for w in STOPWORDS[lg]]) for lg in langs}
    init = F.struct(*[F.lit(0).alias(lg) for lg in langs])
    return F.aggregate(
        toks,
        init,
        lambda acc, tok: F.struct(
            *[
                (acc[lg] + F.array_contains(sws[lg], tok).cast("int")).alias(lg)
                for lg in langs
            ]
        ),
    )


def language_id(
    text: Column, ltoks: Column | None = None, counts: Column | None = None
) -> Column:
    """Stopword-vote language guess: the language whose stopword list
    hits the most tokens. Zero-hit documents → 'und'; ties keep the
    alphabetically-first tied language (the fold below uses strict >,
    so a later language never displaces an equal earlier one).

    ``counts`` accepts a pre-computed :func:`_lang_hit_counts` column
    so battery callers (text_profile) can hoist the one-pass fold into
    their shared lower Project — the CASE chain references the counts
    struct ten times, and a hoisted alias evaluates it once
    (SPARK-36718, same mechanism as the ``__toks`` hoist).

    A regexp_count-per-language form ('(?<![^ ])(?:w1|...)(?![^ ])'
    over lower(text) — exact, since tokens are maximal non-space runs)
    was measured and REJECTED: 1.9-3.2 s vs the fold's 0.6 s at sf0.1;
    Java lookaround+alternation scans lose to one interpreted pass."""
    if counts is None:
        toks = tokens(F.lower(text)) if ltoks is None else ltoks
        counts = _lang_hit_counts(toks)
    best_lang = F.lit("und")
    best_hits = F.lit(0)
    for lang in sorted(STOPWORDS):
        hits = counts[lang]
        improved = hits > best_hits
        best_lang = F.when(improved, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(improved, hits).otherwise(best_hits)
    return best_lang


def doc_fingerprint(text: Column, ltoks: Column | None = None) -> Column:
    """Order-insensitive content fingerprint: md5 over the sorted
    distinct token set — stable under token reordering (a rolling-hash
    analogue that is engine-portable)."""
    dt = distinct_tokens(F.lower(text)) if ltoks is None else F.array_distinct(ltoks)
    return F.md5(F.concat_ws(" ", F.array_sort(dt)))


def _lines(text: Column) -> Column:
    return F.filter(F.split(text, "\n"), lambda l: l != F.lit(""))


def duplicate_line_fraction(text: Column, lines: Column | None = None) -> Column:
    """Gopher-style repetition signal: fraction of (non-empty) lines
    that are repeats of an earlier line."""
    lines = _lines(text) if lines is None else lines
    n = F.size(lines)
    return F.when(
        n > 1, F.lit(1.0) - F.size(F.array_distinct(lines)) / n.cast("double")
    ).otherwise(F.lit(0.0))


def bullet_line_fraction(text: Column, lines: Column | None = None) -> Column:
    """Fraction of lines that start with a bullet marker."""
    lines = _lines(text) if lines is None else lines
    hits = F.size(F.filter(lines, lambda l: F.ltrim(l).rlike("^[-*•]")))
    return hits / F.greatest(F.size(lines), F.lit(1)).cast("double")


def alpha_word_fraction(text: Column, toks: Column | None = None) -> Column:
    """Fraction of tokens containing at least one alphabetic char."""
    toks = tokens(text) if toks is None else toks
    hits = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
    return hits / F.greatest(F.size(toks), F.lit(1)).cast("double")


def top_ngram_fraction(text: Column, n: int = 2, ltoks: Column | None = None) -> Column:
    """Fraction of tokens covered by the single most frequent word
    n-gram (Gopher's top-n-gram repetition filter; the paper applies
    it for n=2..4 — this is the token-fraction analogue of its
    character fraction, same shape, engine-exact).

    Relational per-row compute: sort the n-gram array, then the longest
    run of equal consecutive elements is the max n-gram count — one
    ``aggregate`` fold with a (prev, run, best) struct accumulator, no
    explode/groupBy, so the signal stays a narrow map at corpus scale.
    """
    toks = tokens(F.lower(text)) if ltoks is None else ltoks
    nt = F.size(toks)
    grams = F.array_sort(
        F.transform(
            F.sequence(F.lit(1), nt - F.lit(n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + F.lit(j)) for j in range(n)]
            ),
        )
    )
    init = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )
    fold = F.aggregate(
        grams,
        init,
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return F.when(nt >= n, fold * n / nt.cast("double")).otherwise(F.lit(0.0))


def top_bigram_fraction(text: Column, ltoks: Column | None = None) -> Column:
    """Gopher top-n-gram filter at n=2 (see :func:`top_ngram_fraction`)."""
    return top_ngram_fraction(text, 2, ltoks=ltoks)


def text_profile(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One row per document with the full stats battery.

    The three tokenizations every metric shares (whitespace tokens,
    lower-cased tokens, non-empty lines) are hoisted into one lower
    Project and referenced by the metric expressions — CollapseProject
    keeps a non-cheap alias with >1 reference (SPARK-36718), so each
    array is built once per row instead of once per metric (the
    interpreted higher-order tokenize was ~⅔ of the materialization
    cost; r13 A/B: noop sink 5.8-10.2 s → 2.0 s at sf0.1, values
    bit-identical). Under count() the whole metric Project is pruned,
    so the timed bench path is unchanged.
    """
    t = F.col(text_col)
    toks, ltoks, lines = F.col("__toks"), F.col("__ltoks"), F.col("__lines")
    # __lc: the language-vote fold is hoisted like the arrays — the
    # CASE chain in language_id references it 10×, and CollapseProject
    # would otherwise inline 10 copies of the fold into the metric
    # Project (interpreted short-circuiting hides most but not all of
    # that: inline 0.43-0.59 s vs hoisted 0.32-0.50 s at sf0.1).
    return (
        df.withColumn("__toks", tokens(t))
        .withColumn("__ltoks", tokens(F.lower(t)))
        .withColumn("__lines", _lines(t))
        .withColumn("__lc", _lang_hit_counts(F.col("__ltoks")))
        .select(
            F.col(id_col).alias("id"),
            # long, not Spark's int32 length/size: every count column in the
            # contract is BIGINT on both engine and oracle sides
            F.length(t).cast("long").alias("n_chars"),
            token_count(t).cast("long").alias("n_tokens"),
            F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
            bpe_ish_token_count(t, ltoks=ltoks).alias("n_bpe_tokens"),
            F.round(mean_word_length(t, toks=toks), 6).alias("mean_word_len"),
            F.round(stopword_ratio(t, ltoks=ltoks), 6).alias("stopword_ratio"),
            F.round(punctuation_ratio(t), 6).alias("punct_ratio"),
            quality_score(t, toks=toks).alias("quality"),
            language_id(t, counts=F.col("__lc")).alias("lang_guess"),
            doc_fingerprint(t, ltoks=ltoks).alias("fingerprint"),
            F.round(duplicate_line_fraction(t, lines=lines), 6).alias("dup_line_frac"),
            F.round(bullet_line_fraction(t, lines=lines), 6).alias("bullet_line_frac"),
            F.round(alpha_word_fraction(t, toks=toks), 6).alias("alpha_word_frac"),
            F.round(top_bigram_fraction(t, ltoks=ltoks), 6).alias("top_bigram_frac"),
        )
    )


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken):
    hash every k-gram of the normalized text, slide a ``window`` over
    the hash sequence, keep each window's minimum — the classic
    plagiarism/near-dup fingerprint set, guaranteed to share hashes
    with any overlapping match of length ≥ k + window − 1.

    Relational: k-gram hashes via transform over positions (md5 → int,
    the engine-portable rolling-hash stand-in), window minima via
    array_min over slices, distinct per document. One row per
    (id, fingerprint); no UDFs, no shuffle before the final distinct.

    The normalized text and the k-gram hash array are HOISTED into a
    lower Project (``__wn``/``__wh``, the SPARK-36718 CollapseProject
    pattern proven on text_profile): referenced inline, the ``mins``
    lambda re-evaluated the whole md5 transform PER WINDOW POSITION —
    higher-order functions are CodegenFallback, so no subexpression
    sharing — making the operator quadratic in document length
    (O(len·len) md5 evaluations; measured 362 s for one sf0.001
    collect). As columns, each array is computed once per row and the
    lambdas only index it. Expressions are otherwise identical, so the
    fingerprint set is unchanged.
    """
    n_grams = F.length("__wn") - F.lit(k - 1)
    hashes = F.transform(
        F.sequence(F.lit(1), F.greatest(n_grams, F.lit(0))),
        lambda i: F.conv(
            F.substring(F.md5(F.substring(F.col("__wn"), i, k)), 1, 7), 16, 10
        ).cast("long"),
    )
    wh = F.col("__wh")
    mins = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(wh) - F.lit(window - 1), F.lit(0))),
        lambda i: F.array_min(F.slice(wh, i, window)),
    )
    fps = F.when(n_grams >= window, F.array_distinct(mins)).otherwise(
        F.when(n_grams >= 1, F.array(F.array_min(wh))).otherwise(
            F.array().cast("array<long>")
        )
    )
    return (
        df.select(
            F.col(id_col).alias("id"), F.lower(F.col(text_col)).alias("__wn")
        )
        .select("id", "__wn", hashes.alias("__wh"))
        .select("id", F.explode(fps).alias("fingerprint"))
        .distinct()
    )


def corpus_stats(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str | None = "lang",
) -> DataFrame:
    """Per-source corpus report card — the rollup a curation pipeline
    runs before deciding what to keep per provenance bucket.

    One partial-aggregated groupBy on the slim derived columns: doc and
    exact-duplicate counts (md5 fingerprint), token totals, language
    diversity, and the quality-score sum in exact integer micro-units
    (float sums accumulate in engine/partition-dependent order; the
    micro-unit long sum is bit-exact on any engine, so the output is
    oracle-stable — the BQSR lesson applied up front).
    """
    t = F.col(text_col)
    fp = F.coalesce(F.md5(F.lower(t)), F.lit("__NULL__"))
    # quality_score consumes the token array twice (size + distinct) —
    # hoist it below the aggregate so the partial-agg input Project
    # tokenizes once per row (same pattern as text_profile; the
    # aggregate itself is never pruned, so this is a count-path win)
    hoisted = df.withColumn("__toks", tokens(t))
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        (F.count(F.lit(1)) - F.countDistinct(fp)).alias("n_dup_docs"),
        F.sum(token_count(t).cast("long")).alias("total_tokens"),
        F.sum(
            F.round(quality_score(t, toks=F.col("__toks")) * 1e6).cast("long")
        ).alias("sum_quality_micro"),
    ]
    if lang_col is not None:
        aggs.append(F.countDistinct(F.col(lang_col)).alias("n_langs"))
    return hoisted.groupBy(F.col(group_col).alias("source")).agg(*aggs)


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    bounded_cache: bool = False,
) -> DataFrame:
    """Top-``k`` terms per document by smoothed TF-IDF.

    tfidf = tf · (ln((N+1)/(df+1)) + 1), published to integer
    micro-units (``round(x·1e6)``) so the SCORE — and therefore the
    top-k ranking, an integer comparison with (score desc, term asc)
    tiebreak — reproduces bit-exactly across engines: tf, df and N are
    exact longs, and the single ln·mul·round chain has a fixed
    evaluation order on both sides (no float accumulation — the BQSR
    expectedErrors lesson applied here from the start).

    Scale shape: one explode → (doc, term) count aggregate, a slim
    (term, df) aggregate joined back (broadcast-eligible: distinct
    terms ≪ corpus tokens), and a per-document top-k window keyed by
    the document id — every shuffle key is high-cardinality, nothing
    global. ``bounded_cache=True`` eagerly materializes the result and
    releases the (id, term, tf) persist
    (:func:`adam_spark.llm.cache.eager_release`).
    """
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    from .dedup import tokens

    n_docs = df.count()  # dimension constant, computed once
    # pairs feeds BOTH the df aggregate and the join probe side; Spark
    # does not reuse the exchange across the differently-shaped subtrees,
    # so without a persist the corpus tokenize+explode — the dominant
    # stage at scale — runs twice (same defect class as the dedup
    # fingerprint tables; eager count, lazy caches race concurrent
    # subtree scheduling). The cache lives until session cache GC /
    # clearCache(), the repo-wide convention for these slim tables.
    pairs = (
        df.select(F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pairs.count()
    dfreq = pairs.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = pairs.join(dfreq, "term").withColumn(
        "tfidf_micro",
        F.round(
            F.col("tf")
            * (F.log((F.lit(float(n_docs + 1))) / (F.col("df") + F.lit(1)).cast("double")) + F.lit(1.0))
            * F.lit(1e6)
        ).cast("long"),
    )
    w = Window.partitionBy("id").orderBy(F.col("tfidf_micro").desc(), F.col("term").asc())
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.lit(k))
        .select("id", "rank", "term", "tf", "df", "tfidf_micro")
    )
    if bounded_cache:
        from adam_spark.llm.cache import eager_release

        return eager_release(out, pairs)
    return out


#: PII patterns in the regex subset shared by Java (Spark) and RE2
#: (DuckDB/Trino) dialects — no backrefs, no lookaround, so the same
#: pattern string behaves identically in a SQL oracle or a sibling engine
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b([0-9]{1,3}\.)" + r"{3}[0-9]{1,3}\b",
    # \+? sits BEFORE the \b: a leading \b would demand a word char ahead
    # of '+', which never holds after whitespace, silently leaving the
    # international prefix unredacted (and lookbehind is off the table —
    # RE2 has none)
    "phone": r"\+?\b[0-9][0-9()\-\s]{6,}[0-9]\b",
}


def scrub_pii(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    patterns: dict[str, str] | None = None,
) -> DataFrame:
    """Redact PII spans, keeping the original row plus audit counts.

    Each pattern class is replaced by its ``<CLASS>`` placeholder and
    counted (count = matches of that class in the ORIGINAL text, so
    counts are order-independent even when classes overlap; replacement
    applies in dict order). Pure Catalyst ``regexp_replace`` /
    ``regexp_count`` — a narrow map, no UDFs, trivially parallel at any
    scale. Returns all input columns plus ``text_scrubbed`` and one
    ``n_<class>`` audit column per pattern.
    """
    pats = patterns or PII_PATTERNS
    out = df
    scrubbed = F.col(text_col)
    for name, pat in pats.items():
        out = out.withColumn(
            f"n_{name}", F.regexp_count(F.col(text_col), F.lit(pat)).cast("long")
        )
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{name.upper()}>")
    return out.withColumn("text_scrubbed", scrubbed)


#: max estimated vocabulary bytes broadcast for LM scoring; larger
#: vocabularies shuffle-join instead
VOCAB_BROADCAST_CAP_BYTES = 128 * 1024 * 1024


def unigram_lm_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
    bounded_cache: bool = False,
) -> DataFrame:
    """CCNet-style language-model quality score per document.

    Trains an add-``alpha`` smoothed unigram model on the corpus itself
    (lower-cased whitespace tokens) and scores each document by its
    mean token negative log-likelihood ``nll`` and perplexity
    ``exp(nll)`` — the classic "how surprising is this document under
    the corpus distribution" filter (CCNet buckets corpora by exactly
    this signal, with a Wikipedia-trained model standing in for the
    corpus model). Returns (id, n_tokens, nll, ppl); token-less
    documents keep their row with n_tokens = 0 and null scores.

    Scale shape: vocabulary counting is one map-side-combined groupBy;
    the (token → count) table joins back onto the exploded token stream
    — broadcast below a measured size cap (natural-language vocabularies
    are tiny next to their corpora), shuffle fallback above it — and the
    per-document mean is a second combined groupBy. The driver
    collects only three scalars (vocabulary size, size estimate, total
    token count) in a single aggregate job over the persisted vocab;
    the model constants are embedded as literals (exact — see the
    inline note), so no per-call constant subtree or cross-join
    broadcast remains in the plan.

    The vocabulary persist lives until session cache GC (the repo-wide
    convention for slim tables); ``bounded_cache=True`` instead
    materializes the result eagerly and releases it
    (:func:`adam_spark.llm.cache.eager_release`).
    """
    from pyspark.storagelevel import StorageLevel

    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # ONE aggregate doubles as the eager materializer and yields all
    # three scalars the old shape took separate jobs for: |V| (was
    # vocab.count()), the broadcast-size estimate (was a second
    # .first()), and n_total (was a `consts` aggregate subtree re-read
    # from the persist and shipped via a broadcast cross join). The
    # model constants are exact integers at any corpus size that fits
    # a long, so embedding them as literals is bit-identical to the
    # in-query cast (float(n) is exact below 2^53); the crossJoin and
    # its broadcast build disappear from the plan.
    _st = vocab.select(
        F.count(F.lit(1)).alias("v"),
        (F.sum(F.length("tok")) + F.count(F.lit(1)) * 40).alias("b"),
        F.sum("c").alias("n"),
    ).first()
    v = int(_st["v"] or 0)
    maybe_bc = (
        F.broadcast
        if int(_st["b"] or 0) <= VOCAB_BROADCAST_CAP_BYTES
        else (lambda x: x)
    )
    n_total, v_size = F.lit(float(_st["n"] or 0)), F.lit(float(v))
    scored = (
        toks.join(maybe_bc(vocab), "tok")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.avg(
                -F.log(
                    (F.col("c") + F.lit(alpha)) / (n_total + F.lit(alpha) * v_size)
                )
            ).alias("nll"),
        )
    )
    out = (
        df.select(F.col(id_col).alias("id"))
        .join(scored, "id", "left")
        .select(
            "id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.round("nll", 6).alias("nll"),
            F.round(F.exp("nll"), 6).alias("ppl"),
        )
    )
    if bounded_cache:
        from adam_spark.llm.cache import eager_release

        return eager_release(out, vocab)
    return out


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    overlap: int = 0,
) -> DataFrame:
    """Sliding-window token chunking: (id, chunk_index, n_tokens, chunk).

    Splits each document's whitespace tokens into windows of
    ``chunk_tokens`` advancing by ``chunk_tokens − overlap`` — the
    standard context-window preparation for training shards and
    retrieval indexing. Window starts come from an in-row ``sequence``
    and the window text from ``slice`` + ``array_join``, so the whole
    operator is one narrow Catalyst map (explode multiplies rows ~
    1/(1−overlap ratio)×, no shuffle anywhere); a 100 TB corpus chunks
    at scan speed. The final window may be shorter than
    ``chunk_tokens``; token-less documents produce no chunks.
    """
    if overlap < 0 or overlap >= chunk_tokens:
        raise ValueError("require 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokens(F.col(text_col))
    out = (
        df.select(
            F.col(id_col).alias("id"),
            toks.alias("__t"),
        )
        .where(F.size("__t") > 0)
        .select(
            "id",
            F.posexplode(
                F.sequence(F.lit(0), F.size("__t") - 1, F.lit(stride))
            ).alias("chunk_index", "start"),
            F.col("__t"),
        )
        .select(
            "id",
            F.col("chunk_index").cast("long").alias("chunk_index"),
            F.slice(F.col("__t"), F.col("start") + 1, chunk_tokens).alias("__c"),
        )
    )
    return out.select(
        "id",
        "chunk_index",
        F.size("__c").cast("long").alias("n_tokens"),
        F.array_join("__c", " ").alias("chunk"),
    )


def bigram_lm_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
    bounded_cache: bool = False,
) -> DataFrame:
    """Bigram language-model quality score with unigram backoff.

    The CCNet-grade upgrade of :func:`unigram_lm_scores`: each token
    after the first is scored by the interpolated conditional
    ``p(w2|w1) = (c(w1 w2) + α·p_uni(w2)) / (c(w1) + α)`` (additive
    backoff to the smoothed unigram distribution — unseen bigrams fall
    back gracefully instead of flat-lining), the first token by
    ``p_uni`` alone; ``nll`` is the mean over all tokens and ``ppl``
    its exponential. Burstiness and local repetition now move the
    score the way a real LM filter expects.

    Scale shape: bigram extraction is IN-ROW (``arrays_zip`` of two
    slices — no lag window, so no per-document shuffle); unigram and
    bigram counting are map-side-combined groupBys; both count tables
    join back broadcast under a measured cap (shuffle fallback), the
    model constants are embedded as exact literals from one driver
    aggregate (see unigram_lm_scores), and the final per-document
    aggregate is one slim (id, sum) groupBy.
    ``bounded_cache=True`` eagerly materializes the result and releases
    the vocabulary persist (see :func:`adam_spark.llm.cache.eager_release`).
    """
    from pyspark.storagelevel import StorageLevel

    a = float(alpha)
    base = df.select(
        F.col(id_col).alias("id"), tokens(F.lower(F.col(text_col))).alias("t")
    )
    uni = (
        base.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # one aggregate = eager materializer + |V| + broadcast estimate +
    # n_total, replacing three sequential driver jobs and the `consts`
    # cross-join subtree (see unigram_lm_scores — exact-integer
    # literals, bit-identical arithmetic)
    _st = uni.select(
        F.count(F.lit(1)).alias("v"),
        (F.sum(F.length("tok")) + F.count(F.lit(1)) * 40).alias("b"),
        F.sum("c").alias("n"),
    ).first()
    v = int(_st["v"] or 0)
    maybe_bc = (
        F.broadcast
        if int(_st["b"] or 0) <= VOCAB_BROADCAST_CAP_BYTES
        else (lambda x: x)
    )
    n_total, v_size = F.lit(float(_st["n"] or 0)), F.lit(float(v))
    p_uni = lambda c: (c + F.lit(a)) / (n_total + F.lit(a) * v_size)
    first = (
        base.where(F.size("t") > 0)
        .select(
            "id",
            F.element_at("t", 1).alias("tok"),
            F.size("t").cast("long").alias("n_tokens"),
        )
        .join(maybe_bc(uni), "tok")
        .select("id", "n_tokens", (-F.log(p_uni(F.col("c")))).alias("s_first"))
    )
    pairs = (
        base.where(F.size("t") > 1)
        .select(
            "id",
            F.explode(
                F.arrays_zip(
                    F.slice("t", 1, F.size("t") - 1), F.slice("t", 2, F.size("t") - 1)
                )
            ).alias("p"),
        )
        .select("id", F.col("p")["0"].alias("w1"), F.col("p")["1"].alias("w2"))
    )
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    scored = (
        pairs.join(maybe_bc(big), ["w1", "w2"])
        .join(maybe_bc(uni.select(F.col("tok").alias("w1"), F.col("c").alias("c1"))), "w1")
        .join(maybe_bc(uni.select(F.col("tok").alias("w2"), F.col("c").alias("c2"))), "w2")
        .select(
            "id",
            (
                -F.log(
                    (F.col("cb") + F.lit(a) * p_uni(F.col("c2")))
                    / (F.col("c1") + F.lit(a))
                )
            ).alias("s"),
        )
        .groupBy("id")
        .agg(F.sum("s").alias("s_pairs"))
    )
    nll = (F.col("s_first") + F.coalesce("s_pairs", F.lit(0.0))) / F.col("n_tokens")
    out = (
        df.select(F.col(id_col).alias("id"))
        .join(first, "id", "left")
        .join(scored, "id", "left")
        .select(
            "id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.round(nll, 6).alias("nll"),
            F.round(F.exp(nll), 6).alias("ppl"),
        )
    )
    if bounded_cache:
        from adam_spark.llm.cache import eager_release

        return eager_release(out, uni)
    return out


# --- Gopher quality rules (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", Appendix A) ------


def symbol_word_ratio(text: Column) -> Column:
    """(# of '#' and ellipsis symbols) / word count — Gopher's
    symbol-to-word ratio. Both the unicode ellipsis and the literal
    '...' count (a '...' run counts once via replace-then-count)."""
    ell = F.regexp_replace(text, r"\.\.\.", "…")
    n_sym = (
        F.length(ell) - F.length(F.translate(ell, "#…", ""))
    ).cast("double")
    return n_sym / F.greatest(token_count(text), F.lit(1)).cast("double")


def ellipsis_line_fraction(text: Column, lines: Column | None = None) -> Column:
    """Fraction of (non-empty) lines ending with an ellipsis."""
    lines = _lines(text) if lines is None else lines
    hits = F.size(
        F.filter(lines, lambda l: F.rtrim(l).rlike("(\\.\\.\\.|…)$"))
    )
    return hits / F.greatest(F.size(lines), F.lit(1)).cast("double")


#: Gopher's required-stop-word list (Appendix A: a document must
#: contain at least 2 of these)
GOPHER_STOP_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def required_stopword_count(text: Column, ltoks: Column | None = None) -> Column:
    """How many of the eight Gopher stop words appear as tokens."""
    toks = distinct_tokens(F.lower(text)) if ltoks is None else F.array_distinct(ltoks)
    return F.size(
        F.filter(
            F.array(*[F.lit(w) for w in GOPHER_STOP_WORDS]),
            lambda w: F.array_contains(toks, w),
        )
    )


def duplicate_line_char_fraction(
    text: Column, sorted_lines: Column | None = None
) -> Column:
    """Fraction of line CHARACTERS sitting in repeats of an earlier
    line (Gopher's duplicate-line character fraction). Per-row fold
    over the sorted line array — chars of every instance beyond a
    line's first occurrence, over total line chars; no explode."""
    lines = F.array_sort(_lines(text)) if sorted_lines is None else sorted_lines
    total = F.aggregate(
        lines, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("dup"),
    )
    dup = F.aggregate(
        lines,
        init,
        lambda acc, x: F.struct(
            x.alias("prev"),
            (
                acc["dup"]
                + F.when(x.eqNullSafe(acc["prev"]), F.length(x).cast("long")).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias("dup"),
        ),
        lambda acc: acc["dup"],
    )
    return F.when(
        total > 0, dup.cast("double") / total.cast("double")
    ).otherwise(F.lit(0.0))


def gopher_quality(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_words: int = 2,
    max_dup_line_frac: float = 0.3,
    max_dup_line_char_frac: float = 0.2,
    max_top_ngram_frac: dict[int, float] | None = None,
) -> DataFrame:
    """Gopher quality rule battery (Rae et al. 2021 Appendix A
    defaults): one boolean per rule plus the conjunction ``keep`` —
    all pure Catalyst expressions, one narrow map over the corpus, so
    the filter costs a single scan at any scale and is exactly
    reproducible in the SQL oracle."""
    t = F.col(text_col)
    # shared tokenizations hoisted into one lower Project (see
    # text_profile — same CollapseProject-preserved pattern; the
    # sorted-lines array additionally feeds the char-fraction fold's
    # two aggregates). Values bit-identical; count() prunes it all.
    toks, ltoks, lines = F.col("__toks"), F.col("__ltoks"), F.col("__lines")
    slines = F.col("__slines")
    hoisted = (
        df.withColumn("__toks", tokens(t))
        .withColumn("__ltoks", tokens(F.lower(t)))
        .withColumn("__lines", _lines(t))
        .withColumn("__slines", F.array_sort(F.col("__lines")))
        # the one metric referenced twice (>= and <= bounds): hoist the
        # fold itself so it runs once per row
        .withColumn("__mwl", mean_word_length(t, toks=F.col("__toks")))
    )
    n_words = token_count(t).cast("long")
    mwl = F.col("__mwl")
    checks = {
        "ok_word_count": (n_words >= min_words) & (n_words <= max_words),
        "ok_mean_word_len": (mwl >= min_mean_word_len)
        & (mwl <= max_mean_word_len),
        "ok_symbol_ratio": symbol_word_ratio(t) <= max_symbol_word_ratio,
        "ok_bullet_lines": bullet_line_fraction(t, lines=lines)
        <= max_bullet_line_frac,
        "ok_ellipsis_lines": ellipsis_line_fraction(t, lines=lines)
        <= max_ellipsis_line_frac,
        "ok_alpha_words": alpha_word_fraction(t, toks=toks)
        >= min_alpha_word_frac,
        "ok_stop_words": required_stopword_count(t, ltoks=ltoks)
        >= min_stop_words,
        "ok_dup_lines": duplicate_line_fraction(t, lines=lines)
        <= max_dup_line_frac,
        "ok_dup_line_chars": duplicate_line_char_fraction(t, sorted_lines=slines)
        <= max_dup_line_char_frac,
    }
    # paper defaults for the top-n-gram repetition rules (token-fraction
    # analogue of the char thresholds): {2: 0.20, 3: 0.18, 4: 0.16}
    if max_top_ngram_frac is None:
        max_top_ngram_frac = {2: 0.20, 3: 0.18, 4: 0.16}
    for ng, thr in sorted(max_top_ngram_frac.items()):
        checks[f"ok_top_{ng}gram"] = top_ngram_fraction(t, ng, ltoks=ltoks) <= thr
    keep = F.lit(True)
    for c in checks.values():
        keep = keep & c
    return hoisted.select(
        F.col(id_col).alias("id"),
        n_words.alias("n_words"),
        *[v.alias(k) for k, v in checks.items()],
        keep.alias("keep"),
    )


def hashed_classifier_score(
    df: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_prefix_len: int = 3,
    word_ngrams: int = 1,
    feats_df: DataFrame | None = None,
) -> DataFrame:
    """fastText-style hashed LINEAR classifier score per document — the
    CCNet/quality-filter shape: tokens map into a fixed feature table
    by the hashing trick and the document's score is the sum of the
    matched feature weights.

    Features are lower-cased whitespace tokens bucketed by the first
    ``hash_prefix_len`` hex chars of ``md5(token)`` (``16^k`` buckets;
    md5 is engine-portable, so a DuckDB oracle reproduces the bucketing
    exactly). ``weights`` is a ``(bucket, weight)`` DataFrame — weight
    in INTEGER micro-units, the repo convention for engine-exact
    scores; buckets absent from the table are out-of-vocabulary and
    contribute nothing. Returns ``(id, n_tokens, feat_hits,
    score_sum)`` with every column exact-integer; token-less documents
    keep their row with zeros.

    ``word_ngrams`` > 1 adds fastText's signature higher-order
    features: every space-joined word n-gram up to that order hashes
    into the same bucket space (pure array transforms over the token
    array — no extra shuffle, no UDF). ``n_tokens`` stays the UNIGRAM
    count; ``feat_hits``/``score_sum`` run over all feature orders.

    Scale shape: one narrow map computes buckets (no UDF), the weight
    lookup is an equi-join against a table of at most ``16^k`` rows —
    broadcast under the measured cap (a 4096-row feature table always
    is), shuffle fallback above it — and the per-document sum is one
    map-side-combined groupBy. The corpus is never shuffled beyond that
    aggregation; nothing collects on the driver.

    ``feats_df`` (optional) is an alternate reading of the SAME rows —
    typically a repartitioned/spread copy of a single-row-group source —
    used only for the feature-extraction branch (the ~tokens-per-doc-×
    explode + md5 + join pipeline). The output's row set always comes
    from ``df``: with the right side unique on id, Catalyst prunes the
    whole scored subtree (feats_df included) under a bare ``count()``,
    so a caller can parallelize the expensive branch without taxing the
    pruned path with the spread exchange (the bloom probe-branch spread
    idiom). Results are identical by construction — the branches agree
    row-for-row whenever feats_df reads the same table. A ``feats_df``
    missing ``id_col`` or ``text_col`` raises ``ValueError``.
    """
    if feats_df is None:
        feats_df = df
    have = {c.lower() for c in feats_df.columns}
    for c in (id_col, text_col):
        if c.lower() not in have:
            raise ValueError(f"feats_df has no column {c!r}")
    words = F.filter(
        F.split(F.lower(F.col(text_col)), " "), lambda t: t != F.lit("")
    )

    def _grams(n):
        # space-joined word n-grams; sequence(1, 0) counts DOWN, so
        # short documents need the explicit empty-array guard
        return F.when(
            F.size(words) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(words) - F.lit(n - 1)),
                lambda i: F.array_join(F.slice(words, i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))

    # order 1 IS the token array — _grams(1)'s transform(sequence,
    # array_join(slice(words, i, 1))) is an identity map, and
    # higher-order lambdas evaluate interpreted (CodegenFallback), so
    # it cost one interpreted pass over every token of the corpus for
    # nothing. coalesce keeps _grams' NULL-text → [] semantics (words
    # is NULL there; both explode to zero rows, but concat(NULL, x)
    # would differ for word_ngrams > 1).
    feats = F.coalesce(words, F.array().cast("array<string>"))
    for n in range(2, word_ngrams + 1):
        feats = F.concat(feats, _grams(n))
    toks = feats_df.select(
        F.col(id_col).alias("id"),
        F.size(words).cast("long").alias("__n_tokens"),
        F.explode(feats).alias("tok"),
    ).select(
        "id", "__n_tokens",
        F.substring(F.md5("tok"), 1, hash_prefix_len).alias("bucket"),
    )
    # one weight per bucket is the feature-table contract; duplicate
    # keys (hash collisions in a caller-built table) SUM, the hashing
    # trick's standard collision semantics
    w = (
        weights.select(
            F.col("bucket").cast("string").alias("bucket"),
            F.col("weight").cast("long").alias("weight"),
        )
        .groupBy("bucket")
        .agg(F.sum("weight").cast("long").alias("weight"))
    )
    maybe_bc = (
        F.broadcast
        if 16 ** hash_prefix_len * 64 <= VOCAB_BROADCAST_CAP_BYTES
        else (lambda x: x)
    )
    scored = (
        toks.join(maybe_bc(w), "bucket", "left")
        .groupBy("id")
        .agg(
            F.max("__n_tokens").alias("n_tokens"),
            F.count("weight").cast("long").alias("feat_hits"),
            F.coalesce(F.sum("weight"), F.lit(0)).cast("long").alias("score_sum"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(scored, "id", "left")
        .select(
            "id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("feat_hits", F.lit(0)).cast("long").alias("feat_hits"),
            F.coalesce("score_sum", F.lit(0)).cast("long").alias("score_sum"),
        )
    )
