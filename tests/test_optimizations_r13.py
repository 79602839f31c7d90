"""Round-13 optimization pins.

Each test pins an optimization's SEMANTIC invariant: the fast path must
change plans/partitioning only, never values.
"""

import os

import pytest
from pyspark.sql import functions as F


SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


@pytest.mark.skipif(not os.path.isdir(SF001), reason="driver testdata absent")
class TestCosineNormHoist:
    def test_cosine_topk_hoist_bit_identical(self, spark):
        """cosine_topk hoists each side's norm to a per-row projection
        (interpreted higher-order folds run Q+N times, not 2·Q·N). The
        hoist must be BIT-identical, not just close: the unrounded sim
        from the hoisted pipeline must equal dot/(norm·norm) evaluated
        per pair with the original expression trees."""
        from adam_spark.llm.similarity import _dot, _norm, cosine, cosine_topk
        from adam_spark.sources.tables import load_table

        emb = load_table(spark, SF001, "embeddings")
        q = emb.where(F.col("vec_id") < 5)
        got = {
            (r["query_id"], r["neighbor_id"]): r["sim"]
            for r in cosine_topk(emb, q, k=5).collect()
        }
        c = emb.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("cv"))
        ref = {
            (r["qid"], r["nid"]): r["sim"]
            for r in c.crossJoin(
                q.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
            )
            .where(F.col("qid") != F.col("nid"))
            .select("qid", "nid", F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("sim"))
            .collect()
        }
        assert got and all(ref[k] == v for k, v in got.items())


@pytest.mark.skipif(not os.path.isdir(SF001), reason="driver testdata absent")
class TestGroupAggsPushdown:
    def test_group_aggs_matches_collect_list_path(self, spark):
        """group_aggs fuses the per-group reduction into the group join
        (guide §2.3: aggregate before you shuffle). Pin that it returns
        exactly what the collect_list path + a post-hoc fold returns on
        the entry's own inputs, and that the fused plan hash-aggregates
        (no ObjectHashAggregate — the collect_list aggregate cannot
        partial-reduce and ships every matched hit struct)."""
        import __spark_entry__ as e
        from adam_spark.operators.region_join import region_join

        L, R = e._intervals_l(spark, SF001), e._intervals_r(spark, SF001)
        fused = region_join(
            L, R, group="left", bin_size=64, left_key="id",
            group_aggs={
                "n_hits": F.count(F.lit(1)).cast("long"),
                "sum_hit_ids": F.sum("id").cast("long"),
            },
        )
        listed = region_join(L, R, group="left", bin_size=64, left_key="id")
        folded = listed.select(
            "referenceName", "start", "end", "id",
            F.size("hits").cast("long").alias("n_hits"),
            F.expr(
                "aggregate(hits, cast(0 as long), (a, h) -> a + h.id)"
            ).alias("sum_hit_ids"),
        )
        assert fused.columns == folded.columns
        assert sorted(map(tuple, fused.collect())) == sorted(
            map(tuple, folded.collect())
        )
        plan = fused._jdf.queryExecution().executedPlan().toString()
        assert "ObjectHashAggregate" not in plan
        assert "HashAggregate" in plan

    def test_group_aggs_guards(self, spark):
        """group_aggs is only fused on the inner-flavored left-group
        path; other shapes and name collisions refuse loudly."""
        import __spark_entry__ as e
        from adam_spark.operators.region_join import region_join

        L, R = e._intervals_l(spark, SF001), e._intervals_r(spark, SF001)
        aggs = {"n_hits": F.count(F.lit(1))}
        with pytest.raises(ValueError, match="group_aggs"):
            region_join(L, R, group="right", how="right_outer",
                        group_aggs=aggs, left_key="id")
        with pytest.raises(ValueError, match="group_aggs"):
            region_join(L, R, group="left", how="left_outer",
                        group_aggs=aggs, left_key="id")
        with pytest.raises(ValueError, match="collide"):
            region_join(L, R, group="left", left_key="id",
                        group_aggs={"id": F.count(F.lit(1))})


class TestTokenCountRegexpForm:
    def test_token_count_equals_size_filter_split(self, spark):
        """token_count (regexp_count over non-space runs) must equal
        size(filter(split(text,' '), t -> t != '')) on every edge the
        split form distinguishes: NULL, empty, all-spaces, leading/
        trailing/multiple spaces, and non-space whitespace (tabs and
        newlines do NOT delimit — a single-space split keeps them
        inside one token, and so does [^ ]+)."""
        from adam_spark.llm.dedup import token_count

        cases = [
            None,
            "",
            " ",
            "   ",
            "a",
            " a",
            "a ",
            "  a  b   c ",
            "a\tb",          # one token: tab is not a space
            "a\nb c",        # two tokens: "a\nb" and "c"
            "héllo wörld ",  # multibyte
            "a  b\t c\n",
        ]
        df = spark.createDataFrame([(t,) for t in cases], "text string")
        old = F.size(F.filter(F.split(F.col("text"), " "), lambda t: t != F.lit("")))
        rows = df.select(
            old.alias("old"), token_count(F.col("text")).alias("new")
        ).collect()
        for case, r in zip(cases, rows):
            assert r["old"] == r["new"], (case, r["old"], r["new"])

    @pytest.mark.skipif(not os.path.isdir(SF01), reason="driver testdata absent")
    def test_token_count_whole_corpus_sweep(self, spark):
        """Zero rows differ between the two forms over the real corpus."""
        from adam_spark.llm.dedup import token_count

        df = spark.read.parquet(os.path.join(SF01, "documents.parquet"))
        old = F.size(F.filter(F.split(F.col("text"), " "), lambda t: t != F.lit("")))
        neq = df.select(
            old.eqNullSafe(token_count(F.col("text"))).alias("e")
        ).where(~F.col("e")).count()
        assert neq == 0


@pytest.mark.skipif(not os.path.isdir(SF01), reason="driver testdata absent")
class TestTokenizeHoist:
    """text_profile / gopher_quality hoist the shared tokenizations into
    one lower Project (CollapseProject keeps non-cheap aliases with >1
    reference, SPARK-36718). The hoist must change HOW OFTEN the arrays
    are built, never a value."""

    def test_text_profile_values_match_unhoisted_helpers(self, spark):
        from adam_spark.llm import text as T
        from adam_spark.llm.text import text_profile

        df = spark.read.parquet(os.path.join(SF01, "documents.parquet"))
        t = F.col("text")
        # the pre-hoist form: every helper tokenizes for itself
        ref = df.select(
            F.col("doc_id").alias("id"),
            F.length(t).cast("long").alias("n_chars"),
            F.size(F.filter(F.split(t, " "), lambda x: x != F.lit(""))).cast("long").alias("n_tokens"),
            F.size(F.array_distinct(F.filter(F.split(t, " "), lambda x: x != F.lit("")))).cast("long").alias("n_distinct_tokens"),
            T.bpe_ish_token_count(t).alias("n_bpe_tokens"),
            F.round(T.mean_word_length(t), 6).alias("mean_word_len"),
            F.round(T.stopword_ratio(t), 6).alias("stopword_ratio"),
            F.round(T.punctuation_ratio(t), 6).alias("punct_ratio"),
            T.quality_score(t).alias("quality"),
            T.language_id(t).alias("lang_guess"),
            T.doc_fingerprint(t).alias("fingerprint"),
            F.round(T.duplicate_line_fraction(t), 6).alias("dup_line_frac"),
            F.round(T.bullet_line_fraction(t), 6).alias("bullet_line_frac"),
            F.round(T.alpha_word_fraction(t), 6).alias("alpha_word_frac"),
            F.round(T.top_bigram_fraction(t), 6).alias("top_bigram_frac"),
        )
        got = text_profile(df)
        assert got.columns == ref.columns
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))

    def test_gopher_values_match_unhoisted_helpers(self, spark):
        from adam_spark.llm import text as T
        from adam_spark.llm.text import gopher_quality

        df = spark.read.parquet(os.path.join(SF01, "documents.parquet"))
        t = F.col("text")
        n_words = F.size(F.filter(F.split(t, " "), lambda x: x != F.lit(""))).cast("long")
        checks = {
            "ok_word_count": (n_words >= 50) & (n_words <= 100_000),
            "ok_mean_word_len": (T.mean_word_length(t) >= 3.0) & (T.mean_word_length(t) <= 10.0),
            "ok_symbol_ratio": T.symbol_word_ratio(t) <= 0.1,
            "ok_bullet_lines": T.bullet_line_fraction(t) <= 0.9,
            "ok_ellipsis_lines": T.ellipsis_line_fraction(t) <= 0.3,
            "ok_alpha_words": T.alpha_word_fraction(t) >= 0.8,
            "ok_stop_words": T.required_stopword_count(t) >= 2,
            "ok_dup_lines": T.duplicate_line_fraction(t) <= 0.3,
            "ok_dup_line_chars": T.duplicate_line_char_fraction(t) <= 0.2,
            "ok_top_2gram": T.top_ngram_fraction(t, 2) <= 0.20,
            "ok_top_3gram": T.top_ngram_fraction(t, 3) <= 0.18,
            "ok_top_4gram": T.top_ngram_fraction(t, 4) <= 0.16,
        }
        keep = F.lit(True)
        for c in checks.values():
            keep = keep & c
        ref = df.select(
            F.col("doc_id").alias("id"),
            n_words.alias("n_words"),
            *[v.alias(k) for k, v in checks.items()],
            keep.alias("keep"),
        )
        got = gopher_quality(df)
        assert got.columns == ref.columns
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))

    def test_hoist_survives_collapse_project(self, spark):
        """The optimized plan must build each shared array ONCE: at most
        one split per hoisted array (toks/ltoks/lines) instead of one
        per metric (~20 pre-hoist)."""
        from adam_spark.llm.text import gopher_quality, text_profile

        df = spark.read.parquet(os.path.join(SF01, "documents.parquet"))
        for q in (text_profile(df), gopher_quality(df)):
            plan = q._jdf.queryExecution().optimizedPlan().toString()
            assert plan.count("split(") <= 3, plan.count("split(")


@pytest.mark.skipif(not os.path.isdir(SF001), reason="driver testdata absent")
class TestBloomProbeWorkerHash:
    def test_worker_md5_positions_equal_catalyst_bucket(self, spark):
        """bloom_contains_ngrams now derives the k bucket positions in
        the Arrow worker (hashlib) instead of interpreted Catalyst
        expressions. Pin bit-equality of the two derivations over real
        corpus shingles, every hash row."""
        from hashlib import md5

        from adam_spark.llm.dedup import word_ngrams
        from adam_spark.llm.sketches import _bucket

        num_bits, k, seed = 8192, 5, "bloom"
        df = spark.read.parquet(os.path.join(SF001, "documents.parquet"))
        grams = df.select(
            F.explode(word_ngrams("text", 4)).alias("g")
        ).limit(2000)
        rows = grams.select(
            "g",
            F.array(
                *[_bucket(F.col("g"), F.lit(j), num_bits, seed) for j in range(k)]
            ).alias("pos"),
        ).collect()
        assert rows
        for r in rows:
            gb = r["g"].encode()
            want = [
                int(md5(f"{seed}{j}|".encode() + gb).hexdigest()[:7], 16) % num_bits
                for j in range(k)
            ]
            assert list(r["pos"]) == want, r["g"]

    def test_probe_verdicts_unchanged_on_contract_query(self, spark):
        """The entry's bloom_decontaminate_docs pipeline returns the
        identical (n_grams, n_maybe_hits, contaminated) rows it did
        with Catalyst-derived positions (the explode→bloom_contains
        parity pin in test_llm_ops covers the policy; this pins the
        full entry query end-to-end)."""
        import __spark_entry__ as e

        got = e.queries()["bloom_decontaminate_docs"](spark, SF001)
        rows = got.collect()
        assert len(rows) > 0
        # superset-of-exact property: contaminated iff n_maybe_hits >= 1
        for r in rows:
            assert r["contaminated"] == (r["n_maybe_hits"] >= 1)

    def test_worker_shingles_equal_catalyst_word_ngrams(self, spark):
        """bloom_contains_ngrams shingles in the worker. Pin the Python
        tokenize+shingle against Catalyst word_ngrams on real corpus
        text plus the edges the split form distinguishes (multi-space,
        tabs inside tokens, < n tokens, empty, NULL → empty set)."""
        from adam_spark.llm.dedup import word_ngrams

        n = 4
        df = spark.read.parquet(os.path.join(SF001, "documents.parquet")).select("text")
        extra = spark.createDataFrame(
            [(None,), ("",), (" ",), ("a b c",), ("a  b\tc d e  f ",)],
            "text string",
        )
        rows = df.union(extra).select(
            "text", word_ngrams("text", n).alias("grams")
        ).collect()
        assert rows
        for r in rows:
            txt = r["text"]
            if txt is None:
                want = []
            else:
                toks = [t for t in txt.split(" ") if t]
                want = (
                    list(dict.fromkeys(
                        " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
                    ))
                    if len(toks) >= n
                    else []
                )
            got = list(r["grams"]) if r["grams"] is not None else []
            assert got == want, (txt, got, want)


class TestClassifierOrderOneFeats:
    """hashed_classifier_score's order-1 features are now the token
    array itself (the old _grams(1) transform was an interpreted
    identity map). The only semantic seam is NULL text: _grams mapped
    it to [] while the raw token array is NULL — both explode to zero
    rows, pinned here for word_ngrams 1 and 2 alongside the
    empty/one-word edges."""

    def test_null_and_edge_texts_zero_rows(self, spark):
        from adam_spark.llm.text import hashed_classifier_score

        docs = spark.createDataFrame(
            [(1, None), (2, ""), (3, " "), (4, "a"), (5, "a b")],
            "doc_id long, text string",
        )
        weights = spark.createDataFrame([], "bucket string, weight long")
        for ng in (1, 2):
            rows = {
                r["id"]: (r["n_tokens"], r["feat_hits"], r["score_sum"])
                for r in hashed_classifier_score(
                    docs, weights, word_ngrams=ng
                ).collect()
            }
            # every doc keeps its row; NULL/empty text scores zeros
            assert set(rows) == {1, 2, 3, 4, 5}
            assert rows[1] == (0, 0, 0)
            assert rows[2] == (0, 0, 0)
            assert rows[3] == (0, 0, 0)
            assert rows[4][0] == 1 and rows[5][0] == 2

    def test_no_transform_at_order_one(self, spark):
        """The optimized plan carries NO higher-order transform for
        unigram features (the identity map is gone)."""
        from adam_spark.llm.text import hashed_classifier_score

        docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        weights = spark.createDataFrame([("abc", 1)], "bucket string, weight long")
        plan = (
            hashed_classifier_score(docs, weights)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert "transform(" not in plan, plan


class TestClipParseNullifForm:
    """five_prime_position/unclipped_start/unclipped_end now nullif the
    regexp_extract's no-match '' BEFORE try_cast (try_cast('') throws
    and catches an ANSI cast exception internally per row — measured
    15µs/row, 4.4 s → 0.56 s over sf0.1 markdup input). Pin the clip
    arithmetic over every edge the '' branch distinguishes."""

    def test_clip_arithmetic_battery(self, spark):
        from adam_spark.operators.mark_duplicates import (
            five_prime_position,
            unclipped_end,
            unclipped_start,
        )

        rows = [
            # cigar, start, end, neg, want_fp, want_ustart, want_uend
            ("50M", 100, 150, False, 100, 100, 150),
            ("50M", 100, 150, True, 150, 100, 150),
            ("5S45M", 100, 145, False, 95, 95, 145),
            ("5H10S20M", 100, 120, False, 85, 85, 120),
            ("20M3S", 100, 120, True, 123, 100, 123),
            ("20M2S3H", 100, 120, True, 125, 100, 125),
            ("3H20M4H", 100, 120, False, 97, 97, 124),
            (None, 100, 120, False, 100, 100, 120),
        ]
        df = spark.createDataFrame(
            [(c, s, e, n) for c, s, e, n, *_ in rows],
            "cigar string, start long, end long, neg boolean",
        )
        got = df.select(
            five_prime_position("start", "end", "cigar", "neg").alias("fp"),
            unclipped_start("start", "cigar").alias("us"),
            unclipped_end("end", "cigar").alias("ue"),
        ).collect()
        for r, (c, s, e, n, fp, us, ue) in zip(got, rows):
            assert (r["fp"], r["us"], r["ue"]) == (fp, us, ue), (c, n, r)


class TestLanguageIdFold:
    """language_id now counts every language's stopword hits in ONE
    fold (struct accumulator) instead of one interpreted filter pass
    per language, and text_profile hoists the fold so the 10-reference
    CASE chain evaluates it once. Values must be bit-identical to the
    old per-language filter form."""

    def _old_form(self, text):
        from adam_spark.llm.text import STOPWORDS, tokens

        toks = tokens(F.lower(text))
        best_lang = F.lit("und")
        best_hits = F.lit(0)
        for lang in sorted(STOPWORDS):
            sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
            hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
            improved = hits > best_hits
            best_lang = F.when(improved, F.lit(lang)).otherwise(best_lang)
            best_hits = F.when(improved, hits).otherwise(best_hits)
        return best_lang

    def test_edge_battery(self, spark):
        from adam_spark.llm.text import language_id

        docs = spark.createDataFrame(
            [
                (1, None),  # NULL text -> 'und' (NULL counts never improve)
                (2, ""),
                (3, " "),
                (4, "the"),
                (5, "the the the el la de"),  # repeats count per occurrence
                (6, "xthe they anthem"),  # substrings are not hits
                (7, "the\nand"),  # newline is token-internal (space split)
                (8, "  the  "),
                (9, "de de de"),  # es/fr tie on 'de' -> es (sorted-first)
                (10, "der die das und la le"),
                (11, "THE AND OF"),  # vote is over lower(text)
                (12, "le5 de5 shi4"),
            ],
            "doc_id long, text string",
        )
        rows = docs.select(
            self._old_form(F.col("text")).alias("old"),
            language_id(F.col("text")).alias("new"),
        ).collect()
        for r in rows:
            assert r["old"] == r["new"], (r["old"], r["new"])

    @pytest.mark.skipif(not os.path.isdir(SF01), reason="driver testdata absent")
    def test_whole_corpus_zero_diffs(self, spark):
        from adam_spark.llm.text import language_id

        df = spark.read.parquet(os.path.join(SF01, "documents.parquet"))
        neq = df.select(
            self._old_form(F.col("text"))
            .eqNullSafe(language_id(F.col("text")))
            .alias("e")
        ).where(~F.col("e")).count()
        assert neq == 0

    def test_profile_hoist_single_fold(self, spark):
        """text_profile's optimized plan carries exactly ONE language
        fold (the hoisted __lc alias), not ten inlined copies."""
        from adam_spark.llm.text import text_profile

        docs = spark.createDataFrame(
            [(1, "the a of and the")], "doc_id long, text string"
        )
        plan = (
            text_profile(docs)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        # the de stopword list appears ONLY inside the language fold
        # (stopword_ratio reuses the en list), so its occurrence count
        # is the number of fold copies in the plan
        assert plan.count("[der,die,das,und,zu,den,von,ist]") == 1, plan
