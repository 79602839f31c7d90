"""Round-14 optimization pins.

Each test pins an optimization's SEMANTIC invariant: the fast path must
change plans/partitioning only, never values.
"""

import os

import pytest
from pyspark.sql import functions as F


SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


@pytest.mark.skipif(not os.path.isdir(SF01), reason="driver testdata absent")
class TestKmeansInvariants:
    """r14: a localCheckpoint of the (id, vec) projection was measured
    and REVERTED (slower at sf0.1 — the eager materialization job costs
    more than the per-iteration re-scans it saves; numbers at the
    kmeans_centroids call site). These pins hold for any future retry:
    no persistent-RDD blocks may leak, and the centroids must be
    deterministic and exactly the per-cluster means."""

    def test_centroids_deterministic_and_storage_released(self, spark):
        from adam_spark.llm.similarity import kmeans_centroids
        from adam_spark.sources.tables import load_table

        emb = load_table(spark, SF01, "embeddings")
        sc = spark.sparkContext
        before = {int(i) for i in sc._jsc.getPersistentRDDs().keySet()}
        c1 = kmeans_centroids(emb, k=4, iters=2).collect()
        after = {int(i) for i in sc._jsc.getPersistentRDDs().keySet()}
        leaked = after - before
        assert not leaked, f"kmeans left checkpoint blocks pinned: {leaked}"
        c2 = kmeans_centroids(emb, k=4, iters=2).collect()
        assert [
            (r["cent_id"], tuple(r["cent_vec"])) for r in sorted(c1, key=lambda r: r["cent_id"])
        ] == [
            (r["cent_id"], tuple(r["cent_vec"])) for r in sorted(c2, key=lambda r: r["cent_id"])
        ]

    def test_one_iteration_exact_means_via_checkpoint(self, spark):
        """One Lloyd iteration from the first-k seeds must equal the
        numpy reference computed from the SAME rows — the checkpoint
        must not change which rows feed which assignment."""
        import numpy as np

        from adam_spark.llm.similarity import kmeans_centroids
        from adam_spark.sources.tables import load_table

        emb = load_table(spark, SF01, "embeddings").limit(200)
        rows = emb.orderBy("vec_id").collect()
        vecs = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
        k = 3
        seeds = vecs[:k]
        cn = seeds / np.maximum(np.linalg.norm(seeds, axis=1), 1e-12)[:, None]
        vn = vecs / np.maximum(np.linalg.norm(vecs, axis=1), 1e-12)[:, None]
        cid = np.argmax(vn @ cn.T, axis=1)
        expect = np.stack(
            [
                vecs[cid == i].mean(axis=0) if (cid == i).any() else seeds[i]
                for i in range(k)
            ]
        )
        got = kmeans_centroids(emb, k=k, iters=1).orderBy("cent_id").collect()
        got_m = np.asarray([r["cent_vec"] for r in got], dtype=np.float64)
        assert np.allclose(got_m, expect, atol=1e-9)


@pytest.mark.skipif(not os.path.isdir(SF001), reason="driver testdata absent")
class TestWinnowingHoist:
    """r14: winnowing_fingerprints hoists the normalized text and the
    k-gram hash array into a lower Project. Referenced inline, the
    window-min lambda re-evaluated the whole md5 transform per window
    position (higher-order fns are CodegenFallback — no subexpression
    sharing), making the operator QUADRATIC in document length
    (measured: one sf0.001 ANSI collect took 362 s; hoisted, 7 s)."""

    def test_plan_builds_hash_array_once(self, spark):
        from adam_spark.llm.text import winnowing_fingerprints
        from adam_spark.sources.tables import load_table

        df = winnowing_fingerprints(
            load_table(spark, SF001, "documents")
        )
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("md5(") == 1, "k-gram hashing must appear once"
        assert plan.count("lower(") == 1, "normalization must appear once"

    def test_hoisted_matches_reference_fingerprints(self, spark):
        """Winnowing of crafted docs (short/exact-window/long/empty/
        NULL) must equal a direct python reference of the published
        algorithm — guards the hoist AND the short-doc fallbacks."""
        import hashlib

        from adam_spark.llm.text import winnowing_fingerprints

        k, window = 8, 4
        docs = [
            (1, "The quick brown fox jumps over the lazy dog again"),
            (2, "exactly11ch"),   # n_grams = 4 == window
            (3, "tiny"),          # shorter than k → no fingerprints
            (4, "ninechars"),     # n_grams = 2 < window → global min
            (5, ""),
            (6, None),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            (r["id"], r["fingerprint"])
            for r in winnowing_fingerprints(df, k=k, window=window).collect()
        }

        def h(s):
            return int(hashlib.md5(s.encode()).hexdigest()[:7], 16)

        expect = set()
        for i, text in docs:
            if not text:
                continue
            t = text.lower()
            hs = [h(t[p : p + k]) for p in range(len(t) - k + 1)]
            if not hs:
                continue
            if len(hs) >= window:
                for p in range(len(hs) - window + 1):
                    expect.add((i, min(hs[p : p + window])))
            else:
                expect.add((i, min(hs)))
        assert got == expect


@pytest.mark.skipif(not os.path.isdir(SF01), reason="driver testdata absent")
class TestTokenizeBelowRepartition:
    """r14: minhash/simhash id-partition the RAW frame below the
    tokenize projection, so the interpreted split/array_distinct runs
    post-exchange on every core and the exchange ships pruned raw
    columns instead of token arrays. Row-identical — same hash key,
    same partition count, only the projection site moves."""

    def test_simhash_tokenize_above_exchange(self, spark):
        from adam_spark.llm.dedup import simhash
        from adam_spark.sources.tables import load_table

        df = simhash(load_table(spark, SF01, "documents"), "doc_id")
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        # optimizedPlan prints top-down: the tokenize project must sit
        # ABOVE (before) the repartition, i.e. evaluate after it
        assert "RepartitionByExpression" in plan
        assert plan.index("array_distinct(") < plan.index(
            "RepartitionByExpression"
        )

    def test_text_level_emptiness_guard_equivalence(self, spark):
        """The r14 text-level guards (token_count(text) ≥ n replacing
        size(shingles) > 0, which predicate-pushdown re-tokenized below
        the exchange) must exclude exactly the same rows: NULL text,
        empty text, whitespace-only text, and (for n-gram shingles)
        documents with fewer than n tokens."""
        from adam_spark.llm.dedup import (
            minhash_lsh_pairs,
            minhash_lsh_pairs_between,
            simhash,
        )

        docs = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta"),
                (2, "alpha beta gamma delta"),
                (3, None),
                (4, ""),
                (5, "   "),          # spaces only → zero tokens
                (6, "solo"),         # one token: below any n ≥ 2
                (7, "\talpha"),      # tab is part of a token (split on ' ')
            ],
            "doc_id long, text string",
        )
        fps = simhash(docs, "doc_id").collect()
        assert sorted(r["id"] for r in fps) == [1, 2, 6, 7]
        pairs = minhash_lsh_pairs(docs, "doc_id", bands=8, threshold=0.8).collect()
        assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}
        # n-gram shingles: doc 6 (one token) has no 2-grams → excluded
        pairs2 = minhash_lsh_pairs(
            docs, "doc_id", shingle_ngram=2, bands=8, threshold=0.8
        ).collect()
        assert {(r["id_a"], r["id_b"]) for r in pairs2} == {(1, 2)}
        between = minhash_lsh_pairs_between(
            docs.where(F.col("doc_id") % 2 == 1),
            docs.where(F.col("doc_id") % 2 == 0),
            id_col="doc_id", bands=8, threshold=0.8,
        ).collect()
        assert {(r["id_new"], r["id_ref"]) for r in between} == {(1, 2)}

    def test_minhash_base_partitioned_once(self, spark):
        """minhash_signatures(repartition=False) must not stack a
        second exchange over a pre-partitioned base."""
        from adam_spark.llm.dedup import minhash_lsh_pairs
        from adam_spark.sources.tables import load_table

        pairs = minhash_lsh_pairs(
            load_table(spark, SF01, "documents"), "doc_id",
            bands=8, threshold=0.9,
        )
        plan = pairs._jdf.queryExecution().optimizedPlan().toString()
        # one repartition per base consumer (sigs + 2 broadcast sides),
        # never two stacked for the signature path alone
        assert "RepartitionByExpression" in plan


class TestQuantizeMaxabsHoist:
    """r14: quantize_embeddings hoists max(abs(v)) into a lower
    Project. Referenced inline inside the per-element lambda, the
    array_max fold re-evaluated per element — O(dim²) per row."""

    def test_plan_folds_maxabs_once(self, spark):
        from adam_spark.llm.similarity import quantize_embeddings

        df = spark.createDataFrame(
            [(1, [1.0, -2.0, 0.5])], "vec_id long, embedding array<double>"
        )
        plan = quantize_embeddings(df)._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("array_max(") == 1

    def test_quantization_values_and_edges(self, spark):
        from adam_spark.llm.similarity import quantize_embeddings

        df = spark.createDataFrame(
            [
                (1, [1.0, -2.0, 0.5]),
                (2, [0.0, 0.0]),       # all-zero → scale 0, q = 0
                (3, None),             # null passthrough
            ],
            "vec_id long, embedding array<double>",
        )
        rows = {r["id"]: r for r in quantize_embeddings(df).collect()}
        assert rows[1]["qvec"] == [64, -127, 32]
        assert rows[1]["scale"] == 2.0 / 127.0
        assert rows[2]["qvec"] == [0, 0] and rows[2]["scale"] == 0.0
        assert rows[3]["qvec"] is None and rows[3]["scale"] is None
