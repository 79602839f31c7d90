"""LLM-pipeline operators on the real testdata documents/embeddings."""

import contextlib
import math
import os
import re

import numpy as np
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from adam_spark.llm.dedup import (
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_duplicates,
)
from adam_spark.llm.multimodal import extract_features, sample_frames, MEDIA
from adam_spark.llm.similarity import cosine, cosine_topk, cosine_topk_numpy, ivf_topk
from adam_spark.llm.text import text_profile
from adam_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents").cache()


@pytest.fixture(scope="module")
def embs(spark):
    return load_table(spark, SF, "embeddings").cache()


@contextlib.contextmanager
def no_auto_broadcast(spark):
    """Catalyst plans every join without a hint as a shuffle join inside
    the block: the session's auto-broadcast threshold is -1 there and
    restored after."""
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)


def sort_merge_join_keys(df: DataFrame) -> list[str]:
    """The left join keys of each SortMergeJoin in ``df``'s initial
    physical plan, attribute ids stripped (``lkey#12`` → ``lkey``)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [
        re.sub(r"#\d+L?", "", keys)
        for keys in re.findall(r"SortMergeJoin \[([^\]]*)\]", plan)
    ]


def test_word_ngrams_and_has_min_tokens_match_python(spark, docs):
    """The shingles and emptiness guard minhash builds equal a Python
    tokenize+shingle on edge-case texts and on the corpus, for the
    distinct-token (n == 1) and n-gram forms: NULL text → empty set,
    guard NULL (falsy)."""
    from adam_spark.llm.dedup import has_min_tokens, word_ngrams

    edge = spark.createDataFrame(
        [(None,), ("",), (" ",), ("a",), ("  a  b ",), ("a b a b c",), ("x  y z w",)],
        "text string",
    )
    for df in (edge, docs.select("text")):
        for n in (1, 2, 3):
            rows = df.select(
                "text",
                word_ngrams("text", n).alias("sh"),
                has_min_tokens("text", n).alias("ok"),
            ).collect()
            for r in rows:
                toks = [] if r["text"] is None else [t for t in r["text"].split(" ") if t]
                want = list(dict.fromkeys(
                    " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
                ))
                assert r["sh"] == want, (n, r["text"])
                assert r["ok"] == (None if r["text"] is None else len(toks) >= n), (n, r["text"])


def test_minhash_lsh_equals_bruteforce(docs):
    lsh = minhash_lsh_pairs(docs, "doc_id", threshold=0.8)
    brute = ngram_jaccard_pairs(docs, "doc_id", threshold=0.8)
    a = sorted((r["id_a"], r["id_b"], r["jaccard"]) for r in lsh.collect())
    b = sorted((r["id_a"], r["id_b"], r["jaccard"]) for r in brute.collect())
    assert len(b) > 0, "fixture should contain near-duplicate docs at J>=0.8"
    assert a == b


def test_exact_duplicates(docs):
    out = exact_duplicates(docs, "doc_id").collect()
    assert len(out) == docs.count()
    # canonical is the min id of its group and never a duplicate itself
    by_fp = {}
    for r in out:
        by_fp.setdefault(r["fingerprint"], []).append(r)
    for fp, rows in by_fp.items():
        canon = min(r["id"] for r in rows)
        for r in rows:
            assert r["canonical_id"] == canon
            assert r["is_duplicate"] == (r["id"] != canon)


def test_simhash_groups_subset_of_high_jaccard(docs):
    out = simhash_duplicates(docs, "doc_id").collect()
    assert len(out) == docs.count()
    fps = {}
    for r in out:
        fps.setdefault(r["simhash"], set()).add(r["id"])
    assert all(0 <= r["simhash"] < 2**16 for r in out)


def test_text_profile_oracle(docs):
    rows = text_profile(docs).orderBy("id").limit(30).collect()
    raw = {r["doc_id"]: r["text"] for r in docs.limit(200).collect()}
    for r in rows:
        t = raw[r["id"]]
        toks = [x for x in t.split(" ") if x]
        assert r["n_tokens"] == len(toks)
        assert r["n_distinct_tokens"] == len(set(toks))
        assert r["n_chars"] == len(t)
        assert abs(r["mean_word_len"] - sum(map(len, toks)) / len(toks)) < 1e-6


def test_cosine_topk_matches_numpy(embs):
    queries = embs.where(F.col("vec_id") < 5)
    got = cosine_topk(embs, queries, k=5).collect()
    mat = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in embs.collect()}
    for qid in range(5):
        q = mat[qid]
        sims = sorted(
            (
                (-(q @ v) / (np.linalg.norm(q) * np.linalg.norm(v)), nid)
                for nid, v in mat.items()
                if nid != qid
            ),
        )[:5]
        want = [nid for _, nid in sims]
        rows = sorted((r for r in got if r["query_id"] == qid), key=lambda r: r["rank"])
        assert [r["neighbor_id"] for r in rows] == want


def test_cosine_topk_numpy_path_matches(embs):
    queries = [(r["vec_id"], list(r["embedding"])) for r in embs.where("vec_id < 5").collect()]
    got_np = cosine_topk_numpy(embs, queries, k=5).collect()
    got_df = cosine_topk(embs, embs.where("vec_id < 5"), k=5).collect()
    a = sorted((r["query_id"], r["rank"], r["neighbor_id"]) for r in got_np)
    b = sorted((r["query_id"], r["rank"], r["neighbor_id"]) for r in got_df)
    assert a == b


def test_ivf_recall(embs):
    exact = cosine_topk(embs, embs.where("vec_id < 10"), k=5).collect()
    approx = ivf_topk(embs, embs.where("vec_id < 10"), k=5, n_centroids=8, n_probe=4).collect()
    ex = {}
    ap = {}
    for r in exact:
        ex.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in approx:
        ap.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(ex[q] & ap.get(q, set())) / len(ex[q]) for q in ex]
    assert sum(recalls) / len(recalls) > 0.5  # probing half the buckets


def embedding_near_duplicates_bruteforce(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs near-dup (the small-N validation oracle).

    O(N²) broadcast cross join — correct at any threshold but never the
    scale path; :func:`embedding_near_duplicates` is.
    """
    shuffle_parts = int(corpus.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    a = corpus.repartition(shuffle_parts).select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
    )
    b = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.crossJoin(F.broadcast(b))
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("sim"))
        .where(F.col("sim") >= F.lit(threshold))
        .select("id_a", "id_b", F.round("sim", 6).alias("sim"))
    )


def test_embedding_near_dup_lsh_matches_bruteforce(embs):
    from adam_spark.llm.similarity import embedding_near_duplicates

    lsh = embedding_near_duplicates(embs, threshold=0.4, dim=64)
    brute = embedding_near_duplicates_bruteforce(embs, threshold=0.4)
    a = sorted((r["id_a"], r["id_b"]) for r in lsh.collect())
    b = sorted((r["id_a"], r["id_b"]) for r in brute.collect())
    assert len(b) > 0, "fixture should contain pairs at cos>=0.4"
    # banding P(miss) <= 1% per pair at tuned defaults; on this small
    # fixture the candidate set must recover every true pair
    assert a == b
    # the LSH path must never cross-join: band equi-join + verify re-join
    plan = lsh._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_embedding_near_dup_join_verify_matches_fused(embs, monkeypatch):
    """Both strategies (fused kernel vs band join + re-join verify) emit
    the identical pair set — the over-cap path must not change
    semantics."""
    from adam_spark.llm import similarity as S

    fused = sorted(
        (r["id_a"], r["id_b"], r["sim"])
        for r in S.embedding_near_duplicates(embs, threshold=0.4, dim=64).collect()
    )
    monkeypatch.setattr(S, "FUSED_CAP_BYTES", 0)
    joined = sorted(
        (r["id_a"], r["id_b"], r["sim"])
        for r in S.embedding_near_duplicates(embs, threshold=0.4, dim=64).collect()
    )
    assert fused == joined


def test_near_dup_fused_path_has_no_join(spark):
    """At dense banding (threshold 0.4 → 30 bands × 4 bits) the fused
    kernel must plan as a single mapInPandas over a range — no band
    equi-join, no exchange, no Python-UDF candidate stream (the join
    built a near-all-pairs stream only to re-derive what one blocked
    compare computes in place)."""
    from adam_spark.llm.similarity import embedding_near_duplicates

    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(40)]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = embedding_near_duplicates(embs, threshold=0.4, dim=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    for node in ("Join", "Exchange", "BatchEvalPython", "ArrowEvalPython"):
        assert node not in plan, f"fused path must not contain {node}"
    # sparse banding (high threshold) keeps the generate→verify join
    out2 = embedding_near_duplicates(embs, threshold=0.95, dim=8)
    assert "Join" in out2._jdf.queryExecution().executedPlan().toString()


def test_near_dup_strategies_on_planted_pairs(spark, monkeypatch):
    """r = 8 (threshold 0.7) takes the fused kernel, r = 16 (0.9) the
    band join; on a corpus with planted pairs at cosine ≥ 0.9 both
    default paths, the forced join path and the all-pairs oracle return
    the same rows."""
    from adam_spark.llm import similarity as S

    assert S.srp_params(0.7)[0] == 8 and S.srp_params(0.9)[0] == 16
    rng = np.random.default_rng(11)
    rows = []
    for i in range(150):
        v = rng.normal(size=32)
        rows.append((2 * i, [float(x) for x in v]))
        if i < 12:  # planted partner: cosine ≈ 0.99
            w = v + rng.normal(scale=0.1, size=32)
            rows.append((2 * i + 1, [float(x) for x in w]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def pairs(df):
        return {(r["id_a"], r["id_b"]): r["sim"] for r in df.collect()}

    def same(got, want):
        # numpy and the Catalyst fold sum in different orders, so the
        # 6-dp sims may differ in the last digit
        assert sorted(got) == sorted(want)
        assert all(abs(got[k] - want[k]) <= 2e-6 for k in want)

    fused = S.embedding_near_duplicates(corpus, threshold=0.7, dim=32)
    plan = fused._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "Join" not in plan, plan
    defaults = {0.7: pairs(fused), 0.9: pairs(S.embedding_near_duplicates(corpus, 0.9, dim=32))}
    monkeypatch.setattr(S, "FUSED_CAP_BYTES", 0)
    planted = {(2 * i, 2 * i + 1) for i in range(12)}
    for t, got in defaults.items():
        brute = pairs(embedding_near_duplicates_bruteforce(corpus, threshold=t))
        assert planted <= set(brute)
        same(got, brute)
        same(pairs(S.embedding_near_duplicates(corpus, t, dim=32)), brute)


def test_srp_params_pinned():
    """The (rows_per_band, bands) srp_params picks per threshold. The
    64-band clamp binds at 0.6 (the 1%-miss formula asks for 76) and
    at 0.8 (181); embedding_near_dup rows depend on these values."""
    from adam_spark.llm.similarity import srp_params

    got = {t: srp_params(t) for t in (0.4, 0.6, 0.7, 0.8, 0.9, 0.95)}
    assert got == {
        0.4: (4, 30), 0.6: (8, 64), 0.7: (8, 48),
        0.8: (16, 64), 0.9: (16, 55), 0.95: (16, 26),
    }


def test_srp_band_hashes_runs_projection_once(spark):
    """The projection UDF appears once in the executed plan: a plain
    posexplode lets Catalyst push an inferred size() filter under a
    second copy of it."""
    from adam_spark.llm.similarity import srp_band_hashes, srp_params

    rng = np.random.default_rng(2)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    r, b = srp_params(0.9)
    hashed = srp_band_hashes(df, "vec_id", "embedding", 16, r, b)
    assert hashed.count() == 20 * b
    plan = hashed._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan


def test_srp_prunes_at_high_threshold(spark):
    """Planted near-dups: candidates << all pairs at threshold 0.9."""
    import random

    from adam_spark.llm.similarity import srp_band_hashes, srp_params

    rng = random.Random(3)
    rows = []
    for i in range(200):
        v = [rng.gauss(0, 1) for _ in range(32)]
        rows.append((2 * i, v))
        if i < 10:  # plant 10 near-dup partners
            rows.append((2 * i + 1, [x + rng.gauss(0, 0.02) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    r, b = srp_params(0.9)
    hashed = srp_band_hashes(df, "vec_id", "embedding", 32, r, b)
    x = hashed.selectExpr("id as id_a", "band", "band_hash")
    y = hashed.selectExpr("id as id_b", "band", "band_hash")
    cand = (
        x.join(y, ["band", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    n_cand = cand.count()
    n_all = 210 * 209 // 2
    assert n_cand < n_all * 0.05, f"no pruning: {n_cand}/{n_all}"
    # every planted pair is a candidate
    got = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    for i in range(10):
        assert (2 * i, 2 * i + 1) in got


def test_multimodal_features(spark):
    rows = [
        (1, "image", "image/fake", bytes([1, 2, 3, 9, 9]), 4, 4, None, None),
        (2, "video", "video/fake", bytes(range(100)), 16, 16, 3500, None),
        (3, "audio", "audio/fake", None, None, None, 2000, 16000),
    ]
    media = spark.createDataFrame(rows, schema=MEDIA)
    feats = {r["asset_id"]: r for r in extract_features(media, dim=4).collect()}
    assert feats[1]["n_bytes"] == 5
    assert abs(sum(feats[1]["feature"]) - 1.0) < 1e-6
    assert feats[3]["n_bytes"] == 0
    frames = sample_frames(media, every_ms=1000).collect()
    assert [(r["frame_idx"], r["ts_ms"]) for r in frames] == [(0, 0), (1, 1000), (2, 2000), (3, 3000)]
    from adam_spark.llm.multimodal import decode_image

    # all four probed formats decode for real now; malformed /
    # truncated streams are a ValueError, unknown magic likewise
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8jpegjpeg")  # JPEG magic, no segments
    with pytest.raises(ValueError):
        decode_image(b"GIF89a\x00\x00\x00\x00\x00\x00\x3b")  # no frame
    with pytest.raises(ValueError):
        decode_image(b"x")


def test_winnowing_fingerprints(spark):
    from adam_spark.llm.text import winnowing_fingerprints

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "entirely unrelated text with other words"),
            (4, "ab"),  # shorter than k -> no fingerprints
        ],
        "doc_id long, text string",
    )
    fp = winnowing_fingerprints(df, k=8, window=4)
    by = {}
    for r in fp.collect():
        by.setdefault(r["id"], set()).add(r["fingerprint"])
    assert by[1] == by[2]  # identical docs -> identical fingerprint sets
    assert not (by[1] & by[3])  # unrelated docs share nothing (w.h.p.)
    assert 4 not in by
    # guarantee: any substring of length >= k+window-1 shares a fingerprint
    df2 = spark.createDataFrame(
        [(5, "xxxx the quick brown fox jumps yyyy")], "doc_id long, text string"
    )
    fp2 = {r["fingerprint"] for r in winnowing_fingerprints(df2, k=8, window=4).collect()}
    assert by[1] & fp2


def test_multimodal_resize(spark):
    from adam_spark.llm.multimodal import MEDIA, resize_images

    rows = [
        (1, "image", "image/png", bytes(range(100)), 10, 10, None, None),
        (2, "video", "video/mp4", b"\x00" * 50, None, None, 5000, None),
    ]
    df = spark.createDataFrame(rows, MEDIA)
    out = resize_images(df, 4, 4).collect()
    assert len(out) == 1  # video row filtered
    r = out[0]
    assert r["width"] == 4 and r["height"] == 4
    assert len(r["data"]) == 16
    # deterministic: resampled from the source bytes
    assert resize_images(df, 4, 4).collect()[0]["data"] == r["data"]


def test_kmeans_ivf_improves_recall(embs):
    """k-means centroids must beat (or match) naive first-N centroids
    for IVF recall at equal probe budget, and empty clusters must not
    crash the trainer."""
    from adam_spark.llm.similarity import cosine_topk, ivf_topk, kmeans_centroids

    cents = kmeans_centroids(embs, k=8, iters=3)
    assert cents.count() == 8
    queries = embs.where("vec_id < 10")
    exact = cosine_topk(embs, queries, k=5).collect()
    trained = ivf_topk(embs, queries, k=5, n_probe=4, centroids=cents).collect()
    ex, tr = {}, {}
    for r in exact:
        ex.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in trained:
        tr.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recall = sum(len(ex[q] & tr.get(q, set())) / len(ex[q]) for q in ex) / len(ex)
    assert recall > 0.5


def test_verify_broadcast_auto_plan_shapes(docs, monkeypatch):
    """The verify join picks broadcast vs shuffle from the measured
    shingle-table size estimate — both plan shapes pinned here, and
    both strategies emit the same rows."""
    import adam_spark.llm.dedup as dd

    # small corpus: estimate is far under the cap -> broadcast pinned
    small = minhash_lsh_pairs(docs, "doc_id")
    plan_small = small._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_small or "BroadcastExchange" in plan_small
    ref = small.collect()

    # force the cap below any real estimate -> verify join must shuffle
    monkeypatch.setattr(dd, "VERIFY_BROADCAST_CAP_BYTES", 0)
    plan_big = dd.minhash_lsh_pairs(docs, "doc_id")._jdf.queryExecution().executedPlan().toString()
    # the two verify-side joins on id_a/id_b must no longer be broadcast;
    # the band self-join never was. AQE may still broadcast tiny runtime
    # sides, so assert on the *initial* (pre-AQE) physical plan string.
    assert plan_big != plan_small
    res = dd.minhash_lsh_pairs(docs, "doc_id").collect()
    assert sorted(map(tuple, res)) == sorted(map(tuple, ref))


def test_repeated_minhash_calls_share_one_cache_entry(spark, docs):
    """The banded-table persist is plain ``persist()``: repeating a call
    on the same corpus reuses the CacheManager's one entry instead of
    adding a new one per call."""
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    rows = [
        sorted(map(tuple, minhash_lsh_pairs(docs, "doc_id").collect()))
        for _ in range(3)
    ]
    assert cm.numCachedEntries() == 1
    assert rows[0] == rows[1] == rows[2]
    spark.catalog.clearCache()


def test_duplicate_clusters(docs, spark):
    """Transitive closure: A~B, B~C (never A~C as a pair) must land in
    one cluster with min-id canonical; singletons keep their own id."""
    from adam_spark.llm.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    out = {r["id"]: r for r in duplicate_clusters(pairs).collect()}
    assert {n: out[n]["cluster_id"] for n in sorted(out)} == {
        1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 23: 20,
    }
    assert out[1]["is_duplicate"] is False and out[3]["is_duplicate"] is True

    ids = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 99)], "doc_id long")
    with_singles = {r["id"]: r["cluster_id"] for r in duplicate_clusters(pairs.where("id_a < 11"), all_ids=ids).collect()}
    assert with_singles[99] == 99 and with_singles[3] == 1


def test_duplicate_clusters_bounded_storage(spark):
    """Iteration checkpoints are RELEASED: a long chain graph (diameter
    forces many label-propagation rounds) must finish with O(1)
    persistent RDDs, not one pinned localCheckpoint per round."""
    from adam_spark.llm.dedup import duplicate_clusters

    sc = spark.sparkContext
    # a 30-node path: labels hop one edge per round, so convergence takes
    # ~30 rounds — plenty of checkpoints to leak if the release is gone
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    before = {int(i) for i in sc._jsc.getPersistentRDDs().keySet()}
    out = duplicate_clusters(chain, max_iters=40)
    rows = out.collect()
    after = {int(i) for i in sc._jsc.getPersistentRDDs().keySet()}
    # allowed to keep: the final round's checkpoint (what `out` reads).
    # Anything close to the ~30-round count means the release is gone.
    leaked = len(after - before)
    assert leaked <= 3, f"{leaked} persistent RDDs left behind"
    # and the released checkpoints must not have corrupted the result
    assert all(r["cluster_id"] == 0 for r in rows) and len(rows) == 31


def test_probe_media_real_headers(spark):
    """Header-level probing is REAL (no codec libs): PNG/GIF/BMP/JPEG
    dims and WAV sample-rate/duration parse from hand-built binaries."""
    import struct

    from adam_spark.llm.multimodal import MEDIA, probe_media

    png = b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\rIHDR" + struct.pack(">II", 640, 480) + b"\x08\x02" + b"\x00" * 20
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 10
    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 100, -50) + b"\x00" * 10
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9  # APP0 (len incl. its own 2 bytes)
        + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" + struct.pack(">HH", 768, 1024) + b"\x03" + b"\x00" * 9
    )
    wav = (
        b"RIFF" + struct.pack("<I", 36 + 32000) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + struct.pack("<HH", 1, 1) + struct.pack("<II", 16000, 32000) + struct.pack("<HH", 2, 16)
        + b"data" + struct.pack("<I", 32000) + b"\x00" * 8
    )
    rows = [
        (1, "image", "image/png", bytearray(png), None, None, None, None),
        (2, "image", "image/gif", bytearray(gif), None, None, None, None),
        (3, "image", "image/bmp", bytearray(bmp), None, None, None, None),
        (4, "image", "image/jpeg", bytearray(jpeg), None, None, None, None),
        (5, "audio", "audio/wav", bytearray(wav), None, None, None, None),
        (6, "image", "image/x", bytearray(b"NOTAFORMAT__"), None, None, None, None),
    ]
    out = {r["asset_id"]: r for r in probe_media(spark.createDataFrame(rows, MEDIA)).collect()}
    assert (out[1]["format"], out[1]["width"], out[1]["height"]) == ("png", 640, 480)
    assert (out[2]["format"], out[2]["width"], out[2]["height"]) == ("gif", 320, 200)
    assert (out[3]["format"], out[3]["width"], out[3]["height"]) == ("bmp", 100, 50)
    assert (out[4]["format"], out[4]["width"], out[4]["height"]) == ("jpeg", 1024, 768)
    assert (out[5]["format"], out[5]["sample_rate"], out[5]["duration_ms"]) == ("wav", 16000, 1000)
    assert out[6]["format"] == "unknown"


def test_repetition_and_quality_signals(spark):
    """Gopher-style signals on crafted text: top-bigram coverage,
    duplicate/bullet line fractions, alpha-word fraction."""
    from adam_spark.llm.text import text_profile

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),
            (2, "x\ny\nx\n- item\n- item2"),
            (3, "1 2 3 abc"),
        ],
        "doc_id long, text string",
    )
    r = {x["id"]: x for x in text_profile(df).collect()}
    assert r[1]["top_bigram_frac"] == 1.0  # 'a b' x3 over 6 tokens
    assert r[2]["dup_line_frac"] == 0.2  # 5 lines, 4 distinct
    assert r[2]["bullet_line_frac"] == 0.4
    assert r[3]["alpha_word_frac"] == 0.25


def test_corpus_stats(spark):
    """Per-source rollup: dup counting, token totals, language diversity."""
    from adam_spark.llm.text import corpus_stats

    df = spark.createDataFrame(
        [
            (1, "a b c", "en", "s1"),
            (2, "a b c", "en", "s1"),   # exact dup of 1
            (3, "x y", "fr", "s1"),
            (4, "hello world", "en", "s2"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    out = {r["source"]: r for r in corpus_stats(df).collect()}
    assert out["s1"]["n_docs"] == 3 and out["s1"]["n_dup_docs"] == 1
    assert out["s1"]["total_tokens"] == 8 and out["s1"]["n_langs"] == 2
    assert out["s2"]["n_docs"] == 1 and out["s2"]["n_dup_docs"] == 0


def test_ngram_contamination(spark):
    from adam_spark.llm.decontaminate import ngram_contamination

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # contains bench 4-gram
            (2, "completely unrelated text with no overlap at all"),
            (3, "short doc"),  # fewer than n tokens -> zero grams
            (4, "quick brown fox jumps again and again here"),  # shares with doc 1's gram set? no bench gram
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "we ask whether the quick brown fox jumps over things")],
        ["doc_id", "text"],
    )
    got = {
        r["id"]: (r["n_shared_grams"], r["contaminated"])
        for r in ngram_contamination(corpus, bench, n=4).collect()
    }
    # corpus doc 1 shares "the quick brown fox", "quick brown fox jumps",
    # "brown fox jumps over" with bench
    assert got[1][0] == 3 and got[1][1]
    assert got[2] == (0, False)
    assert got[3] == (0, False)  # short docs survive with zero grams
    assert got[4][0] == 1 and got[4][1]  # "quick brown fox jumps"
    assert set(got) == {1, 2, 3, 4}  # every corpus row present
    # min_hits threshold raises the bar
    strict = {
        r["id"]: r["contaminated"]
        for r in ngram_contamination(corpus, bench, n=4, min_hits=2).collect()
    }
    assert strict[1] and not strict[4]


def test_hash_sampling_partition_independent(docs):
    from adam_spark.llm.sampling import hash_sample, stratified_sample, train_test_split

    s1 = {r["doc_id"] for r in hash_sample(docs, 0.3, "doc_id").collect()}
    s2 = {r["doc_id"] for r in hash_sample(docs.repartition(17), 0.3, "doc_id").collect()}
    assert s1 == s2 and 0 < len(s1) < docs.count()
    # roughly the asked fraction (hash-uniform; 500 docs => binomial CI)
    assert abs(len(s1) / docs.count() - 0.3) < 0.1

    split = train_test_split(docs, 0.25, "doc_id")
    counts = {r["split"]: r["n"] for r in split.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert counts.get("test", 0) + counts.get("train", 0) == docs.count()
    # test split == hash_sample rows at the same fraction and seed
    tst = {r["doc_id"] for r in split.where("split = 'test'").collect()}
    assert tst == {r["doc_id"] for r in hash_sample(docs, 0.25, "doc_id").collect()}

    strat = stratified_sample(docs, "source", 5, "doc_id")
    per = {r["source"]: r["n"] for r in strat.groupBy("source").agg(F.count("*").alias("n")).collect()}
    sizes = {r["source"]: r["n"] for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    for src, n in per.items():
        assert n == min(5, sizes[src])
    # deterministic under repartition
    a = sorted(r["doc_id"] for r in strat.collect())
    b = sorted(r["doc_id"] for r in stratified_sample(docs.repartition(13), "source", 5, "doc_id").collect())
    assert a == b


def test_tfidf_top_terms(docs):
    from adam_spark.llm.text import tfidf_top_terms

    out = tfidf_top_terms(docs, k=3).collect()
    n = docs.count()
    raw = {r["doc_id"]: r["text"] for r in docs.collect()}
    # recompute df/tf in python for a sample of docs
    from collections import Counter
    dfreq = Counter()
    tfs = {}
    for i, t in raw.items():
        toks = [x for x in t.split(" ") if x]
        tfs[i] = Counter(toks)
        dfreq.update(set(toks))
    import math
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["id"], []).append(r)
    for i, rows in list(by_doc.items())[:20]:
        want = sorted(
            (
                (-round(tf * (math.log((n + 1) / (dfreq[t] + 1)) + 1) * 1e6), t)
                for t, tf in tfs[i].items()
            )
        )[:3]
        got = [( -r["tfidf_micro"], r["term"]) for r in sorted(rows, key=lambda r: r["rank"])]
        assert got == want, (i, got, want)


def test_pack_sequences(docs):
    from adam_spark.llm.packing import pack_sequences

    ctx = 100
    out = {r["id"]: r for r in pack_sequences(docs, ctx, "source").collect()}
    raw = sorted(
        (r["source"], r["doc_id"], len([x for x in r["text"].split(" ") if x]))
        for r in docs.collect()
    )
    before = {}
    cum = {}
    for src, i, ntok in raw:
        before[i] = cum.get(src, 0)
        cum[src] = cum.get(src, 0) + ntok
    for src, i, ntok in raw:
        r = out[i]
        assert r["n_tokens"] == ntok
        assert r["start_pack"] == before[i] // ctx
        assert r["start_offset"] == before[i] % ctx
        assert r["end_pack"] == (before[i] + max(ntok - 1, 0)) // ctx
    # packing is deterministic under repartition
    out2 = {r["id"]: r for r in pack_sequences(docs.repartition(13), ctx, "source").collect()}
    assert {k: tuple(v) for k, v in out.items()} == {k: tuple(v) for k, v in out2.items()}


def test_scrub_pii(spark):
    from adam_spark.llm.text import scrub_pii

    rows = [
        (1, "mail a.b@x.co.uk or b@y.io ok"),
        (2, "server at 10.2.33.4 and 192.168.0.1"),
        (3, "call +1 (555) 123-4567 now"),
        (4, "clean text with no pii at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in scrub_pii(df).collect()}
    assert got[1]["n_email"] == 2 and "<EMAIL>" in got[1]["text_scrubbed"]
    assert "@" not in got[1]["text_scrubbed"]
    assert got[2]["n_ipv4"] == 2 and got[2]["text_scrubbed"].count("<IPV4>") == 2
    assert got[3]["n_phone"] == 1 and "<PHONE>" in got[3]["text_scrubbed"]
    assert got[4]["text_scrubbed"] == rows[3][1]
    for i in (2, 3, 4):
        assert got[i]["n_email"] == 0
    # original text column untouched
    assert got[1]["text"] == rows[0][1]


def test_embedding_near_dup_empty_corpus(spark):
    from adam_spark.llm.similarity import embedding_near_duplicates

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    # 0.4: fused kernel; 0.95: band join + re-join verify
    for t in (0.4, 0.95):
        out = embedding_near_duplicates(empty, threshold=t, dim=64)
        assert out.columns == ["id_a", "id_b", "sim"]
        assert out.count() == 0


def test_scrub_pii_consumes_plus_prefix(spark):
    from adam_spark.llm.text import scrub_pii

    df = spark.createDataFrame([(1, "call +1 (555) 123-4567 now")], ["doc_id", "text"])
    r = scrub_pii(df).collect()[0]
    assert r["text_scrubbed"] == "call <PHONE> now"  # '+' redacted too


def test_hash_sample_null_keys_consistent(spark):
    from adam_spark.llm.sampling import hash_sample, train_test_split

    df = spark.createDataFrame([(1,), (2,), (None,)], "doc_id long")
    # fraction 1.0 keeps everything, nulls included
    assert hash_sample(df, 1.0, "doc_id").count() == 3
    # the test split equals the sample at the same fraction/seed, nulls too
    tst = {r["doc_id"] for r in train_test_split(df, 0.5, "doc_id").where("split = 'test'").collect()}
    smp = {r["doc_id"] for r in hash_sample(df, 0.5, "doc_id").collect()}
    assert tst == smp


def test_remove_repeated_spans_lines(spark):
    """C4 line rule: a line present in >= min_docs distinct docs is
    stripped everywhere; order, blanks, and all-removed docs survive."""
    from adam_spark.llm.dedup import remove_repeated_spans

    rows = [
        (1, "keep me\nSUBSCRIBE NOW\nunique line one"),
        (2, "SUBSCRIBE NOW\n\nunique line two"),
        (3, "totally unique\nSUBSCRIBE NOW"),
        (4, "SUBSCRIBE NOW"),  # everything removed -> empty text survives
        (5, None),  # null text -> kept with text_clean=''
        (6, "  SUBSCRIBE NOW  \nindented dup matches by trim"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["text_clean"], r["n_removed"])
        for r in remove_repeated_spans(df, min_docs=3).collect()
    }
    assert out[1] == ("keep me\nunique line one", 1)
    assert out[2] == ("\nunique line two", 1)  # blank line never hot, kept
    assert out[3] == ("totally unique", 1)
    assert out[4] == ("", 1)
    assert out[5] == ("", 0)
    # trimmed comparison removes the padded variant too
    assert out[6] == ("indented dup matches by trim", 1)
    assert len(out) == 6


def test_remove_repeated_spans_min_frac_and_shuffle_path(spark):
    """min_frac thresholding equals the explicit min_docs equivalent,
    and the hot-set join planned as a sort-merge join is identical."""
    from adam_spark.llm.dedup import remove_repeated_spans

    docs = load_table(spark, SF, "documents")
    a = remove_repeated_spans(docs, delimiter=" ", min_frac=0.5)
    n = docs.where(F.col("text").isNotNull()).count()
    ra = sorted(tuple(r) for r in a.collect())
    with no_auto_broadcast(spark):
        b = remove_repeated_spans(docs, delimiter=" ", min_docs=math.ceil(0.5 * n))
        assert "lkey" in sort_merge_join_keys(b)
        rb = sorted(tuple(r) for r in b.collect())
    assert ra == rb
    assert sum(r[2] for r in ra) > 0, "corpus should contain hot tokens"
    with pytest.raises(ValueError):
        remove_repeated_spans(docs, min_docs=2, min_frac=0.5)
    with pytest.raises(ValueError):
        remove_repeated_spans(docs)


def test_quantize_embeddings(spark, embs):
    """int8 quantization: range, exactness vs numpy, degenerate rows."""
    from adam_spark.llm.similarity import quantize_embeddings

    out = {r["id"]: r for r in quantize_embeddings(embs).collect()}
    src = {r["vec_id"]: list(r["embedding"]) for r in embs.collect()}
    assert set(out) == set(src)
    for vid, v in list(src.items())[:50]:
        q = out[vid]
        m = max(abs(x) for x in v)
        assert q["dim"] == len(v)
        assert q["scale"] == pytest.approx(m / 127.0)
        expect = [
            max(-127, min(127, math.floor(x * 127.0 / m + 0.5))) for x in v
        ]
        assert q["qvec"] == expect
        assert max(q["qvec"]) <= 127 and min(q["qvec"]) >= -127
    # zero + null vectors
    edge = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, None)], "vec_id long, embedding array<float>"
    )
    rows = {r["id"]: r for r in quantize_embeddings(edge).collect()}
    assert rows[1]["scale"] == 0.0 and rows[1]["qvec"] == [0, 0]
    assert rows[2]["scale"] is None and rows[2]["qvec"] is None


def test_cosine_topk_quantized_matches_exact(embs):
    """int8-GEMM shortlist + exact rescore reproduces the exact top-k on
    the fixture corpus (sims are rescored floats, so any agreement in
    neighbor sets implies identical sims)."""
    from adam_spark.llm.similarity import cosine_topk_numpy, cosine_topk_quantized

    rows = [
        (int(r["vec_id"]), list(r["embedding"])) for r in embs.limit(16).collect()
    ]
    exact = sorted(map(tuple, cosine_topk_numpy(embs, rows, k=5).collect()))
    quant = sorted(map(tuple, cosine_topk_quantized(embs, rows, k=5).collect()))
    assert quant == exact


def test_unigram_lm_scores(spark, docs):
    """Smoothed-NLL scoring: hand-check on a tiny corpus, row
    preservation for empty docs, shuffle-vocab path identical."""
    from adam_spark.llm.text import unigram_lm_scores

    tiny = spark.createDataFrame(
        [(1, "a a b"), (2, "a b"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in unigram_lm_scores(tiny, alpha=0.5).collect()}
    # corpus: a×3, b×2 → N=5, V=2; p(a)=(3.5)/(6), p(b)=(2.5)/(6)
    pa, pb = 3.5 / 6.0, 2.5 / 6.0
    nll1 = -(2 * math.log(pa) + math.log(pb)) / 3
    assert out[1]["nll"] == pytest.approx(round(nll1, 6), abs=1e-6)
    assert out[1]["ppl"] == pytest.approx(round(math.exp(nll1), 6), abs=1e-6)
    assert out[1]["n_tokens"] == 3 and out[2]["n_tokens"] == 2
    assert out[3]["n_tokens"] == 0 and out[3]["nll"] is None
    assert out[4]["n_tokens"] == 0 and out[4]["ppl"] is None
    # rarer-token doc scores higher nll
    assert out[2]["nll"] > out[1]["nll"]
    a = sorted(tuple(r) for r in unigram_lm_scores(docs).collect())
    with no_auto_broadcast(spark):  # shuffle-join vocab
        shuffled = unigram_lm_scores(docs)
        assert "tok" in sort_merge_join_keys(shuffled)
        b = sorted(tuple(r) for r in shuffled.collect())
    assert a == b and len(a) == docs.count()


def test_minhash_between_equals_bruteforce_cross_pairs(docs, monkeypatch):
    """Cross-corpus LSH pairs == the opposite-parity subset of the
    brute-force all-pairs set, and the shuffle verify path matches."""
    from adam_spark.llm.dedup import minhash_lsh_pairs_between

    new = docs.where(F.col("doc_id") % 2 == 1)
    ref = docs.where(F.col("doc_id") % 2 == 0)
    got = sorted(
        (r["id_new"], r["id_ref"], r["jaccard"])
        for r in minhash_lsh_pairs_between(new, ref, threshold=0.8).collect()
    )
    brute = ngram_jaccard_pairs(docs, "doc_id", threshold=0.8)
    want = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        if r["id_a"] % 2 == 1
        else (r["id_b"], r["id_a"], r["jaccard"])
        for r in brute.collect()
        if (r["id_a"] % 2) != (r["id_b"] % 2)
    )
    assert len(want) > 0, "fixture should contain opposite-parity near-dups"
    assert got == want
    import adam_spark.llm.dedup as D

    def between_under_cap(cap):
        with monkeypatch.context() as m:
            m.setattr(D, "VERIFY_BROADCAST_CAP_BYTES", cap)
            return sorted(
                (r["id_new"], r["id_ref"], r["jaccard"])
                for r in minhash_lsh_pairs_between(new, ref, threshold=0.8).collect()
            )

    # every table over the cap -> both verify joins shuffle
    assert between_under_cap(0) == got


def test_chunk_documents(spark, docs):
    """Window arithmetic, overlap reconstruction, edge docs."""
    from adam_spark.llm.text import chunk_documents

    tiny = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    rows = sorted(
        tuple(r) for r in chunk_documents(tiny, chunk_tokens=3, overlap=1).collect()
    )
    assert rows == [
        (1, 0, 3, "a b c"),
        (1, 1, 3, "c d e"),
        (1, 2, 1, "e"),
        (2, 0, 1, "x"),
    ]
    with pytest.raises(ValueError):
        chunk_documents(tiny, chunk_tokens=3, overlap=3)
    # non-overlapping chunks of a real corpus reassemble the token stream
    out = chunk_documents(docs, chunk_tokens=32, overlap=0)
    rejoined = {
        r["id"]: r["t"]
        for r in out.groupBy("id")
        .agg(
            F.array_join(
                F.flatten(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("chunk_index", "chunk"))
                        ),
                        lambda s: F.split(s["chunk"], " "),
                    )
                ),
                " ",
            ).alias("t")
        )
        .collect()
    }
    src = {
        r["doc_id"]: " ".join(t for t in (r["text"] or "").split(" ") if t)
        for r in docs.collect()
    }
    for k, v in rejoined.items():
        assert v == src[k]


def test_sample_to_mixture(spark, docs):
    """Quota math: capped source keeps everything, sampled sources
    land near target, selection is layout-independent, validation."""
    from adam_spark.llm.sampling import sample_to_mixture

    weights = {"src0": 3.0, "src1": 2.0, "src2": 1.0}
    out = sample_to_mixture(docs, weights, token_budget=3000)
    rows = out.collect()
    assert set(r["source"] for r in rows) <= set(weights)
    by_src = {}
    for r in rows:
        d = by_src.setdefault(r["source"], [0, 0, r["accept_frac"]])
        d[0] += 1
        d[1] += r["__n_tokens"]
    avail = {
        r["source"]: (r["n"], r["t"])
        for r in docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.size(F.filter(F.split("text", " "), lambda x: x != ""))).alias("t"),
        )
        .collect()
    }
    # fraction = min(1, target/avail) for every weighted source; a
    # capped source keeps every document
    for s, target in (("src0", 1500.0), ("src1", 1000.0), ("src2", 500.0)):
        expect = min(1.0, target / avail[s][1])
        assert by_src[s][2] == pytest.approx(expect)
        if expect == 1.0:
            assert by_src[s][0] == avail[s][0]
        else:
            # kept tokens within 4x of target (Bernoulli variance on a
            # small corpus)
            assert 0 < by_src[s][1] < 4 * target
    # layout independence: identical selection after a repartition
    re_rows = sorted(
        r["doc_id"]
        for r in sample_to_mixture(docs.repartition(13), weights, 3000).collect()
    )
    assert re_rows == sorted(r["doc_id"] for r in rows)
    with pytest.raises(ValueError):
        sample_to_mixture(docs, {}, 1000)
    with pytest.raises(ValueError):
        sample_to_mixture(docs, weights, 0)


def test_count_min_sketch(spark, docs):
    """One-sided guarantee: estimates never undercount; heavy hitters
    are a superset of the true heavy set; sketch size is bounded."""
    from adam_spark.llm.sketches import (
        cms_estimate,
        cms_heavy_hitters,
        count_min_sketch,
    )

    toks = docs.select(
        F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("token")
    )
    truth = {
        r["token"]: r["c"]
        for r in toks.groupBy("token").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    sk = count_min_sketch(toks, "token", width=128, depth=3)
    assert sk.count() <= 128 * 3
    cand = toks.distinct()
    est = {
        r["t"]: r["est"]
        for r in cms_estimate(sk, cand, "token", width=128, depth=3).collect()
    }
    assert set(est) == set(truth)
    assert all(est[t] >= c for t, c in truth.items())
    # wide sketch ≈ exact on a small vocabulary (collision-free rows exist)
    wide = count_min_sketch(toks, "token", width=65536, depth=4)
    est_w = {
        r["t"]: r["est"]
        for r in cms_estimate(wide, cand, "token", width=65536, depth=4).collect()
    }
    exact_frac = sum(1 for t, c in truth.items() if est_w[t] == c) / len(truth)
    assert exact_frac > 0.95
    hh = {
        r["token"]: (r["est"], r["n"])
        for r in cms_heavy_hitters(toks, "token", 50, width=128, depth=3).collect()
    }
    # exact-verify semantics: output IS the true heavy-hitter set (the
    # sketch only narrows candidates), with true counts and one-sided
    # estimates
    true_heavy = {t for t, c in truth.items() if c >= 50}
    assert set(hh) == true_heavy
    assert all(hh[t][1] == truth[t] and hh[t][0] >= truth[t] for t in true_heavy)
    # layout independence: the pigeonhole prefilter must not lose a
    # heavy hitter under a different partitioning
    re_hh = {
        r["token"]
        for r in cms_heavy_hitters(
            toks.repartition(13), "token", 50, width=128, depth=3
        ).collect()
    }
    assert re_hh == true_heavy
    # absent item estimates 0 with a left join, never an error
    ghost = spark.createDataFrame([("zzz_not_here",)], "token string")
    g = cms_estimate(sk, ghost, "token", width=128, depth=3).collect()
    assert len(g) == 1 and g[0]["est"] >= 0
    # position space guard: moduli past 16^7 would silently truncate
    with pytest.raises(ValueError):
        count_min_sketch(toks, "token", width=16**7 + 1, depth=2)


def test_cms_candidates_narrow_plan(spark, docs):
    """The heavy-hitter candidate source must be the zero-shuffle
    per-partition prefilter: no full-width aggregate Exchange over the
    raw token stream may feed the estimate join (the old distinct()
    candidate source paid exactly that corpus-sized shuffle)."""
    from adam_spark.llm.sketches import cms_candidates

    toks = docs.select(
        F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("token")
    )
    cand = cms_candidates(toks, "token", 50)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    # the only exchange sits ABOVE the mapInPandas prefilter: walking
    # the plan top-down, every Exchange line must appear before (i.e.
    # downstream of) the Python map node, never between it and the scan
    lines = plan.splitlines()
    py_idx = [i for i, l in enumerate(lines) if "MapInPandas" in l or "PythonMap" in l]
    ex_idx = [i for i, l in enumerate(lines) if "Exchange" in l]
    assert py_idx, plan
    assert all(i < py_idx[0] for i in ex_idx), plan


def test_cosine_topk_quantized_zero_vector_does_not_flood(spark, embs):
    """A zero corpus vector must score 0 against every query — never
    NaN (NaN sorts first under desc and would displace every real
    neighbor from every top-k)."""
    from adam_spark.llm.similarity import cosine_topk_quantized

    poisoned = embs.select("vec_id", "embedding").limit(50).unionByName(
        spark.createDataFrame(
            [(999999, [0.0] * len(embs.first()["embedding"]))],
            "vec_id long, embedding array<float>",
        )
    )
    rows = [(int(r["vec_id"]), list(r["embedding"])) for r in embs.limit(4).collect()]
    out = cosine_topk_quantized(poisoned, rows, k=5).collect()
    assert all(r["neighbor_id"] != 999999 for r in out)
    assert all(not math.isnan(r["sim"]) for r in out)


def test_cosine_topk_zero_query_and_null_corpus(spark, embs):
    """A zero QUERY vector must score 0 (not NaN) against everything,
    and a NULL corpus vector must be skipped (not crash the Arrow
    batch) — on both the exact and the quantized scan."""
    from adam_spark.llm.similarity import cosine_topk_numpy, cosine_topk_quantized

    dim = len(embs.first()["embedding"])
    poisoned = embs.select("vec_id", "embedding").limit(50).unionByName(
        spark.createDataFrame(
            [(999998, None)], "vec_id long, embedding array<float>"
        )
    )
    rows = [
        (int(r["vec_id"]), list(r["embedding"])) for r in embs.limit(3).collect()
    ] + [(777777, [0.0] * dim)]
    for fn in (cosine_topk_numpy, cosine_topk_quantized):
        out = fn(poisoned, rows, k=5).collect()
        assert all(not math.isnan(r["sim"]) for r in out), fn.__name__
        assert all(r["neighbor_id"] != 999998 for r in out), fn.__name__
        zq = [r for r in out if r["query_id"] == 777777]
        assert all(abs(r["sim"]) < 1e-9 for r in zq), fn.__name__


def test_bloom_filter_membership(spark, docs):
    """No false negatives ever; FP rate near theory on a tight filter;
    the bloom decontamination verdicts are a superset of the exact
    broadcast-set verdicts on the real corpus."""
    from adam_spark.llm.decontaminate import ngram_contamination
    from adam_spark.llm.dedup import word_ngrams
    from adam_spark.llm.sketches import bloom_build, bloom_contains

    items = spark.createDataFrame([(f"w{i}",) for i in range(400)], "t string")
    bloom = bloom_build(items, "t", num_bits=8192, num_hashes=5)
    assert bloom.count() <= 8192 // 32
    probes = spark.createDataFrame([(f"w{i}",) for i in range(2400)], "t string")
    out = {
        r["t"]: r["maybe_present"]
        for r in bloom_contains(bloom, probes, "t", 8192, 5).collect()
    }
    assert all(out[f"w{i}"] for i in range(400)), "false negative"
    fp = sum(1 for i in range(400, 2400) if out[f"w{i}"])
    fill = 1 - (1 - 1 / 8192) ** (400 * 5)
    expect = fill**5
    assert fp / 2000 < max(5 * expect, 0.01)
    # superset of exact decontamination on the fixture corpus
    bench = docs.where(F.col("doc_id") % 50 == 0)
    corpus = docs.where(F.col("doc_id") % 50 != 0)
    exact = {
        r["id"]: r["contaminated"]
        for r in ngram_contamination(corpus, bench, "doc_id", n=4).collect()
    }
    grams = corpus.select(
        "doc_id", F.explode(word_ngrams("text", 4)).alias("gram")
    )
    bgrams = (
        bench.select(F.explode(word_ngrams("text", 4)).alias("gram")).distinct()
    )
    bl = bloom_build(bgrams, "gram", num_bits=8192, num_hashes=5)
    probed = bloom_contains(bl, grams, "gram", 8192, 5)
    bloom_verdict = {
        r["doc_id"]: r["c"] > 0
        for r in probed.groupBy("doc_id")
        .agg(F.sum(F.when(F.col("maybe_present"), 1).otherwise(0)).alias("c"))
        .collect()
    }
    for k, v in exact.items():
        if v:
            assert bloom_verdict.get(k), "bloom dropped a truly contaminated doc"


def test_bloom_contains_single_broadcast_no_joins(spark):
    """The probe ships the packed filter ONCE (dense-array broadcast
    variable + one Arrow-batched UDF) — the plan must contain no join
    and no shuffle at all, and the verdicts must equal a per-hash
    Catalyst join replay of the same bit tests (incl. null → false)."""
    from adam_spark.llm.sketches import _bucket, bloom_build, bloom_contains

    items = spark.createDataFrame([(f"k{i}",) for i in range(300)], "t string")
    bloom = bloom_build(items, "t", num_bits=4096, num_hashes=5)
    probes = spark.createDataFrame(
        [(f"k{i}",) for i in range(900)] + [(None,)], "t string"
    )
    out = bloom_contains(bloom, probes, "t", 4096, 5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    for node in ("Join", "Exchange", "CartesianProduct"):
        assert node not in plan, node
    assert "ArrowEvalPython" in plan or "Python" in plan

    got = {r["t"]: r["maybe_present"] for r in out.collect()}
    # replay: the old k-broadcast-join formulation as plain expressions
    replay = probes
    cond = F.lit(True)
    bm = {r["word"]: r["bits"] for r in bloom.collect()}
    for j in range(5):
        p = _bucket(F.col("t"), F.lit(j), 4096, "bloom")
        w = (p / 32).cast("long")
        bits = F.coalesce(
            F.element_at(
                F.create_map(
                    *[x for kv in bm.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
                ),
                w,
            ),
            F.lit(0).cast("long"),
        )
        # bit test without shiftleft-by-column: floor(bits / 2^b) % 2
        cond = cond & (
            F.floor(bits / F.pow(F.lit(2.0), (p % 32).cast("double"))) % 2 == 1
        )
    want = {
        r["t"]: r["mp"]
        for r in replay.select(
            "t", F.coalesce(cond, F.lit(False)).alias("mp")
        ).collect()
    }
    assert got == want
    assert got[None] is False


def test_bigram_lm_scores(spark, docs):
    """Hand-checked bigram backoff math on a tiny corpus; repetitive
    documents score lower nll than shuffled ones (the property the
    unigram model cannot express); broadcast==shuffle paths agree."""
    from adam_spark.llm.text import bigram_lm_scores

    tiny = spark.createDataFrame(
        [(1, "a b a b"), (2, "b a"), (3, None)], "doc_id long, text string"
    )
    out = {r["id"]: r for r in bigram_lm_scores(tiny, alpha=0.5).collect()}
    # corpus: tokens a×3 b×3, N=6 V=2; bigrams: (a,b)×2, (b,a)×2
    pu = {"a": 3.5 / 7.0, "b": 3.5 / 7.0}
    p_ab = (2 + 0.5 * pu["b"]) / (3 + 0.5)
    p_ba = (2 + 0.5 * pu["a"]) / (3 + 0.5)
    nll1 = -(math.log(pu["a"]) + math.log(p_ab) + math.log(p_ba) + math.log(p_ab)) / 4
    assert out[1]["nll"] == pytest.approx(round(nll1, 6), abs=1e-6)
    assert out[1]["n_tokens"] == 4
    assert out[3]["n_tokens"] == 0 and out[3]["nll"] is None
    # a doc made of one repeated bigram beats the same tokens shuffled
    corpus = [(i, "x y " * 10) for i in range(5)] + [(99, "y y x x y x y x x y x y y x x y x y y x")]
    df2 = spark.createDataFrame(corpus, "doc_id long, text string")
    sc = {r["id"]: r["nll"] for r in bigram_lm_scores(df2).collect()}
    assert sc[0] < sc[99]
    a = sorted(tuple(r) for r in bigram_lm_scores(docs).collect())
    with no_auto_broadcast(spark):  # shuffle-join both count tables
        shuffled = bigram_lm_scores(docs)
        keys = sort_merge_join_keys(shuffled)
        assert {"tok", "w1, w2"} <= set(keys), keys
        b = sorted(tuple(r) for r in shuffled.collect())
    assert a == b and len(a) == docs.count()


def test_hashed_classifier_score(spark):
    """fastText-style hashed linear classifier: md5-prefix bucketing,
    OOV buckets contribute nothing, token-less docs keep zero rows, and
    the broadcast and sort-merge join plans agree exactly."""
    import hashlib

    from adam_spark.llm.text import hashed_classifier_score

    docs = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "gamma"), (3, ""), (4, "ALPHA")],
        "doc_id long, text string",
    )

    def bucket(tok):
        return hashlib.md5(tok.encode()).hexdigest()[:3]

    # weights cover alpha's bucket only -> beta/gamma are OOV
    weights = spark.createDataFrame(
        [(bucket("alpha"), 7)], "bucket string, weight long"
    )

    def check(scored):
        rows = {
            r["id"]: (r["n_tokens"], r["feat_hits"], r["score_sum"])
            for r in scored.collect()
        }
        assert rows[1] == (3, 2, 14)   # alpha twice, beta OOV
        assert rows[2] == (1, 0, 0)    # fully OOV
        assert rows[3] == (0, 0, 0)    # token-less doc keeps its row
        assert rows[4] == (1, 1, 7)    # lower-cased before hashing

    # the session threshold broadcasts the weight table; -1 shuffles it
    check(hashed_classifier_score(docs, weights))
    with no_auto_broadcast(spark):
        shuffled = hashed_classifier_score(docs, weights)
        assert "bucket" in sort_merge_join_keys(shuffled)
        check(shuffled)


def test_hashed_classifier_missing_column_raises(spark):
    """A frame lacking the id or text column raises a ValueError
    naming that column, instead of failing deep inside the plan."""
    from adam_spark.llm.text import hashed_classifier_score

    docs = spark.createDataFrame([(1, "alpha")], "doc_id long, text string")
    weights = spark.createDataFrame([("abc", 1)], "bucket string, weight long")
    for missing in ("doc_id", "text"):
        with pytest.raises(ValueError, match=f"'{missing}'"):
            hashed_classifier_score(docs.drop(missing), weights)


SF1 = "/root/testdata/sf0.1"


@pytest.mark.skipif(not os.path.isdir(SF1), reason="sf0.1 testdata absent")
class TestClassifierSpread:
    """The contract query scores a spread reading of the corpus: the
    token explode runs in parallel, and a bare count() prunes the scored
    subtree so its exchange ships only the declared ``doc_id`` key.
    sf0.1: the documents floor (1,000 rows) must be met to spread."""

    def _weights(self, spark):
        b = F.format_string("%03x", F.col("id"))
        raw = (
            F.ascii(F.substring(b, 1, 1)) * 7
            + F.ascii(F.substring(b, 2, 1)) * 3
            + F.ascii(F.substring(b, 3, 1)) * 5
        ) % 101
        return (
            spark.range(4096)
            .select(b.alias("bucket"), raw.alias("raw"))
            .where((F.col("raw") % 3) != 0)
            .select("bucket", (F.col("raw") - 50).cast("long").alias("weight"))
        )

    def test_spread_docs_bit_identical(self, spark):
        """Scoring a spread corpus must equal the plain path row-for-row
        — only the partitioning differs."""
        from adam_spark.llm.text import hashed_classifier_score

        plain_docs = load_table(spark, SF1, "documents")
        spread_docs = load_table(spark, SF1, "documents", spread=True)
        assert "Exchange" in spread_docs._jdf.queryExecution().executedPlan().toString()
        w = self._weights(spark)
        plain = hashed_classifier_score(plain_docs, w).orderBy("id").collect()
        spread = hashed_classifier_score(spread_docs, w).orderBy("id").collect()
        assert [tuple(r) for r in plain] == [tuple(r) for r in spread]

    def test_count_path_scans_only_doc_id(self, spark):
        """The entry's count path (Catalyst prunes the scored subtree
        through the unique-right left join) reads only ``doc_id`` from
        the documents scan; the full plan keeps the spread exchange."""
        import __spark_entry__ as entrymod

        df = entrymod.queries()["quality_classifier_docs"](spark, SF1)
        cnt = df.groupBy().count()._jdf.queryExecution().executedPlan().toString()
        full = df._jdf.queryExecution().optimizedPlan().toString()
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", cnt)
        assert scans and all(
            [c.split("#")[0] for c in cols.split(", ")] == ["doc_id"] for cols in scans
        ), scans
        assert "RepartitionByExpression" in full


def test_png_roundtrip_all_color_types():
    """Real PNG codec: encode → decode is pixel-exact for gray,
    gray+alpha, RGB and RGBA (8-bit, non-interlaced)."""
    from adam_spark.llm.multimodal import decode_image, encode_png

    for ch in (1, 2, 3, 4):
        w, h = 7, 5  # odd width exercises stride math
        px = bytes((x * 31 + y * 57 + c * 13) % 256 for y in range(h) for x in range(w) for c in range(ch))
        data = encode_png(w, h, ch, px)
        assert decode_image(data) == (w, h, ch, px)


def test_png_filters_decode():
    """The decoder reverses every scanline filter type (0-4): build an
    IDAT whose rows are filtered with a spec-literal reference
    implementation, one filter per row, and expect the raw pixels back."""
    import struct
    import zlib

    from adam_spark.llm.multimodal import decode_image

    w, h, ch = 6, 5, 3
    px = bytes((x * 17 + y * 41 + c * 7) % 256 for y in range(h) for x in range(w) for c in range(ch))
    stride = w * ch

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    raw = bytearray()
    for y in range(h):
        f = y % 5
        raw.append(f)
        for x in range(stride):
            cur = px[y * stride + x]
            left = px[y * stride + x - ch] if x >= ch else 0
            up = px[(y - 1) * stride + x] if y > 0 else 0
            ul = px[(y - 1) * stride + x - ch] if (x >= ch and y > 0) else 0
            if f == 0:
                raw.append(cur)
            elif f == 1:
                raw.append((cur - left) & 0xFF)
            elif f == 2:
                raw.append((cur - up) & 0xFF)
            elif f == 3:
                raw.append((cur - ((left + up) >> 1)) & 0xFF)
            else:
                raw.append((cur - paeth(left, up, ul)) & 0xFF)

    def chunk(tag, body):
        return struct.pack(">I", len(body)) + tag + body + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)

    data = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert decode_image(data) == (w, h, ch, px)


def test_png_palette_and_unsupported_profiles():
    import struct
    import zlib

    from adam_spark.llm.multimodal import decode_image

    def chunk(tag, body):
        return struct.pack(">I", len(body)) + tag + body + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)

    # 2×2 palette image: indices [0,1,2,1] into a 3-color palette
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    raw = b"\x00" + bytes([0, 1]) + b"\x00" + bytes([2, 1])
    data = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", plte)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert decode_image(data) == (
        2, 2, 3, bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 0, 255, 0])
    )
    # 16-bit and interlaced profiles raise NotImplementedError, not garbage
    for ihdr in (
        struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0),
        struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1),
    ):
        bad = (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"\x00" * 9)) + chunk(b"IEND", b"")
        )
        with pytest.raises(NotImplementedError):
            decode_image(bad)


def test_bmp_decode_variants():
    """24-bit roundtrip through the real encoder (odd width → row
    padding), hand-built top-down 32-bit, and 8-bit palette."""
    import struct

    from adam_spark.llm.multimodal import decode_image, encode_bmp

    w, h = 3, 2  # 3*3=9 bytes/row → padded to 12
    px = bytes(range(w * h * 3))
    assert decode_image(encode_bmp(w, h, px)) == (w, h, 3, px)

    # top-down 32-bit: 1×2, rows (B,G,R,A) = (1,2,3,4) then (5,6,7,8)
    body = bytes([1, 2, 3, 4, 5, 6, 7, 8])
    hdr = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, 1, -2, 1, 32, 0, len(body), 0, 0, 0, 0
    )
    assert decode_image(hdr + body) == (1, 2, 4, bytes([3, 2, 1, 4, 7, 6, 5, 8]))

    # 8-bit palette: 2×1, palette[5]=(B,G,R,X)=(10,20,30,0) at offset 54+5*4
    pal = bytearray(256 * 4)
    pal[5 * 4 : 5 * 4 + 4] = bytes([10, 20, 30, 0])
    pal[9 * 4 : 9 * 4 + 4] = bytes([40, 50, 60, 0])
    body = bytes([5, 9, 0, 0])  # one row, padded to 4
    off = 54 + 1024
    hdr = struct.pack("<2sIHHI", b"BM", off + len(body), 0, 0, off) + struct.pack(
        "<IiiHHIIiiII", 40, 2, 1, 1, 8, 0, len(body), 0, 0, 0, 0
    )
    assert decode_image(hdr + bytes(pal) + body) == (
        2, 1, 3, bytes([30, 20, 10, 60, 50, 40])
    )
    # RLE compression refuses rather than mis-decoding
    hdr_rle = struct.pack("<2sIHHI", b"BM", 54, 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, 2, 1, 1, 8, 1, 0, 0, 0, 0, 0
    )
    with pytest.raises(NotImplementedError):
        decode_image(hdr_rle)


def test_gif_lzw_and_roundtrip():
    """GIF LZW encode↔decode inverse (incl. code-width growth and the
    4096-entry table reset), full-file lossless round trip through the
    real encoder, interlaced decode, and local-color-table frames."""
    import struct

    from adam_spark.llm.multimodal import (
        _gif_lzw_decode,
        _gif_lzw_encode,
        decode_image,
        encode_gif,
    )

    rng = np.random.default_rng(9)
    # enough random 8-bit data to overflow the 12-bit table → reset path
    data = bytes(rng.integers(0, 256, size=30000, dtype=np.uint8))
    assert bytes(_gif_lzw_decode(8, _gif_lzw_encode(8, data))) == data
    # tiny alphabet → long phrases, width growth from 3 bits upward
    data = bytes((rng.integers(0, 4, size=5000, dtype=np.uint8)))
    assert bytes(_gif_lzw_decode(2, _gif_lzw_encode(2, data))) == data

    w, h = 31, 17
    pal = bytes(rng.integers(0, 256, size=3 * 64, dtype=np.uint8))
    idx = bytes(rng.integers(0, 64, size=w * h, dtype=np.uint8))
    out = decode_image(encode_gif(w, h, pal, idx))
    want = b"".join(pal[3 * i : 3 * i + 3] for i in idx)
    assert out == (w, h, 3, want)

    # interlaced: rebuild the same frame with the interlace flag set and
    # rows stored in 8/8/4/2 pass order — decode must undo the shuffle
    rows = [idx[y * w : (y + 1) * w] for y in range(h)]
    order = (
        list(range(0, h, 8))
        + list(range(4, h, 8))
        + list(range(2, h, 4))
        + list(range(1, h, 2))
    )
    shuffled = b"".join(rows[y] for y in order)
    lzw = _gif_lzw_encode(6, shuffled)
    sub = b"".join(
        bytes([min(255, len(lzw) - i)]) + lzw[i : i + 255]
        for i in range(0, len(lzw), 255)
    )
    gif = (
        b"GIF89a"
        + struct.pack("<HHBBB", w, h, 0x80 | 5, 0, 0)
        + pal
        # graphic-control extension: must be skipped cleanly
        + b"\x21\xf9\x04\x00\x00\x00\x00\x00"
        + b"\x2c"
        + struct.pack("<HHHHB", 0, 0, w, h, 0x40)
        + bytes([6])
        + sub
        + b"\x00\x3b"
    )
    assert decode_image(gif) == (w, h, 3, want)


def test_jpeg_baseline_roundtrip_profiles():
    """Baseline JPEG decode over genuine encoder bytes: flat blocks are
    DC-exact; gradients round-trip within quantization error across
    4:4:4, 4:2:0 subsampled, restart-marker, grayscale, and odd-size
    partial-MCU profiles; progressive refuses."""
    from adam_spark.llm.multimodal import decode_image, encode_jpeg

    w, h = 32, 24
    flat = bytes([200] * (w * h * 3))
    jw, jh, ch, px = decode_image(encode_jpeg(w, h, 3, flat))
    assert (jw, jh, ch) == (w, h, 3)
    assert max(abs(p - 200) for p in px) <= 2  # DC-only, near exact

    xx, yy = np.meshgrid(np.arange(w), np.arange(h))
    rgb = np.stack(
        [np.minimum(xx * 6, 255), np.minimum(yy * 7, 255), np.minimum(xx + yy, 255)],
        axis=-1,
    ).astype(np.uint8)
    for kw in (
        {},
        {"subsample": True},
        {"subsample": "422"},
        {"restart_interval": 2},
        {"subsample": True, "restart_interval": 3},
        {"subsample": "422", "restart_interval": 2},
    ):
        jw, jh, ch, px = decode_image(encode_jpeg(w, h, 3, rgb.tobytes(), **kw))
        assert (jw, jh, ch) == (w, h, 3), kw
        got = np.frombuffer(px, np.uint8).reshape(h, w, 3).astype(int)
        diff = np.abs(got - rgb.astype(int))
        assert diff.mean() < 5 and diff.max() < 40, (kw, diff.max())

    # grayscale single-component
    g = np.minimum(np.arange(19 * 13).reshape(13, 19) * 2, 255).astype(np.uint8)
    jw, jh, ch, px = decode_image(encode_jpeg(19, 13, 1, g.tobytes()))
    assert (jw, jh, ch) == (19, 13, 1)
    assert np.abs(
        np.frombuffer(px, np.uint8).reshape(13, 19).astype(int) - g
    ).max() <= 12

    # odd dims + 4:2:0: partial MCU at both edges
    rgb2 = np.stack([g, g, g], axis=-1)
    jw, jh, ch, px = decode_image(
        encode_jpeg(19, 13, 3, rgb2.tobytes(), subsample=True, restart_interval=1)
    )
    assert (jw, jh, ch) == (19, 13, 3)
    assert np.abs(
        np.frombuffer(px, np.uint8).reshape(13, 19, 3).astype(int) - rgb2
    ).max() <= 12

    # progressive (SOF2) refuses rather than mis-decoding
    prog = bytearray(encode_jpeg(8, 8, 1, bytes([7] * 64)))
    sof = prog.find(b"\xff\xc0")
    prog[sof + 1] = 0xC2
    with pytest.raises(NotImplementedError):
        decode_image(bytes(prog))


def test_extract_features_real_pixels(spark):
    """fake=False histograms REAL decoded gray levels: a 2×2 gray PNG
    with pixels 0/64/128/255 lands one pixel in each of 4 buckets, and
    the same image as a BMP gives the identical feature."""
    from adam_spark.llm.multimodal import (
        MEDIA,
        encode_bmp,
        encode_png,
        extract_features,
    )

    from adam_spark.llm.multimodal import encode_gif, encode_jpeg

    gray = bytes([0, 64, 128, 255])
    png = encode_png(2, 2, 1, gray)
    bmp = encode_bmp(2, 2, bytes(v for g in gray for v in (g, g, g)))
    # same four gray levels as a GIF (palette = the 4 grays, lossless)
    gif = encode_gif(
        2, 2, bytes(v for g in gray for v in (g, g, g)), bytes([0, 1, 2, 3])
    )
    # and as a JPEG: lossy, so assert bucket shape rather than equality
    jpg = encode_jpeg(2, 2, 1, gray)
    rows = [
        (1, "image", "image/png", bytearray(png), 2, 2, None, None),
        (2, "image", "image/bmp", bytearray(bmp), 2, 2, None, None),
        (3, "image", "image/png", None, None, None, None, None),
        (4, "image", "image/gif", bytearray(gif), 2, 2, None, None),
        (5, "image", "image/jpeg", bytearray(jpg), 2, 2, None, None),
    ]
    feats = {
        r["asset_id"]: r
        for r in extract_features(
            spark.createDataFrame(rows, MEDIA), dim=4, fake=False
        ).collect()
    }
    assert list(feats[1]["feature"]) == [0.25, 0.25, 0.25, 0.25]
    assert list(feats[2]["feature"]) == [0.25, 0.25, 0.25, 0.25]
    assert feats[1]["n_bytes"] == len(png)
    assert feats[3]["feature"] is None and feats[3]["n_bytes"] == 0
    assert list(feats[4]["feature"]) == [0.25, 0.25, 0.25, 0.25]
    assert sum(feats[5]["feature"]) == pytest.approx(1.0)
    assert all(f >= 0 for f in feats[5]["feature"])


def test_resize_images_real(spark):
    """fake=False really resizes: a 4×4 quadrant image downsampled 2×2
    by nearest neighbor keeps one pixel per quadrant, re-encoded PNG."""
    from adam_spark.llm.multimodal import MEDIA, decode_image, encode_png, resize_images

    quad = {(0, 0): 10, (1, 0): 60, (0, 1): 160, (1, 1): 250}
    px = bytes(quad[(x // 2, y // 2)] for y in range(4) for x in range(4))
    rows = [(1, "image", "image/png", bytearray(encode_png(4, 4, 1, px)), 4, 4, None, None)]
    out = resize_images(spark.createDataFrame(rows, MEDIA), 2, 2, fake=False).collect()
    assert len(out) == 1
    w, h, ch, got = decode_image(bytes(out[0]["data"]))
    assert (w, h, ch) == (2, 2, 1)
    assert bytes(got) == bytes([10, 60, 160, 250])


def test_kmeans_high_dim_bounded(spark):
    """dim=512 k-means trains in bounded time: the fused
    mapInPandas partial-sum path must not build a 512-column Catalyst
    aggregate (codegen blowup), and means must be exact."""
    import time

    from adam_spark.llm.similarity import kmeans_centroids

    rng = np.random.default_rng(11)
    dim, n = 512, 300
    base = rng.normal(size=(3, dim))
    rows = [
        (i, (base[i % 3] + rng.normal(scale=0.01, size=dim)).tolist())
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(8)
    t0 = time.monotonic()
    cents = kmeans_centroids(df, k=3, iters=2)
    got = {r["cent_id"]: np.asarray(r["cent_vec"]) for r in cents.collect()}
    assert time.monotonic() - t0 < 120, "dim-wide aggregate pathology"
    assert len(got) == 3 and all(v.shape == (dim,) for v in got.values())
    # converged centroids sit near the three planted modes
    for b in base:
        assert min(np.linalg.norm(b - v) for v in got.values()) < 0.5


def test_kmeans_partial_sums_match_exact_means(spark):
    """One iteration from fixed seeds = exact cluster means: the
    distributed partial-sum reduction reproduces a numpy reference."""
    from adam_spark.llm.similarity import kmeans_centroids

    rng = np.random.default_rng(5)
    mat = rng.normal(size=(40, 6))
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(40)], "vec_id long, embedding array<double>"
    ).repartition(7)
    got = {
        r["cent_id"]: np.asarray(r["cent_vec"])
        for r in kmeans_centroids(df, k=4, iters=1).collect()
    }
    # reference: same seeding (first 4 by id), one spherical assign + mean
    cents = mat[:4]
    cn = cents / np.linalg.norm(cents, axis=1)[:, None]
    vn = mat / np.linalg.norm(mat, axis=1)[:, None]
    cid = np.argmax(vn @ cn.T, axis=1)
    for c in range(4):
        members = mat[cid == c]
        want = members.mean(axis=0) if len(members) else cents[c]
        assert np.allclose(got[c], want, atol=1e-9), c


def test_ivf_quantized_matches_float_ivf(embs):
    """The int8 bucket scan with a generous rescore budget returns the
    IDENTICAL result set as the float IVF path (sims are exact rescores,
    so agreement is exact, not approximate), on both default and
    k-means centroids."""
    from adam_spark.llm.similarity import ivf_topk, ivf_topk_quantized, kmeans_centroids

    queries = embs.where("vec_id < 10")
    for cents in (None, kmeans_centroids(embs, k=8, iters=2)):
        flo = ivf_topk(embs, queries, k=5, n_probe=4, centroids=cents).collect()
        qnt = ivf_topk_quantized(
            embs, queries, k=5, n_probe=4, centroids=cents, rescore_factor=50
        ).collect()
        a = sorted((r["query_id"], r["rank"], r["neighbor_id"], r["sim"]) for r in flo)
        b = sorted((r["query_id"], r["rank"], r["neighbor_id"], r["sim"]) for r in qnt)
        assert a == b


def test_semantic_dedup_matches_bruteforce(spark, embs):
    """semantic_dedup = within-cluster min-id-survives: a numpy replay
    of assignment + pairwise cosine agrees exactly; the pairing join
    must be an equi-join on cent_id, never a cross join."""
    from adam_spark.llm.similarity import semantic_dedup

    out = semantic_dedup(embs, threshold=0.4, n_centroids=8)
    got = {r["id"]: (r["cent_id"], r["is_duplicate"]) for r in out.collect()}

    rows = embs.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]
    cents = mat[:8]
    cn = cents / np.linalg.norm(cents, axis=1)[:, None]
    vn = mat / np.linalg.norm(mat, axis=1)[:, None]
    cid = ids[np.argmax(vn @ cn.T, axis=1)]
    sims = vn @ vn.T
    want_dup = {}
    for j in range(len(ids)):
        mask = (cid == cid[j]) & (ids < ids[j]) & (sims[:, j] >= 0.4)
        want_dup[int(ids[j])] = bool(mask.any())
    assert {i: d for i, (c, d) in got.items()} == want_dup
    assert all(got[int(ids[j])][0] == cid[j] for j in range(len(ids)))
    assert any(d for _, d in got.values()), "fixture should contain semantic dups"

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_dedup_skew_guard_exact_and_salted(spark):
    """A dominant cluster (≈90% of vectors on one centroid) must trip
    the max_cluster_size salt-split: the pairwise join keys on
    (cent_id, __salt) so the hot cluster's quadratic work spreads over
    ⌈size/cap⌉ tasks — and because the b-side is REPLICATED across
    salts, the pair set is unchanged: output is bit-identical to the
    unguarded run (zero recall loss, oracle-safe by construction)."""
    from adam_spark.llm.similarity import semantic_dedup

    rng = np.random.default_rng(11)
    hot = rng.normal(0, 0.02, size=(90, 8)) + np.array([5.0] + [0.0] * 7)
    cold = rng.normal(0, 1.0, size=(10, 8)) - np.array([5.0] + [0.0] * 7)
    mat = np.vstack([hot, cold])
    rows = [(i, [float(x) for x in mat[i]]) for i in range(len(mat))]
    embs = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    cents = spark.createDataFrame(
        [(0, [float(x) for x in mat[0]]), (1, [float(x) for x in mat[90]])],
        "cent_id: long, cent_vec: array<double>",
    )

    plain = semantic_dedup(
        embs, threshold=0.9, centroids=cents, max_cluster_size=10**9
    )
    guarded = semantic_dedup(
        embs, threshold=0.9, centroids=cents, max_cluster_size=16
    )
    p_plan = plain._jdf.queryExecution().executedPlan().toString()
    g_plan = guarded._jdf.queryExecution().executedPlan().toString()
    assert "__salt" not in p_plan  # cap not hit → untouched original plan
    assert "__salt" in g_plan  # cap hit → salted (cent_id, __salt) equi-join
    assert "CartesianProduct" not in g_plan
    assert "BroadcastNestedLoopJoin" not in g_plan

    want = sorted(tuple(r) for r in plain.collect())
    got = sorted(tuple(r) for r in guarded.collect())
    assert got == want
    # the hot cluster really is quadratic-risky and really deduped
    assert sum(1 for _, c, _ in want if c == 0) == 90
    assert sum(1 for _, _, d in want if d) >= 80


def test_semantic_dedup_recluster_mode(spark):
    """split_mode='recluster' sub-clusters oversized clusters instead
    of salting: no b-side replication (no Explode in the plan), total
    work drops c²→c²/s, and recall loss is ONE-SIDED — every flagged
    duplicate must also be flagged by the exact (salt/unguarded) run,
    and at most s survivors remain per split cluster (one per
    sub-cluster under min-id-survives)."""
    from adam_spark.llm.similarity import semantic_dedup

    rng = np.random.default_rng(11)
    hot = rng.normal(0, 0.02, size=(90, 8)) + np.array([5.0] + [0.0] * 7)
    cold = rng.normal(0, 1.0, size=(10, 8)) - np.array([5.0] + [0.0] * 7)
    mat = np.vstack([hot, cold])
    rows = [(i, [float(x) for x in mat[i]]) for i in range(len(mat))]
    embs = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    cents = spark.createDataFrame(
        [(0, [float(x) for x in mat[0]]), (1, [float(x) for x in mat[90]])],
        "cent_id: long, cent_vec: array<double>",
    )

    exact = semantic_dedup(
        embs, threshold=0.9, centroids=cents, max_cluster_size=10**9
    )
    recl = semantic_dedup(
        embs,
        threshold=0.9,
        centroids=cents,
        max_cluster_size=16,
        split_mode="recluster",
    )
    plan = recl._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan  # sub-cluster key IS the join key
    for node in ("Explode", "Generate", "CartesianProduct"):
        assert node not in plan, node  # replication-free

    exact_dups = {r["id"] for r in exact.collect() if r["is_duplicate"]}
    got = recl.collect()
    got_dups = {r["id"] for r in got if r["is_duplicate"]}
    assert got_dups <= exact_dups  # one-sided recall loss
    # hot cluster: 90 members, cap 16 → s = 6 sub-clusters → at most 6
    # survivors among the near-identical hot vectors
    hot_survivors = [
        r["id"] for r in got if r["cent_id"] == 0 and not r["is_duplicate"]
    ]
    assert 1 <= len(hot_survivors) <= 6
    assert len(got) == 100  # one row per vector either way

    with pytest.raises(ValueError):
        semantic_dedup(
            embs,
            threshold=0.9,
            centroids=cents,
            max_cluster_size=16,
            split_mode="bogus",
        ).collect()


def test_semantic_dedup_sqrt_default(spark):
    """n_centroids=None sizes k ≈ √N."""
    from adam_spark.llm.similarity import semantic_dedup

    rng = np.random.default_rng(3)
    rows = [
        (i, [float(x) for x in rng.normal(0, 1, 6)]) for i in range(400)
    ]
    embs = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    got = [tuple(r) for r in semantic_dedup(embs, threshold=0.95).collect()]
    # √400 = 20 centroids by default → cent_ids drawn from first 20 ids
    assert {c for _, c, _ in got} <= set(range(20))
    assert len({c for _, c, _ in got}) > 1


def test_bloom_contains_ngrams_per_row_probe(spark, docs):
    """The per-row n-gram probe (bloom_contains_ngrams) must equal the
    explode->bloom_contains->groupBy composition exactly — same grams,
    same md5 buckets, same false positives — while planning as ONE
    narrow map: no Join, no Exchange anywhere in the probe."""
    from adam_spark.llm.dedup import word_ngrams
    from adam_spark.llm.sketches import (
        bloom_build,
        bloom_contains,
        bloom_contains_ngrams,
    )

    bench = docs.where(F.col("doc_id") % 50 == 0)
    corpus = docs.where(F.col("doc_id") % 50 != 0)
    bgrams = (
        bench.select(F.explode(word_ngrams("text", 4)).alias("gram"))
        .distinct()
    )
    bloom = bloom_build(bgrams, "gram", num_bits=8192, num_hashes=5)

    per_row = bloom_contains_ngrams(
        bloom, corpus, "text", n=4, num_bits=8192, num_hashes=5
    ).select("doc_id", "n_grams", "n_maybe_hits", "contaminated")
    plan = per_row._jdf.queryExecution().executedPlan().toString()
    for node in ("Join", "Exchange", "CartesianProduct"):
        assert node not in plan, node

    grams = corpus.select(
        "doc_id", F.explode(word_ngrams("text", 4)).alias("gram")
    )
    composed = (
        bloom_contains(bloom, grams, "gram", 8192, 5)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("maybe_present"), 1).otherwise(0)).alias(
                "n_maybe_hits"
            ),
        )
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["n_maybe_hits"], r["contaminated"])
        for r in per_row.collect()
    }
    want = {
        r["doc_id"]: (r["n_grams"], r["n_maybe_hits"], r["n_maybe_hits"] >= 1)
        for r in composed.collect()
    }
    # docs with zero grams (under 4 tokens) never reach the composed
    # groupBy; the per-row form reports them directly as (0, 0, False)
    for k, v in got.items():
        assert v == want.get(k, (0, 0, False)), (k, v, want.get(k))
    bloom.unpersist()


def test_gopher_quality_rule_battery(spark):
    """One crafted document per Gopher rule (Rae et al. 2021 App. A):
    each trips exactly its own flag at the paper-default thresholds; a
    clean document passes everything."""
    from adam_spark.llm.text import gopher_quality

    clean = ("the quick brown fox jumps over that lazy dog and then "
             "keeps running with great speed toward home base while "
             + " ".join(f"distinct{i} filler{i} words{i}" for i in range(20)))
    docs = [
        (0, clean),
        (1, "the of and short"),                              # < 50 words
        (2, "a " * 60 + "the of"),                            # mean word len < 3
        (3, ("word " * 58) + "# " * 10 + "the of"),           # symbol ratio > 0.1
        (4, "\n".join("- the item of number %d here" % i for i in range(20))),  # bullets
        (5, "\n".join("the line of number %d trails off..." % i for i in range(20))),  # ellipsis
        (6, ("12345 " * 45) + "the of and that have with to be more words here"),  # alpha < 0.8
        (7, ("zebra quagga okapi dingo lemur vervet " * 10)),  # no stop words
        (8, "\n".join(["the same line of text here again"] * 12 +
                      ["unique line number %d" % i for i in range(8)])),  # dup lines
        # top-n-gram repetition: one 4-gram covering >16% of tokens
        (9, ("alpha beta gamma delta " * 12)
            + " ".join(f"word{i} the of and" for i in range(10))),
    ]
    out = {
        r["id"]: r
        for r in gopher_quality(
            spark.createDataFrame(docs, ["doc_id", "text"])
        ).collect()
    }
    assert out[0]["keep"], out[0]
    assert not out[1]["ok_word_count"]
    assert not out[2]["ok_mean_word_len"]
    assert not out[3]["ok_symbol_ratio"]
    assert not out[4]["ok_bullet_lines"]
    assert not out[5]["ok_ellipsis_lines"]
    assert not out[6]["ok_alpha_words"]
    assert not out[7]["ok_stop_words"]
    assert not out[8]["ok_dup_lines"]
    assert not out[8]["ok_dup_line_chars"]
    assert not out[9]["ok_top_4gram"]
    for i in range(1, 10):
        assert not out[i]["keep"]


def test_audio_decode_and_features(spark):
    """Real PCM WAV decode + waveform features: a synthesized sine
    round-trips through encode_wav/decode_wav within quantization
    error, and extract_audio_features computes RMS/peak/ZCR over the
    audio rows (bad assets yield null features, not errors)."""
    import math

    import numpy as np

    from adam_spark.llm.multimodal import (
        MEDIA,
        decode_wav,
        encode_wav,
        extract_audio_features,
    )

    rate = 8000
    t = np.arange(rate) / rate  # 1 second
    sine = 0.5 * np.sin(2 * np.pi * 440 * t)
    wav = encode_wav(sine, rate)
    x, r = decode_wav(wav)
    assert r == rate and len(x) == rate
    assert float(np.max(np.abs(x - sine))) < 1e-3  # 16-bit quantization
    # stereo mixes down; 8-bit decodes
    import struct
    wav8 = encode_wav(sine[:100], rate, bits=8)
    x8, _ = decode_wav(wav8)
    assert float(np.max(np.abs(x8 - sine[:100]))) < 2e-2

    rows = [
        (1, "audio", "audio/wav", bytearray(wav), None, None, 1000, rate),
        (2, "audio", "audio/wav", b"not a wav", None, None, None, None),
        (3, "image", "image/png", b"xxxx", 4, 4, None, None),
    ]
    media = spark.createDataFrame(rows, schema=MEDIA)
    got = {r["asset_id"]: r for r in extract_audio_features(media).collect()}
    assert set(got) == {1, 2}  # image rows filtered out
    a = got[1]
    assert a["n_samples"] == rate and a["duration_ms"] == 1000
    # sine RMS = amp/sqrt(2); 440 Hz crosses zero ~880 times/sec
    assert abs(a["rms"] - 0.5 / math.sqrt(2)) < 1e-3
    assert abs(a["peak"] - 0.5) < 1e-3
    assert abs(a["zero_crossing_rate"] * rate - 880) < 10
    assert got[2]["rms"] is None and got[2]["n_samples"] is None


def test_semantic_dedup_sampled_kmeans_centroids(spark):
    """centroid_sample_fraction sources centroids from kmeans_centroids
    fit on a Bernoulli sample (the extreme-N recipe from the docstring):
    the result is IDENTICAL to passing that trained centroid frame
    explicitly — centroids are only ever a k-row broadcast, so the
    sourcing path changes nothing downstream — and flags remain valid
    one-row-per-vector output."""
    from adam_spark.llm.similarity import kmeans_centroids, semantic_dedup

    rng = np.random.default_rng(7)
    mat = rng.normal(0, 1.0, size=(120, 8))
    mat[60:] = mat[:60] + rng.normal(0, 0.01, size=(60, 8))  # planted dups
    rows = [(i, [float(x) for x in mat[i]]) for i in range(len(mat))]
    embs = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")

    via_param = semantic_dedup(
        embs, threshold=0.95, n_centroids=4, centroid_sample_fraction=0.5
    )
    explicit = kmeans_centroids(
        embs.sample(fraction=0.5, seed=13), k=4, iters=2
    )
    via_frame = semantic_dedup(embs, threshold=0.95, n_centroids=4, centroids=explicit)

    a = sorted(map(tuple, via_param.collect()))
    b = sorted(map(tuple, via_frame.collect()))
    assert a == b
    assert len(a) == 120
    assert any(r[2] for r in a), "planted dups should be flagged"


def test_remove_duplicate_substrings_planted(spark):
    """Exact duplicate-substring removal (llm/dedup, Lee et al. 2022
    shape): a 40-char block shared by two docs is cut from both at
    k=20/stride=1; unique text survives; a doc that IS the block
    empties entirely; untouched docs pass through."""
    from adam_spark.llm.dedup import remove_duplicate_substrings

    block = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789abcd"  # 40 chars
    # flanking chars adjacent to the block differ between the docs, so
    # no k-window crossing the boundary is shared and the merged span is
    # exactly `block` (with shared flanks the span would extend — the
    # maximal-match semantics of the suffix-array construction)
    rows = [
        (1, "1prefix!" + block + "?suffix1"),
        (2, "2prefix=" + block + "#suffix2"),
        (3, block),
        (4, "totally unique text with no repeats at all, long enough"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["text_clean"], r["removed_chars"])
        for r in remove_duplicate_substrings(df, k=20, stride=1).collect()
    }
    assert out[1] == ("1prefix!?suffix1", 40)
    assert out[2] == ("2prefix=#suffix2", 40)
    assert out[3] == ("", 40)
    assert out[4][1] == 0 and out[4][0] == rows[3][1]


def test_remove_duplicate_substrings_stride_and_merge(spark):
    """Stride-aligned anchors still merge adjacent islands: two hot
    regions separated by a unique gap produce two spans, and the
    hot-set join planned as a sort-merge join is bit-identical."""
    from adam_spark.llm.dedup import remove_duplicate_substrings

    rep1 = "X" * 25
    rep2 = "Y" * 25
    rows = [
        (1, rep1 + "-unique-middle-1-" + rep2),
        (2, rep1 + "=different=gap==" + rep2),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = remove_duplicate_substrings(df, k=10, stride=3).orderBy("doc_id").collect()
    with no_auto_broadcast(spark):
        shuffled = remove_duplicate_substrings(df, k=10, stride=3)
        assert "h" in sort_merge_join_keys(shuffled)
        b = shuffled.orderBy("doc_id").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    for r, (_, text) in zip(a, rows):
        # both runs removed modulo stride-alignment slack at the run
        # edges (up to `stride` chars can survive per edge); the unique
        # gap is intact
        assert r["text_clean"].count("X") <= 3 and r["text_clean"].count("Y") <= 3
        assert r["removed_chars"] >= 40
        gap = text.strip("XY")
        assert gap in r["text_clean"]
