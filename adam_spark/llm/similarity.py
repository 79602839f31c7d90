"""Similarity search over embedding columns (array<float>).

Three tiers, trading exactness for scale:

- :func:`cosine_topk` — exact brute force with built-in expressions
  (``zip_with`` dot product); the correctness baseline, O(Q·N).
- :func:`cosine_topk_numpy` — exact brute force, but the probe side is
  a broadcast numpy matrix and scoring runs as an Arrow-batched
  ``mapInPandas`` matmul: one BLAS GEMM per batch, no shuffle at all.
  This is the 100 TB scan path (queries broadcast, corpus streamed).
- :func:`ivf_topk` — IVF-style approximate search: corpus vectors are
  bucketed to their nearest centroid (deterministic centroids = first
  ``n_centroids`` corpus rows by id — swap in k-means offline for real
  use), queries probe only ``n_probe`` nearest centroid buckets. Turns
  the all-pairs score into an equi-join on centroid id.

Cosine is computed in double precision with an index-ordered sum so
results reproduce across engines (ties broken by neighbor id).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query: (query_id, neighbor_id, rank, sim).

    The QUERY set broadcasts (O(queries), small by assumption) and the
    corpus streams through executors — the side that grows with data
    never broadcasts, so the plan survives a corpus 100× larger.

    Norms are hoisted to per-ROW projections before the join: the
    higher-order-function folds (``aggregate``/``transform``) are
    interpreted, not codegen'd, and evaluating each side's norm once
    per row instead of once per PAIR cuts the interpreted work from
    2·Q·N folds to Q+N (measured 1.14→0.84 s at sf0.1). Bit-identical:
    the norm expression tree and the ``dot/(qn·cn)`` op order are
    unchanged, only the evaluation site moves."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        _norm(F.col(vec_col)).alias("__cn"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        _norm(F.col(vec_col)).alias("__qn"),
    )
    scored = c.crossJoin(F.broadcast(q)).where(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        (_dot(F.col("qvec"), F.col("cvec")) / (F.col("__qn") * F.col("__cn"))).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim"))
    )


def cosine_topk_numpy(
    corpus: DataFrame,
    queries_rows: list[tuple[int, list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k via broadcast query matrix + Arrow-batched GEMM.

    ``queries_rows``: [(query_id, vector), ...] — driver-side (the probe
    set is small by assumption; the corpus streams through executors).
    Per corpus batch we compute sims against ALL queries in one matmul,
    emit per-batch top-k, then a final global top-k per query — the
    classic two-stage (partial + final) pattern, shuffle = Q·k rows.
    """
    import numpy as np
    import pandas as pd

    qids = [q[0] for q in queries_rows]
    qmat = np.asarray([q[1] for q in queries_rows], dtype=np.float64)
    # norm floors: a zero vector (either side) must score 0, not NaN —
    # NaN sorts first under desc and would flood the top-k
    qnorm = np.maximum(np.linalg.norm(qmat, axis=1), 1e-300)
    spark = corpus.sparkSession
    bq = spark.sparkContext.broadcast((qids, qmat, qnorm))

    out_schema = "query_id long, neighbor_id long, sim double"

    def score(batches):
        qids_, qmat_, qnorm_ = bq.value
        for pdf in batches:
            # null vectors can't be scored (ragged asarray crashes)
            pdf = pdf[pdf[vec_col].notna()]
            if len(pdf) == 0:
                continue
            cmat = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            cnorm = np.maximum(np.linalg.norm(cmat, axis=1), 1e-300)
            sims = (qmat_ @ cmat.T) / (qnorm_[:, None] * cnorm[None, :])
            ids = pdf[id_col].to_numpy()
            # per-batch partial top-k per query
            kk = min(k + 1, sims.shape[1])
            idx = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
            rows = []
            for qi, qid in enumerate(qids_):
                for ci in idx[qi]:
                    if ids[ci] != qid:
                        rows.append((qid, int(ids[ci]), float(sims[qi, ci])))
            yield pd.DataFrame(rows, columns=["query_id", "neighbor_id", "sim"])

    partial = corpus.select(id_col, vec_col).mapInPandas(score, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim"))
    )


def kmeans_centroids(
    corpus: DataFrame,
    k: int,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 13,
) -> DataFrame:
    """Distributed Lloyd's k-means for IVF centroid training.

    The corpus never leaves the executors: each iteration broadcasts
    the k current centroids (tiny) and one fused ``mapInPandas`` pass
    both assigns every vector (argmax of a GEMM on normalized vectors —
    spherical k-means, the right objective for cosine search) and
    reduces each partition to per-cluster partial sums. Only those
    partials — O(partitions·k) rows of (cid, dim_index, value) after a
    posexplode — are shuffled and summed, so the per-iteration shuffle
    and the final collect are corpus-size-independent AND
    dimension-safe: no dim-wide Catalyst aggregate exists anywhere (an
    ``F.sum(element_at)`` column per dimension blows up codegen past
    dim ≈ 100s — the same pathology the minhash fold hit in r2).
    Driver holds only k×dim floats. Returns (cent_id, cent_vec) for
    :func:`ivf_topk`.
    """
    # NOTE (r14, measured and NOT adopted): a one-time localCheckpoint
    # of the (id, vec) projection feeding all iterations — the obvious
    # "stop re-scanning the source every Lloyd pass" move — was
    # implemented and interleave-A/B'd at sf0.1 (REPS=2 ×3 rounds):
    # checkpoint 2.12/2.56/2.69 vs plain 2.00/2.25/2.26 s count. The
    # eager materialization job costs more than iters re-scans of a
    # 2000×64 corpus save; per-iteration cost here is driver job
    # latency, not scan work. At real corpus scale a caller can pass an
    # already-materialized frame; the operator stays scan-per-iteration.
    first = (
        corpus.orderBy(id_col).limit(k).select(vec_col).collect()
    )  # deterministic seeding: first-k by id (k×dim driver bytes only)
    cents = np.asarray([r[vec_col] for r in first], dtype=np.float64)
    spark = corpus.sparkSession
    dim = cents.shape[1]
    for _ in range(iters):
        c_norm = cents / np.maximum(np.linalg.norm(cents, axis=1), 1e-12)[:, None]
        bc = spark.sparkContext.broadcast(c_norm)

        def partials(batches):
            cn = bc.value
            kk, d = cn.shape
            sums = np.zeros((kk, d), dtype=np.float64)
            counts = np.zeros(kk, dtype=np.int64)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in pdf["v"]]
                )
                normed = mat / np.maximum(np.linalg.norm(mat, axis=1), 1e-12)[:, None]
                cid = np.argmax(normed @ cn.T, axis=1)
                np.add.at(sums, cid, mat)
                np.add.at(counts, cid, 1)
            live = np.nonzero(counts)[0]
            yield pd.DataFrame(
                {
                    "cid": live.astype(np.int32),
                    # dtype=object: an EMPTY list column would otherwise
                    # infer float64, which Arrow can't cast to list<double>
                    "psum": pd.Series(
                        [sums[c].tolist() for c in live], dtype=object
                    ),
                    "n": counts[live],
                }
            )

        partial_df = corpus.select(F.col(vec_col).alias("v")).mapInPandas(
            partials, schema="cid int, psum array<double>, n long"
        )
        # collect the per-partition partials DIRECTLY — at most
        # partitions·k rows of (cid, dim doubles, n), the same driver
        # footprint as the centroids — and reduce in numpy. The old
        # posexplode→groupBy(cid, i) added a full shuffle + aggregate
        # stage per iteration to sum what fits in one screen of rows
        # (r13: measured pure job-latency at small k·partitions, and at
        # ANY scale the collect is O(partitions·k·dim), corpus-size-
        # independent, so nothing is lost asymptotically). Rows are
        # sorted before summing so the float reduction order is
        # deterministic for a fixed partitioning — the same guarantee
        # the shuffle reduction gave.
        prows = partial_df.collect()
        prows.sort(key=lambda r: (r["cid"], r["n"], tuple(r["psum"])))
        new = cents.copy()  # empty clusters keep their previous centroid
        sums = np.zeros_like(cents)
        counts = np.zeros(cents.shape[0], dtype=np.int64)
        for r in prows:
            sums[r["cid"]] += np.asarray(r["psum"], dtype=np.float64)
            counts[r["cid"]] += r["n"]
        live = counts > 0
        new[live] = sums[live] / counts[live, None]
        cents = new
        bc.destroy()
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(cents)]
    return spark.createDataFrame(rows, "cent_id int, cent_vec array<double>")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: probe only the n_probe nearest centroid buckets.

    ``centroids``: optional (cent_id, cent_vec) table, e.g. from
    :func:`kmeans_centroids` — the production path. The default (first
    ``n_centroids`` corpus rows by id) stays deterministic so the
    DuckDB correctness oracle can replicate bucketing exactly.
    """
    if centroids is None:
        centroids = (
            corpus.orderBy(id_col)
            .limit(n_centroids)
            .select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec"))
        )
    # corpus → nearest-centroid assignment as ONE broadcast GEMM argmax per
    # Arrow batch (the `assign` shape from kmeans_centroids). The earlier
    # crossJoin(centroids) + row_number window exploded every corpus vector
    # into n_centroids rows and shuffled that 16× stream just to take an
    # argmax — a full-corpus shuffle that the narrow map eliminates. Ties
    # (equal cosine) break to the lowest cent_id in both paths: centroids
    # are sorted by cent_id and np.argmax returns the first maximum.
    from pyspark.sql.types import LongType

    cent_rows = centroids.orderBy("cent_id").collect()  # k×dim driver bytes
    cent_ids = np.asarray([r["cent_id"] for r in cent_rows], dtype=np.int64)
    cmat = np.asarray([r["cent_vec"] for r in cent_rows], dtype=np.float64)
    cn = cmat / np.maximum(np.linalg.norm(cmat, axis=1), 1e-12)[:, None]
    bc = corpus.sparkSession.sparkContext.broadcast((cent_ids, cn))

    @F.pandas_udf(LongType())
    def nearest_cent(vecs: pd.Series) -> pd.Series:
        ids_, cn_ = bc.value
        if len(vecs) == 0:
            return pd.Series([], dtype=np.int64)
        mat = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        # argmax of cosine(v, c_j) = argmax of v·(c_j/|c_j|): |v| is a
        # positive constant per row, so normalizing the corpus side is
        # unnecessary for the ranking
        return pd.Series(ids_[np.argmax(mat @ cn_.T, axis=1)])

    # per-row norm hoist (same move as cosine_topk): the interpreted
    # norm fold runs once per corpus row / probe row instead of once
    # per (probe, bucket-row) pair in the scan join below; bit-identical
    # (same expression tree, same dot/(qn·cn) op order)
    assigned = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        _norm(F.col(vec_col)).alias("__cn"),
        nearest_cent(F.col(vec_col)).alias("cent_id"),
    )
    # queries probe n_probe nearest centroids (queries × centroids is tiny —
    # the window here ranks O(Q·k) rows, not the corpus)
    centroids = F.broadcast(centroids)
    q_scored = queries.crossJoin(centroids).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        "cent_id",
        cosine(F.col(vec_col), F.col("cent_vec")).alias("csim"),
    )
    wprobe = Window.partitionBy("query_id").orderBy(F.desc("csim"), F.asc("cent_id"))
    probes = (
        q_scored.withColumn("r", F.row_number().over(wprobe))
        .where(F.col("r") <= n_probe)
        .drop("r", "csim")
        .withColumn("__qn", _norm(F.col("qvec")))
    )
    scored = (
        probes.join(assigned, "cent_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("qvec"), F.col("cvec")) / (F.col("__qn") * F.col("__cn"))).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim"))
    )


def ivf_topk_quantized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    rescore_factor: int = 4,
) -> DataFrame:
    """IVF probe + int8 GEMM shortlist + exact rescore — the 100 TB ANN
    scan: centroid-pruned AND 4×-compressed.

    Same probe semantics as :func:`ivf_topk` (nearest-centroid
    assignment as a narrow broadcast-GEMM map; each query scans only
    its ``n_probe`` nearest centroid buckets) but bucket scanning uses
    :func:`cosine_topk_quantized`'s kernel: per Arrow batch one int8
    matmul (int32 accumulation — the layout a deployment keeps cached,
    4× smaller than float32) ranks a ``rescore_factor·k`` shortlist,
    which is rescored against the original floats. Rows in buckets a
    query does not probe are masked out of that query's shortlist
    in-kernel, so batches need no per-bucket grouping — the bucket
    filter (cent_id isin the probed union) plus the mask implement the
    probe exactly. Returned sims are EXACT (rescored); approximation =
    IVF probe recall ∘ shortlist recall.
    """
    if centroids is None:
        centroids = (
            corpus.orderBy(id_col)
            .limit(n_centroids)
            .select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec"))
        )
    from pyspark.sql.types import LongType

    cent_rows = centroids.orderBy("cent_id").collect()  # k×dim driver bytes
    cent_ids = np.asarray([r["cent_id"] for r in cent_rows], dtype=np.int64)
    cmat_cent = np.asarray([r["cent_vec"] for r in cent_rows], dtype=np.float64)
    cn_cent = cmat_cent / np.maximum(np.linalg.norm(cmat_cent, axis=1), 1e-12)[:, None]

    # probe sets on the driver: Q×k_cent GEMM (queries are small by
    # assumption — ivf_topk broadcasts them for the same reason)
    q_rows = queries.select(id_col, vec_col).collect()
    qids = [int(r[id_col]) for r in q_rows]
    qmat = np.asarray([r[vec_col] for r in q_rows], dtype=np.float64)
    qnorm = np.maximum(np.linalg.norm(qmat, axis=1), 1e-300)
    csim = (qmat / qnorm[:, None]) @ cn_cent.T
    # rank centroids per query: desc sim, ties to the lowest cent_id
    # (cent_rows are cent_id-sorted and argsort/lexsort are stable)
    order = np.argsort(-csim, axis=1, kind="stable")[:, :n_probe]
    probe_sets = [frozenset(int(cent_ids[j]) for j in row) for row in order]
    probed_union = sorted(set().union(*probe_sets)) if probe_sets else []

    spark = corpus.sparkSession
    bq = spark.sparkContext.broadcast((qids, qmat, qnorm, probe_sets))
    bc = spark.sparkContext.broadcast((cent_ids, cn_cent))
    kk_target = max(k + 1, rescore_factor * k)

    @F.pandas_udf(LongType())
    def nearest_cent(vecs: pd.Series) -> pd.Series:
        ids_, cn_ = bc.value
        if len(vecs) == 0:
            return pd.Series([], dtype=np.int64)
        mat = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        return pd.Series(ids_[np.argmax(mat @ cn_.T, axis=1)])

    assigned = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        nearest_cent(F.col(vec_col)).alias("cent_id"),
    ).where(F.col("cent_id").isin(probed_union))

    out_schema = "query_id long, neighbor_id long, sim double"

    def score(batches):
        qids_, qmat_, qnorm_, probes_ = bq.value
        for pdf in batches:
            pdf = pdf[pdf["cvec"].notna()]
            if len(pdf) == 0:
                continue
            cmat = np.asarray(list(pdf["cvec"]), dtype=np.float64)
            cmax = np.maximum(np.abs(cmat).max(axis=1), 1e-300)
            cq32 = np.floor(cmat * 127.0 / cmax[:, None] + 0.5).astype(np.int8).astype(np.int32)
            cnorm = np.maximum(np.linalg.norm(cmat, axis=1), 1e-300)
            qmax = np.maximum(np.abs(qmat_).max(axis=1), 1e-300)
            qq32 = np.floor(qmat_ * 127.0 / qmax[:, None] + 0.5).astype(np.int8).astype(np.int32)
            qn = np.maximum(np.linalg.norm(qq32, axis=1), 1e-300)
            cn_ = np.maximum(np.linalg.norm(cq32, axis=1), 1e-300)
            approx = (qq32 @ cq32.T) / (qn[:, None] * cn_[None, :])
            cents = pdf["cent_id"].to_numpy()
            ids = pdf["neighbor_id"].to_numpy()
            rows = []
            for qi, qid in enumerate(qids_):
                mask = np.isin(cents, list(probes_[qi]))
                if not mask.any():
                    continue
                a = np.where(mask, approx[qi], -np.inf)
                kk = min(kk_target, int(mask.sum()))
                cand = np.argpartition(-a, kk - 1)[:kk]
                cand = cand[mask[cand]]
                sims = (qmat_[qi] @ cmat[cand].T) / (qnorm_[qi] * cnorm[cand])
                for ci, s in zip(cand, sims):
                    if ids[ci] != qid:
                        rows.append((qid, int(ids[ci]), float(s)))
            yield pd.DataFrame(rows, columns=["query_id", "neighbor_id", "sim"])

    partial = assigned.mapInPandas(score, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim"))
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_centroids: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    max_cluster_size: int = 4096,
    split_mode: str = "salt",
    centroid_sample_fraction: float | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    cluster the embedding space, then drop near-duplicates WITHIN each
    cluster — the published trick that turns the O(N²) all-pairs
    semantic-dedup problem into k independent within-cluster problems.

    Returns one row per vector: (id, cent_id, is_duplicate) where
    ``is_duplicate`` marks a vector having a LOWER-id neighbor in its
    cluster at cosine ≥ ``threshold`` (min-id-survives, the same greedy
    canonical rule as the exact/minhash text dedup family — not full
    connected components, matching SemDeDup's one-per-ε-ball keep).

    Scale shape: centroid assignment is a narrow broadcast-GEMM map
    (one argmax per Arrow batch, zero shuffle); candidate pairing is a
    cent_id EQUI-join (SortMergeJoin — never a cross join across
    clusters) with the exact Catalyst cosine as the join filter, and
    the flag returns via one duplicate-id semi-join. Per-cluster work
    is quadratic in cluster size — the algorithm's published cost —
    and two knobs keep it bounded at scale:

    - ``n_centroids`` defaults to ⌈√N⌉ (SemDeDup's k ≈ √N sizing, so
      an EVENLY-spread corpus has √N-sized clusters and total pairwise
      work stays ~N^1.5, parallel across clusters). A pinned int keeps
      the exact SQL oracle replicable.
    - ``max_cluster_size`` is the SKEW guard: real embedding spaces
      concentrate mass on few centroids, and an unguarded hot cluster
      of size c funnels an O(c²) sort-merge task onto one core. Any
      cluster larger than the cap is salt-split into
      s = ⌈size / cap⌉ sub-partitions — the a-side keyed by
      ``pmod(xxhash64(id), s)``, the b-side REPLICATED to all s salts (the
      manual skew-join construction) — so every within-cluster pair is
      still compared EXACTLY ONCE while the hot cluster's work spreads
      over s tasks of ≤ cap·c comparisons each. Zero recall loss: the
      guard re-shapes parallelism, never the pair set, so results are
      bit-identical with or without it (and the SQL oracle needs no
      salt mirror). Cluster sizes come from one tiny k-row aggregate
      over the (cached) assignment.
    - ``split_mode="recluster"`` trades the salt mode's exactness for
      REDUCED total work: each oversized cluster is sub-clustered (its
      s lowest-id members seed a one-pass spherical sub-assignment —
      a 1-iteration k-means, matching the paper's own clustering
      approximation) and pairs only form within sub-clusters, cutting
      the hot cluster's comparisons from c² to ~c²/s with no b-side
      replication at all. Recall loss is one-sided and bounded: every
      flagged duplicate is a true ≥-threshold duplicate (the cosine
      verify is unchanged); only pairs straddling sub-clusters can be
      missed — the same ε-ball-fragmentation loss SemDeDup's k-means
      already accepts at the top level. Salt mode remains the default
      because it is exact and oracle-safe.

    Deterministic default centroids (first ``n_centroids`` rows by id)
    keep an exact SQL oracle; pass :func:`kmeans_centroids` output for
    production quality. Centroid sourcing at extreme N: the default
    ``orderBy(id).limit(√N)`` plans as a TakeOrdered (top-K per
    partition + K-row driver merge, no full sort) and the follow-up
    collect is √N×dim driver bytes — ~50 MB at N=10¹⁰/dim=64, fine —
    but at that scale the centroids should be TRAINED, not prefix-
    sampled: pass ``centroid_sample_fraction`` to source them from
    :func:`kmeans_centroids` fit on a Bernoulli ``sample()`` of the
    corpus (the standard IVF recipe: training on ~256×k sampled
    vectors matches full-corpus training quality), or pass a
    ``centroids`` frame trained offline. Either way the downstream
    assignment/join plan is unchanged — centroids are only ever a
    k-row broadcast.
    """
    import math

    if centroids is None:
        if n_centroids is None:
            n_centroids = max(16, math.isqrt(max(int(corpus.count()), 1)))
        if centroid_sample_fraction is not None:
            centroids = kmeans_centroids(
                corpus.sample(fraction=centroid_sample_fraction, seed=13),
                k=n_centroids,
                iters=2,
                id_col=id_col,
                vec_col=vec_col,
            )
        else:
            centroids = (
                corpus.orderBy(id_col)
                .limit(n_centroids)
                .select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec"))
            )
    from pyspark.sql.types import LongType

    cent_rows = centroids.orderBy("cent_id").collect()  # k×dim driver bytes
    cent_ids = np.asarray([r["cent_id"] for r in cent_rows], dtype=np.int64)
    cmat = np.asarray([r["cent_vec"] for r in cent_rows], dtype=np.float64)
    cn = cmat / np.maximum(np.linalg.norm(cmat, axis=1), 1e-12)[:, None]
    bc = corpus.sparkSession.sparkContext.broadcast((cent_ids, cn))

    @F.pandas_udf(LongType())
    def nearest_cent(vecs: pd.Series) -> pd.Series:
        ids_, cn_ = bc.value
        if len(vecs) == 0:
            return pd.Series([], dtype=np.int64)
        mat = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        return pd.Series(ids_[np.argmax(mat @ cn_.T, axis=1)])

    from pyspark.storagelevel import StorageLevel

    # __n: each vector's norm hoisted to a per-ROW projection — the
    # higher-order-function folds are interpreted (not codegen'd), so
    # evaluating the norm once per row instead of once per within-
    # cluster PAIR cuts the interpreted work from 2·Σc² folds to N
    # (the cosine_topk hoist, same bit-identity argument: the norm
    # expression tree and the dot/(na·nb) op order are unchanged, only
    # the evaluation site moves).
    assigned = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("__n"),
        nearest_cent(F.col(vec_col)).alias("cent_id"),
    ).persist(StorageLevel.MEMORY_AND_DISK)  # feeds both self-join sides
    a = assigned.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"),
        F.col("__n").alias("__na"), "cent_id",
    )
    b = assigned.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"),
        F.col("__n").alias("__nb"), "cent_id",
    )
    # Skew guard: one k-row aggregate (reads the cached assignment)
    # sizes the salt factor per cluster; only oversized clusters pay
    # any replication (s = 1 clusters are untouched by the branch).
    sizes = (
        assigned.groupBy("cent_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .collect()
    )  # k rows on the driver — same O(k) class as the centroid collect
    nsalts = {
        r["cent_id"]: max(1, -(-int(r["n"]) // int(max_cluster_size)))
        for r in sizes
    }
    oversized = {c: s for c, s in nsalts.items() if s > 1}
    if oversized and split_mode not in ("salt", "recluster"):
        raise ValueError(f"split_mode must be salt|recluster, got {split_mode!r}")
    if oversized:
        from pyspark.sql.types import IntegerType, StructField, StructType

        ns_schema = StructType(
            [
                StructField("cent_id", assigned.schema["cent_id"].dataType),
                StructField("__ns", IntegerType()),
            ]
        )
    if oversized and split_mode == "recluster":
        over_map = F.broadcast(
            corpus.sparkSession.createDataFrame(
                [(c, s) for c, s in oversized.items()], ns_schema
            )
        )
        # deterministic sub-centroid seeds: the s lowest-id members of
        # each oversized cluster (the window shuffles ONLY those
        # clusters' members; Σs × dim driver bytes — the centroid class)
        seeds = (
            assigned.join(over_map, "cent_id")
            .withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy("cent_id").orderBy("id")
                ),
            )
            .where(F.col("__rn") <= F.col("__ns"))
            .select("cent_id", "v")
            .collect()
        )
        groups: dict = {}
        for r in seeds:
            groups.setdefault(int(r["cent_id"]), []).append(
                np.asarray(r["v"], dtype=np.float64)
            )
        sub_norm = {}
        for c, vs in groups.items():
            m = np.asarray(vs)
            sub_norm[c] = m / np.maximum(
                np.linalg.norm(m, axis=1), 1e-12
            )[:, None]
        bc_sub = corpus.sparkSession.sparkContext.broadcast(sub_norm)

        from pyspark.sql.types import IntegerType as _IntType

        @F.pandas_udf(_IntType())
        def sub_assign(cids: pd.Series, vecs: pd.Series) -> pd.Series:
            table = bc_sub.value
            out = np.zeros(len(cids), dtype=np.int32)
            if len(cids):
                cid_arr = cids.to_numpy()
                for c in np.unique(cid_arr):
                    m = table.get(int(c))
                    if m is None:
                        continue  # not oversized: stays in sub 0
                    mask = cid_arr == c
                    mat = np.asarray(
                        [np.asarray(v, dtype=np.float64) for v in vecs[mask]]
                    )
                    out[mask] = np.argmax(mat @ m.T, axis=1).astype(np.int32)
            return pd.Series(out)

        a = a.withColumn("__salt", sub_assign(F.col("cent_id"), F.col("va")))
        b = b.withColumn("__salt", sub_assign(F.col("cent_id"), F.col("vb")))
        join_keys = ["cent_id", "__salt"]
    elif oversized:
        salt_map = F.broadcast(
            corpus.sparkSession.createDataFrame(
                [(c, s) for c, s in nsalts.items()], ns_schema
            )
        )
        a = (
            a.join(salt_map, "cent_id")
            .withColumn(
                "__salt",
                F.pmod(F.xxhash64(F.col("id_a")), F.col("__ns")).cast("int"),
            )
            .drop("__ns")
        )
        b = (
            b.join(salt_map, "cent_id")
            .withColumn(
                "__salt",
                F.explode(F.sequence(F.lit(0), F.col("__ns") - F.lit(1))),
            )
            .drop("__ns")
        )
        join_keys = ["cent_id", "__salt"]
    else:
        join_keys = ["cent_id"]
    dup_ids = (
        a.join(b, join_keys)
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            (_dot(F.col("va"), F.col("vb")) / (F.col("__na") * F.col("__nb")))
            >= F.lit(float(threshold))
        )
        .select(F.col("id_b").alias("id"))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    out = (
        assigned.select("id", "cent_id")
        .join(dup_ids, "id", "left")
        .select(
            "id",
            "cent_id",
            F.coalesce("__dup", F.lit(False)).alias("is_duplicate"),
        )
    )
    return out


def _srp_matrix(dim: int, n_bits: int, seed: int = 7) -> list[list[float]]:
    """Deterministic Rademacher (±1) hyperplanes for sign-bit LSH.

    ±1 entries are exactly representable in binary floating point, so
    the projection dot products differ between engines only in
    summation order — the resulting SIGN matches bit-for-bit except
    within ~1e-13 of zero, which makes the band hashes reproducible in
    the DuckDB correctness oracle (the same reason the minhash family
    uses md5: engine-agnostic determinism).
    """
    import random

    rng = random.Random(seed)
    return [[1.0 if rng.random() < 0.5 else -1.0 for _ in range(dim)] for _ in range(n_bits)]


def srp_params(threshold: float) -> tuple[int, int]:
    """(rows_per_band, bands) tuned from the cosine threshold.

    P(sign bit matches) for a pair at angle θ is 1 − θ/π; rows_per_band
    trades candidate pruning against recall, bands buys recall back
    (P(miss) = (1 − p^r)^b, same banding calculus as minhash LSH). The
    formula asks for the bands that hold P(miss) ≤ 1% for a pair at
    the threshold, but the band count is clamped to [8, 64], and where
    the clamp binds the bound does not hold: t = 0.6 gets 64 bands
    where it asks for 76, so P(miss) = 1.79%; t = 0.8 gets 64 where it
    asks for 181, so P(miss) = 19.09%. At t = 0.4, 0.7, 0.9 and 0.95
    the clamp does not bind (30, 48, 55 and 26 bands).

    Below threshold ≈ 0.6 sign-bit LSH prunes weakly — the banding
    still avoids an all-pairs cross join, but candidate volume
    approaches all-pairs; true near-dup thresholds (≥ 0.8) prune hard.
    """
    import math

    p = 1.0 - math.acos(min(max(threshold, -0.999), 0.999)) / math.pi
    r = 4 if threshold < 0.6 else (8 if threshold < 0.8 else 16)
    b = int(math.ceil(math.log(100.0) / (p**r)))
    return r, max(8, min(64, b))


def _srp_band_hash_arrays(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    rows_per_band: int,
    bands: int,
    seed: int = 7,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, [extra_cols,] __bhs array<long>): per-doc SRP band-hash
    arrays, one Arrow-batched matmul per batch (see
    :func:`srp_band_hashes` for the exploded public form)."""
    from pyspark.sql.types import ArrayType, LongType

    n_bits = rows_per_band * bands
    proj = np.asarray(_srp_matrix(dim, n_bits, seed), dtype=np.float64)  # n_bits×dim
    weights = 1 << np.arange(rows_per_band, dtype=np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def bhs(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        bits = (mat @ proj.T >= 0).astype(np.int64)  # batch×n_bits
        packed = bits.reshape(len(mat), bands, rows_per_band) @ weights
        return pd.Series(list(packed))

    extras = [F.col(c) for c in extra_cols]
    return df.select(
        F.col(id_col).alias("id"), *extras, bhs(F.col(vec_col)).alias("__bhs")
    )


def srp_band_hashes(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    rows_per_band: int,
    bands: int,
    seed: int = 7,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, [extra_cols,] band, band_hash): signed-random-projection
    LSH bucketing.

    One Arrow-batched matmul per batch computes every projection bit
    (batch×dim @ dim×n_bits), bits pack into per-band integer hashes —
    a pure narrow map, zero shuffle, embarrassingly parallel over the
    corpus (and therefore readStream-composable; ``extra_cols`` carries
    e.g. an event-time column through for the streaming consumer).
    """
    # posexplode_outer + an explicit null filter (same rows as
    # posexplode): for a plain posexplode Catalyst infers a
    # size(__bhs) > 0 filter and pushes it under a second copy of the
    # projection UDF, which then runs twice per row
    return (
        _srp_band_hash_arrays(
            df, id_col, vec_col, dim, rows_per_band, bands, seed, extra_cols
        )
        .select("id", *extra_cols, F.posexplode_outer("__bhs").alias("band", "band_hash"))
        .where(F.col("band_hash").isNotNull())
    )


#: max corpus-matrix bytes (N·dim·8) the fused kernel broadcasts; past
#: this the band equi-join verifies by re-joining the vectors, which
#: never materializes the corpus on any single machine
FUSED_CAP_BYTES = 256 * 1024 * 1024


def _near_dup_gemm_fused(
    corpus: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    dim: int,
    rows_per_band: int,
    bands: int,
    seed: int = 7,
) -> DataFrame:
    """Near-dup in one fused pass: broadcast matrix + blocked numpy
    band-compare/GEMM, zero shuffles, zero joins.

    Computes the IDENTICAL pair set to the band equi-join ((share ≥1
    band) ∧ (cos ≥ threshold), each pair once) directly: hashes and
    sims both come from blocked matrix products against the broadcast
    corpus, and the only Spark stage is one ``mapInPandas`` over
    contiguous row-index ranges (``spark.range(n, numPartitions=P)`` —
    no shuffle at all). Candidate detection is O(N²·bands) vectorized
    compares, where the join pays one Spark row per colliding
    (pair, band) — see :func:`embedding_near_duplicates` for when each
    wins.

    Semantics match the band-join path bit-for-bit: one hash
    computation serves every pair (no executor/driver BLAS-order
    mismatch is possible), ids sort ascending so (id_a < id_b) falls
    out of the index order, sims round to 6 dp.
    """
    import pandas as pdlib

    spark = corpus.sparkSession
    out_schema = "id_a long, id_b long, sim double"
    pdf = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).toPandas()
    n = len(pdf)
    if n < 2:
        return spark.createDataFrame([], out_schema)
    order = np.argsort(pdf["id"].to_numpy(np.int64), kind="stable")
    ids = pdf["id"].to_numpy(np.int64)[order]
    mat = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["v"]])[order]
    norms = np.maximum(np.linalg.norm(mat, axis=1), 1e-300)
    n_bits = rows_per_band * bands
    proj = np.asarray(_srp_matrix(dim, n_bits, seed), dtype=np.float64)
    weights = 1 << np.arange(rows_per_band, dtype=np.int64)
    bh = ((mat @ proj.T >= 0).astype(np.int64).reshape(n, bands, rows_per_band) @ weights)
    bc = spark.sparkContext.broadcast((ids, mat, norms, bh))

    i_block, j_block = 512, 4096

    def score(batches):
        ids_, m, nrm, bh_ = bc.value
        nn = len(ids_)
        for b in batches:
            rows = b["id"].to_numpy(np.int64)  # row indices, contiguous range
            for s in range(0, len(rows), i_block):
                iv = rows[s : s + i_block]
                lo = int(iv.min()) + 1  # pairs (i, j) with j > i only
                out_a, out_b, out_s = [], [], []
                for j0 in range(lo, nn, j_block):
                    jv = np.arange(j0, min(j0 + j_block, nn))
                    share = (bh_[iv, None, :] == bh_[None, jv, :]).any(axis=2)
                    share &= iv[:, None] < jv[None, :]
                    if not share.any():
                        continue
                    sims = (m[iv] @ m[jv].T) / (nrm[iv, None] * nrm[None, jv])
                    hit = share & (sims >= threshold)
                    ii, jj = np.nonzero(hit)
                    out_a.append(ids_[iv[ii]])
                    out_b.append(ids_[jv[jj]])
                    out_s.append(sims[ii, jj])
                if out_a:
                    yield pdlib.DataFrame(
                        {
                            "id_a": np.concatenate(out_a),
                            "id_b": np.concatenate(out_b),
                            "sim": np.concatenate(out_s),
                        }
                    )

    par = max(1, min(spark.sparkContext.defaultParallelism, n))
    idx = spark.range(0, n, 1, numPartitions=par)
    return idx.mapInPandas(score, schema=out_schema).select(
        "id_a", "id_b", F.round("sim", 6).alias("sim")
    )


def embedding_near_duplicates(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """All pairs with cosine ≥ threshold via sign-bit LSH + exact verify.

    Generate→verify, the same shape as :func:`minhash_lsh_pairs`:
    candidates come from an equi-join on (band, band_hash) — a shuffle
    hash join, never a cross join — and are verified with the exact
    cosine before emission. Recall loss from banding is the only
    approximation: the banding :func:`srp_params` tunes from the
    threshold gives P(miss) ≤ 1% for a pair at the threshold except
    where its 64-band clamp binds (1.79% at t = 0.6, 19.09% at
    t = 0.8). The DuckDB oracle replicates the identical banding, so
    recall behavior is part of the spec.

    Two strategies, both exact over the same candidate definition:

    - ``rows_per_band ≤ 8`` and the corpus matrix fits
      :data:`FUSED_CAP_BYTES` (N·dim·8): the fused kernel
      (:func:`_near_dup_gemm_fused`) — broadcast matrix, blocked numpy
      band-compare + GEMM, zero shuffles.
    - otherwise: the band equi-join. Candidates are deduplicated (one
      exchange) and verified by re-joining the vectors — the only
      shuffles are the slim band join and the id re-joins; nothing
      broadcasts, so the path survives a 100 TB corpus.

    Why ``rows_per_band ≤ 8``: the fused kernel does one vectorized
    compare per (pair, band); the join does one Spark row per COLLIDING
    (pair, band), and a random pair collides in a band with probability
    2^-rows_per_band. One join row costs about 2^11 fused compares
    (N=20,000 at threshold 0.6: 5·10^7 candidate rows in ~135 s against
    1.3·10^10 compares in ~12 s), so the kernel wins while
    2^-rows_per_band > 2^-11 — of the widths :func:`srp_params` picks
    (4, 8, 16), exactly r ≤ 8 (sweep in MEASURED.md).
    """
    rows_per_band, bands = srp_params(threshold)
    from pyspark.storagelevel import StorageLevel

    if rows_per_band <= 8:
        # one probe job for the cap: corpus row count + observed vector
        # width (the `dim` argument only parameterizes the SRP
        # projection; trusting it would under-estimate the matrix
        # whenever a caller passes a dim smaller than the data's)
        probe = corpus.select(
            F.count(F.lit(1)).alias("n"),
            F.first(F.size(F.col(vec_col)), ignorenulls=True).alias("d"),
        ).first()
        n_corpus = int(probe["n"] or 0)
        true_dim = int(probe["d"]) if probe["d"] is not None else dim
        if n_corpus * true_dim * 8 <= FUSED_CAP_BYTES:
            return _near_dup_gemm_fused(
                corpus, threshold, id_col, vec_col, dim, rows_per_band, bands
            )
    # persisted in ARRAY form and filled eagerly: AQE broadcasts one
    # side of the band self-join, so the two sides differ in shape,
    # share no exchange, and unpersisted the projection UDF would run
    # once per side (measured)
    hashed_arr = _srp_band_hash_arrays(
        corpus, id_col, vec_col, dim, rows_per_band, bands
    ).persist(StorageLevel.MEMORY_AND_DISK)
    hashed_arr.count()
    hashed = hashed_arr.select("id", F.posexplode("__bhs").alias("band", "band_hash"))
    a = hashed.select(F.col("id").alias("id_a"), "band", "band_hash")
    b = hashed.select(F.col("id").alias("id_b"), "band", "band_hash")
    shuffle_parts = int(corpus.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    # one exchange serves dedup + verify rebalance (partitioning on id_a
    # satisfies the (id_a, id_b) clustering of dropDuplicates)
    cand = (
        a.join(b, ["band", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .repartition(shuffle_parts, "id_a")
        .dropDuplicates(["id_a", "id_b"])
    )
    # norms precomputed once per VECTOR (N rows) instead of per PAIR —
    # the verify fold then evaluates one dot product per candidate, not
    # three; numerically identical to computing norms inline
    va = corpus.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        _norm(F.col(vec_col)).alias("na"),
    )
    vb = corpus.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        _norm(F.col(vec_col)).alias("nb"),
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            (_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("sim"),
        )
        .where(F.col("sim") >= F.lit(threshold))
        .select("id_a", "id_b", F.round("sim", 6).alias("sim"))
    )


def quantize_embeddings(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector symmetric int8 quantization: (id, dim, scale, qvec).

    ``scale = max(abs(v)) / 127``; ``q_i = floor(v_i·127/max + 0.5)``
    clamped to [-127, 127] (the all-zero vector quantizes to scale 0,
    q = 0; a null vector yields a null row passthrough). The formula is
    pure double-precision Catalyst arithmetic — identical IEEE results
    in any engine, so it has an exact SQL oracle — and the narrow map
    shape quantizes a 100 TB corpus with zero shuffle. int8 storage is
    4× smaller than float32 on disk/in cache, which is the difference
    between an in-memory ANN scan and a spilled one at corpus scale;
    :func:`cosine_topk_quantized` consumes this layout.
    """
    # maxabs is HOISTED into a lower Project (the winnowing/text_profile
    # CollapseProject pattern, r14): referenced inline inside the
    # per-element quantization lambda, the array_max fold re-evaluated
    # per element — O(dim²) abs/max work per row (interpreted, higher-
    # order fns are CodegenFallback). As a column it is computed once
    # per row; the expressions are otherwise identical, so the
    # quantized values (and the exact SQL oracle) are unchanged.
    v = F.col("__v")
    maxabs = F.col("__maxabs")
    q = F.when(v.isNull(), F.lit(None).cast("array<int>")).otherwise(
        F.when(maxabs == 0.0, F.transform(v, lambda x: F.lit(0))).otherwise(
            F.transform(
                v,
                lambda x: F.greatest(
                    F.lit(-127),
                    F.least(
                        F.lit(127),
                        F.floor(x.cast("double") * 127.0 / maxabs + 0.5).cast("int"),
                    ),
                ),
            )
        )
    )
    return df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("__v"),
        F.array_max(
            F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double")))
        ).alias("__maxabs"),
    ).select(
        "id",
        F.size(v).alias("dim"),
        F.when(v.isNull(), F.lit(None).cast("double"))
        .otherwise(maxabs / 127.0)
        .alias("scale"),
        q.alias("qvec"),
    )


def cosine_topk_quantized(
    corpus: DataFrame,
    queries_rows: list[tuple[int, list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rescore_factor: int = 4,
) -> DataFrame:
    """Two-stage quantized scan: int8 GEMM shortlist, exact rescore.

    Same contract as :func:`cosine_topk_numpy` (exact float sims in the
    output, queries broadcast, corpus streamed, shuffle = Q·k' rows)
    but the per-batch scoring matmul runs over the int8-quantized
    corpus (int32 accumulation) — the layout a 100 TB deployment keeps
    cached, 4× smaller than float32 — and only the per-batch top
    ``rescore_factor·k`` shortlist by approximate similarity is
    rescored against the original floats. Recall loss is bounded by
    quantization error within a batch shortlist; the returned ``sim``
    values are EXACT (rescored), so any shortlist miss changes ranks
    only past the quantization noise floor.
    """
    qids = [q[0] for q in queries_rows]
    qmat = np.asarray([q[1] for q in queries_rows], dtype=np.float64)
    # same floor as cnorm in the loop: an all-zero QUERY must score 0
    # everywhere, not NaN (NaN sorts first under desc and would fill
    # that query's entire top-k with garbage)
    qnorm = np.maximum(np.linalg.norm(qmat, axis=1), 1e-300)
    spark = corpus.sparkSession
    bq = spark.sparkContext.broadcast((qids, qmat, qnorm))
    kk_target = max(k + 1, rescore_factor * k)

    out_schema = "query_id long, neighbor_id long, sim double"

    def score(batches):
        qids_, qmat_, qnorm_ = bq.value
        # quantize the probe matrix once per task
        qmax = np.maximum(np.abs(qmat_).max(axis=1), 1e-300)
        qq = np.floor(qmat_ * 127.0 / qmax[:, None] + 0.5).astype(np.int8)
        qq32 = qq.astype(np.int32)
        for pdf in batches:
            # null corpus vectors can't be scored (and would crash the
            # ragged asarray) — skip them, as quantize_embeddings does
            pdf = pdf[pdf[vec_col].notna()]
            if len(pdf) == 0:
                continue
            cmat = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            cmax = np.maximum(np.abs(cmat).max(axis=1), 1e-300)
            cq32 = np.floor(cmat * 127.0 / cmax[:, None] + 0.5).astype(np.int8).astype(np.int32)
            # norm floors: an all-zero vector must score 0, not NaN —
            # NaN sorts FIRST under desc and would flood every top-k
            cnorm = np.maximum(np.linalg.norm(cmat, axis=1), 1e-300)
            # approx cosine ∝ int32 dot / (row norms of the int vectors)
            qn = np.maximum(np.linalg.norm(qq32, axis=1), 1e-300)
            cn = np.maximum(np.linalg.norm(cq32, axis=1), 1e-300)
            approx = (qq32 @ cq32.T) / (qn[:, None] * cn[None, :])
            ids = pdf[id_col].to_numpy()
            kk = min(kk_target, approx.shape[1])
            short = np.argpartition(-approx, kk - 1, axis=1)[:, :kk]
            rows = []
            for qi, qid in enumerate(qids_):
                cand = short[qi]
                # exact rescore of the shortlist only
                sims = (qmat_[qi] @ cmat[cand].T) / (qnorm_[qi] * cnorm[cand])
                for ci, s in zip(cand, sims):
                    if ids[ci] != qid:
                        rows.append((qid, int(ids[ci]), float(s)))
            yield pd.DataFrame(rows, columns=["query_id", "neighbor_id", "sim"])

    partial = corpus.select(id_col, vec_col).mapInPandas(score, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim"))
    )
