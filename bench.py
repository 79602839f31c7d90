"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit":
"sec", "queries": {name: sec, ...}, "sf": ...}. Each query is
materialized with .count() (no driver collect of bulk rows).

Timing discipline: the sandbox shows ±40% run-to-run noise under CPU
contention (MEASURED.md) — same-code totals spanned 38.0–51.2s across
rounds. Each query is therefore timed over BENCH_RUNS passes (default
3) and reports its BEST time: the steady-state number a warm cluster
would see, not the noise floor of whatever else the box was doing.
Per-pass totals and the 1-minute load average are emitted alongside so
a real regression can't hide inside (or be invented by) the noise band.

Cold-per-pass: operators that persist a slim internal intermediate
(minhash banded tables, exact/simhash fingerprints, hot-span sets,
LM vocabularies) leave it in the session's CacheManager, whose
same-plan matching would let pass 2+ of an identical query hit pass
1's warm cache. The cache is cleared between passes
(``spark.catalog.clearCache()``), so every pass recomputes from the
parquet inputs and best-of-N is a min over equally-cold passes.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pandas as pd

import __spark_entry__ as entrymod
from adam_spark import get_spark

#: headline subset: relational + windowed + interval joins + coverage +
#: LLM ops — the operators whose scale behavior matters most
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "top_parts_by_revenue",
    "events_hourly",
    "events_sessions",
    "interval_join_inner",
    "interval_join_group_left",
    "interval_join_flank_broadcast",
    "coverage_collapse",
    "coverage_from_reads",
    "flagstat_events",
    "kmer_count_docs",
    "dedup_exact_docs",
    "dedup_minhash_docs",
    "dedup_simhash_docs",
    "text_profile_docs",
    "similarity_topk",
    "embedding_near_dup",
    # dedup_ngram_docs stays correctness-only: it is the documented
    # brute-force validation path; minhash is the scale path benched here
    "ann_ivf_topk",
    "mark_duplicates_orders",
]

#: second, non-headline group (r5 verdict #7): the r5-added operators.
#: Timed and emitted alongside so each has a perf history before any
#: regression could hide, but kept OUT of the headline total so
#: round-over-round "value" comparisons stay like-for-like with r1-r5.
EXTENDED = [
    "remove_boilerplate_docs",
    "doc_lm_score_docs",
    "doc_bigram_lm_score_docs",
    "dedup_incremental_docs",
    "bloom_decontaminate_docs",
    "heavy_hitter_tokens",
    "chunk_docs",
    "sample_mixture_docs",
    "embedding_quantize_stats",
    "semantic_dedup_embeddings",
    # r8: ann_ivf_topk_quantized switched to deterministic centroids for
    # its exact oracle; the k-means production shape its history was
    # measuring continues under the _kmeans name, and the deterministic
    # variant accumulates its own line
    "ann_ivf_topk_quantized",
    "ann_ivf_topk_quantized_kmeans",
    "gopher_quality_docs",
    # r8b: exact duplicate-substring removal (new operator)
    "dedup_substrings_docs",
    # r12: fastText-style hashed linear classifier (new operator)
    "quality_classifier_docs",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.1
    runs = max(1, int(os.environ.get("BENCH_RUNS", "3")))
    spark = get_spark("adam-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM/codegen path so the first query's number measures the
    # query, not session init; file listing/footers stay measured per query
    from pyspark.sql import functions as F

    spark.range(1_000).select(F.sum("id")).collect()
    # warm the Arrow/pandas-UDF worker pool and the broadcast/shuffle join
    # machinery the same way (python workers are reused across queries, so
    # the first UDF-bearing query otherwise pays all 32 worker spawns)
    @F.pandas_udf("long")
    def _echo(v: pd.Series) -> pd.Series:
        return v

    warm = spark.range(10_000).repartition(64)
    warm.select(F.sum(_echo("id"))).collect()
    small = spark.range(100).withColumnRenamed("id", "k")
    warm.join(F.broadcast(small), warm["id"] == small["k"]).count()
    qs = entrymod.queries()

    def run_group(group: list[str]) -> tuple[dict[str, float], list[float], list[float]]:
        best: dict[str, float] = {}
        totals: list[float] = []
        loads: list[float] = []
        for _ in range(runs):
            loads.append(round(os.getloadavg()[0], 1))
            pass_total = 0.0
            for name in group:
                fn = qs[name]
                t0 = time.perf_counter()
                fn(spark, sf_dir).count()
                dt = time.perf_counter() - t0
                pass_total += dt
                if name not in best or dt < best[name]:
                    best[name] = dt
            totals.append(round(pass_total, 3))
            # cold-per-pass: drop persisted intermediates so the next
            # pass recomputes them (see module docstring)
            spark.catalog.clearCache()
        return {n: round(t, 3) for n, t in best.items()}, totals, loads

    timings, pass_totals, load_avg = run_group(HEADLINE)
    ext_timings, ext_totals, ext_loads = run_group(EXTENDED)
    total = round(sum(timings.values()), 3)
    # single-pass-comparable figure (median pass) alongside the best-of
    # sum, so cross-round comparisons against pre-r5 single-pass numbers
    # stay honest (r5 advisor note)
    med = sorted(pass_totals)[len(pass_totals) // 2]
    print(
        json.dumps(
            {
                "metric": "headline query wall-clock (sum of per-query best-of-%d)" % runs,
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "runs": runs,
                "pass_totals": pass_totals,
                "median_pass_total": med,
                "loadavg_1m_per_pass": load_avg,
                "extended_total": round(sum(ext_timings.values()), 3),
                "extended_queries": ext_timings,
                "extended_pass_totals": ext_totals,
                "extended_loadavg_1m_per_pass": ext_loads,
            }
        )
    )


if __name__ == "__main__":
    main()
