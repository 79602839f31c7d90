"""Benchmark decontamination: flag corpus documents that share word
n-grams with an evaluation/benchmark set.

The standard training-data hygiene pass (GPT-3 appendix C / Gopher
appendix A lineage): any training document containing an n-gram that
also appears in a held-out benchmark is "contaminated" and gets dropped
or audited before training. Expressed Spark-first:

- both sides tokenize and shingle with built-in Catalyst expressions
  (:func:`adam_spark.llm.dedup.word_ngrams` — no Python UDFs);
- the benchmark's distinct n-gram set always broadcasts (eval sets
  are small by construction — thousands of documents, not billions);
- the corpus side is a narrow explode → broadcast-hash semi-join →
  one groupBy on the document id. At 100 TB the only shuffle is that
  final slim (id, count) aggregate, partial-aggregated map-side.

Output keeps EVERY corpus row (left join, zero-filled) so the result
can drive a filter without re-scanning the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import word_ngrams


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    n: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """Per corpus document: distinct benchmark n-grams it contains.

    Returns (id, n_shared_grams, contaminated) — one row per corpus
    document, ``contaminated = n_shared_grams >= min_hits``. Both sides
    shingle with the same distinct word-``n``-gram definition, so
    ``n_shared_grams`` counts DISTINCT shared grams (a gram repeated
    inside one document counts once).
    """
    bench_text = bench_text_col or text_col
    bench_grams = F.broadcast(
        benchmark.select(F.explode(word_ngrams(bench_text, n)).alias("gram"))
        .distinct()
    )
    corpus_grams = corpus.select(
        F.col(id_col).alias("id"), F.explode(word_ngrams(text_col, n)).alias("gram")
    )
    hits = (
        corpus_grams.join(bench_grams, "gram", "left_semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )
    return (
        corpus.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select(
            "id",
            F.coalesce("n_shared_grams", F.lit(0)).cast("long").alias("n_shared_grams"),
            (F.coalesce("n_shared_grams", F.lit(0)) >= F.lit(min_hits)).alias(
                "contaminated"
            ),
        )
    )
