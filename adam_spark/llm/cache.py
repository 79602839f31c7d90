"""Cache-lifetime control for operators that persist internal tables.

Several LLM-pipeline operators persist a slim intermediate (a
vocabulary, a fingerprint table, a candidate shortlist) because it
feeds two plan subtrees and Spark does not reuse the exchange across
them. A ``DataFrame.persist()`` registers the plan with the session's
CacheManager, which holds it until an explicit ``unpersist()`` /
``clearCache()`` — fine for one-shot jobs, but a long-lived session
chaining many corpora accumulates entries without bound.

:func:`eager_release` is the repo's materialize-and-release helper
(the ``duplicate_clusters`` treatment, generalized): it eagerly
materializes the RESULT as a lineage-free ``localCheckpoint`` and only
then unpersists the intermediates. The checkpoint's storage belongs to
its RDD, not the CacheManager, so the ContextCleaner reclaims it as
soon as the caller drops the returned DataFrame — the session's cache
footprint is bounded by live results, not by history.

The flag is opt-in (``bounded_cache=False`` everywhere by default)
because eager materialization trades composability for the bound: a
caller who immediately filters the result would lose the chance for
Catalyst to prune the checkpointed plan.

Without the flag, internal intermediates are plain ``persist()`` calls
and the CacheManager's plan matching does the rest: repeating a call
on the same corpus reuses the one cached entry (no new entry, no
recompute), while each new corpus adds its own entry. Long-lived
multi-corpus sessions bound the cache with ``bounded_cache=True`` or
an explicit ``spark.catalog.clearCache()`` between corpora.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def eager_release(result: DataFrame, *intermediates: DataFrame) -> DataFrame:
    """Materialize ``result`` eagerly (localCheckpoint), then unpersist
    every intermediate. Safe by construction: the checkpoint is a
    physical copy with no lineage into the released caches."""
    out = result.localCheckpoint(eager=True)
    for df in intermediates:
        df.unpersist(False)
    return out
