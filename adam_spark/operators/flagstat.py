"""flagstat — samtools-compatible QC counters in one aggregation pass.

Reference: ds/read/FlagStat.scala:89-130 (metrics algebra :23-87)
computes 13 counters × (QC-pass, QC-fail) with a single RDD aggregate.
Here: one ``groupBy(failedVendorQualityChecks)`` with 22 conditional
counts — a single map-side-combinable hash aggregation; no shuffle
wider than 2 rows.

The counters are SQL text, parsed once on the JVM: built as Column
operators, each ``F.*`` call and operator cost one or more gateway
round trips (about 1,600 for the battery, against about 120 now).
A counter counts a row only when its condition is TRUE: a NULL flag
never counts as set (``<=> TRUE``), and a flag tested for "not set"
(``mateMapped``) or "secondary" (``primaryAlignment <=> FALSE``) says
so null-safely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_DUP = "duplicateRead <=> TRUE"
_PRIM = f"{_DUP} AND primaryAlignment <=> TRUE"
_SEC = f"{_DUP} AND primaryAlignment <=> FALSE"
_MATE_UNMAPPED = "NOT mateMapped <=> TRUE"
_CROSS = "NOT referenceName <=> mateReferenceName"

#: (output name, condition); DuplicateMetrics (FlagStat.scala:29-51) is
#: the primary/secondary duplicate split with bothMapped /
#: onlyReadMapped / crossChromosome sub-counters
_COUNTERS = (
    ("duplicates", "duplicateRead"),
    ("duplicatesPrimary", _PRIM),
    ("duplicatesPrimaryBothMapped", f"{_PRIM} AND readMapped AND mateMapped"),
    ("duplicatesPrimaryOnlyReadMapped", f"{_PRIM} AND readMapped AND {_MATE_UNMAPPED}"),
    ("duplicatesPrimaryCrossChromosome", f"{_PRIM} AND {_CROSS}"),
    ("duplicatesSecondary", _SEC),
    ("duplicatesSecondaryBothMapped", f"{_SEC} AND readMapped AND mateMapped"),
    ("duplicatesSecondaryOnlyReadMapped", f"{_SEC} AND readMapped AND {_MATE_UNMAPPED}"),
    ("duplicatesSecondaryCrossChromosome", f"{_SEC} AND {_CROSS}"),
    ("mapped", "readMapped"),
    ("paired", "readPaired"),
    ("read1", "readPaired AND readInFragment = 0"),
    ("read2", "readPaired AND readInFragment = 1"),
    ("properlyPaired", "properPair"),
    ("withSelfAndMateMapped", "readMapped AND mateMapped"),
    ("singleton", f"readMapped AND {_MATE_UNMAPPED} AND readPaired"),
    ("withMateMappedToDiffChromosome", f"readMapped AND mateMapped AND {_CROSS}"),
    (
        "withMateMappedToDiffChromosomeMapQ5",
        f"readMapped AND mateMapped AND {_CROSS} AND mappingQuality >= 5",
    ),
    ("primaryMapped", "primaryAlignment AND readMapped"),
    ("secondaryAlignments", "secondaryAlignment"),
    ("supplementaryAlignments", "supplementaryAlignment"),
)


def flagstat(alignments: DataFrame) -> DataFrame:
    """One row per QC bucket (pass/fail) with the samtools counters."""
    return (
        alignments.groupBy(
            F.expr("coalesce(failedVendorQualityChecks, FALSE) AS qcFailed")
        )
        .agg(
            F.expr("count(1) AS total"),
            *[
                F.expr(f"count(CASE WHEN ({cond}) <=> TRUE THEN 1 END) AS {name}")
                for name, cond in _COUNTERS
            ],
        )
        .orderBy("qcFailed")
    )
