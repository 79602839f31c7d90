"""Genomics SQL function registry.

The reference exposes no SQL UDF registry (SURVEY §2.10) — users drop to
``toDF``. We close that gap natively: ``register_functions(spark)``
installs genomics expressions usable from ``spark.sql``. All are thin
SQL expressions (JVM-side, codegen-friendly), not Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F


#: case-insensitive complement tables (models/Alphabet.scala:61-116):
#: lowercase input complements to UPPERCASE, like the reference's
#: case-insensitive alphabets; symbols outside the alphabet pass
#: through unchanged (AlphabetSuite.scala:94-110)
_DNA_SRC = "ACGTNacgtn"
_DNA_DST = "TGCANTGCAN"
_IUPAC_SRC = "ACGTMRWSYKVHDBNacgtmrwsykvhdbn"
_IUPAC_DST = "TGCAKYWSRMBDHVN" * 2


def reverse_complement(col: Column, alphabet: str = "dna") -> Column:
    """Reverse-complement of a DNA string. ``alphabet``: ``"dna"``
    (ACGTN) or ``"iupac"`` (all 15 ambiguity codes —
    M↔K, R↔Y, W, S, V↔B, H↔D self/paired complements)."""
    if alphabet == "iupac":
        return F.reverse(F.translate(col, _IUPAC_SRC, _IUPAC_DST))
    return F.reverse(F.translate(col, _DNA_SRC, _DNA_DST))


def phred_to_error_probability(col: Column) -> Column:
    """Phred score → error probability (10^(-q/10))."""
    return F.pow(F.lit(10.0), -col.cast("double") / 10.0)


def error_probability_to_phred(col: Column) -> Column:
    """Error probability → rounded Phred score."""
    return F.round(-10.0 * F.log(10.0, col.cast("double"))).cast("int")


def quality_string_to_phreds(col: Column) -> Column:
    """FASTQ/SAM quality string → array<int> of Phred scores."""
    return F.transform(F.split(col, ""), lambda c: F.ascii(c) - 33)


def gc_content(col: Column) -> Column:
    """Fraction of G/C bases in a sequence."""
    return (
        F.length(col) - F.length(F.translate(col, "GCgc", ""))
    ) / F.length(col).cast("double")


def register_functions(spark: SparkSession) -> None:
    """Register genomics helpers as SQL scalar functions (Spark SQL UDFs
    with SQL bodies — they inline into Catalyst, no Python round-trip)."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION reverse_complement(s STRING) "
        f"RETURNS STRING RETURN reverse(translate(s, '{_DNA_SRC}', '{_DNA_DST}'))"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION reverse_complement_iupac(s STRING) "
        f"RETURNS STRING RETURN reverse(translate(s, '{_IUPAC_SRC}', '{_IUPAC_DST}'))"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION phred_to_error_probability(q DOUBLE) "
        "RETURNS DOUBLE RETURN power(10.0, -q / 10.0)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION error_probability_to_phred(p DOUBLE) "
        "RETURNS INT RETURN cast(round(-10.0 * log10(p)) AS INT)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION gc_content(s STRING) "
        "RETURNS DOUBLE RETURN (length(s) - length(translate(s, 'GCgc', ''))) "
        "/ cast(length(s) AS DOUBLE)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION region_overlaps("
        "lref STRING, lstart BIGINT, lend BIGINT, "
        "rref STRING, rstart BIGINT, rend BIGINT) "
        "RETURNS BOOLEAN RETURN lref = rref AND lstart < rend AND rstart < lend"
    )
