"""Coverage family: events-method vs literal per-base explode oracle,
collapse/flatten round trips, binned aggregation."""

from collections import defaultdict

import pytest

from pyspark.sql import functions as F

from adam_spark.operators.coverage import (
    aggregated_coverage,
    collapse_coverage,
    downsample_coverage,
    flatten_coverage,
    to_coverage,
)


def _perbase_dict(rows):
    d = defaultdict(float)
    for r in rows:
        d[(r["referenceName"], r["start"], r["optSampleId"])] += 0  # keys exist
        d[(r["referenceName"], r["start"], r["optSampleId"])] = r["count"]
    return dict(d)


def _explode_coverage(alignments, by_sample=False):
    """The literal per-base semantics (explode(sequence)): the O(read
    length) oracle for to_coverage's events method."""
    sample = F.col("readGroupSampleId") if by_sample else F.lit(None).cast("string")
    reads = (
        alignments.where(F.col("readMapped") & F.col("referenceName").isNotNull())
        .select(
            "referenceName",
            "start",
            "end",
            sample.alias("optSampleId"),
        )
        .where(F.col("start").isNotNull() & (F.col("end") > F.col("start")))
    )
    return reads.select(
        "referenceName",
        F.explode(F.sequence("start", F.col("end") - 1)).alias("start"),
        "optSampleId",
    ).groupBy("referenceName", "start", "optSampleId").agg(
        F.count(F.lit(1)).cast("double").alias("count")
    ).select(
        "referenceName",
        "start",
        (F.col("start") + 1).alias("end"),
        "count",
        "optSampleId",
    )


def test_events_equals_explode(fixtures):
    aln = fixtures.alignments().df
    ev = to_coverage(aln, collapse=False)
    ex = _explode_coverage(aln)
    assert _perbase_dict(ev.collect()) == _perbase_dict(ex.collect())


def test_events_by_sample(fixtures):
    aln = fixtures.alignments().df
    ev = to_coverage(aln, collapse=False, by_sample=True)
    ex = _explode_coverage(aln, by_sample=True)
    assert _perbase_dict(ev.collect()) == _perbase_dict(ex.collect())


def test_collapsed_flatten_roundtrip(fixtures):
    aln = fixtures.alignments().df
    collapsed = to_coverage(aln, collapse=True)
    flat = flatten_coverage(collapsed)
    perbase = _explode_coverage(aln)
    assert _perbase_dict(flat.collect()) == _perbase_dict(perbase.collect())
    # collapsed intervals are maximal: no two adjacent intervals share a count
    rows = sorted(
        collapsed.collect(), key=lambda r: (r["referenceName"] or "", r["optSampleId"] or "", r["start"])
    )
    for a, b in zip(rows, rows[1:]):
        if (a["referenceName"], a["optSampleId"]) == (b["referenceName"], b["optSampleId"]):
            assert not (a["end"] == b["start"] and a["count"] == b["count"])


def test_collapse_fixture_coverage(fixtures):
    cov = fixtures.coverage().df
    collapsed = collapse_coverage(cov)
    # total covered base-count mass is preserved
    mass = cov.select(F.sum((F.col("end") - F.col("start")) * F.col("count"))).first()[0]
    cmass = collapsed.select(F.sum((F.col("end") - F.col("start")) * F.col("count"))).first()[0]
    assert mass == cmass
    assert collapsed.count() <= cov.count()


def test_aggregated_coverage_matches_flatten(fixtures):
    cov = fixtures.coverage().df.where(F.col("optSampleId") == "sampleA")
    got = {
        (r["referenceName"], r["start"]): r["count"]
        for r in aggregated_coverage(cov, 100).collect()
    }
    flat = flatten_coverage(cov).collect()
    agg = defaultdict(list)
    for r in flat:
        agg[(r["referenceName"], r["start"] // 100 * 100)].append(r["count"])
    want = {k: sum(v) / len(v) for k, v in agg.items()}
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9


def test_downsample(fixtures):
    cov = fixtures.coverage().df
    ds = downsample_coverage(cov, 50)
    assert ds.where(F.col("start") % 50 != 0).count() == 0


# --- CoverageSuite + CoverageDatasetSuite vectors ---------------------------
def _feat_df(spark, rows):
    from adam_spark import schemas

    sch = (
        "referenceName string, start long, end long, score double, sampleId string"
    )
    return schemas.conform(spark.createDataFrame(rows, sch), schemas.FEATURE)


def test_feature_to_coverage_vectors(spark):
    """CoverageSuite 'Convert to coverage from valid Feature [with
    sampleId]' (:24-63): score → count, sampleId → optSampleId."""
    from adam_spark.operators.conversions import features_to_coverage

    df = _feat_df(spark, [("chr1", 1, 2, 100.0, None), ("chr1", 1, 2, 100.0, "sample")])
    got = features_to_coverage(df).orderBy("optSampleId").collect()
    assert [(r["referenceName"], r["start"], r["end"], r["count"], r["optSampleId"]) for r in got] == [
        ("chr1", 1, 2, 100.0, None),
        ("chr1", 1, 2, 100.0, "sample"),
    ]


@pytest.mark.parametrize(
    "row,msg",
    [
        (("", 1, 2, 100.0, None), "reference name"),
        ((None, 1, 2, 100.0, None), "reference name"),
        (("chr1", None, 2, 100.0, None), "valid position data"),
        (("chr1", 1, None, 100.0, None), "valid position data"),
        (("chr1", 1, 2, None, None), "valid score"),
    ],
)
def test_feature_to_coverage_error_vectors(spark, row, msg):
    """CoverageSuite error vectors (:64-133): the reference's exact
    requirement messages (models/Coverage.scala:48-53)."""
    from adam_spark.operators.conversions import features_to_coverage

    df = _feat_df(spark, [row])
    with pytest.raises(Exception) as ei:
        features_to_coverage(df).collect()
    assert "requirement failed: Features must have %s to convert to Coverage" % (
        {"reference name": "reference name"}.get(msg, msg)
    ) in str(ei.value)


def test_flatmap_coverage_bins_vectors(spark):
    """CoverageDatasetSuite 'correctly flatmaps coverage without/with
    aggregated bins' (:245-271): features (1-5,1.0) (5-7,3.0) (7-20,4.0)
    → coverage(bpPerBin=4) keeps 4 per-base rows at bin boundaries;
    aggregatedCoverage(bpPerBin=4) yields 5 bins with bin-4 mean 2.75
    and bin-8 mean 4.0."""
    from adam_spark.operators.conversions import features_to_coverage
    from adam_spark.operators.coverage import (
        aggregated_coverage,
        downsample_coverage,
    )

    cov = features_to_coverage(
        _feat_df(
            spark,
            [("chr1", 1, 5, 1.0, None), ("chr1", 5, 7, 3.0, None), ("chr1", 7, 20, 4.0, None)],
        )
    )
    assert downsample_coverage(cov, 4).count() == 4
    agg = aggregated_coverage(cov, 4)
    assert agg.count() == 5
    by_start = {r["start"]: r["count"] for r in agg.collect()}
    assert by_start[4] == pytest.approx(2.75)
    assert by_start[8] == pytest.approx(4.0)


def test_multisample_coverage_counts(spark):
    """CoverageDatasetSuite 'can read a bed file with multiple samples
    to coverage' (:224-243): per-sample rows stay separate — two
    samples overlap chr1:1-9."""
    from adam_spark.operators.conversions import features_to_coverage

    cov = features_to_coverage(
        _feat_df(
            spark,
            [
                ("chr1", 1, 10, 3.0, "S1"),
                ("chr1", 15, 20, 2.0, "S1"),
                ("chr2", 15, 20, 2.0, "S1"),
                ("chr1", 1, 10, 2.0, "S2"),
                ("chr1", 15, 20, 2.0, "S2"),
            ],
        )
    )
    overlapping = cov.where(
        (F.col("referenceName") == "chr1") & (F.col("start") < 9) & (F.col("end") > 1)
    )
    assert overlapping.count() == 2
    assert {r["optSampleId"] for r in overlapping.collect()} == {"S1", "S2"}
