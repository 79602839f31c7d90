"""Property tests: the binned region join must equal the naive theta join.

Mirrors the reference's join suites (InnerShuffleRegionJoinSuite,
OuterRegionJoinSuite, InnerTreeRegionJoinSuite, ...): every variant is
checked against the O(n·m) oracle on interval tables crafted to hit bin
boundaries, duplicates, adjacency (end==start must NOT match), null
contigs (must never match), and flank padding.
"""

import random

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from adam_spark.operators.region_join import region_join


def naive_region_join(
    left: DataFrame,
    right: DataFrame,
    flank: int = 0,
    left_region: tuple[str, str, str] = ("referenceName", "start", "end"),
    right_region: tuple[str, str, str] = ("referenceName", "start", "end"),
    suffixes: tuple[str, str] = ("", "_r"),
) -> DataFrame:
    """Reference implementation: raw theta join (cartesian + predicate).

    O(n·m) — exists ONLY as the property-test oracle for
    :func:`region_join`; never use at scale.
    """
    l_ref, l_start, l_end = left_region
    r_ref, r_start, r_end = right_region
    lcols, rcols = left.columns, right.columns
    ldf = left.select([F.col(c).alias(f"__l_{c}") for c in lcols])
    rdf = right.select([F.col(c).alias(f"__r_{c}") for c in rcols])
    cond = (
        (F.col(f"__l_{l_ref}") == F.col(f"__r_{r_ref}"))
        & ((F.col(f"__l_{l_start}") - F.lit(flank)) < F.col(f"__r_{r_end}"))
        & (F.col(f"__r_{r_start}") < (F.col(f"__l_{l_end}") + F.lit(flank)))
    )
    out = ldf.join(rdf, cond, "inner")
    sel = []
    for c in lcols:
        name = c + suffixes[0] if (c in rcols and suffixes[0]) else c
        sel.append(F.col(f"__l_{c}").alias(name))
    for c in rcols:
        name = c + suffixes[1] if c in lcols else c
        sel.append(F.col(f"__r_{c}").alias(name))
    return out.select(sel)


SCHEMA = StructType(
    [
        StructField("referenceName", StringType(), True),
        StructField("start", LongType(), True),
        StructField("end", LongType(), True),
        StructField("id", LongType(), False),
    ]
)

BIN = 100  # tiny bins so intervals span many bins


def _intervals(spark, n, seed, max_pos=2000, max_len=350, with_nulls=True):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        if with_nulls and rng.random() < 0.05:
            rows.append((None, None, None, i))
            continue
        ref = rng.choice(["chr1", "chr2"])
        start = rng.randrange(0, max_pos)
        length = rng.randrange(1, max_len)
        rows.append((ref, start, start + length, i))
    # exact duplicates + adjacency edge
    rows.append(("chr1", 100, 200, n))
    rows.append(("chr1", 100, 200, n + 1))
    rows.append(("chr1", 200, 300, n + 2))  # adjacent to [100,200): no overlap
    # interval exactly on a bin boundary
    rows.append(("chr1", BIN, 2 * BIN, n + 3))
    return spark.createDataFrame(rows, SCHEMA)


def _collect(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.fixture(scope="module")
def tables(spark):
    left = _intervals(spark, 60, seed=1).cache()
    right = _intervals(spark, 80, seed=2).cache()
    return left, right


@pytest.mark.parametrize("flank", [0, 75])
def test_inner_equals_naive(tables, flank):
    left, right = tables
    got = region_join(left, right, how="inner", flank=flank, bin_size=BIN)
    want = naive_region_join(left, right, flank=flank)
    assert _collect(got) == _collect(want)


def test_broadcast_inner_equals_naive(tables):
    left, right = tables
    got = region_join(left, right, how="inner", broadcast="left", bin_size=BIN)
    want = naive_region_join(left, right)
    assert _collect(got) == _collect(want)


def test_left_outer(tables):
    left, right = tables
    got = region_join(left, right, how="left_outer", bin_size=BIN)
    inner = naive_region_join(left, right)
    matched_left_ids = {r["id"] for r in inner.select("id").distinct().collect()}
    want = _collect(inner) + [
        (r["referenceName"], r["start"], r["end"], r["id"], None, None, None, None)
        for r in left.collect()
        if r["id"] not in matched_left_ids
    ]
    assert _collect(got) == sorted(want, key=repr)


def test_right_outer(tables):
    left, right = tables
    got = region_join(left, right, how="right_outer", bin_size=BIN)
    inner = naive_region_join(left, right)
    matched_right_ids = {r["id_r"] for r in inner.select("id_r").distinct().collect()}
    want = _collect(inner) + [
        (None, None, None, None, r["referenceName"], r["start"], r["end"], r["id"])
        for r in right.collect()
        if r["id"] not in matched_right_ids
    ]
    assert _collect(got) == sorted(want, key=repr)


def test_full_outer(tables):
    left, right = tables
    got = region_join(left, right, how="full_outer", bin_size=BIN)
    inner = naive_region_join(left, right)
    ml = {r["id"] for r in inner.select("id").distinct().collect()}
    mr = {r["id_r"] for r in inner.select("id_r").distinct().collect()}
    want = (
        _collect(inner)
        + [
            (r["referenceName"], r["start"], r["end"], r["id"], None, None, None, None)
            for r in left.collect()
            if r["id"] not in ml
        ]
        + [
            (None, None, None, None, r["referenceName"], r["start"], r["end"], r["id"])
            for r in right.collect()
            if r["id"] not in mr
        ]
    )
    assert _collect(got) == sorted(want, key=repr)


def test_group_by_left(tables):
    left, right = tables
    got = region_join(left, right, group="left", bin_size=BIN)
    rows = got.collect()
    inner = naive_region_join(left, right).collect()
    from collections import defaultdict

    want = defaultdict(set)
    for r in inner:
        want[r["id"]].add(r["id_r"])
    assert {r["id"] for r in rows} == set(want)
    for r in rows:
        assert {h["id"] for h in r["hits"]} == want[r["id"]]
        # deterministic ordering (sort_array natural order; hits never null)
        assert [tuple(h) for h in r["hits"]] == sorted(tuple(h) for h in r["hits"])


def test_left_outer_group_by_left(tables):
    left, right = tables
    got = region_join(left, right, group="left", how="left_outer", bin_size=BIN)
    rows = got.collect()
    assert {r["id"] for r in rows} == {r["id"] for r in left.collect()}
    empty = [r for r in rows if len(r["hits"]) == 0]
    assert len(empty) > 0  # nulls + non-overlapping rows exist in fixture


def test_right_outer_group_by_left(tables):
    """Unmatched rights appear as (null left, single-hit list)."""
    left, right = tables
    got = region_join(left, right, group="left", how="right_outer", bin_size=BIN)
    inner = naive_region_join(left, right)
    mr = {r["id_r"] for r in inner.select("id_r").distinct().collect()}
    unmatched = [r for r in got.collect() if r["id"] is None]
    assert {r["hits"][0]["id"] for r in unmatched} == {
        r["id"] for r in right.collect() if r["id"] not in mr
    }
    for r in unmatched:
        assert len(r["hits"]) == 1


def test_group_by_right(tables):
    left, right = tables
    got = region_join(left, right, group="right", broadcast="left", bin_size=BIN)
    inner = naive_region_join(left, right).collect()
    from collections import defaultdict

    want = defaultdict(set)
    for r in inner:
        want[r["id_r"]].add(r["id"])
    rows = got.collect()
    assert {r["id"] for r in rows} == set(want)
    for r in rows:
        assert {h["id"] for h in r["hits"]} == want[r["id"]]


def test_right_outer_group_by_right(tables):
    left, right = tables
    got = region_join(left, right, group="right", how="right_outer", bin_size=BIN)
    rows = got.collect()
    assert {r["id"] for r in rows} == {r["id"] for r in right.collect()}


def test_no_null_contig_matches(tables):
    left, right = tables
    got = region_join(left, right, how="inner", bin_size=BIN)
    assert got.where(F.col("referenceName").isNull()).count() == 0


def test_large_bin_size(tables):
    """bin_size larger than the coordinate space → single-bin fallback."""
    left, right = tables
    got = region_join(left, right, how="inner", bin_size=10_000_000)
    want = naive_region_join(left, right)
    assert _collect(got) == _collect(want)


@pytest.fixture(scope="module")
def wide_tables(spark):
    """Tables salted with chromosome-scale intervals that exceed the
    wide-interval routing threshold (large_span_bins × bin_size)."""
    left = _intervals(spark, 40, seed=3).collect()
    right = _intervals(spark, 50, seed=4).collect()
    # wide rows: span >> 4 bins × BIN (the test threshold)
    wide_l = [("chr1", 0, 100_000, 900), ("chr2", 10, 90_000, 901)]
    wide_r = [("chr1", 50, 200_000, 950), ("chr3", 0, 80_000, 951)]
    ldf = spark.createDataFrame([tuple(r) for r in left] + wide_l, SCHEMA)
    rdf = spark.createDataFrame([tuple(r) for r in right] + wide_r, SCHEMA)
    return ldf.cache(), rdf.cache()


@pytest.mark.parametrize("how", ["inner", "left_outer", "right_outer", "full_outer"])
def test_wide_interval_routing_equals_naive(wide_tables, how):
    left, right = wide_tables
    got = region_join(left, right, how=how, bin_size=BIN, large_span_bins=4)
    inner = naive_region_join(left, right)
    if how == "inner":
        assert _collect(got) == _collect(inner)
    else:
        # outer rows: total = inner + unmatched sides
        n_inner = inner.count()
        lm = inner.select("id").distinct().count()
        rm = inner.select("id_r").distinct().count()
        extra = 0
        if how in ("left_outer", "full_outer"):
            extra += left.count() - lm
        if how in ("right_outer", "full_outer"):
            extra += right.count() - rm
        assert got.count() == n_inner + extra


def test_wide_interval_group_left_equals_naive(wide_tables):
    left, right = wide_tables
    got = region_join(left, right, group="left", bin_size=BIN, large_span_bins=4)
    inner = naive_region_join(left, right).collect()
    from collections import defaultdict

    want = defaultdict(set)
    for r in inner:
        want[r["id"]].add(r["id_r"])
    got_rows = {r["id"]: {h["id"] for h in r["hits"]} for r in got.collect()}
    assert got_rows == dict(want)


def test_outer_group_stable_under_shuffled_inputs(spark):
    """Row-id stamping must survive shuffle-rooted (nondeterministically
    ordered) inputs: the lineage pin (localCheckpoint) keeps outer and
    group variants exact when inputs were just repartitioned/joined."""
    left = _intervals(spark, 50, seed=5).repartition(16)
    right = _intervals(spark, 70, seed=6).repartition(16).sortWithinPartitions("start")
    want_inner = naive_region_join(
        _intervals(spark, 50, seed=5), _intervals(spark, 70, seed=6)
    )
    n_inner = want_inner.count()
    lm = want_inner.select("id").distinct().count()
    got_lo = region_join(left, right, how="left_outer", bin_size=BIN)
    assert got_lo.count() == n_inner + (left.count() - lm)
    # left-outer null rows exactly the unmatched left ids, twice-evaluated
    unmatched = {r["id"] for r in got_lo.where(F.col("id_r").isNull()).collect()}
    want_unmatched = {r["id"] for r in left.collect()} - {
        r["id"] for r in want_inner.select("id").collect()
    }
    assert unmatched == want_unmatched
    # group variant: per-left hit sets equal the oracle under shuffled input
    got_g = region_join(left, right, group="left", bin_size=BIN)
    got_rows = {r["id"]: {h["id"] for h in r["hits"]} for r in got_g.collect()}
    from collections import defaultdict

    want = defaultdict(set)
    for r in want_inner.collect():
        want[r["id"]].add(r["id_r"])
    assert got_rows == dict(want)


def test_deterministic_key_skips_pin_and_matches_naive(spark):
    """Declaring a natural unique key must (a) skip the localCheckpoint
    pin on shuffle-rooted inputs — at scale that pin is a full
    materialization of the side — and (b) produce exactly the
    pin-path / naive-oracle results for outer AND group variants."""
    import tempfile

    tmp = tempfile.mkdtemp()
    _intervals(spark, 50, seed=5, with_nulls=False).write.parquet(f"{tmp}/l")
    _intervals(spark, 70, seed=6, with_nulls=False).write.parquet(f"{tmp}/r")
    # parquet-rooted so the ONLY possible LogicalRDD in a plan is a
    # localCheckpoint pin; .repartition makes the lineage shuffle-rooted,
    # which is exactly the case the pin exists for
    left = spark.read.parquet(f"{tmp}/l").repartition(16)
    right = spark.read.parquet(f"{tmp}/r").repartition(16)
    want_inner = naive_region_join(
        spark.read.parquet(f"{tmp}/l"), spark.read.parquet(f"{tmp}/r")
    )

    keyed = region_join(
        left, right, how="full_outer", bin_size=BIN, left_key="id", right_key="id"
    )
    pinned = region_join(left, right, how="full_outer", bin_size=BIN)
    keyed_plan = keyed._jdf.queryExecution().optimizedPlan().toString()
    pinned_plan = pinned._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in pinned_plan  # the pin is real on shuffle-rooted input
    assert "LogicalRDD" not in keyed_plan  # and the key skips it
    assert _collect(keyed) == _collect(pinned)

    # group variant: per-left hit sets equal the naive oracle
    got_g = region_join(left, right, group="left", bin_size=BIN, left_key="id")
    assert "LogicalRDD" not in got_g._jdf.queryExecution().optimizedPlan().toString()
    got_rows = {r["id"]: {h["id"] for h in r["hits"]} for r in got_g.collect()}
    from collections import defaultdict

    want = defaultdict(set)
    for r in want_inner.collect():
        want[r["id"]].add(r["id_r"])
    assert got_rows == dict(want)


def test_unsupported_group_right_outer_combos_raise(spark):
    import pytest as _pytest

    from adam_spark.operators.region_join import region_join

    l = spark.createDataFrame([("c1", 1, 5)], "referenceName string, start long, end long")
    r = spark.createDataFrame([("c1", 2, 6)], "referenceName string, start long, end long")
    for how in ("left_outer", "full_outer"):
        with _pytest.raises(ValueError, match="group='right'"):
            region_join(l, r, how=how, group="right")
    with _pytest.raises(ValueError, match="group_col"):
        region_join(l.withColumn("hits", l["start"]), r, group="left")
