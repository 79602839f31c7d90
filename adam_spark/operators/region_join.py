"""Interval-overlap (region) joins — the heart of the engine.

The reference exposes 11 join variants across two physical families
(broadcast: ds/TreeRegionJoin.scala:32-137; shuffle sort-merge sweep:
ds/ShuffleRegionJoin.scala:35-493) behind 40+ overloads
(GenomicDataset.scala:1108-2917). This module re-expresses ALL of them
as ONE parameterized DataFrame builder:

    binned equi-join prefilter + exact overlap predicate + first-bin dedupe

Scale design (the reason this beats a naive theta join at 100 TB):
a raw overlap condition compiles to BroadcastNestedLoopJoin or a
cartesian product under Catalyst. Instead we key BOTH sides by
``(referenceName, floor(pos / bin_size))`` exploded over every bin the
interval covers, letting Catalyst run an ordinary shuffle/sort-merge (or
broadcast-hash) equi-join on the bin key, then apply the exact overlap
predicate, and keep each matched pair only in the FIRST bin both
intervals cover — a stateless dedupe that avoids a distinct() shuffle.
This is the DataFrame analogue of the reference's GenomeBins
copartitioning + per-partition sweep line (ds/GenomeBins.scala:31-75,
ShuffleRegionJoin.scala:60-88), but it inherits AQE skew splitting,
whole-stage codegen, and spillable joins for free.

Outer and group variants are single-pass: each probe row carries an
8-byte row id through the binned join, and the outer side re-joins the
matched pairs (or the per-id ``collect_list(struct(...))`` hit lists)
on that id — unmatched rows null-extend / get empty lists (semantics
per ShuffleRegionJoin.scala:143-335, TreeRegionJoin.scala:94-137).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from adam_spark.schemas import sql_double, sql_ident, sql_literal

#: default bin width in base pairs; ~1 Mbp mirrors the reference's
#: partitioned-Parquet bin convention (GenomicDataset.scala:380-394)
DEFAULT_BIN_SIZE = 1_000_000

_HOW = {"inner", "left_outer", "right_outer", "full_outer"}
_GROUP = {None, "left", "right"}


def _bins(start: str, end: str, bin_size: int) -> str:
    """SQL: all bin ids covered by the half-open interval [start, end)."""
    first = f"floor({start} / {sql_double(bin_size)})"
    # greatest() guards degenerate (empty) intervals from descending sequences
    return f"sequence({first}, greatest({first}, floor(({end} - 1) / {sql_double(bin_size)})))"


def _orderable(dtype) -> bool:
    """True when sort_array can order values of this type (no maps)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dtype, MapType):
        return False
    if isinstance(dtype, ArrayType):
        return _orderable(dtype.elementType)
    if isinstance(dtype, StructType):
        return all(_orderable(f.dataType) for f in dtype.fields)
    return True


#: logical-plan nodes after which row order (and thus partition layout)
#: is not reproducible across re-evaluations of the same subtree —
#: includes the grouped/cogrouped pandas maps, whose reduce-side fetch
#: order varies run to run just like any aggregate
_SHUFFLE_NODES = (
    "Join", "Aggregate", "Sort", "Repartition", "Window", "Distinct",
    "Deduplicate", "FlatMapGroups", "FlatMapCoGroups", "CoGroup",
)
#: a plan node name starts a line after tree-drawing characters; bare
#: substring matching would false-positive on column/relation NAMES
#: containing e.g. 'SortKey' or a path containing 'Window'
_NODE_RE = re.compile(
    r"(?m)^[\s:+-]*(?:" + "|".join(_SHUFFLE_NODES) + r")\b"
)


def _pin_row_order(df: DataFrame) -> DataFrame:
    """Make ``monotonically_increasing_id`` safe to branch on.

    A shuffle-rooted lineage re-evaluated in two subtrees of one plan
    can produce different row orders, so ids stamped on it would
    mispair. Cut such lineages with an eager localCheckpoint (blocks
    materialize once, both subtrees read the same copy). Narrow
    scan-rooted lineages are left untouched — no extra job, no storage.
    """
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    if _NODE_RE.search(plan):
        return df.localCheckpoint(eager=True)
    return df


def _collect_hits(hit: str, schema, cols: list[str]) -> str:
    """SQL: collect_list(struct), sorted for determinism when orderable."""
    agg = f"collect_list({hit})"
    if all(_orderable(schema[c].dataType) for c in cols):
        agg = f"sort_array({agg})"
    return agg


def _struct(cols: list[str], names: dict[str, str]) -> str:
    """SQL: ``struct<cols>`` built from the renamed columns ``names[c]``."""
    fields = ", ".join(f"{sql_literal(c)}, {sql_ident(names[c])}" for c in cols)
    return f"named_struct({fields})"


def region_join(
    left: DataFrame,
    right: DataFrame,
    how: str = "inner",
    group: str | None = None,
    flank: int = 0,
    bin_size: int = DEFAULT_BIN_SIZE,
    broadcast: str | None = None,
    left_region: tuple[str, str, str] = ("referenceName", "start", "end"),
    right_region: tuple[str, str, str] = ("referenceName", "start", "end"),
    suffixes: tuple[str, str] = ("", "_r"),
    group_col: str = "hits",
    large_span_bins: int = 512,
    left_key: str | None = None,
    right_key: str | None = None,
    group_aggs: dict[str, Column] | None = None,
) -> DataFrame:
    """One builder for all 11 reference join variants.

    Variant mapping (reference name → arguments):

    - broadcastRegionJoin                        → how=inner, broadcast="left"
    - rightOuterBroadcastRegionJoin              → how=right_outer, broadcast="left"
    - broadcastRegionJoinAndGroupByRight         → group="right", broadcast="left"
    - rightOuterBroadcastRegionJoinAndGroupByRight → group="right", how=right_outer, broadcast="left"
    - shuffleRegionJoin                          → how=inner
    - rightOuterShuffleRegionJoin                → how=right_outer
    - leftOuterShuffleRegionJoin                 → how=left_outer
    - leftOuterShuffleRegionJoinAndGroupByLeft   → group="left", how=left_outer
    - fullOuterShuffleRegionJoin                 → how=full_outer
    - shuffleRegionJoinAndGroupByLeft            → group="left"
    - rightOuterShuffleRegionJoinAndGroupByLeft  → group="left", how=right_outer

    ``flank`` pads the LEFT regions before matching
    (GenomicDataset.scala:1821-1850). Overlap itself is strand-blind
    intersection on the same contig (ReferenceRegion.scala:671-681).

    Output schema: all left columns (suffix[0] applied on collisions),
    then all right columns (suffix[1] on collisions); group variants
    replace the grouped side's columns with ``group_col:
    array<struct<...>>`` sorted for determinism.

    ``left_key`` / ``right_key`` declare a NATURAL UNIQUE non-null key
    column on that side (read name, feature id, …). Outer/group
    variants then use the key as the internal row id instead of
    pinning row order with an eager localCheckpoint — on
    shuffle-rooted inputs that skips a full materialization of the
    side to executor storage. The caller owns the uniqueness claim:
    duplicate or null key values silently merge rows.

    ``group_aggs`` (inner-flavored ``group='left'`` only) fuses a
    per-group reduction into the join instead of materializing the
    ``group_col`` hit-struct lists: ``{out_name: agg_column}`` where
    each aggregate expression sees ONLY the grouped (right) side's
    columns under their original names. Output schema becomes the left
    columns followed by the aggregate columns. This is the guide-§2.3
    "aggregate before you shuffle" form of the group join: hash-
    aggregable reductions (count/sum/min/max over exact types) run
    map-side partial aggregation, so the groupBy exchange carries
    O(groups) rows instead of every matched hit struct, and the
    ObjectHashAggregate + per-list sort of the collect_list path
    disappears. The caller owns order-insensitivity of the
    expressions (floating-point sums would otherwise flicker with
    partitioning; exact types are safe).
    """
    if how not in _HOW:
        raise ValueError(f"how must be one of {_HOW}, got {how!r}")
    if group not in _GROUP:
        raise ValueError(f"group must be one of {_GROUP}, got {group!r}")
    if group == "right" and how in {"left_outer", "full_outer"}:
        # not one of the reference's 11 variants, and the group='right'
        # builder has no unmatched-left channel — refuse loudly instead
        # of silently dropping those rows
        raise ValueError(f"group='right' does not support how={how!r}")
    if group == "left" and group_col in left.columns:
        raise ValueError(
            f"group_col {group_col!r} collides with a left column; pass a different group_col"
        )
    if group == "right" and group_col in right.columns:
        raise ValueError(
            f"group_col {group_col!r} collides with a right column; pass a different group_col"
        )
    if group_aggs is not None:
        # only the inner-flavored left-group path is fused; the outer
        # flavors' unmatched channels have empty-list (not NULL / not
        # single-hit) semantics that a plain groupBy cannot express —
        # refuse loudly rather than silently diverge
        if group != "left" or how != "inner":
            raise ValueError(
                "group_aggs requires group='left' with how='inner' "
                f"(got group={group!r}, how={how!r})"
            )
        clash = set(group_aggs) & set(left.columns)
        if clash:
            raise ValueError(
                f"group_aggs names collide with left columns: {sorted(clash)}"
            )
    l_ref, l_start, l_end = left_region
    r_ref, r_start, r_end = right_region

    # Every expression below is SQL text: one gateway call per DataFrame
    # step, where a Column operator tree costs one or more round trips
    # per node (the inner join's build: about 960 calls as Columns,
    # about 80 as SQL text).
    # Disambiguate every column up front; restore names at the end.
    lcols = left.columns
    rcols = right.columns
    lmap = {c: f"__l_{c}" for c in lcols}
    rmap = {c: f"__r_{c}" for c in rcols}
    ldf = left.selectExpr(*[f"{sql_ident(c)} AS {sql_ident(lmap[c])}" for c in lcols])
    rdf = right.selectExpr(*[f"{sql_ident(c)} AS {sql_ident(rmap[c])}" for c in rcols])
    # Row ids serve two purposes: (1) group variants aggregate per input
    # RECORD, not per distinct tuple — the reference probes once per row
    # (TreeRegionJoin.scala:46-66), so two identical records each yield
    # one output row, and the id keeps duplicates apart through the
    # groupBy; (2) outer variants re-join the matched pairs to their
    # source side on the 8-byte id instead of a null-safe wide-tuple
    # anti-join. Assignment is narrow (no shuffle, +8 bytes/row) and the
    # id never reaches the output. The id branches into two subtrees of
    # the same plan; monotonically_increasing_id is deterministic given
    # a fixed partition layout, which holds for the scan-rooted lineages
    # our loaders produce. Inputs whose lineage contains a shuffle
    # (join/agg/sort/repartition/window) have no such guarantee — the
    # two subtrees could observe different row orders and silently
    # mispair — so those are pinned with an eager localCheckpoint
    # before stamping (narrow lineages skip the pin and keep today's
    # single-pass plans).
    # DETERMINISTIC-KEY FAST PATH: when the caller declares a natural
    # per-row unique (non-null) key — a read name, a feature id — the
    # key column itself serves as the row id. No order to pin, so
    # shuffle-rooted inputs skip the full localCheckpoint
    # materialization entirely (at 100 TB that pin is a complete
    # executor-storage copy of the input).
    need_lrid = group == "left" or how in {"left_outer", "full_outer"}
    need_rrid = group == "right" or how in {"right_outer", "full_outer"}
    if need_lrid:
        if left_key is not None:
            ldf = ldf.withColumn("__lrid", F.expr(sql_ident(lmap[left_key])))
        else:
            ldf = _pin_row_order(ldf).withColumn(
                "__lrid", F.expr("monotonically_increasing_id()")
            )
    if need_rrid:
        if right_key is not None:
            rdf = rdf.withColumn("__rrid", F.expr(sql_ident(rmap[right_key])))
        else:
            rdf = _pin_row_order(rdf).withColumn(
                "__rrid", F.expr("monotonically_increasing_id()")
            )

    ls = f"({sql_ident(lmap[l_start])} - {int(flank)})"
    le = f"({sql_ident(lmap[l_end])} + {int(flank)})"
    rs, re_ = sql_ident(rmap[r_start]), sql_ident(rmap[r_end])
    same_ref = f"{sql_ident(lmap[l_ref])} = {sql_ident(rmap[r_ref])}"
    overlap = f"{same_ref} AND {ls} < {re_} AND {rs} < {le}"

    # WIDE-INTERVAL side channel: an interval spanning w bins explodes
    # into w rows, so a chromosome-scale annotation (250 Mbp at 64 bp
    # bins ≈ 4M copies) would melt the bin join. Intervals wider than
    # ``large_span_bins`` bins are rare by nature (whole-contig spans),
    # so they bypass the bin explode: broadcast the wide rows and join
    # on the exact overlap predicate. The three branches partition the
    # pair space — (wide-left × any-right), (narrow-left × wide-right),
    # (narrow × narrow via bins) — so no pair is seen twice.
    # product computed in Python: an int×int SQL product would wrap at
    # 2^31 and silently route every interval through the wide branch
    wide = f"CAST({int(large_span_bins) * int(bin_size)} AS BIGINT)"
    l_is_wide = f"({le} - {ls}) > {wide}"
    r_is_wide = f"({re_} - {rs}) > {wide}"
    l_narrow, l_wide = ldf.where(f"NOT ({l_is_wide})"), ldf.where(l_is_wide)
    r_narrow, r_wide = rdf.where(f"NOT ({r_is_wide})"), rdf.where(r_is_wide)

    lb = l_narrow.selectExpr("*", f"explode({_bins(ls, le, bin_size)}) AS __lbin")
    rb = r_narrow.selectExpr("*", f"explode({_bins(rs, re_, bin_size)}) AS __rbin")
    if broadcast == "left":
        lb = F.broadcast(lb)
    elif broadcast == "right":
        rb = F.broadcast(rb)

    pair_first_bin = f"floor(greatest({ls}, {rs}) / {sql_double(bin_size)})"
    cond = (
        f"{same_ref} AND __lbin = __rbin AND {ls} < {re_} AND {rs} < {le}"
        f" AND __lbin = {pair_first_bin}"
    )
    matched = lb.join(rb, F.expr(cond), "inner").drop("__lbin", "__rbin")
    matched = matched.unionByName(F.broadcast(l_wide).join(rdf, F.expr(overlap), "inner"))
    matched = matched.unionByName(l_narrow.join(F.broadcast(r_wide), F.expr(overlap), "inner"))

    def restore(df: DataFrame, with_right: bool = True, with_left: bool = True) -> DataFrame:
        out = []
        if with_left:
            for c in lcols:
                name = c + suffixes[0] if (c in rcols and with_right and suffixes[0]) else c
                out.append(f"{sql_ident(lmap[c])} AS {sql_ident(name)}")
        if with_right:
            for c in rcols:
                name = c + suffixes[1] if (c in lcols and with_left) else c
                out.append(f"{sql_ident(rmap[c])} AS {sql_ident(name)}")
        return df.selectExpr(*out)

    if group is None:
        if how == "inner":
            return restore(matched)
        # One-sided outers run the interval join ONCE: re-join the outer
        # side to the matched pairs on its 8-byte row id (left join ⇒
        # per-hit rows for matched records, one null-extended row for
        # unmatched ones). The previous inner+anti+union shape executed
        # the whole binned join twice — the anti-join's pruned
        # projection defeats ReuseExchange — which doubles the dominant
        # cost at any scale.
        if how == "left_outer":
            hits_r = matched.select("__lrid", *[rmap[c] for c in rcols])
            return restore(ldf.join(hits_r, "__lrid", "left"))
        if how == "right_outer":
            hits_l = matched.select("__rrid", *[lmap[c] for c in lcols])
            return restore(rdf.join(hits_l, "__rrid", "left"))
        # full outer: the left half reuses the single-pass shape; only
        # the unmatched-rights channel needs a second (column-pruned)
        # pass over the matched ids; its missing left columns union in
        # as typed NULLs
        hits_r = matched.select("__lrid", "__rrid", *[rmap[c] for c in rcols])
        out_l = ldf.join(hits_r, "__lrid", "left")
        anti_r = rdf.join(matched.select("__rrid").distinct(), "__rrid", "left_anti")
        return restore(
            out_l.select(*lmap.values(), *rmap.values()).unionByName(
                anti_r.select(*rmap.values()), allowMissingColumns=True
            )
        )

    # Group variants: aggregate ONLY (row id, hit struct) — the slimmest
    # possible groupBy shuffle — then equi-join the hit lists back to
    # the source side on the 8-byte id. Compared with grouping the full
    # matched rows, the probed side's columns never ride the aggregate
    # exchange, and the interval join executes exactly once (the old
    # anti-join channels re-ran it with a pruned projection that
    # defeated ReuseExchange). Inner-flavored variants use an inner id
    # join (matched probes only); outer flavors use a left join whose
    # null hit lists become empty arrays.
    if group == "left":
        if group_aggs is not None:
            # fused reduction: restore the grouped side's names so the
            # caller's aggregate expressions bind, aggregate per left
            # row id (map-side partials collapse the matched stream
            # BEFORE the exchange), then attach the left columns by id
            hits_restored = matched.selectExpr(
                "__lrid", *[f"{sql_ident(rmap[c])} AS {sql_ident(c)}" for c in rcols]
            )
            agg = hits_restored.groupBy("__lrid").agg(
                *[col.alias(name) for name, col in group_aggs.items()]
            )
            out = ldf.join(agg, "__lrid", "inner")
            return out.selectExpr(
                *[f"{sql_ident(lmap[c])} AS {sql_ident(c)}" for c in lcols],
                *[sql_ident(name) for name in group_aggs],
            )
        hit = _struct(rcols, rmap)
        agg = matched.groupBy("__lrid").agg(
            F.expr(f"{_collect_hits(hit, right.schema, rcols)} AS {sql_ident(group_col)}")
        )
        if how in {"left_outer", "full_outer"}:
            # all lefts, empty hit list when unmatched
            out = ldf.join(agg, "__lrid", "left").withColumn(
                group_col,
                F.coalesce(
                    F.col(group_col), F.array().cast(agg.schema[group_col].dataType)
                ),
            )
        else:
            out = ldf.join(agg, "__lrid", "inner")
        if how in {"right_outer", "full_outer"}:
            # unmatched rights as (null left, single-hit list)
            # (reference: RightOuterShuffleRegionJoinAndGroupByLeft,
            # ShuffleRegionJoin.scala:297-335)
            anti_r = rdf.join(
                matched.select("__rrid").distinct(), "__rrid", "left_anti"
            ).selectExpr(f"array({hit}) AS {sql_ident(group_col)}")
            out = out.select(*lmap.values(), group_col).unionByName(
                anti_r, allowMissingColumns=True
            )
        return out.selectExpr(
            *[f"{sql_ident(lmap[c])} AS {sql_ident(c)}" for c in lcols], sql_ident(group_col)
        )

    # group == "right": (Iterable[T], U) keyed by right rows
    hit = _struct(lcols, lmap)
    agg = matched.groupBy("__rrid").agg(
        F.expr(f"{_collect_hits(hit, left.schema, lcols)} AS {sql_ident(group_col)}")
    )
    if how in {"right_outer", "full_outer"}:
        # all rights, empty iterable when unmatched
        # (reference: RightOuterTreeRegionJoin, TreeRegionJoin.scala:137)
        out = rdf.join(agg, "__rrid", "left").withColumn(
            group_col,
            F.coalesce(F.col(group_col), F.array().cast(agg.schema[group_col].dataType)),
        )
    else:
        out = rdf.join(agg, "__rrid", "inner")
    return out.selectExpr(
        sql_ident(group_col), *[f"{sql_ident(rmap[c])} AS {sql_ident(c)}" for c in rcols]
    )


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
