"""Incremental view maintenance — keep aggregates fresh from a CDC delta.

The reference recomputes every derived number by re-reading the whole
source database each run (orchestrator.js:22-121 re-scans all tables;
counts are re-derived per run in integrity-checks.js:5-137).  At 100 TB
a full recompute of a materialized aggregate is the single most
expensive recurring job a warehouse runs, yet between two runs only a
sliver of rows changed.  This module maintains a grouped aggregate from
just that sliver: the classic retraction-stream model (each change is a
signed row: +1 insert, -1 retract; an update is a retract/insert pair),
as in Flink retract streams and differential dataflow — public
literature, re-expressed as DataFrame ops.

Two maintenance classes, both delta-priced:

- **Self-maintainable** (:func:`incremental_agg`): SUM / COUNT and
  anything derivable (AVG = SUM/COUNT) merge with pure addition — the
  new aggregate of a touched group is ``base + delta`` without ever
  consulting the raw fact rows.
- **Rescan-on-evict** (:func:`incremental_minmax`): MIN/MAX cannot
  survive a retraction of the current extreme (the runner-up is not in
  the summary), so exactly the groups where that happened re-aggregate
  from the fact table — detected precisely, reached by broadcast
  semi-join, every other group maintained from the delta alone.

Scale shape (the whole point):

- the delta aggregates first — ONE shuffle over the handful of touched
  groups, never over the base;
- the base aggregate table is split by a BROADCAST anti/semi join on
  the touched keys: untouched groups pass through with zero shuffle
  and zero decode beyond the scan, touched groups merge with the
  broadcast delta.  The base NEVER repartitions — at 100 TB the cost
  is one scan of the aggregate table (itself small) plus work
  proportional to the delta, not to history.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: name of the signed-multiplicity column in a retraction feed
SIGN = "_sign"


# The maintainers persist their touched-groups-sized intermediates
# (deltas and merges, each feeding several branches).  ``persisted``,
# the library's out-list convention (``assign_ids``, ``consolidate``),
# collects every frame one call persists; the caller unpersists exactly
# those once the result is materialized (committed/checkpointed) —
# earlier merely loses the sharing, never correctness.  The streaming
# sinks in streaming/materialize.py pass a fresh list per micro-batch,
# so a stream's cache stays bounded and never touches another caller's
# frames.  Callers that pass no list (one-shot batch queries) leave the
# frames to the session's cache clearing.
def _persist(df: DataFrame, persisted: list[DataFrame] | None) -> DataFrame:
    df = df.persist()
    if persisted is not None:
        persisted.append(df)
    return df


def cdc_to_retractions(
    feed: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    change_col: str = "change_type",
    old_suffix: str = "_old",
    new_suffix: str = "_new",
) -> DataFrame:
    """Convert an insert/update/delete CDC feed (the shape
    ``snapshot_diff`` / ``writers.apply_cdc_parquet`` use: one row per
    changed key with ``<val>_old`` / ``<val>_new`` columns) into a
    signed retraction stream: deletes emit (-1, old values), inserts
    (+1, new values), updates both.  Group-key changes are handled for
    free — the retraction carries the OLD key columns and the insert
    the NEW ones when both are present in the feed (columns named
    ``<key>_old`` / ``<key>_new``); plain key columns are used as-is.
    """

    def side(suffix: str, sign: int, ops: list[str]) -> DataFrame:
        cols: list[Column] = [F.lit(sign).alias(SIGN)]
        for k in keys:
            src = k + suffix if (k + suffix) in feed.columns else k
            cols.append(F.col(src).alias(k))
        for v in values:
            src = v + suffix if (v + suffix) in feed.columns else v
            cols.append(F.col(src).alias(v))
        return feed.filter(F.col(change_col).isin(ops)).select(*cols)

    retract = side(old_suffix, -1, ["update", "delete"])
    insert = side(new_suffix, +1, ["update", "insert"])
    return retract.unionByName(insert)


def incremental_agg(
    base: DataFrame,
    retractions: DataFrame,
    keys: Sequence[str],
    sums: dict[str, str],
    count_col: str = "n_rows",
    persisted: list[DataFrame] | None = None,
) -> DataFrame:
    """Maintain ``base`` — a grouped aggregate with columns
    ``keys + [count_col] + [out, out_nn for out in sums]`` as produced
    by :func:`build_agg` — from a signed retraction stream carrying
    ``[SIGN] + keys + source value columns``.

    ``sums`` maps aggregate column name -> source value column in the
    retraction feed.  Exact SQL SUM semantics, including NULLs: each
    sum carries a companion non-null contribution count ``<out>_nn``,
    and the sum reads NULL exactly when that count is zero (a plain
    running total cannot distinguish "all contributions NULL" from
    "contributions cancel to 0" — caught by
    tests/test_ivm_property.py).  Groups whose maintained row count
    reaches zero are dropped, new groups appear; the result equals a
    from-scratch recompute over the post-change fact table (proven by
    the ``incremental_agg_orders`` oracle and the property test).

    The base side is never shuffled: touched keys are broadcast for the
    semi/anti split and the merged delta is broadcast for the final
    join, so cost scales with the DELTA, not the base.
    """
    keys = list(keys)
    nn = {out: f"{out}_nn" for out in sums}
    delta_aggs = [F.sum(SIGN).cast("long").alias(count_col)]
    for out, src in sums.items():
        contributes = F.col(src).isNotNull()
        delta_aggs.append(
            F.sum(F.when(contributes, F.col(SIGN) * F.col(src)).otherwise(F.lit(0)))
            .alias(out)
        )
        delta_aggs.append(
            F.sum(F.when(contributes, F.col(SIGN)).otherwise(F.lit(0)))
            .cast("long")
            .alias(nn[out])
        )
    # delta is touched-groups-sized by contract; persist it so the three
    # consumers below (anti/semi split + merge stream side) share one
    # computation instead of re-deriving the whole retraction feed per
    # branch (r11: the un-persisted plan re-expanded the feed lineage
    # combinatorially — 28 scans of the fact parquet for one maintainer)
    delta = _persist(retractions.groupBy(*keys).agg(*delta_aggs), persisted)

    def _merge(col: str):
        return F.coalesce(F.col(f"b.{col}"), F.lit(0)) + F.coalesce(
            F.col(f"d.{col}"), F.lit(0)
        )

    merged_cols: list = [_merge(count_col).alias(count_col)]
    for out in sums:
        n = _merge(nn[out])
        merged_cols.append(F.when(n > 0, _merge(out)).alias(out))
        merged_cols.append(n.alias(nn[out]))

    # delta is small by construction (touched groups only) — broadcast it
    # for both the split and the merge so `base` never repartitions.
    bdelta = F.broadcast(delta)
    untouched = base.join(bdelta.select(*keys), keys, "left_anti")
    # touched base rows are a subset of delta's keys, so the merge that
    # must also surface brand-new groups is delta LEFT OUTER touched —
    # NOT a full outer (which Spark cannot broadcast-hash-join).  Both
    # sides are delta-sized; the touched slice broadcasts.
    touched = base.join(bdelta.select(*keys), keys, "left_semi")
    merged = (
        delta.alias("d")
        .join(F.broadcast(touched.alias("b")), keys, "left_outer")
        .select(*keys, *merged_cols)
        .filter(F.col(count_col) > 0)
    )
    return untouched.unionByName(merged)


def build_agg(
    df: DataFrame,
    keys: Sequence[str],
    sums: dict[str, str],
    count_col: str = "n_rows",
) -> DataFrame:
    """The batch-backfill aggregate in the exact shape
    :func:`incremental_agg` maintains: per group, ``count_col`` =
    COUNT(*), and for each ``out -> src`` a SQL ``SUM(src)`` plus its
    non-null contribution count ``<out>_nn`` (the state that makes
    NULL-sum semantics incrementally maintainable)."""
    aggs = [F.count(F.lit(1)).alias(count_col)]
    for out, src in sums.items():
        aggs.append(F.sum(src).alias(out))
        aggs.append(F.count(src).alias(f"{out}_nn"))
    return df.groupBy(*list(keys)).agg(*aggs)


def build_multiplicity(
    df: DataFrame, keys: Sequence[str], value_col: str, mult_col: str = "m"
) -> DataFrame:
    """The auxiliary state that makes COUNT(DISTINCT) incrementally
    maintainable: one row per (group, value) with its fact-row
    multiplicity.  ``incremental_distinct`` maintains this table and
    derives the distinct-count view's CHANGES from multiplicity
    zero-crossings — never re-scanning the fact table.

    NULL values are excluded, matching SQL COUNT(DISTINCT) semantics;
    a group whose rows are all-NULL therefore has no view row (the
    maintained view carries only counts > 0)."""
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*list(keys), value_col)
        .agg(F.count(F.lit(1)).cast("long").alias(mult_col))
    )


def incremental_distinct(
    mult: DataFrame,
    counts: DataFrame,
    retractions: DataFrame,
    keys: Sequence[str],
    value_col: str,
    mult_col: str = "m",
    count_col: str = "n_distinct",
    persisted: list[DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Maintain a per-group COUNT(DISTINCT ``value_col``) view from a
    signed retraction stream via a MULTIPLICITY TABLE — the classic
    auxiliary-state construction (Gupta & Mumick's view-maintenance
    taxonomy) for an aggregate that is not self-maintainable: the view
    alone cannot tell whether a retracted value still has other
    supporting fact rows, but the (group, value, multiplicity) table
    can, in O(|delta|).

    Returns ``(new_mult, new_counts)``.  The distinct count changes
    EXACTLY at multiplicity zero-crossings: a (group, value) whose
    multiplicity rises from 0 adds one, one that falls to 0 removes
    one; everything else (duplicate inserts, partial deletes) leaves
    the view untouched — which is precisely the case a naive count
    maintenance gets wrong.

    Shape: the delta aggregates the retraction stream once per
    (group, value); both the multiplicity merge and the count merge
    follow :func:`incremental_agg`'s broadcast discipline (delta
    broadcasts for the anti/semi split and the left-outer merge), so
    NEITHER base artifact ever repartitions and cost scales with the
    delta, not the corpus.
    """
    keys = list(keys)
    mk = keys + [value_col]
    # NULL values never count toward DISTINCT (SQL semantics) — drop
    # their retractions before they can fabricate multiplicity rows
    # delta / merged / crossings are all touched-keys-sized by contract;
    # each is consumed by 2-3 downstream branches, so persist them —
    # without this the lineage re-expands per consumer (r11: 86 fact
    # scans in one maintained-distinct plan)
    delta = (
        retractions.filter(F.col(value_col).isNotNull())
        .groupBy(*mk)
        .agg(F.sum(SIGN).cast("long").alias("_dm"))
    )
    delta = _persist(delta, persisted)
    bdelta = F.broadcast(delta)
    untouched_m = mult.join(bdelta.select(*mk), mk, "left_anti")
    touched_m = mult.join(bdelta.select(*mk), mk, "left_semi")
    merged = (
        delta.alias("d")
        .join(F.broadcast(touched_m.alias("b")), mk, "left_outer")
        .select(
            *mk,
            F.coalesce(F.col(f"b.{mult_col}"), F.lit(0)).alias("_m_old"),
            (
                F.coalesce(F.col(f"b.{mult_col}"), F.lit(0)) + F.col("d._dm")
            ).alias(mult_col),
        )
    )
    merged = _persist(merged, persisted)
    new_mult = untouched_m.unionByName(
        merged.filter(F.col(mult_col) > 0).select(*mk, mult_col)
    )
    # distinct-count delta per group = zero-crossings up minus down
    crossings = merged.groupBy(*keys).agg(
        F.sum(
            F.when((F.col("_m_old") <= 0) & (F.col(mult_col) > 0), 1)
            .when((F.col("_m_old") > 0) & (F.col(mult_col) <= 0), -1)
            .otherwise(0)
        )
        .cast("long")
        .alias("_dd")
    ).filter(F.col("_dd") != 0)
    crossings = _persist(crossings, persisted)
    bcross = F.broadcast(crossings)
    untouched_c = counts.join(bcross.select(*keys), keys, "left_anti")
    touched_c = counts.join(bcross.select(*keys), keys, "left_semi")
    new_counts = (
        crossings.alias("d")
        .join(F.broadcast(touched_c.alias("b")), keys, "left_outer")
        .select(
            *keys,
            (
                F.coalesce(F.col(f"b.{count_col}"), F.lit(0)) + F.col("d._dd")
            ).alias(count_col),
        )
        .filter(F.col(count_col) > 0)
        .unionByName(untouched_c)
    )
    return new_mult, new_counts


def incremental_minmax(
    base: DataFrame,
    retractions: DataFrame,
    fact: DataFrame,
    keys: Sequence[str],
    value: str,
    agg: str = "max",
    count_col: str = "n_rows",
    out_col: str | None = None,
    persisted: list[DataFrame] | None = None,
) -> DataFrame:
    """Maintain a per-group MIN/MAX — the classic NON-self-maintainable
    aggregate — with rescans confined to the groups that need one.

    Inserts are self-maintainable (``new = greatest(old, arriving)``);
    the hard case is a retraction of the current extreme, where the
    runner-up is unknowable from the summary.  Instead of falling back
    to a full recompute (the reference's answer to every freshness
    question, orchestrator.js:22-121), the affected groups are
    detected exactly — a retraction whose value ties the stored
    extreme — and ONLY those groups re-aggregate from ``fact`` (the
    post-change rows), reached via a broadcast semi-join so the fact
    table is scanned once, never shuffled, and only matching rows
    aggregate.  Every other touched group updates from the delta alone.

    ``base`` columns: ``keys + [count_col, out_col]`` (build with
    ``fact.groupBy(keys).agg(count, max/min)``).  ``retractions`` is
    the :func:`cdc_to_retractions` stream; NULL values contribute to
    ``count_col`` but never to the extreme (SQL semantics; an all-NULL
    group holds NULL).  A NULL stored extreme with surviving rows also
    rescans on insert of a non-null (cheap and rare).  Groups reaching
    zero rows drop; new groups form from inserts or rescan.
    """
    keys = list(keys)
    if agg not in ("max", "min"):
        raise ValueError(f"agg must be 'max' or 'min', got {agg}")
    out = out_col or agg
    v, sgn = F.col(value), F.col(SIGN)
    best_in = F.max if agg == "max" else F.min
    # delta and the merged frame `m` are touched-groups-sized by
    # contract and each feeds 2-3 branches (split, merge, cheap/rescan
    # routing) — persist both so the retraction feed computes once
    delta = retractions.groupBy(*keys).agg(
        F.sum(SIGN).cast("long").alias("_dn"),
        best_in(F.when((sgn > 0) & v.isNotNull(), v)).alias("_ins"),
        best_in(F.when((sgn < 0) & v.isNotNull(), v)).alias("_del"),
    )
    delta = _persist(delta, persisted)
    bdelta = F.broadcast(delta)
    untouched = base.join(bdelta.select(*keys), keys, "left_anti")
    touched = base.join(bdelta.select(*keys), keys, "left_semi")
    m = (
        delta.alias("d")
        .join(F.broadcast(touched.alias("b")), keys, "left_outer")
        .select(
            *keys,
            (F.coalesce(F.col(f"b.{count_col}"), F.lit(0)) + F.col("d._dn")).alias(
                count_col
            ),
            F.col(f"b.{out}").alias("_old"),
            F.col("d._ins").alias("_ins"),
            F.col("d._del").alias("_del"),
            F.col(f"b.{count_col}").isNull().alias("_new_grp"),
        )
        .filter(F.col(count_col) > 0)
    )
    m = _persist(m, persisted)
    tie = (
        F.col("_del") >= F.col("_old") if agg == "max" else F.col("_del") <= F.col("_old")
    )
    needs_rescan = (
        # retraction reached the stored extreme (or the extreme is
        # unknown-NULL while rows survive and non-nulls arrive/leave)
        (F.col("_del").isNotNull() & (F.col("_old").isNull() | tie))
        | (F.col("_old").isNull() & ~F.col("_new_grp") & F.col("_ins").isNotNull())
    )
    cheap = m.filter(~needs_rescan).select(
        *keys,
        F.col(count_col),
        F.when(
            F.col("_new_grp"), F.col("_ins")
        ).otherwise(
            (F.greatest if agg == "max" else F.least)(
                F.col("_old"), F.col("_ins")
            )
        ).alias(out),
    )
    rescan_keys = m.filter(needs_rescan).select(*keys, F.col(count_col))
    rescanned = (
        fact.join(F.broadcast(rescan_keys.select(*keys)), keys, "left_semi")
        .groupBy(*keys)
        .agg(best_in(F.when(F.col(value).isNotNull(), F.col(value))).alias(out))
        .join(F.broadcast(rescan_keys), keys, "inner")
        .select(*keys, F.col(count_col), F.col(out))
    )
    return untouched.unionByName(cheap).unionByName(rescanned)


def _sort_desc(arr):
    return F.reverse(F.array_sort(arr))


def incremental_topk(
    base: DataFrame,
    retractions: DataFrame,
    fact: DataFrame,
    keys: Sequence[str],
    value: str,
    k: int,
    count_col: str = "n_rows",
    out_col: str = "topk",
    persisted: list[DataFrame] | None = None,
) -> DataFrame:
    """Maintain a per-group descending top-``k`` value array — the
    k-extremes generalization of :func:`incremental_minmax`, closing
    out the IVM family (sums/counts self-maintain; extremes and top-k
    rescan only evicted groups).

    Cheap path: inserts merge with ``sort(concat(old, new))[:k]`` — no
    fact access.  Rescan path, detected exactly: a non-null retraction
    whose value reaches the group's in-threshold zone (>= the k-th
    stored value, or ANY retraction while the group holds fewer than k
    values, since then every member is stored).  Rescanned groups
    re-aggregate from ``fact`` via broadcast semi-join — the fact
    table is scanned once and never shuffled; all other groups update
    from the delta alone.  NULLs count rows but never enter the array.

    ``base`` columns: ``keys + [count_col, out_col]`` with ``out_col``
    descending-sorted (build with
    ``slice(reverse(array_sort(collect_list(v))), 1, k)``).
    """
    keys = list(keys)
    v, sgn = F.col(value), F.col(SIGN)
    # same persist discipline as incremental_minmax: delta and `m` are
    # touched-groups-sized and multiply-consumed
    delta = retractions.groupBy(*keys).agg(
        F.sum(SIGN).cast("long").alias("_dn"),
        F.slice(
            _sort_desc(F.collect_list(F.when((sgn > 0) & v.isNotNull(), v))),
            1,
            k,
        ).alias("_ins"),
        F.max(F.when((sgn < 0) & v.isNotNull(), v)).alias("_del_mx"),
    )
    delta = _persist(delta, persisted)
    bdelta = F.broadcast(delta)
    untouched = base.join(bdelta.select(*keys), keys, "left_anti")
    touched = base.join(bdelta.select(*keys), keys, "left_semi")
    m = (
        delta.alias("d")
        .join(F.broadcast(touched.alias("b")), keys, "left_outer")
        .select(
            *keys,
            (F.coalesce(F.col(f"b.{count_col}"), F.lit(0)) + F.col("d._dn")).alias(
                count_col
            ),
            F.coalesce(
                F.col(f"b.{out_col}"),
                F.expr("array()").cast(base.schema[out_col].dataType.simpleString()),
            ).alias("_old"),
            F.col("d._ins").alias("_ins"),
            F.col("d._del_mx").alias("_del_mx"),
        )
        .filter(F.col(count_col) > 0)
    )
    m = _persist(m, persisted)
    kth = F.element_at(F.col("_old"), F.size("_old"))  # smallest stored
    needs_rescan = F.col("_del_mx").isNotNull() & (
        (F.size("_old") < k) | (F.col("_del_mx") >= kth)
    )
    cheap = m.filter(~needs_rescan).select(
        *keys,
        F.col(count_col),
        F.slice(_sort_desc(F.concat("_old", "_ins")), 1, k).alias(out_col),
    )
    rescan_keys = m.filter(needs_rescan).select(*keys, F.col(count_col))
    rescanned = (
        fact.join(F.broadcast(rescan_keys.select(*keys)), keys, "left_semi")
        .groupBy(*keys)
        .agg(
            F.slice(
                _sort_desc(
                    F.collect_list(F.when(F.col(value).isNotNull(), F.col(value)))
                ),
                1,
                k,
            ).alias(out_col)
        )
        .join(F.broadcast(rescan_keys), keys, "inner")
        .select(*keys, F.col(count_col), F.col(out_col))
    )
    return untouched.unionByName(cheap).unionByName(rescanned)


def delta_join(
    a_old: DataFrame,
    da: DataFrame,
    b_old: DataFrame,
    db: DataFrame,
    on: str | Sequence[str],
    persisted: list[DataFrame] | None = None,
) -> DataFrame:
    """Signed delta of the equi-join view ``V = A JOIN B`` from signed
    deltas of its inputs — the bilinear join-maintenance identity
    (differential dataflow / DBSP, public literature):

        dV = dA JOIN B_old  +  A_old JOIN dB  +  dA JOIN dB

    ``a_old`` / ``b_old`` are the PRE-change multisets (unsigned);
    ``da`` / ``db`` carry :data:`SIGN`.  The first two terms keep the
    input's sign; the cross term multiplies signs (a retracted A row
    joined to a retracted B row REAPPEARS in the view's delta with +1
    exactly when neither replacement matches it — the identity handles
    every such case by algebra, no case analysis).  Applying ``dV`` to
    the old view (union, then sign-weighted aggregation or
    :func:`incremental_agg`) equals a from-scratch join of the
    post-change tables — pinned against a brute-force multiset
    recompute in ``tests/test_ivm_join.py``.

    Non-key column names must be disjoint between A and B (the join
    view's own schema requirement).

    Scale shape — the whole point at 100 TB: the base tables are
    joined only AGAINST THE DELTAS, never against each other.  Both
    delta-side frames are broadcast (deltas are small by contract), so
    ``A_old`` and ``B_old`` stream through map-side broadcast joins
    with ZERO repartitioning of either base, and the cross term is
    delta x delta.  Cost scales with |delta| x match-rate, not with
    history."""
    on = [on] if isinstance(on, str) else list(on)
    a_cols = [c for c in a_old.columns if c not in on]
    b_cols = [c for c in b_old.columns if c not in on]
    sa, sb = f"{SIGN}_a", f"{SIGN}_b"
    clash = (set(a_cols) & set(b_cols)) | (
        {SIGN, sa, sb} & set(a_cols + b_cols)
    )
    if clash:
        raise ValueError(f"delta_join column collision: {sorted(clash)}")
    out = on + a_cols + b_cols + [SIGN]
    # each delta feeds two of the three identity terms; they are small
    # by contract (broadcast below), so persist to compute each once
    da_r = _persist(da.withColumnRenamed(SIGN, sa), persisted)
    db_r = _persist(db.withColumnRenamed(SIGN, sb), persisted)
    t1 = b_old.join(F.broadcast(da_r), on).select(
        *on, *a_cols, *b_cols, F.col(sa).alias(SIGN)
    )
    t2 = a_old.join(F.broadcast(db_r), on).select(
        *on, *a_cols, *b_cols, F.col(sb).alias(SIGN)
    )
    t3 = da_r.join(F.broadcast(db_r), on).select(
        *on, *a_cols, *b_cols, (F.col(sa) * F.col(sb)).alias(SIGN)
    )
    return t1.unionByName(t2).unionByName(t3).select(*out)


# ---------------------------------------------------------------------------
# Content-checksum view maintenance — XOR/modular-sum fingerprints
# ---------------------------------------------------------------------------
def build_checksum(
    df: DataFrame,
    hash_col: str = "rh",
    bucket_col: str = "bucket",
    n_buckets: int = 256,
    mod: int = 1_000_000_007,
) -> DataFrame:
    """The batch-backfill form of the per-bucket content fingerprint
    (``bucket, n_rows, xor_fp, sum_fp``) that :func:`incremental_checksum`
    maintains — one map-side-combinable aggregation over a row-hash
    column (see ``queries.relational.table_checksum_buckets`` for the
    canonicalization that produces it)."""
    return (
        df.groupBy(
            F.pmod(hash_col, F.lit(n_buckets)).cast("int").alias(bucket_col)
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.bit_xor(hash_col).cast("long").alias("xor_fp"),
            F.sum(F.pmod(hash_col, F.lit(mod))).cast("long").alias("sum_fp"),
        )
    )


def incremental_checksum(
    base: DataFrame,
    retractions: DataFrame,
    hash_col: str = "rh",
    sign_col: str = "_sign",
    bucket_col: str = "bucket",
    n_buckets: int = 256,
    mod: int = 1_000_000_007,
) -> DataFrame:
    """Maintain the per-bucket content fingerprint view from a signed
    retraction stream in O(|delta|) — the anti-entropy table
    (:func:`build_checksum`) never re-reads its fact table because
    every fingerprint component is a GROUP under its own operation:
    counts and modular sums under signed addition, and XOR under XOR
    itself (x ^ x = 0, so retracting a row is the same operation as
    inserting it — the sign column only matters for the additive
    parts).

    ``retractions``: one row per inserted (+1) / retracted (-1) row
    VERSION with its row hash — an update contributes its old hash at
    -1 and its new hash at +1.  The delta aggregates to at most
    ``n_buckets`` rows before the merge, so the full-outer join (which
    Spark plans as a sort-merge — broadcast hints do not apply to
    full-outer) touches two <= n_buckets-row frames regardless of fact
    or delta size; buckets whose count reaches zero drop from the view
    (matching the recompute, which only emits non-empty buckets)."""
    d = (
        retractions.groupBy(
            F.pmod(hash_col, F.lit(n_buckets)).cast("int").alias(bucket_col)
        ).agg(
            F.sum(sign_col).cast("long").alias("_dn"),
            F.bit_xor(hash_col).cast("long").alias("_dx"),
            F.sum(F.col(sign_col) * F.pmod(hash_col, F.lit(mod)))
            .cast("long")
            .alias("_ds"),
        )
    )
    z = F.lit(0).cast("long")
    return (
        base.join(d, bucket_col, "full_outer")
        .select(
            bucket_col,
            (F.coalesce("n_rows", z) + F.coalesce("_dn", z)).alias("n_rows"),
            F.coalesce("xor_fp", z)
            .bitwiseXOR(F.coalesce("_dx", z))
            .alias("xor_fp"),
            (F.coalesce("sum_fp", z) + F.coalesce("_ds", z)).alias("sum_fp"),
        )
        .filter(F.col("n_rows") > 0)
    )
