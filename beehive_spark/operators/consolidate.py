"""Metadata consolidation (dedup-split) joins — J3/J4/J5.

Parity target: the reference's ``consolidateTableRecords``
(reference utils.js:83-150) matches each source metadata row to a
destination row on business key(s) via an O(n*m) nested loop:
matched rows record a ``src_id -> dest_id`` mapping; unmatched rows
are inserted with fresh ids.  Eleven hand-rolled copies exist for
specific tables (SURVEY.md §2.3 J4).

Spark-first re-expression: one generic operator =
  inner join  (src ∩ dst on business key)  -> mapping rows
  left_anti   (src − dst)                  -> rows to insert
The destination side of both joins is the same pruned projection,
and it carries an explicit ``F.broadcast`` hint, which overrides
``spark.sql.autoBroadcastJoinThreshold``: dst is broadcast whatever
its size, never shuffled.  Metadata tables in this domain are KB-MB,
so it fits; nothing here switches a dst too large to broadcast over
to a shuffled join.  FK-typed business-key columns
(utils.js:101-104's "mapped column compare") must already be in
destination id space: the merge remaps them through the spec's
``business_premaps`` before it calls this.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from beehive_spark.operators.ids import assign_ids, mapping_of


@dataclass
class ConsolidateResult:
    """Split output of a consolidation.

    mapping:   (src_id, dest_id) for rows matched in dst by business
               key, UNION the fresh ids assigned to inserted rows —
               i.e. a complete map for every src row, exactly like the
               reference's per-table Map after consolidation.
    to_insert: src rows absent from dst, with dest ids already
               assigned in column ``dest_id``.
    """

    mapping: DataFrame
    to_insert: DataFrame


def consolidate(
    src: DataFrame,
    dst: DataFrame,
    src_pk: str,
    dst_pk: str,
    business_keys: list[str],
    next_id_base: int = 1,
    order_cols: list[str] | None = None,
    persisted: list[DataFrame] | None = None,
) -> ConsolidateResult:
    """Generic consolidation (replaces utils.js:83-150 and all J4 clones).

    Business-key columns that are themselves FKs must be remapped to
    destination id space *before* the call (``remap_fks``,
    utils.js:101-104) — e.g. program_workflow matches on
    (mapped program_id, concept_id) (patient-programs.js:190-199).
    persisted: passed to ``assign_ids``.
    """
    # Rename the dst side to internal names so consolidation works even
    # when src and dst derive from the same DataFrame (self-join safety).
    dkeys = F.broadcast(dst.select(
        F.col(dst_pk).alias("__dst_pk"),
        *[F.col(k).alias(f"__dst_{k}") for k in business_keys],
    ))

    # Null-safe equality: business keys may be NULL on either side and
    # the reference's `===` JS compare treats NULL==NULL as a match
    # only when both are null -> use <=> semantics.
    cond = None
    for k in business_keys:
        c = src[k].eqNullSafe(dkeys[f"__dst_{k}"])
        cond = c if cond is None else (cond & c)

    matched = src.join(dkeys, cond, "inner").select(
        src[src_pk].alias("src_id"), F.col("__dst_pk").cast("long").alias("dest_id")
    )
    to_insert = src.join(dkeys, cond, "left_anti")
    to_insert = assign_ids(
        to_insert, src_pk, order_cols=order_cols or [src_pk], base=next_id_base,
        persisted=persisted,
    )
    return ConsolidateResult(
        mapping=matched.unionByName(mapping_of(to_insert, src_pk)), to_insert=to_insert
    )


def disjunctive_match(
    src: DataFrame,
    dst: DataFrame,
    src_pk: str,
    dst_pk: str,
    key_groups: list[list[str]],
) -> DataFrame:
    """Match src rows to dst on ANY of several key groups (J5).

    Parity: users match on (system_id AND username) OR uuid
    (reference preparation.js:140-157).  Implemented as a union of
    equi-joins — each group is a hashable equi-join Catalyst can
    broadcast/shuffle, instead of one un-optimizable OR theta-join —
    deduplicated by src key with group precedence (earlier group
    wins, mirroring the reference's first-match-wins loop).

    Returns (src_id, dest_id).
    """
    parts = []
    for i, keys in enumerate(key_groups):
        dkeys = dst.select(
            F.col(dst_pk).alias("__dst_pk"),
            *[F.col(k).alias(f"__dst_{k}") for k in keys],
        )
        cond = None
        for k in keys:
            c = src[k].eqNullSafe(dkeys[f"__dst_{k}"])
            cond = c if cond is None else (cond & c)
        parts.append(
            src.join(dkeys, cond, "inner").select(
                src[src_pk].alias("src_id"),
                F.col("__dst_pk").cast("long").alias("dest_id"),
                F.lit(i).alias("__prio"),
            )
        )
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    # first-match-wins: min priority, then min dest_id for determinism
    w_cols = [F.col("__prio").asc(), F.col("dest_id").asc()]
    from pyspark.sql import Window

    w = Window.partitionBy("src_id").orderBy(*w_cols)
    return (
        unioned.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("src_id", "dest_id")
    )
