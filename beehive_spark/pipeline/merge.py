"""Two-phase merge runner — the Spark-first orchestrator.

Replaces the reference's orchestration (orchestrator.js:22-121):

1.  prepare      — provenance/idempotency guard (preparation.js:60-75),
                   admin/daemon exclusions + disjunctive user pre-match
                   (preparation.js:134-158)
2.  integrity    — FK orphan gate over spec-derived pairs, hard abort
                   (integrity-checks.js:114-137)
3.  uuid gate    — collision fixpoint per table when keeping uuids
                   (uuid-checks.js:225-371); skipped when
                   generate_new_uuids (every moved row gets a fresh one)
4.  phase 1      — build ALL id mappings (window row_number per table,
                   consolidation splits for metadata tables).  Because
                   every mapping exists before any row is written, the
                   reference's recursive creator-tree walk
                   (person-users.js:568-601) and its deferred self-FK
                   patch-up upserts (location.js:57-75, obs.js:73-91,
                   person-users.js:772-797) all collapse into ordinary
                   joins — see SURVEY.md §3.3.
5.  phase 2      — remap FKs + pk per table, union onto dst; the moved
                   rows are cached and counted once
6.  publish      — staged atomic parquet publish: every table is
                   written to a staging dir, its parquet footer row
                   count is reconciled against initial + moved (A3,
                   person-users.js:972-1019), and only then is the
                   staging dir renamed into place.  A dry run
                   (rollback equivalent, orchestrator.js:98-109)
                   reconciles the count of the lazy merged frame.

Scale notes: mappings are slim (src_id, dest_id) DataFrames joined
with broadcast hints while they fit (they are per-source-instance
sized, not corpus sized); above the broadcast threshold Catalyst
falls back to shuffled joins with identical semantics.

Each shared intermediate runs once: the uuid-fixpoint rounds, the user
and person premaps, each moved table's id assignment and the moved rows
are persisted and materialized at their phase boundary, because every
action over an unmaterialized lineage replays all of it (and ``uuid()``
would draw new values).  After a publish, ``run`` points the result at
the published parquet and releases everything it persisted; a dry run
keeps its frames, and their caches, for the caller.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beehive_spark.operators import (
    assign_ids,
    consolidate,
    disjunctive_match,
    next_id_base,
    reconcile,
)
from beehive_spark.operators.checks import (
    Reconciliation,
    ReconciliationError,
    footer_rows,
    labelled_counts,
    run_orphan_checks,
    uuid_fixpoint,
)
from beehive_spark.operators.remap import remap_fks
from beehive_spark.pipeline.specs import SPECS, TableSpec, fk_pairs


class MergeAbort(RuntimeError):
    """Raised when a pre-flight gate fails (reference exits the process)."""


class IntegrityError(MergeAbort):
    def __init__(self, offenders: dict[str, int]):
        self.offenders = offenders
        super().__init__(f"FK integrity violations: {offenders}")


class AlreadyMergedError(MergeAbort):
    pass


@dataclass
class MergeResult:
    merged: dict[str, DataFrame]
    mappings: dict[str, DataFrame]
    moved_counts: dict[str, int]
    reconciliations: list[Reconciliation] = field(default_factory=list)
    published_to: str | None = None


class MergePipeline:
    def __init__(
        self,
        spark: SparkSession,
        specs: list[TableSpec] | None = None,
        generate_new_uuids: bool = True,
        source_tag: str = "src",
    ):
        self.spark = spark
        self.specs = specs if specs is not None else SPECS
        self.generate_new_uuids = generate_new_uuids
        self.source_tag = source_tag
        # frames this pipeline persisted; ``_release`` unpersists them
        self._held: list[DataFrame] = []

    def _hold(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` until ``_release``.  Its first full computation
        fills the cache; a phase computes all it holds in one
        ``labelled_counts`` job."""
        df = df.persist()
        self._held.append(df)
        return df

    def _release(self) -> None:
        for df in self._held:
            df.unpersist(blocking=True)
        self._held = []

    # -- gates ------------------------------------------------------------

    def check_provenance(self, provenance: DataFrame | None) -> None:
        """Idempotency guard (preparation.js:60-75): abort if this
        source location was already merged."""
        if provenance is not None and not provenance.filter(
            F.col("source") == self.source_tag
        ).isEmpty():
            raise AlreadyMergedError(
                f"source '{self.source_tag}' has already been merged"
            )

    def check_integrity(self, src: dict[str, DataFrame]) -> None:
        """Pre-flight orphan gate (integrity-checks.js:114-137): every
        spec-derived FK pair, counted in one job."""
        offenders = run_orphan_checks({
            f"{child}.{fk}->{parent}.{ref}": (src[child], src[parent], fk, ref)
            for child, fk, parent, ref in fk_pairs(set(src))
        })
        if offenders:
            raise IntegrityError(offenders)

    # -- phase 1: mappings -------------------------------------------------

    def _prematch_users(self, src, dst):
        """Exclusions + disjunctive user pre-match (preparation.js:134-158,
        person-users.js:940-959).

        Returns (user_premap, person_premap): src admin/daemon users map
        to the dst admin user; other src users already present in dst
        (same (system_id, username) OR same uuid) map to their dst row.
        Their persons map to the dst user's person.
        """
        su, du = src["users"], dst["users"]
        admin_cond = (F.col("user_id") == 1) | F.col("system_id").isin(
            "admin", "daemon"
        )
        dst_admin = (
            du.filter(admin_cond).orderBy("user_id").limit(1).collect()
        )
        if not dst_admin:
            raise MergeAbort("destination has no admin user")
        dst_admin_uid = int(dst_admin[0]["user_id"])
        dst_admin_pid = int(dst_admin[0]["person_id"])

        excluded = su.filter(admin_cond)
        excl_umap = excluded.select(
            F.col("user_id").alias("src_id"),
            F.lit(dst_admin_uid).cast("long").alias("dest_id"),
        )
        excl_pmap = excluded.select(
            F.col("person_id").alias("src_id"),
            F.lit(dst_admin_pid).cast("long").alias("dest_id"),
        )

        rest = su.filter(~admin_cond)
        matched = disjunctive_match(
            rest, du, "user_id", "user_id", [["system_id", "username"], ["uuid"]]
        )
        user_premap = self._hold(excl_umap.unionByName(matched).distinct())
        # persons of matched users -> persons of the matched dst users;
        # joining on `rest` keeps only the matched (non-excluded) users
        src_up = rest.select(F.col("user_id").alias("src_id"),
                             F.col("person_id").alias("src_person"))
        dst_up = du.select(F.col("user_id").cast("long").alias("dest_id"),
                           F.col("person_id").cast("long").alias("dest_person"))
        matched_pmap = (
            user_premap.join(src_up, "src_id")
            .join(dst_up, "dest_id")
            .select(F.col("src_person").alias("src_id"),
                    F.col("dest_person").alias("dest_id"))
        )
        person_premap = self._hold(excl_pmap.unionByName(matched_pmap).distinct())
        return user_premap, person_premap

    # -- mapping persistence (preparation.js:107-132 'persist' mode) -------

    def _map_path(self, map_dir: str, table: str) -> str:
        # hive-style partition dir: reading {map_dir}/{table} yields a
        # `source` partition column across every merged source instance
        return os.path.join(map_dir, table, f"source={self.source_tag}")

    def _load_persisted(self, map_dir: str | None, table: str) -> DataFrame | None:
        """Persisted (src_id, dest_id, is_new) for this source, or None."""
        if map_dir is None:
            return None
        path = self._map_path(map_dir, table)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            return None
        return self.spark.read.parquet(path)

    def _persist(self, map_dir: str | None, table: str, wide: DataFrame) -> DataFrame:
        """Durably write a mapping and return the re-read frame.

        What makes a 100 TB merge restartable mid-job: phase 1 (id
        assignment) is the expensive, order-sensitive state; once each
        table's map hits parquet, a crashed run resumes with every
        completed map loaded instead of recomputed, and downstream
        joins read lineage-free durable data (no recompute-on-retry of
        the range-sort behind `assign_ids`).
        """
        if map_dir is None:
            return wide
        path = self._map_path(map_dir, table)
        wide.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    def build_mappings(self, src, dst, map_dir: str | None = None):
        """Phase 1: complete (src_id -> dest_id) mapping per table.

        The premaps and every table's id assignment are held and then
        computed together in one job, so each runs once however many
        mappings and rows derive from it.
        """
        mappings: dict[str, DataFrame] = {}
        to_insert: dict[str, DataFrame] = {}
        phase: dict[str, DataFrame] = {}  # held, computed together after the loop
        map_writes: list[tuple[str, DataFrame]] = []  # written after that

        premaps: dict[str, DataFrame] = {}
        if "users" in src and "users" in dst:
            u_pre, p_pre = self._prematch_users(src, dst)
            premaps["users"] = phase["users premap"] = u_pre
            premaps["person"] = phase["person premap"] = p_pre

        for spec in self.specs:
            t = spec.name
            if t not in src:
                continue
            sdf = src[t]
            ddf = dst.get(t)
            persisted = self._load_persisted(map_dir, t)
            if spec.mode == "move":
                pre = premaps.get(t)
                if persisted is not None:
                    # resume: ids come from the durable map, never re-sorted
                    new_map = persisted.filter("is_new")
                    to_insert[t] = sdf.join(
                        new_map.select(F.col("src_id").alias(spec.pk), "dest_id"),
                        spec.pk,
                    )
                    mappings[t] = persisted.select("src_id", "dest_id")
                    continue
                movers = sdf
                if pre is not None:
                    pre_keys = pre.select(F.col("src_id").alias(spec.pk))
                    movers = sdf.join(F.broadcast(pre_keys), spec.pk, "left_anti")
                base = next_id_base(ddf, spec.pk) if ddf is not None else 1
                order = [spec.order_col, spec.pk] if spec.order_col else [spec.pk]
                with_ids = assign_ids(
                    movers, spec.pk, order_cols=order, base=base,
                    mode=spec.id_mode, source_tag=self.source_tag,
                    persisted=self._held,
                )
                if map_dir is None:
                    # the mapping and the rows to insert share one id pass
                    with_ids = phase[t] = self._hold(with_ids)
                m = with_ids.select(
                    F.col(spec.pk).alias("src_id"),
                    F.col("dest_id").cast("long").alias("dest_id"),
                )
                wide = m.withColumn("is_new", F.lit(True))
                if pre is not None:
                    m = m.unionByName(pre)
                    wide = wide.unionByName(pre.withColumn("is_new", F.lit(False)))
                if map_dir is not None:
                    # the durable map is the one id pass both derive from
                    wide = self._persist(map_dir, t, wide)
                    mappings[t] = wide.select("src_id", "dest_id")
                    to_insert[t] = sdf.join(
                        wide.filter("is_new").select(
                            F.col("src_id").alias(spec.pk), "dest_id"
                        ),
                        spec.pk,
                    )
                else:
                    mappings[t] = m
                    to_insert[t] = with_ids
            elif spec.mode == "consolidate":
                fk_premaps = {
                    col: mappings[ref]
                    for col, ref in spec.business_premaps.items()
                    if ref in mappings
                }
                if persisted is not None:
                    s = remap_fks(sdf, fk_premaps, on_missing="null") if fk_premaps else sdf
                    new_map = persisted.filter("is_new")
                    to_insert[t] = s.join(
                        new_map.select(F.col("src_id").alias(spec.pk), "dest_id"),
                        spec.pk,
                    )
                    mappings[t] = persisted.select("src_id", "dest_id")
                    continue
                if ddf is None:
                    # consolidate against an absent dst table degrades to
                    # a plain move (nothing to match business keys on)
                    with_ids = phase[t] = self._hold(assign_ids(
                        sdf, spec.pk, order_cols=[spec.order_col or spec.pk],
                        base=1, mode=spec.id_mode, persisted=self._held,
                    ))
                    m = with_ids.select(
                        F.col(spec.pk).alias("src_id"),
                        F.col("dest_id").cast("long").alias("dest_id"),
                    )
                    if map_dir is not None:
                        map_writes.append((t, m.withColumn("is_new", F.lit(True))))
                    mappings[t] = m
                    to_insert[t] = with_ids
                    continue
                res = consolidate(
                    sdf,
                    ddf,
                    spec.pk,
                    spec.pk,
                    spec.business_keys,
                    fk_premaps=fk_premaps or None,
                    next_id_base=next_id_base(ddf, spec.pk),
                    order_cols=[spec.order_col or spec.pk],
                    id_mode=spec.id_mode,
                    persisted=self._held,
                )
                # the mapping's plan embeds to_insert's, so once that is
                # persisted its new ids are read from the cache
                to_insert[t] = phase[t] = self._hold(res.to_insert)
                mappings[t] = res.mapping
                if map_dir is not None:
                    new_flag = to_insert[t].select(
                        F.col(spec.pk).alias("src_id"), F.lit(True).alias("is_new")
                    )
                    map_writes.append((t, (
                        mappings[t].join(new_flag, "src_id", "left")
                        .withColumn("is_new", F.coalesce("is_new", F.lit(False)))
                    )))
            elif spec.mode == "pk_mapped":
                mappings[t] = mappings[spec.pk_from]
            # anti_insert / link: no id mapping (string keys pass through)
        labelled_counts(phase)
        for t, wide in map_writes:
            self._persist(map_dir, t, wide)
        return mappings, to_insert, premaps

    # -- phase 2: rewrite + merge -----------------------------------------

    def _remap(self, spec: TableSpec, df: DataFrame, mappings) -> DataFrame:
        fk_maps = {}
        drop_maps = {}
        for col, ref in spec.fks.items():
            if ref in mappings and col in df.columns:
                (drop_maps if col in spec.drop_unmapped else fk_maps)[col] = mappings[ref]
        for col in spec.self_fks:
            if spec.name in mappings and col in df.columns:
                fk_maps[col] = mappings[spec.name]
        out = df
        if drop_maps:
            out = remap_fks(out, drop_maps, on_missing="drop")
        if fk_maps:
            out = remap_fks(out, fk_maps, on_missing="null")
        return out

    def transform_table(self, spec, src, dst, mappings, to_insert) -> DataFrame:
        """Rows to insert into dst for one table, fully remapped."""
        t = spec.name
        sdf = src[t]
        ddf = dst.get(t)
        if spec.mode in ("move", "consolidate"):
            rows = to_insert[t]
            # pk <- assigned dest_id
            rows = rows.withColumn(spec.pk, F.col("dest_id")).drop("dest_id")
            rows = self._remap(spec, rows, mappings)
        elif spec.mode == "pk_mapped":
            rows = remap_fks(sdf, {spec.pk: mappings[spec.pk_from]}, on_missing="drop")
            if ddf is not None:
                dkeys = ddf.select(F.col(spec.pk).alias("__dpk"))
                rows = rows.join(
                    F.broadcast(dkeys), rows[spec.pk] == dkeys["__dpk"], "left_anti"
                )
            rows = self._remap(spec, rows, mappings)
        elif spec.mode == "anti_insert":
            rows = sdf
            if ddf is not None:
                rows = sdf.join(
                    ddf.select(*spec.business_keys), spec.business_keys, "left_anti"
                )
            rows = self._remap(spec, rows, mappings)
        elif spec.mode == "link":
            rows = self._remap(spec, sdf, mappings)
            if ddf is not None:
                rows = rows.join(
                    ddf.select(*spec.business_keys), spec.business_keys, "left_anti"
                )
            rows = rows.distinct()
        else:
            raise ValueError(f"unknown mode {spec.mode}")
        if spec.has_uuid and self.generate_new_uuids and "uuid" in rows.columns:
            # F3 (utils.js:55-58): fresh uuid per inserted row
            rows = rows.withColumn("uuid", F.expr("uuid()"))
        return rows

    # -- orchestration -----------------------------------------------------

    def run(
        self,
        src: dict[str, DataFrame],
        dst: dict[str, DataFrame],
        provenance: DataFrame | None = None,
        dry_run: bool = False,
        out_dir: str | None = None,
        map_dir: str | None = None,
    ) -> MergeResult:
        self.check_provenance(provenance)
        self.check_integrity(src)
        # a dry run's frames stay cached for its caller; start a new list
        self._held = []
        try:
            return self._merge(src, dst, None if dry_run else out_dir, map_dir)
        except BaseException:
            self._release()
            raise

    def _merge(self, src, dst, out_dir, map_dir) -> MergeResult:
        if not self.generate_new_uuids:
            # uuid uniqueness gate with rewrite-to-fixpoint
            # (uuid-checks.js:297-312)
            src = dict(src)
            for spec in self.specs:
                t = spec.name
                if spec.has_uuid and t in src and t in dst and "uuid" in src[t].columns:
                    fixed = uuid_fixpoint(src[t], dst[t], spec.pk)
                    if fixed is not src[t]:
                        self._held.append(fixed)
                    src[t] = fixed

        mappings, to_insert, _ = self.build_mappings(src, dst, map_dir=map_dir)

        rows: dict[str, DataFrame] = {}
        merged: dict[str, DataFrame] = {}
        for spec in self.specs:
            t = spec.name
            if t not in src:
                continue
            ddf = dst.get(t)
            r = self.transform_table(spec, src, dst, mappings, to_insert)
            if ddf is not None:
                r = r.select(*ddf.columns)
            rows[t] = self._hold(r)
            merged[t] = ddf.unionByName(rows[t]) if ddf is not None else rows[t]
        # every table's moved rows and destination rows, counted in one job
        counted = labelled_counts({
            **{f"moved {t}": r for t, r in rows.items()},
            **{f"dst {t}": dst[t] for t in rows if t in dst},
        })
        moved = {t: counted.get(f"moved {t}", 0) for t in rows}
        counts = {t: (counted.get(f"dst {t}", 0), moved[t]) for t in rows}

        result = MergeResult(merged=merged, mappings=mappings, moved_counts=moved)
        if out_dir is None:
            # nothing written: reconcile the merged frames themselves
            final = labelled_counts(merged)
            result.reconciliations = [
                reconcile(t, initial, n, final.get(t, 0))
                for t, (initial, n) in counts.items()
            ]
            return result
        result.published_to, result.reconciliations = self.publish(
            merged, out_dir, counts
        )
        result.merged = {
            t: self.spark.read.schema(df.schema).parquet(
                os.path.join(result.published_to, t)
            )
            for t, df in merged.items()
        }
        self._release()
        return result

    def publish(
        self,
        merged: dict[str, DataFrame],
        out_dir: str,
        counts: dict[str, tuple[int, int]],
    ) -> tuple[str, list[Reconciliation]]:
        """Staged atomic publish (replaces the MySQL transaction,
        orchestrator.js:66,98-109): write everything to a staging dir,
        reconcile it, then move it into place; a failed run leaves no
        partial output.

        counts: {table: (initial, moved)}.  Each staged table's parquet
        footer row count must equal initial + moved (A3), checked
        before any rename, so a short or long write raises
        ``ReconciliationError`` and leaves the published output as it
        was.  Returns (published dir, reconciliations).
        """
        staging = os.path.join(out_dir, f"_staging_{self.source_tag}")
        final = os.path.join(out_dir, "merged")
        backup = final + ".old"
        if os.path.exists(staging):
            shutil.rmtree(staging)
        self._stage(merged, staging)
        try:
            recs = [
                reconcile(t, initial, moved, footer_rows(os.path.join(staging, t)))
                for t, (initial, moved) in counts.items()
            ]
        except ReconciliationError:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        # Two renames instead of rmtree-then-rename: a crash between them
        # leaves either the old output at `final` or at `backup`, never a
        # window with no good version on disk.
        if os.path.exists(backup):
            shutil.rmtree(backup)
        if os.path.exists(final):
            os.replace(final, backup)
        os.replace(staging, final)
        if os.path.exists(backup):
            shutil.rmtree(backup)
        return final, recs

    def _stage(self, merged: dict[str, DataFrame], staging: str) -> None:
        for t, df in merged.items():
            df.write.mode("overwrite").parquet(os.path.join(staging, t))
