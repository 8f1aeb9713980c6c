"""Two-phase merge runner — the Spark-first orchestrator.

Replaces the reference's orchestration (orchestrator.js:22-121):

1.  prepare      — provenance/idempotency guard (preparation.js:60-75),
                   admin/daemon exclusions + disjunctive user pre-match
                   (preparation.js:134-158)
2.  integrity    — FK orphan gate over spec-derived pairs, hard abort
                   (integrity-checks.js:114-137)
3.  uuid gate    — one collision fixpoint over every uuid table when
                   keeping uuids, each round one job across all of them
                   (uuid-checks.js:225-371); skipped when
                   generate_new_uuids (every moved row gets a fresh one)
4.  phase 1      — build ALL id mappings, one path for every move and
                   consolidate table: remap its business premaps,
                   resume its map from ``map_dir`` when this source
                   already wrote one, else keep the dst id of rows
                   pre-matched in dst (user/person premaps, business-
                   key consolidation) and give the rest fresh ids
                   (``assign_ids``); every id assignment is computed
                   in one job, then the new maps are written to
                   ``map_dir`` together.  Because every mapping exists
                   before any row is written, the reference's recursive
                   creator-tree walk (person-users.js:568-601) and its
                   deferred self-FK patch-up upserts (location.js:57-75,
                   obs.js:73-91, person-users.js:772-797) all collapse
                   into ordinary joins — see SURVEY.md §3.3.
5.  phase 2      — remap FKs + pk per table, union onto dst; a
                   publish attaches a row-count ``Observation`` to the
                   moved rows, so the staging write counts them as it
                   writes them and nothing is cached or counted
                   before it
6.  publish      — staged atomic parquet publish: the tables are
                   written to a staging dir concurrently, then each
                   staged table's parquet footer row count is
                   reconciled against initial + moved (A3,
                   person-users.js:972-1019) — initial from the dst
                   footers (one count job for any dst that is not a
                   bare parquet scan), moved from the observation —
                   and only then is the staging dir swapped into
                   place (``promote_staging``, the engine's one locked
                   rename-with-backup).  A dry run (rollback equivalent,
                   orchestrator.js:98-109) caches and counts the moved
                   rows and reconciles the count of the lazy merged
                   frame.

Scale notes: mappings are slim (src_id, dest_id) DataFrames, sized
per source instance, not per corpus.  Every mapping join (``remap_fks``)
and every consolidate dst side carries an explicit ``F.broadcast``
hint, which overrides ``spark.sql.autoBroadcastJoinThreshold``: they
are broadcast whatever their size, and nothing falls back to a
shuffled join above the threshold.

Each shared intermediate runs once: the uuid-fixpoint rounds, the user
and person premaps, each moved table's id assignment and, in a dry run,
the moved rows are persisted and materialized at their phase boundary,
because every action over an unmaterialized lineage replays all of it
(and ``uuid()`` would draw new values).  A publish's staging write is
the only action over its moved rows, so they are not held.  After a
publish, ``run`` points the result at the published parquet and
releases everything it persisted; a dry run keeps its frames, and their
caches, for the caller.
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
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
    row_counts,
    run_orphan_checks,
    uuid_fixpoint,
)
from beehive_spark.operators.ids import mapping_of
from beehive_spark.operators.remap import remap_fks
from beehive_spark.pipeline.specs import SPECS, TableSpec, fk_pairs
from beehive_spark.sources.layout import promote_staging


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
        matched_pmap = mapping_of(
            user_premap.join(src_up, "src_id").join(dst_up, "dest_id"),
            "src_person", "dest_person",
        )
        person_premap = self._hold(excl_pmap.unionByName(matched_pmap).distinct())
        return user_premap, person_premap

    # -- mapping persistence (preparation.js:107-132 'persist' mode) -------

    def _map_path(self, map_dir: str, table: str) -> str:
        # hive-style partition dir: reading {map_dir}/{table} yields a
        # `source` partition column across every merged source instance
        return os.path.join(map_dir, table, f"source={self.source_tag}")

    def build_mappings(self, src, dst, map_dir: str | None = None):
        """Phase 1: complete (src_id -> dest_id) mapping per table.

        Every move and consolidate table takes one path.  Its business
        premaps are applied to the source rows first.  A map this
        source already wrote to ``map_dir`` is resumed: the mapping is
        read back and the rows to insert are the source rows it marks
        ``is_new``, so no id is assigned twice.  Otherwise the source
        splits into rows pre-matched in dst (the user/person premaps,
        or consolidate's business-key match), which keep their dst id,
        and movers, which get fresh ids from ``assign_ids``; a
        consolidate table with no dst side has nothing to match and
        moves.

        The premaps and every id assignment are held and computed
        together in one job, so each runs once however many mappings
        and rows derive from it.  Only then are the new maps written to
        ``map_dir`` as (src_id, dest_id, is_new), together (``_write``),
        which makes a crashed merge restartable without redoing the
        order-sensitive id pass.

        Returns (mappings, to_insert).
        """
        mappings: dict[str, DataFrame] = {}
        to_insert: dict[str, DataFrame] = {}
        phase: dict[str, DataFrame] = {}  # held, computed together after the loop
        fresh: list[TableSpec] = []  # maps to write to map_dir after that

        premaps: dict[str, DataFrame] = {}
        if "users" in src and "users" in dst:
            u_pre, p_pre = self._prematch_users(src, dst)
            premaps["users"] = phase["users premap"] = u_pre
            premaps["person"] = phase["person premap"] = p_pre

        for spec in self.specs:
            t = spec.name
            if t not in src:
                continue
            if spec.mode == "pk_mapped":
                mappings[t] = mappings[spec.pk_from]
            if spec.mode not in ("move", "consolidate"):
                continue  # anti_insert / link: string keys pass through
            sdf = src[t]
            ddf = dst.get(t)
            business = {col: mappings[ref]
                        for col, ref in spec.business_premaps.items()
                        if ref in mappings}
            if business:
                sdf = remap_fks(sdf, business, on_missing="null")
            path = map_dir and self._map_path(map_dir, t)
            if path and os.path.exists(os.path.join(path, "_SUCCESS")):
                # resume: ids come from the durable map, never re-sorted
                saved = self.spark.read.parquet(path)
                mappings[t] = saved.select("src_id", "dest_id")
                to_insert[t] = sdf.join(
                    saved.filter("is_new").select(
                        F.col("src_id").alias(spec.pk), "dest_id"),
                    spec.pk,
                )
                continue
            base = next_id_base(ddf, spec.pk) if ddf is not None else 1
            order = [spec.order_col, spec.pk] if spec.order_col else [spec.pk]
            if spec.mode == "consolidate" and ddf is not None:
                res = consolidate(
                    sdf, ddf, spec.pk, spec.pk, spec.business_keys,
                    next_id_base=base, order_cols=order, persisted=self._held,
                )
                with_ids, mappings[t] = res.to_insert, res.mapping
            else:
                pre = premaps.get(t)
                movers = sdf
                if pre is not None:
                    pre_keys = pre.select(F.col("src_id").alias(spec.pk))
                    movers = sdf.join(F.broadcast(pre_keys), spec.pk, "left_anti")
                with_ids = assign_ids(movers, spec.pk, order_cols=order,
                                      base=base, persisted=self._held)
                mappings[t] = mapping_of(with_ids, spec.pk)
                if pre is not None:
                    mappings[t] = mappings[t].unionByName(pre)
            # the mapping's plan embeds with_ids', so once that is held
            # its new ids are read from the cache
            to_insert[t] = phase[t] = self._hold(with_ids)
            if map_dir is not None:
                fresh.append(spec)
        labelled_counts(phase)
        maps = {}
        for spec in fresh:
            t = spec.name
            is_new = to_insert[t].select(
                F.col(spec.pk).alias("src_id"), F.lit(True).alias("is_new"))
            maps[self._map_path(map_dir, t)] = (
                mappings[t].join(is_new, "src_id", "left")
                .withColumn("is_new", F.coalesce("is_new", F.lit(False))))
        self._write(maps)
        return mappings, to_insert

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
            gated = {
                spec.name: (src[spec.name], dst[spec.name], spec.pk)
                for spec in self.specs
                if spec.has_uuid and spec.name in src and spec.name in dst
                and "uuid" in src[spec.name].columns
            }
            src = dict(src)
            for t, fixed in uuid_fixpoint(gated).items():
                if fixed is not src[t]:
                    self._held.append(fixed)
                src[t] = fixed

        mappings, to_insert = self.build_mappings(src, dst, map_dir=map_dir)

        rows: dict[str, DataFrame] = {}
        observed: dict[str, Observation] = {}
        merged: dict[str, DataFrame] = {}
        for spec in self.specs:
            t = spec.name
            if t not in src:
                continue
            ddf = dst.get(t)
            r = self.transform_table(spec, src, dst, mappings, to_insert)
            if ddf is not None:
                r = r.select(*ddf.columns)
            if out_dir is None:
                r = rows[t] = self._hold(r)
            else:
                # the staging write is the only action over these rows
                observed[t] = Observation()
                r = r.observe(observed[t], F.count(F.lit(1)).alias("n"))
            merged[t] = ddf.unionByName(r) if ddf is not None else r
        dst_rows = {f"dst {t}": dst[t] for t in merged if t in dst}

        if out_dir is None:
            # nothing written: count the held moved rows and the dst
            # inputs, then reconcile the merged frames themselves
            counted = row_counts(
                {**{f"moved {t}": r for t, r in rows.items()}, **dst_rows})
            final = labelled_counts(merged)
            moved = {t: counted[f"moved {t}"] for t in rows}
            return MergeResult(
                merged=merged, mappings=mappings, moved_counts=moved,
                reconciliations=[
                    reconcile(t, counted.get(f"dst {t}", 0), n, final.get(t, 0))
                    for t, n in moved.items()
                ],
            )
        counted = row_counts(dst_rows)
        published_to, recs = self.publish(
            merged, out_dir, {t: counted.get(f"dst {t}", 0) for t in merged},
            observed,
        )
        self._release()
        return MergeResult(
            merged={
                t: self.spark.read.schema(df.schema).parquet(
                    os.path.join(published_to, t))
                for t, df in merged.items()
            },
            mappings=mappings,
            moved_counts={r.table: r.moved for r in recs},
            reconciliations=recs,
            published_to=published_to,
        )

    def publish(
        self,
        merged: dict[str, DataFrame],
        out_dir: str,
        initial: dict[str, int],
        observed: dict[str, Observation],
    ) -> tuple[str, list[Reconciliation]]:
        """Staged atomic publish (replaces the MySQL transaction,
        orchestrator.js:66,98-109): write everything to a staging dir,
        reconcile it, then swap it into place (``promote_staging``); a
        failed run leaves no partial output.

        initial: {table: dst rows}; observed: {table: the row-count
        ``Observation`` on its moved rows, which the staging write
        reports}.  Each staged table's parquet footer row count must
        equal initial + moved (A3), checked before any rename, so a
        short or long write, or a moved count that a task retry
        inflated, raises ``ReconciliationError`` and leaves the
        published output as it was.  Returns (published dir,
        reconciliations).
        """
        staging = os.path.join(out_dir, f"_staging_{self.source_tag}")
        final = os.path.join(out_dir, "merged")
        if os.path.exists(staging):
            shutil.rmtree(staging)
        self._stage(merged, staging)
        try:
            recs = [
                reconcile(t, n, observed[t].get["n"],
                          footer_rows(os.path.join(staging, t)))
                for t, n in initial.items()
            ]
        except ReconciliationError:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        promote_staging(staging, final)
        return final, recs

    def _stage(self, merged: dict[str, DataFrame], staging: str) -> None:
        self._write({os.path.join(staging, t): df for t, df in merged.items()})

    def _write(self, outputs: dict[str, DataFrame]) -> None:
        """Overwrite each path with its frame as parquet.  The writes run
        concurrently, at most ``defaultParallelism`` at a time, and each
        runs with a copy of the caller's local properties, so its jobs
        carry the caller's job group."""
        if not outputs:
            return
        workers = min(len(outputs), self.spark.sparkContext.defaultParallelism)
        with ThreadPoolExecutor(max_workers=workers) as pool:
            writes = [
                pool.submit(inheritable_thread_target(self.spark)(_overwrite),
                            df, path)
                for path, df in outputs.items()
            ]
        for w in writes:
            w.result()


def _overwrite(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)
