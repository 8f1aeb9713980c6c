"""Integrity / uniqueness / reconciliation checks (J1, J2, A3, S8/F3).

Parity targets:
- orphan FK check: anti-join per (child.fk -> parent.ref) pair, all
  pairs counted in one labelled union; abort on offenders (reference
  integrity-checks.js:5-24,114-137).
- UUID uniqueness: semi-join src vs dst per table, rewrite colliding
  source uuids, iterate to fixpoint (uuid-checks.js:59-70,297-312).
- count reconciliation: expected = initial_dest + moved must equal
  final dest count (person-users.js:972-1019 et al.); ``footer_rows``
  reads the final count of a written table from its parquet footers.
"""

from __future__ import annotations

import functools
import glob
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class ReconciliationError(AssertionError):
    """Raised when a post-move count reconciliation fails (A3)."""


def orphan_check(
    child: DataFrame,
    parent: DataFrame,
    fk: str,
    ref: str,
    min_fk: int | None = 0,
) -> DataFrame:
    """Rows of ``child`` whose non-null ``fk`` has no match in parent.ref (J2).

    Mirrors integrity-checks.js:5-24: NULL fks are fine, and (for the
    reference's MySQL quirk) fk values <= 0 are ignored when
    ``min_fk`` is set.  Returns the offending child rows — empty
    result means the constraint holds.  Plan shape: filter pushed to
    the child scan, then a left_anti hash join on the (pruned) parent
    key column; Catalyst broadcasts the parent side when small.
    """
    cond = F.col(fk).isNotNull()
    if min_fk is not None:
        cond = cond & (F.col(fk) > F.lit(min_fk))
    pkeys = parent.select(F.col(ref).alias("__ref")).where(F.col(ref).isNotNull())
    return child.filter(cond).join(pkeys, child[fk] == pkeys["__ref"], "left_anti")


def labelled_counts(frames: dict[str, DataFrame]) -> dict[str, int]:
    """Row count of every frame, in one job: each frame projects to its
    label, the labelled rows are unioned, and one ``groupBy`` counts
    them — where a ``count()`` per frame costs a job (plus its
    exchanges) each.  Frames without rows are absent from the result.
    """
    if not frames:
        return {}
    rows = functools.reduce(
        DataFrame.unionAll,
        [df.select(F.lit(label).alias("label")) for label, df in frames.items()],
    )
    return {r["label"]: r["count"] for r in rows.groupBy("label").count().collect()}


def run_orphan_checks(
    pairs: dict[str, tuple[DataFrame, DataFrame, str, str]],
) -> dict[str, int]:
    """Metadata-driven integrity gate (integrity-checks.js:82-109).

    pairs: {label: (child, parent, fk, ref)} — in the JDBC deployment
    these come from information_schema.key_column_usage, exactly as
    the reference discovers them (integrity-checks.js:65-79).
    Returns {label: offender_count} for the offending pairs only, from
    one ``labelled_counts`` job over every pair's ``orphan_check``; an
    empty dict means every constraint holds.
    """
    return labelled_counts(
        {label: orphan_check(*pair) for label, pair in pairs.items()}
    )


def uuid_collisions(src: DataFrame, dst: DataFrame, uuid_col: str = "uuid") -> DataFrame:
    """Source rows whose uuid already exists in dst (J1, uuid-checks.js:59-70).

    left_semi join — returns the colliding src rows; the reference
    pretty-prints and then rewrites them (S8).
    """
    dkeys = dst.select(uuid_col)
    return src.join(dkeys, uuid_col, "left_semi")


def regenerate_uuids(
    df: DataFrame,
    collisions: DataFrame,
    pk: str,
    uuid_col: str = "uuid",
) -> DataFrame:
    """Rewrite colliding uuids with fresh ones (S8/F3, uuid-checks.js:84-118).

    The reference generates v1 uuids; only *uniqueness* is required
    (README.md:113-115), so we use Spark's built-in uuid() (v4,
    JVM-side, no Python UDF).  Collision probability of v4 regen makes
    the reference's fixpoint loop converge in one round with
    probability ~1; ``uuid_fixpoint`` still loops for parity.
    """
    ckeys = F.broadcast(collisions.select(F.col(pk).alias("__cpk")))
    return (
        df.join(ckeys, df[pk] == ckeys["__cpk"], "left")
        .withColumn(
            uuid_col,
            F.when(F.col("__cpk").isNotNull(), F.expr("uuid()")).otherwise(F.col(uuid_col)),
        )
        .drop("__cpk")
    )


def uuid_fixpoint(
    src: DataFrame, dst: DataFrame, pk: str, uuid_col: str = "uuid", max_rounds: int = 5
) -> DataFrame:
    """Rewrite src uuids until none collide with dst (uuid-checks.js:297-312).

    Each rewrite is persisted, and one ``labelled_counts`` job both
    computes it (filling the cache) and counts its remaining collisions:
    ``uuid()`` draws fresh values on every evaluation, so an
    unmaterialized rewrite would publish uuids other than the ones the
    check verified.  The previous rewrite is released once the next
    one is computed.  When the result is not ``src`` it is a persisted
    frame the caller owns and unpersists when done.
    """
    coll = uuid_collisions(src, dst, uuid_col)
    if coll.isEmpty():
        return src
    out = src
    for _ in range(max_rounds):
        nxt = regenerate_uuids(out, coll, pk, uuid_col).persist()
        coll = uuid_collisions(nxt, dst, uuid_col)
        left = labelled_counts({"rows": nxt, "collisions": coll}).get("collisions", 0)
        if out is not src:
            out.unpersist()
        out = nxt
        if not left:
            return out
    out.unpersist()
    raise RuntimeError("uuid fixpoint did not converge")


@dataclass
class Reconciliation:
    table: str
    initial: int
    moved: int
    final: int

    @property
    def expected(self) -> int:
        return self.initial + self.moved

    @property
    def ok(self) -> bool:
        return self.final == self.expected


def reconcile(table: str, initial: int, moved: int, final: int) -> Reconciliation:
    """Count-reconciliation assertion (A3, person-users.js:972-1019).

    The reference's error messages sometimes swap expected/actual
    (visit.js:126-128) and one mover computes expected from the source
    count rather than rows actually moved (visit.js:120) — we
    implement the evident intent: final == initial + moved.
    """
    r = Reconciliation(table, initial, moved, final)
    if not r.ok:
        raise ReconciliationError(
            f"{table}: expected final count {r.expected} "
            f"(initial {initial} + moved {moved}) but found {final}"
        )
    return r


def footer_rows(table_dir: str) -> int:
    """Row count of a parquet output directory, summed from its part
    files' footers — no Spark job, and it counts what is on disk, so a
    missing or extra part file shows."""
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(f).num_rows
        for f in glob.glob(os.path.join(table_dir, "*.parquet"))
    )


def exclusions(users: DataFrame, persons_fk: str = "person_id") -> DataFrame:
    """Admin/daemon exclusion set (F6/P2, utils.js:248-253).

    Returns (user_id, person_id) of users with system_id in
    ('admin','daemon') — consumed as an anti-join side, never as a
    driver-side NOT IN list (scale rule: exclusion lists are data).
    """
    return users.filter(F.col("system_id").isin("admin", "daemon")).select(
        "user_id", persons_fk
    )


@dataclass(frozen=True)
class Rule:
    """One declarative data-quality expectation.

    kind: 'not_null' | 'unique' | 'in_set' | 'range' | 'ref' | 'expr'
      - not_null: col must not be NULL
      - unique:   col (or comma-joined cols) must be unique
      - in_set:   col value must be one of `values`
      - range:    col must satisfy lo <= col <= hi (bounds optional)
      - ref:      col must exist in ref_df's ref_col (NULLs pass)
      - expr:     SQL boolean `expr` must hold (violation when false)
    """

    name: str
    kind: str
    col: str = ""
    values: tuple = ()
    lo: float | None = None
    hi: float | None = None
    expr: str = ""


def validate_table(
    df: DataFrame,
    rules: list[Rule],
    refs: dict[str, tuple[DataFrame, str]] | None = None,
) -> DataFrame:
    """Declarative expectation checking — the generalization of the
    reference's hard-coded integrity suite (integrity-checks.js:5-137
    checks orphan FKs; uuid-checks.js:59-70 checks uniqueness) into a
    dbt-test/Great-Expectations-style rule list evaluated in as few
    passes as the rule kinds allow.

    Returns one row per rule: (rule, kind, n_violations) — zero rows
    are included, so the report schema is stable and a gate can assert
    sum(n_violations) == 0.

    Plan shape: all row-local rules (not_null / in_set / range / expr)
    fold into ONE aggregation pass over the table (sum of CASE flags,
    map-side combined — adding a rule adds a column, not a scan);
    each unique rule is one groupBy on its key; each ref rule is one
    anti join against the (pruned, usually broadcast) parent key.
    """
    refs = refs or {}
    spark = df.sparkSession
    row_flags = []
    reports = []
    for r in rules:
        if r.kind == "not_null":
            flag = F.col(r.col).isNull()
        elif r.kind == "in_set":
            flag = ~F.col(r.col).isin(list(r.values)) | F.col(r.col).isNull()
        elif r.kind == "range":
            flag = F.lit(False)
            if r.lo is not None:
                flag = flag | (F.col(r.col) < F.lit(r.lo))
            if r.hi is not None:
                flag = flag | (F.col(r.col) > F.lit(r.hi))
            flag = flag | F.col(r.col).isNull()
        elif r.kind == "expr":
            flag = ~F.expr(r.expr)
        elif r.kind == "unique":
            cols = [c.strip() for c in r.col.split(",")]
            dup = (
                df.groupBy(*cols)
                .agg(F.count(F.lit(1)).alias("__n"))
                .filter(F.col("__n") > 1)
                .agg(F.coalesce(F.sum(F.col("__n") - 1), F.lit(0)).alias("v"))
                .select(
                    F.lit(r.name).alias("rule"),
                    F.lit(r.kind).alias("kind"),
                    F.col("v").cast("long").alias("n_violations"),
                )
            )
            reports.append(dup)
            continue
        elif r.kind == "ref":
            ref_df, ref_col = refs[r.name]
            missing = (
                df.filter(F.col(r.col).isNotNull())
                .join(
                    ref_df.select(F.col(ref_col).alias(r.col)).distinct(),
                    r.col,
                    "left_anti",
                )
                .agg(F.count(F.lit(1)).alias("v"))
                .select(
                    F.lit(r.name).alias("rule"),
                    F.lit(r.kind).alias("kind"),
                    F.col("v").cast("long").alias("n_violations"),
                )
            )
            reports.append(missing)
            continue
        else:  # pragma: no cover - misconfiguration guard
            raise ValueError(f"unknown rule kind: {r.kind}")
        row_flags.append((r, flag))
    if row_flags:
        one_pass = df.agg(
            *[
                F.coalesce(F.sum(flag.cast("long")), F.lit(0)).alias(f"__v{i}")
                for i, (_, flag) in enumerate(row_flags)
            ]
        )
        # unpivot the single 1-row aggregate into (rule, kind, count)
        # rows with stack() — one job however many row-local rules
        cells = ", ".join(
            f"'{r.name}', '{r.kind}', __v{i}" for i, (r, _) in enumerate(row_flags)
        )
        reports.append(
            one_pass.selectExpr(
                f"stack({len(row_flags)}, {cells}) as (rule, kind, n_violations)"
            ).select("rule", "kind", F.col("n_violations").cast("long").alias("n_violations"))
        )
    if not reports:
        return spark.createDataFrame([], "rule string, kind string, n_violations long")
    out = reports[0]
    for rep in reports[1:]:
        out = out.unionByName(rep)
    return out


def schema_diff(old: DataFrame, new: DataFrame) -> list[dict]:
    """Data-contract check between two table versions: report added,
    removed, and retyped columns (name-keyed; order changes are not
    drift).  Run it before `snapshot_diff`/`apply_cdc_parquet` when a
    vendor refresh lands — a retyped column turns a value diff into
    garbage silently, which is exactly how the reference's untyped
    string-SQL pipeline breaks (utils.js builds INSERTs positionally).

    Returns a list of {"column", "change", "old_type", "new_type"}
    dicts, empty when the schemas are compatible.  Pure metadata — no
    job runs.
    """
    old_t = {f.name: f.dataType.simpleString() for f in old.schema.fields}
    new_t = {f.name: f.dataType.simpleString() for f in new.schema.fields}
    out = []
    for c in sorted(old_t.keys() - new_t.keys()):
        out.append(
            {"column": c, "change": "removed", "old_type": old_t[c], "new_type": None}
        )
    for c in sorted(new_t.keys() - old_t.keys()):
        out.append(
            {"column": c, "change": "added", "old_type": None, "new_type": new_t[c]}
        )
    for c in sorted(old_t.keys() & new_t.keys()):
        if old_t[c] != new_t[c]:
            out.append(
                {
                    "column": c,
                    "change": "retyped",
                    "old_type": old_t[c],
                    "new_type": new_t[c],
                }
            )
    return out
