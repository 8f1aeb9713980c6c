"""Deterministic ID assignment.

Parity target: the reference assigns contiguous destination PKs by
reading the destination table's AUTO_INCREMENT and incrementing a
counter per row in arrival order (reference utils.js:11-26 +
``nextId++`` in every insert preparer, e.g. person-users.js:27).

Spark-first re-expression: ``dest_id = base + row_number() OVER
(ORDER BY order_cols) - 1``.  A global row_number requires a total
order — a single-partition sort of just the key columns.  That is
acceptable per-table (keys are a few GB even at 100 TB of fact
data), but for the largest tables we also provide a scalable mode:

- mode="scalable" (default): range-repartition on order_cols, count
  rows per partition, prefix-sum the counts on the driver (tiny),
  then offset a per-partition row_number.  Because range partitions
  are globally ordered, the result ids EQUAL the global
  ``row_number() OVER (ORDER BY order_cols)`` whenever order_cols
  is a unique key — identical output to contiguous mode with no
  single-partition window.  Sort work is distributed: one range
  exchange plus per-partition sorts, the plan that survives 100 TB.
- mode="contiguous": the literal global window (single-partition
  sort of the pruned order_cols projection).  Kept as the
  strict-parity opt-in; prefer scalable.
- mode="hash": ``dest_id = xxhash64(source_tag, src_id)`` —
  deterministic, shuffle-free, non-contiguous; the 100 TB design
  choice when nothing downstream needs density (SURVEY.md §7.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from beehive_spark.operators.checks import footer_maxima


def next_id_base(dst: DataFrame, pk: str) -> int:
    """Next available PK in the destination table (A2, utils.js:11-26).

    ``max(pk)+1`` instead of AUTO_INCREMENT probing — identical result
    for append-only merges, and works on any source, not just MySQL.
    A bare parquet scan answers from its row-group statistics with no
    job (``checks.footer_maxima``); any other frame runs the ``max``.
    """
    maxima = footer_maxima(dst, pk)
    if maxima is not None:
        m = max(maxima, default=None)
    else:
        row = dst.agg(F.max(F.col(pk)).alias("m")).first()
        m = row["m"] if row is not None else None
    return int(m) + 1 if m is not None else 1


def assign_ids(
    df: DataFrame,
    src_pk: str,
    order_cols: list[str] | None = None,
    base: int = 1,
    out_col: str = "dest_id",
    mode: str = "scalable",
    source_tag: str | None = None,
    num_partitions: int | None = None,
    small_threshold: int | None = None,
    persisted: list[DataFrame] | None = None,
) -> DataFrame:
    """Attach a deterministic destination id column to every row.

    Returns the input with an ``out_col`` LongType column.  The
    (src_pk, out_col) projection of the result is the *mapping
    DataFrame* used by :func:`beehive_spark.operators.remap.remap_fks`
    (replaces the reference's driver-side ``Map<srcId,destId>``,
    preparation.js:10-29).

    scalable and contiguous produce IDENTICAL ids when order_cols is a
    unique key (callers append src_pk as tiebreak); they differ only in
    physical plan — scalable distributes the sort.

    ``persisted`` collects the frames this call persists (the range
    path keeps one), so the caller can unpersist them once the result
    is materialized.
    """
    if order_cols is None:
        order_cols = [src_pk]
    if mode == "contiguous":
        w = Window.orderBy(*[F.col(c) for c in order_cols])
        return df.withColumn(out_col, (F.lit(base) + F.row_number().over(w) - 1).cast("long"))
    if mode == "scalable":
        # Size-aware dispatch: an input whose optimizer size estimate
        # fits one task's sort budget takes the plain global window —
        # a single-task sort of a slim projection is the FASTEST plan
        # for dimension-scale inputs even on a 1000-executor cluster
        # (same reasoning as broadcast-join thresholds).  Inputs above
        # the threshold take the distributed path, so large fact
        # tables never hit a single-partition sort.  Ids are identical
        # either way (both compute the global rank).
        if small_threshold is None:
            small_threshold = _conf_bytes(
                df.sparkSession, "spark.sql.autoBroadcastJoinThreshold",
                64 * 1024 * 1024,
            )
        if small_threshold and _estimated_bytes(df) <= small_threshold:
            w = Window.orderBy(*[F.col(c) for c in order_cols])
            return df.withColumn(
                out_col, (F.lit(base) + F.row_number().over(w) - 1).cast("long")
            )
        n = int(
            num_partitions
            or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
        numeric = {"tinyint", "smallint", "int", "bigint", "float", "double",
                   "decimal"}
        single_numeric = (
            len(order_cols) == 1
            and dict(df.dtypes).get(order_cols[0], "").split("(")[0] in numeric
        )
        if single_numeric:
            return _assign_ids_bounds(df, order_cols[0], base, out_col, n)
        return _assign_ids_range(df, order_cols, base, out_col, n, persisted)
    if mode == "hash":
        tag = source_tag or ""
        return df.withColumn(out_col, F.xxhash64(F.lit(tag), F.col(src_pk)))
    raise ValueError(f"unknown assign_ids mode: {mode}")


def _conf_bytes(spark, key: str, default: int) -> int:
    """Read a Spark size conf ('64MB', '67108864b', plain int) as bytes."""
    try:
        raw = str(spark.conf.get(key)).strip().lower()
    except Exception:
        return default
    mult = 1
    for suffix, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                      ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                      ("b", 1)):
        if raw.endswith(suffix):
            raw = raw[: -len(suffix)]
            mult = m
            break
    try:
        return int(float(raw) * mult)
    except ValueError:
        return default


def _estimated_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for the (pruned) plan — free, no job.
    Unknown sizes report as huge, which safely picks the distributed
    path."""
    try:
        raw = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        return int(raw if isinstance(raw, int) else str(raw))
    except Exception:  # pragma: no cover - py4j surface changes
        return 1 << 62


def _assign_ids_bounds(
    df: DataFrame, key: str, base: int, out_col: str, n: int
) -> DataFrame:
    """Scalable contiguous ids for a single numeric (unique) order key,
    via LITERAL range-bucket boundaries.

    One tiny probe job computes ~n approximate quantiles of the key;
    bucket membership then becomes a deterministic expression (count
    of boundaries <= key), so — unlike ``repartitionByRange``, whose
    sampled boundaries differ per execution — no persist is needed to
    keep two passes aligned.  Bucket counts aggregate to <= n rows,
    prefix-sum through a trivially small window, and broadcast-join
    back; ``dest_id = bucket_offset + row_number within bucket`` equals
    the global ``row_number() OVER (ORDER BY key)`` exactly because
    buckets are value ranges.  Total cost: one quantile probe + ONE
    shuffle of the data (by bucket) — no single-partition sort, no
    materialization, the plan that survives 100 TB.

    Quantile accuracy only balances bucket sizes; correctness never
    depends on it (counts are exact).
    """
    probe = df.select(F.col(key).cast("double").alias("__k"))
    qs = [i / n for i in range(1, n)]
    # one bucket (n == 1) needs no boundaries, and approxQuantile
    # rejects an empty probability list
    bounds = sorted(set(probe.approxQuantile("__k", qs, 0.001))) if qs else []
    if bounds:
        barr = F.array(*[F.lit(float(b)) for b in bounds])
        bucket = F.size(
            F.filter(barr, lambda b: b < F.col(key).cast("double"))
        )
    else:
        bucket = F.lit(0)
    db = df.withColumn("__b", bucket)
    offs = (
        db.groupBy("__b")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .withColumn(
            "__off",
            F.lit(base)
            + F.coalesce(
                F.sum("__cnt").over(
                    Window.orderBy("__b").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("__b", "__off")
    )
    w = Window.partitionBy("__b").orderBy(key)
    return (
        db.join(F.broadcast(offs), "__b")
        .withColumn(out_col, (F.col("__off") + F.row_number().over(w) - 1).cast("long"))
        .drop("__b", "__off")
    )


def _assign_ids_range(
    df: DataFrame,
    order_cols: list[str],
    base: int,
    out_col: str,
    n: int,
    persisted: list[DataFrame] | None = None,
) -> DataFrame:
    """Scalable contiguous ids for composite / non-numeric order keys:
    range-repartition on the key, count rows per partition, prefix-sum
    the counts on the driver (tiny), offset a per-partition row_number.

    Persisted because the counts job and the id job must see the SAME
    range boundaries (repartitionByRange samples per execution; an
    unpersisted lineage could re-sample between the two jobs and
    misalign the offsets).  Single-numeric keys take the cheaper
    literal-bounds path (:func:`_assign_ids_bounds`) instead.
    """
    ocols = [F.col(c) for c in order_cols]
    dfp = (
        df.repartitionByRange(n, *ocols)
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    if persisted is not None:
        persisted.append(dfp)
    counts = {
        r["__pid"]: r["cnt"]
        for r in dfp.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, acc = {}, base
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    # typed, so an empty input's empty map still resolves
    off_map = F.create_map(
        *[x for pid, off in sorted(offsets.items()) for x in (F.lit(pid), F.lit(off))]
    ).cast("map<int,bigint>")
    w = Window.partitionBy("__pid").orderBy(*ocols)
    return (
        dfp.withColumn(out_col, (off_map[F.col("__pid")] + F.row_number().over(w) - 1).cast("long"))
        .drop("__pid")
    )


def mapping_of(df_with_ids: DataFrame, src_pk: str, out_col: str = "dest_id") -> DataFrame:
    """Project the slim (src_id, dest_id) mapping DataFrame, dest_id long."""
    return df_with_ids.select(
        F.col(src_pk).alias("src_id"), F.col(out_col).cast("long").alias("dest_id")
    )
