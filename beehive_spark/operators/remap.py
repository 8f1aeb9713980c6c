"""Foreign-key remapping through mapping DataFrames (J7 — the workhorse).

Parity target: every outgoing row in the reference rewrites each FK
through an in-memory map (``beehive.<x>Map.get(srcId)``, e.g.
reference obs.js:24-29, encounter.js:110-123).  Unmapped FKs become
NULL (insert-NULL variant, patient-programs.js:118-124) or cause the
row to be dropped (drop variant, person-users.js:79-80).

Spark-first re-expression: one null-preserving equi-join per FK
against a slim ``(src_id, dest_id)`` mapping DataFrame.  Every mapping
carries an explicit ``F.broadcast`` hint, and the hint overrides
``spark.sql.autoBroadcastJoinThreshold``: a mapping is broadcast
whatever its size, never shuffled.  Mappings are per-source-instance
sized, not corpus sized, so the hint holds while each fits in
memory; nothing here switches a mapping too large to broadcast over
to a shuffled join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def remap_fks(
    df: DataFrame,
    mappings: dict[str, DataFrame],
    on_missing: str = "null",
) -> DataFrame:
    """Rewrite each column named in ``mappings`` through its mapping DF.

    mappings: {fk_col: mapping_df(src_id, dest_id)}.
    on_missing:
      - "null": unmapped non-null FK -> NULL (reference ternaries,
        obs.js:24-28); NULL FK stays NULL.
      - "drop": rows whose FK is non-null but unmapped are dropped
        (reference skip path, person-users.js:79-80).

    Implementation detail: each join key is left-joined on
    ``df[fk] == m.src_id``; the fk column is then replaced by
    ``dest_id`` (or per on_missing).  Every mapping is broadcast, so
    K maps cost K broadcast hash joins inside a single WholeStageCodegen
    span.
    """
    if on_missing not in ("null", "drop"):
        raise ValueError(f"unknown on_missing: {on_missing}")
    out = df
    for fk, mdf in mappings.items():
        m = F.broadcast(mdf.select(
            F.col(mdf.columns[0]).alias(f"__src_{fk}"),
            F.col(mdf.columns[1]).alias(f"__dst_{fk}"),
        ))
        out = out.join(m, out[fk] == m[f"__src_{fk}"], "left")
        if on_missing == "drop":
            out = out.filter(F.col(fk).isNull() | F.col(f"__src_{fk}").isNotNull())
        out = out.withColumn(fk, F.col(f"__dst_{fk}")).drop(
            f"__src_{fk}", f"__dst_{fk}")
    return out
