"""Self-tests of the benchmark's own parts: the input generator and the
status-store counter reader.

    python3 perfbench/selftest.py

Run from the root of a checkout; exits 1 on the first failed pin.
"""

from __future__ import annotations

import filecmp
import os
import shutil
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check_generator(work: str) -> None:
    """Same seed, same bytes; the expected counts and planted
    properties of a tiny pair are pinned."""
    import openmrs

    a = openmrs.generate(os.path.join(work, "a"), seed=1, persons=80)
    b = openmrs.generate(os.path.join(work, "b"), seed=1, persons=80)
    c = openmrs.generate(os.path.join(work, "c"), seed=2, persons=80)
    for side in ("src", "dst"):
        for t in openmrs.TABLES:
            f = f"{side}/{t}.parquet"
            assert filecmp.cmp(os.path.join(work, "a", f), os.path.join(work, "b", f),
                               shallow=False), f"{f} differs between equal seeds"
    assert not filecmp.cmp(os.path.join(work, "a", "src/person.parquet"),
                           os.path.join(work, "c", "src/person.parquet"), shallow=False)
    assert a == b
    assert a.moved == {"users": 7, "person": 75}, a.moved
    assert a.src_rows == a.dst_rows == {"users": 12, "person": 80}, a.src_rows

    users = pq.read_table(os.path.join(work, "a", "src/users.parquet")).to_pylist()
    assert users[0]["user_id"] == 2 and users[0]["system_id"] == "admin"
    dst_users = pq.read_table(os.path.join(work, "a", "dst/users.parquet")).to_pylist()
    logins = {(u["system_id"], u["username"]) for u in dst_users[2:]}
    uuids = {u["uuid"] for u in dst_users}
    assert sum((u["system_id"], u["username"]) in logins for u in users[2:]) == 3
    assert sum(u["uuid"] in uuids for u in users) == 3
    src_p = pq.read_table(os.path.join(work, "a", "src/person.parquet")).column("uuid").to_pylist()
    dst_p = set(pq.read_table(os.path.join(work, "a", "dst/person.parquet"))
                .column("uuid").to_pylist())
    hits = [u for u in src_p if u in dst_p]
    assert len(hits) == 16 and len(set(hits)) == 13, (len(hits), len(set(hits)))
    print("generator: ok")


def check_reader(work: str) -> None:
    """Counters of a tiny two-stage query, attributed to its span."""
    import run
    from counters import StatusStore, Tracer

    spark = run.start_session("perfbench-selftest", work)
    try:
        store = StatusStore(spark)
        tracer = Tracer(spark, store)
        store.mark()
        tracer.enter("probe")
        rows = (spark.range(0, 1000, 1, 4).selectExpr("id % 10 AS k")
                .groupBy("k").count().collect())
        tracer.enter("idle")
        totals = tracer.collect()
    finally:
        run.stop_session(spark)
    assert len(rows) == 10 and sum(r["count"] for r in rows) == 1000
    t = totals["probe"]
    got = (t.jobs, t.stages, t.tasks, t.input_records)
    assert got == (2, 2, 5, 1000), got
    assert t.cpu_s > 0 and t.run_s > 0 and t.shuffle_mb > 0 and t.wall_s > 0
    assert totals["idle"].jobs == 0 and "untagged" not in totals, totals
    print("reader: ok")


def main() -> int:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    work = os.path.join(ROOT, ".bench_work", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        check_generator(work)
        check_reader(work)
    except AssertionError as e:
        print(f"self-test failed: {e!r}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
