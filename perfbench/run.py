"""Closed-loop benchmark of the merge pipeline and the query suite.

    python3 perfbench/run.py --workload merge_publish --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One client runs one operation at a
time on ``local[<cores>]``, with cores the CPUs this process may use.
Inputs are generated from ``--seed`` under ``.bench_work/`` before any
timing; set-up (session start, registry import and warm-up operations)
is timed as ``setup_s``; then operations run until ``--seconds`` of
operation time has passed and the workload's ``MIN_TIMED`` operations
have run.  Every operation's output is checked outside the timed
window, and the DataFrame cache is cleared after each operation, since
the merge never releases what it caches.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` spans are recorded around the layer boundaries and
the last line carries the per-layer metrics instead.  The lines before
it print every metric by name with its unit.  The exit code is 1 when
an output check fails and 2 when the repository is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAX_WARMUP = 3
SETTLED = 0.05      # warm-up ends once the stage count moves by less than this
# failed_frac (failed / attempted) is 0 on a correct program, so it is
# printed and carried by the result's attempted/failed fields instead;
# rows_per_s is input rows / wall_s, printed for the merge only; the
# driver JVM's peak RSS is printed but not gated, since it follows the
# collector's heap sizing more than the program (27% spread across ten
# seeds on a 4-vCPU VM with a 2 GB heap)
END_TO_END = (("setup_s", "s"), ("wall_s", "s"), ("cpu_s", "s"))


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(app: str, work: str):
    """SparkSession on local[cores] with every scratch path under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores()),
        "BEEHIVE_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
    })
    from beehive_spark.session import get_spark

    return get_spark(app_name=app, extra_conf={
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    })


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """Resident-memory high-water mark of a process (VmHWM)."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for task in os.listdir(f"/proc/{p}/task") if os.path.isdir(f"/proc/{p}/task") else []:
            try:
                with open(f"/proc/{p}/task/{task}/children") as fh:
                    kids = [int(k) for k in fh.read().split()]
            except OSError:
                continue
            out += kids
            todo += kids
    return out


def stop_session(spark) -> None:
    """Stop Spark, then wait for the JVM and its Python workers to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def bench(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, list[str]]:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    from counters import StatusStore, Tracer, merge_totals
    from workloads import WORKLOADS, per_layer_catalog

    work = os.path.join(ROOT, ".bench_work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    wl = WORKLOADS[workload]()
    wl.prepare(work, seed)

    problems: list[str] = []
    lines: list[str] = []
    t0 = time.perf_counter()
    spark = start_session(f"perfbench-{workload}", work)
    try:
        store = StatusStore(spark)
        tracer = Tracer(spark, store, enabled=trace)
        wl.start(spark, tracer, trace)
        setup_s = time.perf_counter() - t0
        store.mark()

        # warm-up: the workload's first MIN_WARMUP operations, then more
        # while the stage count still moves
        i, stages_before, timed, failed = 0, None, [], 0
        while True:
            t = time.perf_counter()
            wl.run(i)
            wall = time.perf_counter() - t
            totals = tracer.collect()
            stages = merge_totals([totals]).stages
            moving = i > 0 and abs(stages - stages_before) > SETTLED * stages_before
            if i < wl.MIN_WARMUP or (not timed and moving and i < MAX_WARMUP):
                setup_s += wall
                stages_before = stages
                lines.append(f"warm-up operation {i + 1}: {wall:.3f} s, {stages} stages")
            else:
                timed.append((wall, totals))
                lines.append(f"timed operation {i + 1}: {wall:.3f} s, {stages} stages")
            done = len(timed) >= wl.MIN_TIMED and sum(w for w, _ in timed) >= seconds
            found = wl.check(i)
            spark.catalog.clearCache()
            store.mark()                    # jobs launched by the checks
            problems.extend(found)
            failed += bool(found)
            i += 1
            if done:
                break
        rss = peak_rss_mb(jvm_pid(spark))
        wl.stop()
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    walls = [w for w, _ in timed]
    wall_s = statistics.median(walls)
    n = cores()
    if trace:
        layer = [wl.per_layer(t, w, n) for w, t in timed]
        metrics = {}
        for name, unit, _ in per_layer_catalog():
            vals = [d.get(name, 0) for d in layer]
            metrics[name] = {"value": statistics.median(vals), "unit": unit}
    else:
        values = {"setup_s": setup_s, "wall_s": wall_s,
                  "cpu_s": statistics.median(merge_totals([t]).cpu_s for _, t in timed)}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
    lines.append(f"workload {workload}: seed {seed}, local[{n}], "
                 f"{wl.input_rows} input rows, {len(timed)} timed operations, "
                 f"tracing {'on' if trace else 'off'}")
    lines.append(f"wall_s per operation (n={len(walls)}): "
                 + ", ".join(f"{w:.3f}" for w in walls))
    if workload == "merge_publish":
        lines.append(f"rows_per_s {wl.input_rows / wall_s:.6g} rows/s")
    lines.append(f"failed_frac {failed / i:.3f} ({failed} failed / {i} attempted "
                 f"operations, warm-up included)")
    lines.append(f"peak_rss_mb {rss:.6g} MB (driver JVM)")
    for k, v in metrics.items():
        lines.append(f"{k} {v['value']:.6g} {v['unit']}")
    result = {"correct": not problems, "attempted": i, "failed": failed,
              "metrics": metrics}
    return result, lines + problems


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["merge_publish", "query_suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "beehive_spark")):
        print(f"no beehive_spark package under {ROOT}: run from a checkout",
              file=sys.stderr)
        return 2
    result, lines = bench(args.workload, args.seed, args.seconds, bool(args.trace))
    for line in lines:
        print(line)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
