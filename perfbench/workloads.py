"""The benchmark's workloads.

Each workload generates its inputs from the seed (``prepare``, before
the session starts), imports what it needs once the session is up
(``start``), runs one operation per ``run`` call and checks that
operation's output in ``check``.  The caller times ``run`` only, so
every operation is checked, outside the timed window.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil

import duckdb

import checks
import openmrs
import querydata
from counters import SpanTotals, merge_totals
from spans import MERGE_SPANS, Instrumented

SPAN_METRICS = (("wall_s", "s", "lower"), ("jobs", "count", "lower"),
                ("tasks", "count", "lower"), ("cpu_s", "s", "lower"),
                ("shuffle_mb", "MB", "lower"))
MERGE_WIDE = (("merge.scan_amplification", "ratio", "lower"),
              ("merge.core_busy", "ratio", "higher"),
              ("merge.cached_mb_after", "MB", "lower"),
              ("merge.spill_mb", "MB", "lower"))
QUERY_METRICS = (("wall_s", "s", "lower"), ("cpu_s", "s", "lower"),
                 ("stages", "count", "lower"))


class MergePublish:
    """One OpenMRS merge per operation, through the user entry point
    ``cli.main``: it keeps source uuids, so the uuid gate runs, and
    publishes parquet plus provenance.  The pair has dense uuid
    collisions, user matches and location overlap (see ``openmrs``)."""

    name = "merge_publish"
    PERSONS = 4000
    # a merge costs about as much as a run can spare after its warm-up
    MIN_WARMUP = 1
    MIN_TIMED = 1

    def prepare(self, work: str, seed: int) -> None:
        self.work = work
        self.inp = os.path.join(work, "in")
        self.exp = openmrs.generate(self.inp, seed, self.PERSONS)
        self.input_rows = self.exp.input_rows

    def start(self, spark, tracer, trace: bool) -> None:
        self.spark, self.tracer = spark, tracer
        self.cached_mb = 0.0
        self.instrumented = None
        if trace:
            self.instrumented = Instrumented(tracer, self._after_run,
                                             "cli.provenance").install()

    def _after_run(self, _result) -> None:
        self.cached_mb = self.tracer.store.cached_mb()

    def run(self, i: int) -> None:
        from beehive_spark.pipeline import cli

        self.out = os.path.join(self.work, f"out{i}")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = cli.main(["--src-dir", os.path.join(self.inp, "src"),
                           "--dst-dir", os.path.join(self.inp, "dst"),
                           "--out-dir", self.out, "--keep-uuids",
                           "--source-tag", "clinic"])
        self.report = json.loads(buf.getvalue().strip().splitlines()[-1])
        self.report["rc"] = rc

    def check(self, i: int) -> list[str]:
        if self.report["rc"] != 0:
            return [f"cli exit code {self.report['rc']}: {self.report}"]
        problems = checks.report_problems(self.report, self.exp.moved)
        merged = os.path.join(self.out, "merged")
        con = duckdb.connect()
        try:
            for t in openmrs.TABLES:
                d = os.path.join(merged, t)
                want = self.exp.dst_rows[t] + self.exp.moved[t]
                got = checks.published_rows(d)
                if got != want:
                    problems.append(f"published {t}: {got} rows, want {want}")
                con.execute(f"CREATE VIEW \"{t}\" AS SELECT * FROM "
                            f"read_parquet('{d}/*.parquet')")
            prov = checks.published_rows(os.path.join(self.out, "provenance.parquet"))
            if prov != 1:
                problems.append(f"provenance: {prov} rows, want 1")
            problems += checks.closure_problems(con, openmrs.TABLES)
        finally:
            con.close()
            shutil.rmtree(self.out, ignore_errors=True)
        return problems

    def per_layer(self, totals: dict[str, SpanTotals], wall: float, cores: int) -> dict:
        out = {}
        for span in MERGE_SPANS:
            t = totals.get(span, SpanTotals())
            for m, _, _ in SPAN_METRICS:
                out[f"{span}.{m}"] = getattr(t, m)
        every = merge_totals([totals])
        out["merge.scan_amplification"] = every.input_records / self.input_rows
        out["merge.core_busy"] = every.run_s / (wall * cores)
        out["merge.cached_mb_after"] = self.cached_mb
        out["merge.spill_mb"] = every.spill_mb
        return out

    def stop(self) -> None:
        if self.instrumented is not None:
            self.instrumented.restore()


class QuerySuite:
    """One pass over registry queries per operation; each result is
    collected and compared with the query's DuckDB oracle, whose rows
    are computed at the first check."""

    name = "query_suite"
    # an iterative graph walk (operators.graph.bfs_levels over a creator
    # tree, the reference's recursive user walk), Python/Arrow stages and
    # the ANN index build (operators.ann_index)
    QUERIES = ["hierarchy_bfs", "dedup_embedding_bucketed", "ann_index_build"]
    # passes are short and still speed up after the first, so two warm
    # up; the median of four shrugs off a slow pass
    MIN_WARMUP = 2
    MIN_TIMED = 4

    def prepare(self, work: str, seed: int) -> None:
        self.dir = os.path.join(work, "tables")
        rows = querydata.generate(self.dir, seed)
        self.input_rows = sum(rows.values())
        self.want = None

    def start(self, spark, tracer, trace: bool) -> None:
        from beehive_spark.queries import all_oracles, all_queries

        self.spark, self.tracer = spark, tracer
        reg, oracles = all_queries(), all_oracles()
        self.fns = {q: reg[q] for q in self.QUERIES}
        self.oracles = {q: oracles.get(q) for q in self.QUERIES}

    def _oracle_rows(self) -> dict:
        con = duckdb.connect()
        try:
            for t in querydata.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(self.dir, t)}.parquet'")
            return {q: checks.oracle_rows(con, sql) for q, sql in self.oracles.items()}
        finally:
            con.close()

    def run(self, i: int) -> None:
        self.got = {}
        for q, fn in self.fns.items():
            self.tracer.enter(f"query.{q}")
            df = fn(self.spark, self.dir)
            self.got[q] = (df.columns, df.collect())

    def check(self, i: int) -> list[str]:
        if self.want is None:
            self.want = self._oracle_rows()
        problems = []
        for q, (cols, rows) in self.got.items():
            problems += checks.oracle_problems(q, cols, rows, self.want[q])
        self.got = None
        return problems

    def per_layer(self, totals: dict[str, SpanTotals], wall: float, cores: int) -> dict:
        out = {}
        for q in self.QUERIES:
            t = totals.get(f"query.{q}", SpanTotals())
            for m, _, _ in QUERY_METRICS:
                out[f"query.{q}.{m}"] = getattr(t, m)
        out["query_suite.core_busy"] = merge_totals([totals]).run_s / (wall * cores)
        return out

    def stop(self) -> None:
        pass


WORKLOADS = {"merge_publish": MergePublish, "query_suite": QuerySuite}


def per_layer_catalog() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in output order.
    A workload reports 0 for the other workload's layers."""
    out = [(f"{s}.{m}", u, b) for s in MERGE_SPANS for m, u, b in SPAN_METRICS]
    out += list(MERGE_WIDE)
    out += [(f"query.{q}.{m}", u, b) for q in QuerySuite.QUERIES
            for m, u, b in QUERY_METRICS]
    out.append(("query_suite.core_busy", "ratio", "higher"))
    return out
