"""End-to-end test of the merge CLI (orchestrator.js parity): run,
re-run (provenance abort), and dry-run against parquet instances."""

import pytest

pytestmark = pytest.mark.slow  # CLI subprocess e2e (display layer covered fast by test_display)

import json
import os

from beehive_spark.pipeline.cli import main
from tests.test_merge_pipeline import build_fixture


def _dump(tables, path):
    os.makedirs(path, exist_ok=True)
    for name, df in tables.items():
        df.write.mode("overwrite").parquet(os.path.join(path, f"{name}.parquet"))


def test_cli_merge_then_rerun_aborts(spark, tmp_path, capsys):
    src, dst = build_fixture(spark)
    src_dir, dst_dir, out_dir = (
        str(tmp_path / "src"), str(tmp_path / "dst"), str(tmp_path / "out")
    )
    _dump(src, src_dir)
    _dump(dst, dst_dir)

    argv = ["--src-dir", src_dir, "--dst-dir", dst_dir, "--out-dir", out_dir,
            "--source-tag", "clinic-7"]
    assert main(argv) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["published_to"] and os.path.isdir(report["published_to"])
    assert all(r["ok"] for r in report["reconciliations"])
    assert sum(report["moved"].values()) > 0
    # merged person table holds dst rows + moved src rows
    merged_person = spark.read.parquet(
        os.path.join(report["published_to"], "person")
    )
    next(r for r in report["reconciliations"] if r["table"] == "person")
    assert merged_person.count() == next(
        r["final"] for r in report["reconciliations"] if r["table"] == "person"
    )

    # a merge with another tag appends its row next to the first one
    other = argv[:-1] + ["clinic-8"]
    assert main(other) == 0
    capsys.readouterr()
    prov = spark.read.parquet(os.path.join(out_dir, "provenance.parquet"))
    assert sorted(r["source"] for r in prov.collect()) == ["clinic-7", "clinic-8"]

    # a re-run with either tag must hit the provenance guard
    for tag in ("clinic-7", "clinic-8"):
        assert main(argv[:-1] + [tag]) == 3
        err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert err["error"] == "already_merged"


def test_cli_dry_run_publishes_nothing(spark, tmp_path, capsys):
    src, dst = build_fixture(spark)
    src_dir, dst_dir, out_dir = (
        str(tmp_path / "src"), str(tmp_path / "dst"), str(tmp_path / "out")
    )
    _dump(src, src_dir)
    _dump(dst, dst_dir)

    assert main(["--src-dir", src_dir, "--dst-dir", dst_dir,
                 "--out-dir", out_dir, "--dry-run"]) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["dry_run"] is True
    assert report["published_to"] is None
    # no provenance, no merged output on disk
    assert not os.path.exists(os.path.join(out_dir, "provenance.parquet"))
    assert not os.path.exists(os.path.join(out_dir, "merged"))
