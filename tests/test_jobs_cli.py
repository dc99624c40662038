"""The §3.1 produce-path CLI end-to-end on the demo world: one
invocation must leave the reference's five public datasets on disk and
answer the canonical point lookup."""

from __future__ import annotations

import os

import pytest

from opentimes_spark.jobs.calculate_times import parse_args, run
from opentimes_spark.plans.pipeline import point_lookup


def test_cli_demo_end_to_end(spark, tmp_path):
    out = str(tmp_path / "public")
    args = parse_args(["--demo", "--out", out, "--state", "17"])
    summary = run(args, spark)
    assert summary["n_origins"] > 0 and summary["n_times"] > 0
    assert summary["n_times"] + summary["n_missing"] == (
        summary["n_origins"] * summary["n_destinations"]
    )
    for ds in ("times", "points/origin", "points/destination",
               "missing_pairs", "metadata"):
        assert os.path.isdir(os.path.join(out, ds)), ds
    # metadata is one row whose counts match the points tables it was
    # built from; each points table is dimension-sized and one file
    points = {
        kind: spark.read.parquet(os.path.join(out, "points", kind))
        for kind in ("origin", "destination")
    }
    md = spark.read.parquet(os.path.join(out, "metadata")).collect()
    assert len(md) == 1 and len(md[0]["run_id"]) == 8
    assert md[0]["calc_n_origins"] == points["origin"].count() == summary["n_origins"]
    assert md[0]["calc_n_destinations"] == points["destination"].count() == (
        summary["n_destinations"]
    )
    for kind, df in points.items():
        assert len(df.inputFiles()) == 1, kind
    # Hive layout carries all six partition keys
    state_dir = os.path.join(
        out, "times", "version=0.0.1", "mode=car", "year=2024",
        "geography=tract", "state=17", "centroid_type=weighted",
    )
    assert os.path.isdir(state_dir)
    # the canonical consume query (reference README.md:88-98)
    some_origin = spark.read.parquet(os.path.join(out, "times")).select(
        "origin_id").first()["origin_id"]
    rows = point_lookup(spark, os.path.join(out, "times"), some_origin).collect()
    assert len(rows) > 0
    assert all(r["duration_sec"] >= 0 for r in rows)


def test_cli_chunk_slice(spark, tmp_path):
    out = str(tmp_path / "public_chunk")
    args = parse_args(["--demo", "--out", out, "--chunk", "0-2_0-3"])
    summary = run(args, spark)
    assert summary["n_origins"] == 2
    assert summary["n_destinations"] == 3
    assert summary["n_times"] + summary["n_missing"] == 6


def test_cli_rejects_bad_chunk():
    with pytest.raises(SystemExit):
        parse_args(["--demo", "--out", "/tmp/x", "--chunk", "nope"])
