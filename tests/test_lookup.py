"""A point lookup reads one partition and skips row groups (ROADMAP
correctness invariant; SURVEY.md §3.3): both lookups read only the
requested Hive partition, run one Spark job, skip the row groups whose
origin_id zone map excludes the origin, and return the same rows as a
filter of the whole tree on all six keys."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from opentimes_spark.io.write import write_sorted_partitioned
from opentimes_spark.plans.pipeline import (
    PARTITION_KEYS,
    destination_lookup,
    point_lookup,
)
from tests.conftest import assert_one_partition_scan, partition_dir

N_ORIGINS, N_DESTINATIONS = 40, 25
STATES, MODES = ("17", "18"), ("car", "walk")


@pytest.fixture(scope="module")
def tree(spark, tmp_path_factory):
    """Two states × two modes of a 40 × 25 matrix in one frame, written
    range-partitioned on origin_id into 4 ranges: each partition holds
    files of disjoint origin ranges."""
    cells = [
        (s, m, f"{s}031{o:06d}", f"{s}097{d:06d}", float(60 * (o + d) + (m == "walk")))
        for s, m in itertools.product(STATES, MODES)
        for o in range(N_ORIGINS)
        for d in range(N_DESTINATIONS)
    ]
    df = spark.createDataFrame(
        cells, "state string, mode string, origin_id string, "
        "destination_id string, duration_sec double",
    ).select(
        "origin_id", "destination_id", "duration_sec",
        F.lit("0.0.1").alias("version"), "mode", F.lit("2024").alias("year"),
        F.lit("tract").alias("geography"), "state",
        F.lit("weighted").alias("centroid_type"),
    )
    root = str(tmp_path_factory.mktemp("lookup") / "times")
    write_sorted_partitioned(
        df, root, partition_by=PARTITION_KEYS, order_by=["origin_id"],
        num_range_partitions=4,
    )
    return root


LOOKUPS = [
    (point_lookup, "origin_id", "18031000007"),
    (destination_lookup, "destination_id", "18097000011"),
]


def _jobs_and_rows(spark, fn, *args, **keys):
    """Build and collect one lookup inside its own job group; return the
    frame, its rows and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"lookup-{fn.__name__}-{keys}"
    sc.setJobGroup(group, group)
    try:
        df = fn(spark, *args, **keys)
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return df, rows, len(sc.statusTracker().getJobIdsForGroup(group))


def _scan_output_rows(df) -> int:
    """The ``number of output rows`` SQL metric of the frame's one scan,
    read from its executed plan after an action."""
    plan = df._jdf.queryExecution().executedPlan()
    leaves = plan.collectLeaves()
    (scan,) = [leaves.apply(i) for i in range(leaves.size())]
    return scan.metrics().apply("numOutputRows").value()


@pytest.mark.parametrize("fn,id_col,id_value", LOOKUPS, ids=["origin", "destination"])
def test_lookup_reads_one_partition_in_one_job(spark, tree, fn, id_col, id_value):
    keys = dict(state="18", mode="walk")
    df, rows, jobs = _jobs_and_rows(spark, fn, tree, id_value, **keys)
    # (a) only the requested partition is listed and read
    assert_one_partition_scan(df, partition_dir(tree, **keys), id_col, id_value)
    # (b) one job: no schema-inference job before the scan
    assert jobs == 1
    # (e) the same rows as a filter of the whole tree on the six keys + id
    bound = dict(version="0.0.1", year="2024", geography="tract",
                 centroid_type="weighted", **keys)
    plain = spark.read.parquet(tree).filter(
        F.col(id_col) == id_value
    )
    for k in PARTITION_KEYS:
        plain = plain.filter(F.col(k) == bound[k])
    want = sorted(tuple(r) for r in plain.select(*df.columns).collect())
    assert sorted(tuple(r) for r in rows) == want
    assert len(want) == (N_DESTINATIONS if id_col == "origin_id" else N_ORIGINS)


def test_origin_lookup_skips_row_groups(spark, tree):
    """(c) the scan hands the filter fewer rows than the partition holds:
    row groups whose origin_id range excludes the origin are skipped."""
    df, rows, _ = _jobs_and_rows(spark, point_lookup, tree, "18031000007", state="18")
    scanned = _scan_output_rows(df)
    assert len(rows) == N_DESTINATIONS
    assert len(rows) <= scanned < N_ORIGINS * N_DESTINATIONS


@pytest.mark.parametrize("fn,id_col,id_value", LOOKUPS, ids=["origin", "destination"])
def test_lookup_of_unwritten_partition_is_empty(spark, tree, fn, id_col, id_value):
    """(d) a state never written is an empty 3-column frame, not an error."""
    df = fn(spark, tree, id_value, state="99")
    assert df.collect() == []
    assert [(f.name, f.dataType.simpleString()) for f in df.schema] == [
        ("origin_id", "string"), ("destination_id", "string"), ("duration_sec", "double"),
    ]
    assert df.schema == fn(spark, tree, id_value, state="18").schema
