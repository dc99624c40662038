"""The produce path routes every O×D tile once: ``times`` and
``missing_pairs`` come from one routing pass, so a router whose answer
can change between calls still puts each pair in exactly one of them
(ROADMAP correctness invariant; reference calculate_times.py:71-79).
Every test runs under each materialization strategy of the routed matrix,
a ``proxy`` site (materialize.py)."""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import functions as F

from opentimes_spark.jobs.calculate_times import demo_world, parse_args, run
from opentimes_spark.operators import matrix
from opentimes_spark.operators.matrix import HaversineRouter
from opentimes_spark.plans.pipeline import (
    build_blockloc,
    build_cenloc,
    build_destpoint,
    compute_times,
    write_public,
)


@pytest.fixture(autouse=True, params=["local", "persist", "checkpoint"])
def proxy_strategy(request, spark, tmp_path, monkeypatch):
    """``materialize._strategy`` reads the variable at call time."""
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE_PROXY", request.param)
    if request.param == "checkpoint":
        spark.sparkContext.setCheckpointDir(str(tmp_path / "checkpoints"))
    yield request.param
    if request.param == "persist":
        # the persisted matrix is never unpersisted; keep it out of later tests
        spark.catalog.clearCache()


def _counting_router(spark):
    """A HaversineRouter that logs each ``table`` request's tile
    (origin ids, destination ids) to an accumulator.  Returns the class
    (a router factory) and the accumulator.  The classes are local so
    they are pickled by value: Python workers cannot import test
    modules."""

    class TileLog(AccumulatorParam):
        def zero(self, value):
            return []

        def addInPlace(self, a, b):
            return a + b

    log = spark.sparkContext.accumulator([], TileLog())

    class CountingRouter(HaversineRouter):
        def table(self, o_ids, o_lon, o_lat, d_ids, d_lon, d_lat):
            log.add([(tuple(o_ids.tolist()), tuple(d_ids.tolist()))])
            return HaversineRouter.table(self, o_ids, o_lon, o_lat, d_ids, d_lon, d_lat)

    return CountingRouter, log


def _assert_routed_once(log, n_origins: int, n_destinations: int) -> None:
    tiles = log.value
    cells = sum(len(o) * len(d) for o, d in tiles)
    assert cells == n_origins * n_destinations, (cells, n_origins, n_destinations)
    assert len(tiles) == len(set(tiles)) > 0, f"{len(tiles)} calls"


def test_cli_routes_each_tile_once(spark, tmp_path, monkeypatch):
    router, log = _counting_router(spark)
    monkeypatch.setattr(matrix, "HaversineRouter", router)
    summary = run(parse_args(["--demo", "--out", str(tmp_path / "public")]), spark)
    _assert_routed_once(log, summary["n_origins"], summary["n_destinations"])


def test_compute_times_and_write_route_each_tile_once(spark, tmp_path):
    blocks, blockpop = demo_world(spark)
    cenloc = build_cenloc(build_blockloc(blocks, blockpop), "tract")
    origins = cenloc.filter(F.col("geoid").startswith("17"))
    dest = build_destpoint(cenloc, (-87.7, 41.2), buffer_m=250_000)
    n_o, n_d = origins.count(), dest.count()
    router, log = _counting_router(spark)
    times, missing = compute_times(origins, dest, router)
    write_public(times, str(tmp_path / "times"))
    assert missing.count() == 0
    _assert_routed_once(log, n_o, n_d)


def test_call_dependent_router_lands_each_pair_once(spark, tmp_path, monkeypatch):
    """The poisoned pair's tile answers NULL (no route, as OSRM reports a
    timeout) on its 1st, 3rd, ... request and a duration on its 2nd,
    4th, ...; requests are counted in a file per tile.  Routing the
    matrix once per write would put the pair in both tables or in
    neither; one pass puts it in exactly one."""
    calls_dir = str(tmp_path / "calls")
    os.makedirs(calls_dir)
    blocks, _ = demo_world(spark)
    tracts = sorted({r["geoid"][:11] for r in blocks.collect()})
    poisoned = (tracts[0], tracts[-1])  # state 17 origin, state 18 destination

    class FlakyRouter(HaversineRouter):
        def table(self, o_ids, o_lon, o_lat, d_ids, d_lon, d_lat):
            out = HaversineRouter.table(self, o_ids, o_lon, o_lat, d_ids, d_lon, d_lat)
            o_ids, d_ids = o_ids.tolist(), d_ids.tolist()
            if poisoned[0] in o_ids and poisoned[1] in d_ids:
                key = hashlib.md5(repr((o_ids, d_ids)).encode()).hexdigest()
                counter = os.path.join(calls_dir, key)
                with open(counter, "a+") as f:
                    f.seek(0)
                    before = len(f.read())
                    f.write("x")
                if before % 2 == 0:
                    out = out.astype(np.float64)
                    out[o_ids.index(poisoned[0]), d_ids.index(poisoned[1])] = np.nan
            return out

    monkeypatch.setattr(matrix, "HaversineRouter", FlakyRouter)
    out = str(tmp_path / "public")
    summary = run(parse_args(["--demo", "--out", out]), spark)
    assert os.listdir(calls_dir), "the poisoned tile was never routed"

    def pairs(table):
        t = pq.read_table(os.path.join(out, table), columns=["origin_id", "destination_id"])
        return list(zip(*(t.column(c).to_pylist() for c in t.column_names)))

    times, missing = pairs("times"), pairs("missing_pairs")
    assert missing == [poisoned]
    every = times + missing
    origins = {o for o, _ in every}
    destinations = {d for _, d in every}
    assert len(origins) == summary["n_origins"]
    assert len(destinations) == summary["n_destinations"]
    assert len(every) == len(set(every)) == len(origins) * len(destinations)
