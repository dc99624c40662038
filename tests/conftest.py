from __future__ import annotations

import contextlib
import io
import os
import re
from urllib.parse import urlparse

import pytest


@pytest.fixture(scope="session")
def spark():
    from opentimes_spark.session import get_spark

    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


def rows(df, *order_cols):
    """Collect to a sorted list of tuples for order-insensitive equality."""
    out = [tuple(r) for r in df.collect()]
    return sorted(out) if not order_cols else sorted(
        out, key=lambda t: tuple(t[df.columns.index(c)] for c in order_cols)
    )


def partition_dir(public_dir: str, **keys) -> str:
    """The Hive partition directory of ``keys`` under ``public_dir``; keys
    not given take ``write_public``'s defaults."""
    from opentimes_spark.plans.pipeline import PARTITION_KEYS

    keys = dict(dict(version="0.0.1", mode="car", year="2024", geography="tract",
                     state="17", centroid_type="weighted"), **keys)
    return os.path.join(public_dir, *(f"{k}={keys[k]}" for k in PARTITION_KEYS))


def assert_one_partition_scan(df, partition_dir: str, id_col: str, id_value: str) -> None:
    """``df`` is a point lookup: its one parquet scan is rooted at
    ``partition_dir`` alone and reads files only under it, the id
    equality reaches the parquet reader, and only the 3 projected
    columns are read."""

    def local(uri: str) -> str:
        return os.path.normpath(urlparse(uri).path)

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1, plan
    roots = re.search(r"^Location: \w+ \[(.*)\]$", plan, re.M).group(1).split(", ")
    assert [local(r) for r in roots] == [os.path.normpath(partition_dir)], plan
    files = df.inputFiles()
    assert files, "the lookup reads no file"
    for f in files:
        assert local(f).startswith(os.path.normpath(partition_dir) + os.sep), f
    pushed = re.search(r"^PushedFilters: (.*)$", plan, re.M).group(1)
    assert f"EqualTo({id_col},{id_value})" in pushed, plan
    read_schema = re.search(r"^ReadSchema: struct<(.*)>$", plan, re.M).group(1)
    assert read_schema == "origin_id:string,destination_id:string,duration_sec:double", plan
