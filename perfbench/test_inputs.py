"""Input generator checks: one seed gives byte-identical inputs, and the
Python snapshot renderer writes the text the engine's renderer writes.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import shutil
import sys
import zipfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import inputs  # noqa: E402


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


@pytest.fixture
def scratch():
    path = os.path.join(HERE, "_work", f"test{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    yield path
    shutil.rmtree(path, ignore_errors=True)


@pytest.mark.parametrize("workload", sorted(inputs.BUILDERS))
def test_one_seed_gives_identical_bytes(workload, scratch):
    _, build = inputs.BUILDERS[workload]
    trees = []
    for run in ("a", "b", "c"):
        out = os.path.join(scratch, run)
        os.makedirs(out)
        build(out, 7 if run != "c" else 8)
        trees.append(_tree(out))
    a, b, c = trees
    assert a.keys() == b.keys() and a == b
    assert any(a[k] != c.get(k) for k in a if k.endswith(".parquet"))


def test_components_is_min_label():
    comps = dict(inputs.components([(5, 3), (3, 9), (20, 21)]))
    assert comps == {3: 3, 5: 3, 9: 3, 20: 20, 21: 20}


def test_renderer_matches_engine(scratch):
    import numpy as np

    from scopus_spark import etl
    from scopus_spark.session import get_spark

    docs = inputs._documents(np.random.default_rng(5), 40, 0.0)
    sf = os.path.join(scratch, "sf")
    os.makedirs(sf)
    inputs._write(f"{sf}/documents.parquet", docs)
    inputs.render_zips(docs, f"{scratch}/py_zips", 16)
    inputs.render_xml(docs, f"{scratch}/py_xml")

    spark = get_spark(app_name="perfbench_test", master="local[1]",
                      extra_conf=inputs.spark_dirs(f"{scratch}/spark"))
    etl.render_snapshot_zips(spark, sf, f"{scratch}/zips", docs_per_archive=16)
    etl.render_snapshot(spark, sf, f"{scratch}/xml")

    names = sorted(os.listdir(f"{scratch}/py_zips"))
    assert names == sorted(f for f in os.listdir(f"{scratch}/zips") if f.endswith(".zip"))
    for name in names:
        with zipfile.ZipFile(f"{scratch}/py_zips/{name}") as ours, \
                zipfile.ZipFile(f"{scratch}/zips/{name}") as theirs:
            assert ours.namelist() == theirs.namelist()
            for member in ours.namelist():
                assert ours.read(member) == theirs.read(member)
    (spark_xml,) = [f for f in os.listdir(f"{scratch}/xml") if f.endswith(".xml")]
    with open(f"{scratch}/xml/{spark_xml}") as a, open(f"{scratch}/py_xml/part-00000.xml") as b:
        assert a.read() == b.read()
