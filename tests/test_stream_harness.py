"""The staged-stream harness (workload_shared.staged_root and friends):
a staged root is keyed by the dataset's full path, re-staged when a
source file changes even at the same size, and left alone otherwise.
Datasets are temp copies of the sf0.001 fixture."""
import os
import shutil

import pytest

from olap_xtrctr_spark import workload_shared as WS
from olap_xtrctr_spark.session import load_table
from olap_xtrctr_spark.workload import WORKLOAD
from olap_xtrctr_spark.workloads import events_sketches

ENTRY = "events_stream_hll_md5_users"
ROOT_NAME = "hll_stream"


def _copy_fixture(src: str, dst: str) -> str:
    os.makedirs(dst)
    for name in os.listdir(src):
        shutil.copyfile(os.path.join(src, name), os.path.join(dst, name))
    return dst


@pytest.fixture
def sf_copies(sf_dir, tmp_path):
    made = []

    def make(tag: str) -> str:
        sf = _copy_fixture(sf_dir, str(tmp_path / tag / "sf0.001"))
        made.append(sf)
        return sf

    yield make
    for sf in made:
        shutil.rmtree(WS.scratch_root(ROOT_NAME, sf), ignore_errors=True)
    if made:
        shutil.rmtree(os.path.dirname(WS.scratch_root("harness_test",
                                                      made[0])),
                      ignore_errors=True)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _marker(sf: str) -> str:
    with open(os.path.join(WS.scratch_root(ROOT_NAME, sf),
                           "_DEMO_SRC")) as fh:
        return fh.read()


def test_same_size_rewrite_restages(spark, sf_copies):
    sf = sf_copies("a")
    fn = WORKLOAD[ENTRY].fn
    first = _rows(fn(spark, sf))
    sig = _marker(sf)
    src = os.path.join(sf, "events.parquet")
    st = os.stat(src)
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert os.stat(src).st_size == st.st_size
    assert _rows(fn(spark, sf)) == first
    assert _marker(sf) != sig


def test_same_basename_datasets_get_separate_roots(spark, sf_copies):
    a, b = sf_copies("a"), sf_copies("b")
    staged: list[str] = []
    ra = WS.staged_root("harness_test", a, load_table(spark, a, "events"),
                        staged.append)
    rb = WS.staged_root("harness_test", b, load_table(spark, b, "events"),
                        staged.append)
    assert ra != rb
    assert staged == [ra, rb]
    assert os.path.basename(ra).startswith("sf0.001-")
    assert os.path.basename(rb).startswith("sf0.001-")


def test_unchanged_source_restages_nothing(spark, sf_copies, monkeypatch):
    sf = sf_copies("a")
    fn = WORKLOAD[ENTRY].fn
    first = _rows(fn(spark, sf))
    sig = _marker(sf)

    def no_restage(*args):
        raise AssertionError("an unchanged source was re-staged")

    monkeypatch.setattr(events_sketches, "tertiles", no_restage)
    assert _rows(fn(spark, sf)) == first
    assert _marker(sf) == sig
