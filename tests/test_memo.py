"""The memo store: a rewritten input is re-read, release frees every
pin a memo build took, and a memo hit runs no Spark job. Each test
works on its own copy of sf0.001, so no other test's memos are touched
by the rewrite."""

from __future__ import annotations

import shutil

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from mapreduce_kmeans_clustering_spark.memo import clear_memos
from mapreduce_kmeans_clustering_spark.queries.kmeans import (
    chain_centroids,
    scale_points,
    scale_seeds,
)
from mapreduce_kmeans_clustering_spark.queries.text import _dup_groups_df
from mapreduce_kmeans_clustering_spark.queries.vector import _ivf_assigned

from tests.conftest import TESTDATA


@pytest.fixture
def sf_dir(tmp_path):
    d = tmp_path / "sf"
    shutil.copytree(f"{TESTDATA}/sf0.001", d)
    for f in d.iterdir():
        f.chmod(0o644)
    yield str(d)
    clear_memos(str(d))


def _n_pinned(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def test_rewritten_input_is_reread(spark, sf_dir):
    assert scale_points(spark, sf_dir).count() == 6000
    old_seeds = scale_seeds(spark, sf_dir)
    assert max(c.x for c in old_seeds) <= 50

    # same path, new content: half the rows, every quantity shifted +100
    path = f"{sf_dir}/lineitem.parquet"
    t = pq.read_table(path)
    t = t.filter(pc.equal(pc.bit_wise_and(t["l_orderkey"], 1), 0))
    q = t.schema.get_field_index("l_quantity")
    t = t.set_column(q, "l_quantity", pc.add(t["l_quantity"], 100))
    pq.write_table(t, path)
    fresh = spark.read.parquet(path).count()
    assert 0 < fresh < 6000

    assert scale_points(spark, sf_dir).count() == fresh
    assert all(c.x > 100 for c in scale_seeds(spark, sf_dir))


def test_clear_memos_releases_every_pin(spark, sf_dir):
    clear_memos()
    before = _n_pinned(spark)
    _dup_groups_df(spark, sf_dir).count()
    _ivf_assigned(spark, sf_dir).count()
    assert _n_pinned(spark) > before
    clear_memos()
    assert _n_pinned(spark) == before
    # released memos rebuild on the next call
    assert _dup_groups_df(spark, sf_dir).count() > 0


def test_memo_hit_runs_no_job(spark, sf_dir):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("memo-build", "memo-build")
    first = chain_centroids(spark, sf_dir, 2)
    sc.setJobGroup("memo-hit", "memo-hit")
    again = chain_centroids(spark, sf_dir, 2)
    sc.setLocalProperty("spark.jobGroup.id", None)
    assert tracker.getJobIdsForGroup("memo-build")
    assert tracker.getJobIdsForGroup("memo-hit") == []
    assert again is first
    # the r+1 chain is one step on top of the memoized r chain
    sc.setJobGroup("memo-step", "memo-step")
    chain_centroids(spark, sf_dir, 3)
    sc.setLocalProperty("spark.jobGroup.id", None)
    assert 0 < len(tracker.getJobIdsForGroup("memo-step")) < len(
        tracker.getJobIdsForGroup("memo-build")
    )


def test_stopped_application_entries_are_dropped(spark, sf_dir):
    """Entries from a stopped context are dropped, not released: its
    cache and pins went with it."""
    from types import SimpleNamespace

    from mapreduce_kmeans_clustering_spark import memo

    stopped = SimpleNamespace(_jsc=None)
    memo._STORE[sf_dir] = (stopped, ("app-gone", ()), {("k", ()): (None, {1})})
    assert len(scale_seeds(spark, sf_dir)) == 5
    assert memo._STORE[sf_dir][0] is spark.sparkContext
