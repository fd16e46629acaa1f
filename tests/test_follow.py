"""The lake-follower core (operators/follow.py): every follower — the
three views and the two incremental corpora — pins its first read to the
lake version it stamps."""

import json
from types import SimpleNamespace

import pytest

from oplogtoredis_spark.sources.schemas import TARGET_SCHEMA
from oplogtoredis_spark.streaming.lake import LakeTable


class _StaleVersionTable(LakeTable):
    """A table whose current_version() reports a version BELOW the real
    CURRENT while an unpinned read sees the real CURRENT — the race window
    where an HA twin commits between a follower's version snapshot and its
    first read action."""

    def __init__(self, path, stale_v):
        super().__init__(path)
        self._stale_v = stale_v

    def current_version(self):
        return self._stale_v

    def manifest(self, version=None):
        if version is None:
            version = LakeTable.current_version(self)
        return super().manifest(version)


class _Snapshot:
    """The lake's live rows at one version, served through the same
    ``read(spark)`` call the recompute helpers make on a table."""

    def __init__(self, table, version):
        self._table = table
        self._version = version

    def read(self, spark):
        return self._table.read(spark, version=self._version)


def _agg_view(spark, tmp_path):
    from tests.test_aggview import _batch, _mk, _recompute, _state

    v = _mk(tmp_path)
    return SimpleNamespace(
        follower=v,
        commits=[
            _batch(spark, [(1, "en", "aaaa", "u"), (2, "de", "bb", "u")], 1),
            _batch(spark, [(3, "en", "cccccc", "u")], 2),
        ],
        follow=lambda t: v.follow_lake(spark, t),
        state=lambda: _state(spark, v),
        recompute=lambda live: _recompute(spark, live, v),
    )


def _distinct_view(spark, tmp_path):
    from tests.test_aggview import TestDistinctView, _batch

    h = TestDistinctView()
    v = h._mk(tmp_path)
    return SimpleNamespace(
        follower=v,
        commits=[
            _batch(spark, [(1, "en", "ab", "u"), (2, "de", "cd", "u")], 1),
            _batch(spark, [(3, "en", "wxyz", "u")], 2),
        ],
        follow=lambda t: v.follow_lake(spark, t),
        state=lambda: h._state(spark, v),
        recompute=lambda live: h._recompute(spark, live, v),
    )


def _index_view(spark, tmp_path):
    from tests.test_indexview import _batch, _mk, _recompute, _state

    v = _mk(tmp_path)
    return SimpleNamespace(
        follower=v,
        commits=[
            _batch(spark, [(1, "a b", "u"), (2, "b c", "u")], 1),
            _batch(spark, [(3, "c d", "u")], 2),
        ],
        follow=lambda t: v.follow_lake(spark, t),
        state=lambda: _state(spark, v),
        recompute=lambda live: _recompute(spark, live, v),
    )


def _incremental_corpus(spark, tmp_path):
    from tests.test_follow_lake import _lake_batch, _live_docs, _mk_corpus
    from tests.test_incremental_corpus import (
        LONG_A,
        LONG_B,
        LONG_C,
        _batch_recompute,
    )

    c = _mk_corpus(tmp_path)
    return SimpleNamespace(
        follower=c,
        commits=[
            _lake_batch(spark, [(3, LONG_A, "u"), (6, LONG_B, "u")], 1),
            _lake_batch(spark, [(5, LONG_C, "u")], 2),
        ],
        follow=lambda t: c.follow_lake(spark, t, repo="docs"),
        state=lambda: {tuple(r) for r in c.chunks(spark).collect()},
        recompute=lambda live: {
            tuple(r)
            for r in _batch_recompute(spark, _live_docs(spark, live)).collect()
        },
    )


def _semantic_corpus(spark, tmp_path):
    from oplogtoredis_spark.operators.semantic_corpus import SemanticCorpus

    from tests.test_semantic_corpus import (
        BUNDLES,
        _kept_batch,
        _kept_inc,
        _lake_vec_batch,
    )

    # ids 0-2 are the whole frozen centroid sample (sample_per_centroid=1)
    kw = dict(threshold=0.95, n_centroids=3, sample_per_centroid=1)
    c = SemanticCorpus(str(tmp_path / "sem"), **kw)
    first = [(i, BUNDLES[i], "u") for i in range(3)]
    first += [(10, [1.0, 0.42, 0.0], "u"), (11, [1.0, 0.45, 0.0], "u")]
    return SimpleNamespace(
        follower=c,
        commits=[
            _lake_vec_batch(spark, first, 1),
            _lake_vec_batch(spark, [(13, [0.0, 1.0, 1.0], "u")], 2),
        ],
        follow=lambda t: c.follow_lake(spark, t, repo="emb"),
        state=lambda: _kept_inc(spark, c),
        recompute=lambda live: _kept_batch(
            spark,
            [
                (int(r.path), json.loads(r.content))
                for r in live.read(spark).collect()
            ],
            **kw,
        ),
    )


@pytest.mark.parametrize(
    "case",
    [_agg_view, _distinct_view, _index_view, _incremental_corpus,
     _semantic_corpus],
    ids=["IncrementalAggView", "IncrementalDistinctView",
         "IncrementalIndexView", "IncrementalCorpus", "SemanticCorpus"],
)
def test_first_follow_pins_the_snapshotted_version(spark, tmp_path, case):
    """A commit landing between current_version() and the first-read
    action must NOT fold into state stamped with the older version — the
    next changelog fold would apply it a second time. After the stale
    first follow the state is the recompute at v1; after catching up to
    the real CURRENT, the recompute at the head."""
    c = case(spark, tmp_path)
    path = str(tmp_path / "tbl")
    t = LakeTable.create(path, TARGET_SCHEMA, n_buckets=4)
    t.merge_batch(c.commits[0], 0)
    t.merge_batch(c.commits[1], 1)  # the racer

    c.follow(_StaleVersionTable(path, 1))  # sees v1 while CURRENT is v2
    assert c.follower.followed_lake_version() == 1
    assert c.state() == c.recompute(_Snapshot(t, 1))
    assert c.state() != c.recompute(t)
    # catch up to the real CURRENT: the racer's rows fold ONCE
    c.follow(t)
    assert c.follower.followed_lake_version() == 2
    assert c.state() == c.recompute(t)
