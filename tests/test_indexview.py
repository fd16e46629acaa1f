"""IncrementalIndexView: retraction-maintained inverted index over a
LakeTable's net changelog — after every follow, the maintained postings
must equal the batch index (operators/retrieval.py tokenization) over the
lake's live rows."""

import pytest
from pyspark.sql import functions as F

from oplogtoredis_spark.operators.follow import changelog
from oplogtoredis_spark.operators.indexview import IncrementalIndexView
from oplogtoredis_spark.operators.text import tokens
from oplogtoredis_spark.sources.schemas import TARGET_SCHEMA
from oplogtoredis_spark.streaming.lake import LakeTable


def _batch(spark, rows, ts):
    cols = (
        "repo string, path string, ts long, tx_idx int, op string,"
        " commit string, lang string, content string"
    )
    return spark.createDataFrame(
        [
            ("docs", str(i), ts << 32, int(i), op, f"c{ts}", "en", txt)
            for (i, txt, op) in rows
        ],
        cols,
    )


def _mk(tmp_path, **kw):
    return IncrementalIndexView(str(tmp_path / "idx"), **kw)


def _recompute(spark, table, view):
    """Batch postings over the live state, the retrieval.py tokenization."""
    live = table.read(spark)
    if view.where is not None:
        live = live.where(F.expr(view.where))
    post = (
        live.select(
            *view.id_cols,
            F.explode(
                F.filter(
                    tokens(F.lower(F.col(view.text_col))), lambda x: x != ""
                )
            ).alias("token"),
        )
        .groupBy(*view.id_cols, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return {
        tuple(r[c] for c in view.id_cols) + (r.token,): r.tf
        for r in post.collect()
    }


def _state(spark, view):
    return {
        tuple(r[c] for c in view.id_cols) + (r.token,): r.tf
        for r in view.postings(spark).collect()
    }


def test_index_converges_after_every_epoch(spark, tmp_path):
    t = LakeTable.create(str(tmp_path / "tbl"), TARGET_SCHEMA, n_buckets=4)
    v = _mk(tmp_path)

    # epoch 1: inserts; 'merge' appears in two docs, twice in doc 1
    t.merge_batch(
        _batch(spark, [(1, "merge Merge join", "u"),
                       (2, "merge scan", "u")], ts=1),
        0,
    )
    s = v.follow_lake(spark, t)
    assert s["lake_version"] == t.current_version() and s["postings"] == 4
    got = _state(spark, v)
    assert got == _recompute(spark, t, v)
    assert got[("docs", "1", "merge")] == 2  # lowercased, both occurrences

    # epoch 2: update doc 1 — the preimage retracts 'merge' x2 and 'join'
    t.merge_batch(_batch(spark, [(1, "window sort", "u")], ts=2), 1)
    v.follow_lake(spark, t)
    got = _state(spark, v)
    assert got == _recompute(spark, t, v)
    assert ("docs", "1", "join") not in got        # token left doc 1
    assert got[("docs", "2", "merge")] == 1        # survives in doc 2

    # epoch 3: delete doc 2 — its tokens leave entirely
    t.merge_batch(_batch(spark, [(2, "merge scan", "d")], ts=3), 2)
    v.follow_lake(spark, t)
    got = _state(spark, v)
    assert got == _recompute(spark, t, v)
    assert not any(k[1] == "2" for k in got)


def test_stats_match_batch_index_stats(spark, tmp_path):
    """The maintained stats() equals retrieval.index_stats over live rows."""
    from oplogtoredis_spark.operators.retrieval import index_stats, postings

    t = LakeTable.create(str(tmp_path / "tbl"), TARGET_SCHEMA, n_buckets=4)
    v = _mk(tmp_path)
    t.merge_batch(
        _batch(spark, [(1, "a b a", "u"), (2, "b c", "u"), (3, "c c c", "u")],
               ts=1),
        0,
    )
    v.follow_lake(spark, t)
    t.merge_batch(
        _batch(spark, [(1, "a b a", "d"), (3, "d", "u")], ts=2), 1
    )
    v.follow_lake(spark, t)
    live = t.read(spark).select(
        F.col("path").alias("doc_id"), F.col("content").alias("text")
    )
    want = {
        (r.token): (r.n_docs, r.total_tf)
        for r in index_stats(postings(live)).collect()
    }
    got = {
        (r.token): (r.n_docs, r.total_tf)
        for r in v.stats(spark).collect()
    }
    assert got == want == {"b": (1, 1), "c": (1, 1), "d": (1, 1)}


def test_where_gate_boundary_crossing(spark, tmp_path):
    """An update moving a row across the WHERE gate indexes / de-indexes it
    exactly once (the gate is evaluated per change image)."""
    t = LakeTable.create(str(tmp_path / "tbl"), TARGET_SCHEMA, n_buckets=4)
    v = _mk(tmp_path, where="length(content) >= 8")
    t.merge_batch(
        _batch(spark, [(1, "long enough text", "u"), (2, "tiny", "u")], 1), 0
    )
    v.follow_lake(spark, t)
    got = _state(spark, v)
    assert got == _recompute(spark, t, v)
    assert not any(k[1] == "2" for k in got)
    # 1 shrinks below the gate (full de-index), 2 grows past it (index)
    t.merge_batch(
        _batch(spark, [(1, "tiny", "u"), (2, "now long text", "u")], 2), 1
    )
    v.follow_lake(spark, t)
    got = _state(spark, v)
    assert got == _recompute(spark, t, v)
    assert not any(k[1] == "1" for k in got)
    assert got[("docs", "2", "now")] == 1


def test_follow_is_idempotent_and_guards(spark, tmp_path):
    t = LakeTable.create(str(tmp_path / "tbl"), TARGET_SCHEMA, n_buckets=4)
    v = _mk(tmp_path)
    t.merge_batch(_batch(spark, [(1, "x y", "u")], 1), 0)
    s1 = v.follow_lake(spark, t)
    before = _state(spark, v)
    s2 = v.follow_lake(spark, t)
    assert s2.get("up_to_date") and v.followed_lake_version() == s1["lake_version"]
    assert _state(spark, v) == before
    with pytest.raises(ValueError, match="never followed"):
        _mk(tmp_path / "fresh").postings(spark)
    with pytest.raises(ValueError, match="at least one column"):
        IncrementalIndexView(str(tmp_path / "bad"), id_cols=())


def test_fold_step_has_no_join(spark, tmp_path):
    t = LakeTable.create(str(tmp_path / "tbl"), TARGET_SCHEMA, n_buckets=4)
    v = _mk(tmp_path)
    t.merge_batch(_batch(spark, [(1, "a b", "u")], 1), 0)
    v.follow_lake(spark, t)
    t.merge_batch(_batch(spark, [(2, "b c", "u")], 2), 1)
    from_v = v.followed_lake_version()
    step = v._next_state(
        spark, changelog(spark, t, from_v, t.current_version()), from_v
    )
    assert " Join" not in step._jdf.queryExecution().executedPlan().toString()
