"""Incremental corpus pipeline (VERDICT r4 #5): N epochs of document
changes folded into the same final state as the batch recompute, with
per-epoch work bounded by the batch's affected hash groups."""

import pytest
from pyspark.sql import functions as F

from oplogtoredis_spark.operators.incremental_corpus import IncrementalCorpus
from oplogtoredis_spark.operators.sampling import hash_split
from oplogtoredis_spark.operators.semantic_corpus import SemanticCorpus
from oplogtoredis_spark.operators.text import chunk_documents, quality_filter

GATE = dict(min_tokens=3, min_alpha_ratio=0.3, min_quality=0.0, langs=())


def _batch(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, op string")


def _batch_recompute(spark, docs):
    """The full-recompute reference: gate → exact dedup (min doc_id per
    content hash) → chunk → split — corpus_pipeline's exact algebra."""
    kept, _ = quality_filter(docs, **GATE)
    surv = kept.groupBy(F.sha2(F.col("text"), 256).alias("_h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    deduped = kept.join(surv.select("doc_id"), "doc_id")
    return hash_split(
        chunk_documents(deduped, chunk_tokens=5, overlap=1), "doc_id"
    ).select("doc_id", "split", "chunk_idx", "n_tokens")


def _state(df):
    return (
        df.toPandas()
        .sort_values(["doc_id", "chunk_idx"])
        .reset_index(drop=True)
    )


def _mk(tmp_path):
    return IncrementalCorpus(
        str(tmp_path / "corpus"), chunk_tokens=5, overlap=1, **GATE
    )


LONG_A = "the quick brown fox jumps over the lazy dog again and again"
LONG_B = "pack my box with five dozen liquor jugs for the long winter trip"
LONG_C = "how vexingly quick daft zebras jump over the fence in the morning"


def test_inserts_across_epochs_equal_batch_recompute(spark, tmp_path):
    """Interleaved inserts (later epochs carry SMALLER ids, forcing
    survivor re-election) must converge to the batch recompute exactly —
    including the split column, stable because it is a pure doc_id hash."""
    docs = [
        (3, LONG_A), (4, LONG_A), (1, LONG_A),   # dup group: survivor flips 3→1
        (6, LONG_B), (2, LONG_B),                 # dup group: survivor flips 6→2
        (5, LONG_C),                              # singleton
        (7, "x"),                                 # gate-rejected (too short)
    ]
    c = _mk(tmp_path)
    for e in range(3):
        rows = [(i, t, "u") for i, t in docs if i % 3 == e]
        c.apply_epoch(spark, _batch(spark, rows), e)
    want = _batch_recompute(
        spark, spark.createDataFrame(docs, "doc_id long, text string")
    )
    assert _state(c.chunks(spark)).equals(_state(want))
    # survivors: exactly the min-id of each kept hash group
    assert sorted(c.chunks(spark).select("doc_id").distinct().toPandas()["doc_id"]) == [1, 2, 5]


def test_updates_and_deletes_re_elect_survivors(spark, tmp_path):
    """A changed doc leaves its old hash group (next member takes the
    seat), a deleted survivor is retired, a gate-degraded doc drops out —
    after every mutation the state equals the recompute over FINAL docs."""
    c = _mk(tmp_path)
    c.apply_epoch(
        spark,
        _batch(spark, [(1, LONG_A, "u"), (2, LONG_A, "u"), (3, LONG_B, "u"),
                       (4, LONG_C, "u")]),
        0,
    )
    # epoch 1: survivor 1 rewrites to group B (group A seat passes to 2;
    # group B seat stays with min id 1... no: 1 < 3 so 1 takes B's seat);
    # doc 4 degrades below the gate; doc 3 deleted outright
    c.apply_epoch(
        spark,
        _batch(spark, [(1, LONG_B, "u"), (4, "x", "u"), (3, None, "d")]),
        1,
    )
    final_docs = spark.createDataFrame(
        [(1, LONG_B), (2, LONG_A)], "doc_id long, text string"
    )
    want = _batch_recompute(spark, final_docs)
    assert _state(c.chunks(spark)).equals(_state(want))
    # membership ledger matches too
    m = c.members(spark).toPandas().sort_values("doc_id")
    assert list(m["doc_id"]) == [1, 2]


def test_epoch_work_is_bounded_by_affected_groups(spark, tmp_path):
    """The incrementality pin: an epoch touching ONE doc writes deltas for
    that doc's hash groups only — the untouched corpus contributes zero
    rows to the epoch's delta files."""
    c = _mk(tmp_path)
    base = [(i, f"{LONG_A} variant number {i} padding words", "u")
            for i in range(1, 30)]
    c.apply_epoch(spark, _batch(spark, base), 0)
    stats = c.apply_epoch(
        spark, _batch(spark, [(100, LONG_C, "u")]), 1
    )
    # one new singleton doc: 1 member row; its chunks only (3 tokens/chunk
    # windows over ~12 words → ~3 adds), no dels
    assert stats["member_delta_rows"] == 1
    assert 1 <= stats["chunk_delta_rows"] <= 5
    # replay idempotency
    assert c.apply_epoch(spark, _batch(spark, [(100, LONG_C, "u")]), 1) == {
        "skipped_replay": True
    }


def test_compact_preserves_state_and_bounds_deltas(spark, tmp_path):
    import os

    c = _mk(tmp_path)
    for e in range(4):
        rows = [(e * 10 + i, f"{LONG_B} epoch {e} doc {i} words", "u")
                for i in range(3)]
        c.apply_epoch(spark, _batch(spark, rows), e)
    before = _state(c.chunks(spark))
    assert len(c._delta_dirs("chunks")) == 4
    c.compact(spark)
    assert len(c._delta_dirs("chunks")) == 1
    assert _state(c.chunks(spark)).equals(before)
    # further epochs keep working on the folded base
    c.apply_epoch(spark, _batch(spark, [(0, None, "d")]), 9)
    assert 0 not in set(c.chunks(spark).toPandas()["doc_id"])


def _inc_corpus(spark, tmp_path):
    corpus = IncrementalCorpus(str(tmp_path / "c"), **GATE)
    batch = _batch(
        spark, [(i, f"alpha beta gamma delta doc{i}", "u") for i in range(6)]
    )
    return corpus, batch


def _sem_corpus(spark, tmp_path):
    corpus = SemanticCorpus(
        str(tmp_path / "c"), threshold=0.95, n_centroids=2, sample_per_centroid=4
    )
    batch = spark.createDataFrame(
        [(i, [1.0, float(i), 0.5 * i, -1.0], "u") for i in range(6)],
        "doc_id long, embedding array<double>, op string",
    )
    return corpus, batch


@pytest.mark.parametrize(
    "make", [_inc_corpus, _sem_corpus], ids=["IncrementalCorpus", "SemanticCorpus"]
)
def test_epoch_shuffle_scale_tracks_state_and_restores(spark, tmp_path, make):
    """Epoch jobs run at data-scaled shuffle parallelism: a bounded epoch
    must not pay the session's reduce-parallelism floor (128 micro-tasks
    per tiny shuffle — measured ~13 s/epoch at sf0.1/local[32] before the
    fix), while a large state keeps the session ceiling. The session conf
    is restored exactly, even across an epoch that raises. Both corpus
    operators scope their epochs through session.scoped_shuffle_partitions."""
    c, batch = make(spark, tmp_path)
    ceil_p = spark.conf.get("spark.sql.shuffle.partitions")
    floor_key = "spark.sql.adaptive.coalescePartitions.minPartitionNum"
    old_floor = spark.conf.get(floor_key, None)

    # empty state: the minimum parallelism, floor lowered to match
    with c._epoch_shuffle_scale(spark):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
        assert spark.conf.get(floor_key) == "4"
    assert spark.conf.get("spark.sql.shuffle.partitions") == ceil_p
    assert spark.conf.get(floor_key, None) == old_floor

    # a real epoch leaves the session conf untouched (scope is the epoch)
    c.apply_epoch(spark, batch, 0)
    assert spark.conf.get("spark.sql.shuffle.partitions") == ceil_p
    assert spark.conf.get(floor_key, None) == old_floor

    # an epoch that raises inside the scope restores the conf too
    with pytest.raises(RuntimeError, match="epoch failed"):
        with c._epoch_shuffle_scale(spark):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
            raise RuntimeError("epoch failed")
    assert spark.conf.get("spark.sql.shuffle.partitions") == ceil_p
    assert spark.conf.get(floor_key, None) == old_floor

    # large state keeps the session ceiling (no down-scale at 100 TB)
    c._ROWS_PER_PARTITION = 1  # 1 row per partition => p >= ceiling
    with c._epoch_shuffle_scale(spark):
        assert spark.conf.get("spark.sql.shuffle.partitions") == ceil_p
        assert spark.conf.get(floor_key, None) == old_floor
