"""Stream enrichment against the CDC lake: per-epoch snapshot pinning,
left/inner semantics, the broadcast-vs-shuffle decision, and driver-side
snapshot sizing."""

from __future__ import annotations

import pandas as pd
import pytest

from oplogtoredis_spark.sources.schemas import TARGET_SCHEMA
from oplogtoredis_spark.streaming.enrich import make_enrich_applier
from oplogtoredis_spark.streaming.lake import LakeTable

KEYS = ["repo", "path"]


def _state_batch(spark, rows):
    cols = "repo string, path string, ts long, tx_idx int, op string, commit string, lang string, content string"
    return spark.createDataFrame(rows, cols)


@pytest.fixture()
def lake(spark, tmp_path):
    t = LakeTable.create(str(tmp_path / "lake"), TARGET_SCHEMA, n_buckets=4)
    t.merge_batch(
        _state_batch(
            spark,
            [
                ("r/a", "f.py", 1 << 32, 0, "i", "c1", "py", "v1"),
                ("r/b", "g.py", 1 << 32, 0, "i", "c1", "py", "w1"),
            ],
        ),
        batch_id=0,
    )
    return t


def _events(spark, rows):
    # eid is long: pandas to_parquet writes python ints as INT64, and the
    # readStream schema must match the files byte-for-byte.
    return spark.createDataFrame(rows, "repo string, path string, eid long")


def _run_events_stream(spark, src_dir, ckpt, applier):
    q = (
        spark.readStream.schema("repo string, path string, eid long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.foreachBatch(applier)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_epoch_pins_one_snapshot_version(spark, lake, tmp_path):
    """Epoch N joins the state committed BEFORE it started — a commit made
    between two epochs is visible to the second and not the first, and
    every row of one epoch carries the same s_version."""
    src = tmp_path / "ev"
    src.mkdir()
    got: dict[int, pd.DataFrame] = {}

    def write(df, batch_id):
        got[batch_id] = df.toPandas()

    applier = make_enrich_applier(lake.path, write, on=KEYS)

    pd.DataFrame(
        [("r/a", "f.py", 1), ("r/x", "nope.py", 2)],
        columns=["repo", "path", "eid"],
    ).to_parquet(str(src / "00.parquet"))
    _run_events_stream(spark, str(src), str(tmp_path / "ck"), applier)

    v1 = lake.current_version()
    lake.merge_batch(
        _state_batch(spark, [("r/a", "f.py", 9 << 32, 0, "u", "c9", "py", "v2")]),
        batch_id=1,
    )

    pd.DataFrame([("r/a", "f.py", 3)], columns=["repo", "path", "eid"]).to_parquet(
        str(src / "01.parquet")
    )
    _run_events_stream(spark, str(src), str(tmp_path / "ck"), applier)

    e0 = got[0].set_index("eid").sort_index()
    assert e0.loc[1, "s_content"] == "v1"
    assert pd.isna(e0.loc[2, "s_content"])       # unknown key, left-join null
    assert set(e0["s_version"]) == {v1}
    e1 = got[1].set_index("eid")
    assert e1.loc[3, "s_content"] == "v2"
    assert set(e1["s_version"]) == {lake.current_version()}
    assert lake.current_version() > v1


def test_inner_drops_stateless_events_and_prefix(spark, lake, tmp_path):
    out = {}
    applier = make_enrich_applier(
        lake.path, lambda df, bid: out.setdefault(bid, df.toPandas()),
        on=KEYS, prefix="lake_", how="inner",
    )
    applier(_events(spark, [("r/a", "f.py", 1), ("r/x", "n.py", 2)]), 0)
    assert list(out[0]["eid"]) == [1]
    assert "lake_content" in out[0].columns and "lake_version" in out[0].columns


def test_broadcast_decision_by_snapshot_bytes(spark, lake, tmp_path):
    """Isolate the APPLIER's decision: kill Spark's own auto-broadcast so
    the only possible source of a BroadcastHashJoin is the applier's
    driver-side snapshot-bytes hint. (Above the threshold the applier
    leaves strategy to Spark, which may still broadcast from its own
    estimates in production — that's by design.)"""
    plans = {}

    def write_capture(df, batch_id):
        plans[batch_id] = df._jdf.queryExecution().executedPlan().toString()

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        make_enrich_applier(lake.path, write_capture, on=KEYS)(
            _events(spark, [("r/a", "f.py", 1)]), 0
        )
        assert "BroadcastHashJoin" in plans[0]

        make_enrich_applier(
            lake.path, write_capture, on=KEYS, broadcast_max_bytes=0
        )(_events(spark, [("r/a", "f.py", 1)]), 1)
        assert "BroadcastHashJoin" not in plans[1]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_snapshot_bytes_counts_all_live_dirs(lake):
    v = lake.current_version()
    b = lake.snapshot_bytes(v)
    assert b > 0
    assert lake.snapshot_bytes(0) == 0   # the empty created snapshot


def test_rejects_unknown_how(lake):
    with pytest.raises(ValueError, match="left|inner"):
        make_enrich_applier(lake.path, lambda *_: None, on=KEYS, how="full")


def test_prefix_collision_fails_loud(spark, lake):
    applier = make_enrich_applier(lake.path, lambda *_: None, on=KEYS)
    clashing = spark.createDataFrame(
        [("r/a", "f.py", "x", 1)],
        "repo string, path string, s_content string, eid long",
    )
    with pytest.raises(ValueError, match="s_content"):
        applier(clashing, 0)


def test_snapshot_bytes_tolerates_vanishing_files(spark, lake):
    import os
    from unittest import mock

    v = lake.current_version()
    real_getsize = os.path.getsize

    def flaky(p):
        if p.endswith(".parquet"):
            raise FileNotFoundError(p)  # reclaimed between listdir and stat
        return real_getsize(p)

    with mock.patch("os.path.getsize", side_effect=flaky):
        assert lake.snapshot_bytes(v) == 0  # shrinks, never raises
        # the rebucket policy sizes the table with the same count
        st = lake.maybe_rebucket(spark, target_bucket_bytes=1)
        assert st["rebucketed"] is False and st["live_bytes"] == 0


def test_lake_version_payload_column_rejected(spark, tmp_path):
    """A lake payload column literally named 'version' collides with the
    snapshot stamp — the set-based clash guard dedup'd it away and the
    stamp silently OVERWROTE the enriched payload; now rejected loudly.
    And the lake's internal 'deleted' flag no longer ships as payload."""
    t = LakeTable.create(str(tmp_path / "lv"), TARGET_SCHEMA, n_buckets=4)
    t.merge_batch(
        spark.createDataFrame(
            [("r/a", "f", 1 << 32, 0, "i", "c1", "py", "v1", 7)],
            "repo string, path string, ts long, tx_idx int, op string,"
            " commit string, lang string, content string, version int",
        ),
        0,
        extra_payload_cols=("version",),
    )
    captured = {}

    def write(df, _bid):
        captured["cols"] = df.columns
        df.collect()

    applier = make_enrich_applier(t.path, write, on=KEYS)
    batch = spark.createDataFrame([("r/a", "f", 1)], "repo string, path string, eid long")
    with pytest.raises(ValueError, match="'version' payload column"):
        applier(batch, 0)

    # a plain lake: payload excludes 'deleted', stamp present
    t2 = LakeTable.create(str(tmp_path / "lv2"), TARGET_SCHEMA, n_buckets=4)
    t2.merge_batch(
        _state_batch(spark, [("r/a", "f", 1 << 32, 0, "i", "c1", "py", "v1")]), 0
    )
    make_enrich_applier(t2.path, write, on=KEYS)(batch, 0)
    assert "s_deleted" not in captured["cols"]
    assert "s_version" in captured["cols"] and "s_content" in captured["cols"]
