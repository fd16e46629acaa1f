"""LakeTable unit tests: snapshot commits, idempotent batch replay, tombstones,
manifest-level bucket pruning, schema evolution."""

import pandas as pd
import pytest

from oplogtoredis_spark.sources.schemas import TARGET_SCHEMA
from oplogtoredis_spark.streaming.lake import LakeTable, conform_to_schema, merge_schemas


def _batch(spark, rows):
    cols = "repo string, path string, ts long, tx_idx int, op string, commit string, lang string, content string"
    return spark.createDataFrame(rows, cols)


@pytest.fixture()
def table(tmp_path):
    return LakeTable.create(str(tmp_path / "tbl"), TARGET_SCHEMA, n_buckets=8)


def test_insert_then_read(spark, table):
    b = _batch(spark, [("r/a", "f.py", 1 << 32, 0, "i", "c0", "py", "hello")])
    stats = table.merge_batch(b, batch_id=0)
    assert stats["applied"] == 1
    got = table.read(spark).toPandas()
    assert len(got) == 1
    assert got.iloc[0]["content"] == "hello"
    assert got.iloc[0]["last_ts"] == 1 << 32


def test_batch_id_replay_is_noop(spark, table):
    b = _batch(spark, [("r/a", "f.py", 1 << 32, 0, "i", "c0", "py", "v1")])
    table.merge_batch(b, batch_id=0)
    v1 = table.current_version()
    # replaying the same epoch (HA double-run / post-restart re-send) is a no-op
    b2 = _batch(spark, [("r/a", "f.py", 9 << 32, 0, "u", "c9", "py", "SHOULD NOT APPLY")])
    stats = table.merge_batch(b2, batch_id=0)
    assert stats.get("skipped_replay") is True
    assert table.current_version() == v1
    assert table.read(spark).toPandas().iloc[0]["content"] == "v1"


def test_lww_merge_predicate(spark, table):
    table.merge_batch(
        _batch(spark, [("r/a", "f.py", 5 << 32, 0, "i", "c0", "py", "v5")]), 0
    )
    # older event in a later batch must NOT overwrite (WHEN MATCHED AND src>tgt)
    stats = table.merge_batch(
        _batch(spark, [("r/a", "f.py", 3 << 32, 7, "u", "cX", "py", "OLD")]), 1
    )
    assert stats["applied"] == 0 and stats["dedup_hits"] == 1
    assert table.read(spark).toPandas().iloc[0]["content"] == "v5"
    # newer event applies
    table.merge_batch(
        _batch(spark, [("r/a", "f.py", 6 << 32, 0, "u", "c6", "py", "v6")]), 2
    )
    assert table.read(spark).toPandas().iloc[0]["content"] == "v6"


def test_tombstone_blocks_late_update(spark, table):
    table.merge_batch(
        _batch(spark, [("r/a", "f.py", 5 << 32, 0, "i", "c0", "py", "v5")]), 0
    )
    table.merge_batch(
        _batch(spark, [("r/a", "f.py", 8 << 32, 0, "d", None, None, None)]), 1
    )
    assert len(table.read(spark).toPandas()) == 0
    # late event older than the delete: tombstone wins, row must NOT resurrect
    table.merge_batch(
        _batch(spark, [("r/a", "f.py", 6 << 32, 0, "u", "c6", "py", "ZOMBIE")]), 2
    )
    assert len(table.read(spark).toPandas()) == 0
    # but a genuinely newer insert revives the key
    table.merge_batch(
        _batch(spark, [("r/a", "f.py", 9 << 32, 0, "i", "c9", "py", "alive")]), 3
    )
    got = table.read(spark).toPandas()
    assert list(got["content"]) == ["alive"]


def test_bucket_pruning(spark, table):
    rows = [
        (f"r/{i}", "f.py", 1 << 32, 0, "i", "c", "py", f"v{i}") for i in range(20)
    ]
    table.merge_batch(_batch(spark, rows), 0)
    m0 = table.manifest()
    # a single-key batch must rewrite only that key's bucket
    stats = table.merge_batch(
        _batch(spark, [("r/0", "f.py", 2 << 32, 0, "u", "c2", "py", "v0b")]), 1
    )
    assert stats["affected_buckets"] == 1
    m1 = table.manifest()
    changed = [b for b in m0["buckets"] if m0["buckets"][b] != m1["buckets"].get(b)]
    assert len(changed) == 1
    # untouched buckets still point at the old snapshot dirs
    assert all(m1["buckets"][b] == m0["buckets"][b] for b in m0["buckets"] if b not in changed)
    got = table.read(spark).toPandas()
    assert len(got) == 20
    assert got.set_index("repo").loc["r/0", "content"] == "v0b"


def test_within_batch_duplicates_and_txn_order(spark, table):
    # duplicates + tx_idx tie-break inside ONE batch
    rows = [
        ("r/a", "f.py", 5 << 32, 0, "i", "c0", "py", "t0"),
        ("r/a", "f.py", 5 << 32, 1, "u", "c1", "py", "t1"),
        ("r/a", "f.py", 5 << 32, 1, "u", "c1", "py", "t1"),  # exact dup
        ("r/a", "f.py", 5 << 32, 2, "u", "c2", "py", "t2"),
    ]
    table.merge_batch(_batch(spark, rows), 0)
    got = table.read(spark).toPandas()
    assert list(got["content"]) == ["t2"]
    assert got.iloc[0]["last_tx_idx"] == 2


def test_schema_evolution_added_column(spark, table):
    table.merge_batch(
        _batch(spark, [("r/a", "f.py", 1 << 32, 0, "i", "c0", "py", "v1")]), 0
    )
    # phase 2: events now carry `stars`
    b2 = spark.createDataFrame(
        [("r/b", "g.py", 2 << 32, 0, "i", "c1", "py", "v2", 777)],
        "repo string, path string, ts long, tx_idx int, op string, commit string, lang string, content string, stars long",
    )
    stats = table.merge_batch(b2, 1, extra_payload_cols=("stars",))
    assert stats["schema_evolved"] is True
    got = table.read(spark).toPandas().set_index("repo")
    # old rows read back with null stars; new rows carry the value
    assert pd.isna(got.loc["r/a", "stars"])
    assert got.loc["r/b", "stars"] == 777


@pytest.mark.parametrize("sid", [None, 99])
def test_bucket_without_registered_schema_id_fails_read(spark, table, sid):
    """A live bucket whose schema id is missing, or names no schema in
    ``schemas``, breaks the manifest format: read() fails naming the
    bucket instead of guessing the bucket's schema from its files."""
    table.merge_batch(
        _batch(spark, [("r/a", "f.py", 1 << 32, 0, "i", "c0", "py", "v1")]), 0
    )
    m = table.manifest()
    (b,) = m["buckets"]
    sids = dict(m["bucket_schema_id"])
    if sid is None:
        del sids[b]
    else:
        sids[b] = sid
    table._write_manifest({**m, "version": m["version"] + 1, "bucket_schema_id": sids})
    with pytest.raises(ValueError, match=f"bucket {b} names schema id {sid!r}"):
        table.read(spark)


def test_merge_schemas_widening():
    from pyspark.sql import types as T

    cur = T.StructType([T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())])
    inc = T.StructType([T.StructField("a", T.LongType()), T.StructField("c", T.DoubleType())])
    out = merge_schemas(cur, inc)
    assert dict((f.name, f.dataType.simpleString()) for f in out.fields) == {
        "a": "bigint", "b": "string", "c": "double"
    }
    with pytest.raises(ValueError):
        merge_schemas(
            T.StructType([T.StructField("a", T.StringType())]),
            T.StructType([T.StructField("a", T.LongType())]),
        )


def test_atomic_commit_visibility(spark, table, tmp_path):
    """A reader opened between commits sees a consistent snapshot version."""
    table.merge_batch(
        _batch(spark, [("r/a", "f.py", 1 << 32, 0, "i", "c0", "py", "v1")]), 0
    )
    v_before = table.current_version()
    df_before = table.read(spark)  # resolves manifest v_before's file list
    table.merge_batch(
        _batch(spark, [("r/a", "f.py", 2 << 32, 0, "u", "c1", "py", "v2")]), 1
    )
    # old snapshot files are immutable — the pre-commit reader still works
    assert df_before.toPandas().iloc[0]["content"] == "v1"
    assert table.current_version() == v_before + 1
    assert table.read(spark).toPandas().iloc[0]["content"] == "v2"


def test_merge_quarantines_unprocessable_rows(spark, tmp_path):
    """Rows missing the merge identity (null repo/ts) are counted in lineage
    and land in the _deadletter side output — never silently dropped
    (reference unprocessable metric, lib/oplog/tail.go:109-114)."""
    import os
    from pyspark.sql import functions as F
    from oplogtoredis_spark.sources.schemas import TARGET_SCHEMA

    t = LakeTable.create(str(tmp_path / "t"), TARGET_SCHEMA, n_buckets=4)
    rows = [
        (0, 1 << 32, 0, "i", "r1", "p1", "c", "py", "body"),
        (1, 2 << 32, 0, "i", None, "p2", "c", "py", "body"),   # null repo
        (2, None, 0, "i", "r3", "p3", "c", "py", "body"),       # null ts
        (3, 3 << 32, 0, "i", "r4", "p4", "c", "py", "body"),
    ]
    batch = spark.createDataFrame(
        rows,
        "seq long, ts long, tx_idx int, op string, repo string, path string,"
        " commit string, lang string, content string",
    )
    stats = t.merge_batch(batch, 0, epoch_ns="dl")
    assert stats["unprocessable_in"] == 2
    assert stats["rows_out"] == 2  # only the processable rows merged
    dl_dir = os.path.join(str(tmp_path / "t"), "_deadletter")
    dead = spark.read.parquet(dl_dir)
    assert dead.count() == 2
    assert set(r.dl_reason for r in dead.collect()) == {"null_repo", "null_ts"}
    assert dead.where(F.col("dl_epoch") == "dl:0").count() == 2
    # lineage carries the counter
    rec = [x for x in t.lineage() if x.get("unprocessable_in")]
    assert rec and rec[0]["unprocessable_in"] == 2


def _manifest(n_live, frac=None, frac_prev=None):
    return {
        "buckets": {str(b): f"data/v1/pb={b}" for b in range(n_live)},
        "affected_frac": frac,
        "affected_frac_prev": frac_prev,
    }


@pytest.mark.parametrize(
    "n_live, frac, frac_prev, dense",
    [
        (0, None, None, True),  # empty table: dense at any bucket count
        (0, 0.0, 0.0, True),
        (8, 1.0, None, False),  # one high fraction: discover
        (8, None, 1.0, False),
        (8, 0.9, 0.59, False),  # one below ADAPTIVE_DENSE_FRAC
        (8, 0.6, 0.6, True),  # two high fractions at <= cap: dense
        (LakeTable.ADAPTIVE_DENSE_MAX_BUCKETS, 1.0, 1.0, True),
        (LakeTable.ADAPTIVE_DENSE_MAX_BUCKETS + 1, 1.0, 1.0, False),  # above cap
    ],
)
def test_dense_epoch_decision(tmp_path, n_live, frac, frac_prev, dense):
    """The merge's one plan decision is a pure function of the manifest."""
    t = LakeTable(str(tmp_path / "unused"))
    assert t._dense_epoch(_manifest(n_live, frac, frac_prev)) is dense


def test_dense_merge_mode_matches_pruned(spark, tmp_path, monkeypatch):
    """A table whose dense history makes later epochs skip discovery must
    reach the identical table state and merge bookkeeping as one that
    discovers buckets on every epoch."""
    from pyspark.sql import functions as F

    from oplogtoredis_spark.sources.generator import generate_events

    ev = generate_events(n_events=1000, n_repos=15, seed=61)
    sdf = spark.createDataFrame(ev)
    quarters = [
        sdf.where((F.col("seq") >= lo) & (F.col("seq") < lo + 250))
        for lo in range(0, 1000, 250)
    ]

    tables, stats = {}, {}
    for mode in ("pruned", "dense"):
        t = LakeTable.create(str(tmp_path / mode), TARGET_SCHEMA, n_buckets=8)
        if mode == "pruned":
            # cap 0: no non-empty table is small enough to go dense
            monkeypatch.setattr(t, "ADAPTIVE_DENSE_MAX_BUCKETS", 0)
        stats[mode] = [
            t.merge_batch(q, i, epoch_ns=mode) for i, q in enumerate(quarters)
        ]
        tables[mode] = t

    def state(t):
        return (
            t.read(spark, include_deleted=True).toPandas()
            .sort_values(["repo", "path"]).reset_index(drop=True)
        )

    assert state(tables["pruned"]).equals(state(tables["dense"]))
    assert sorted(tables["pruned"].manifest()["buckets"]) == sorted(
        tables["dense"].manifest()["buckets"]
    )
    for k in ("applied", "dedup_hits", "deletes"):
        assert [s[k] for s in stats["pruned"]] == [s[k] for s in stats["dense"]]
    # each side took its path: lineage records the plan of every epoch
    lin = {m: [r for r in tables[m].lineage() if "adaptive_dense" in r]
           for m in tables}
    assert [r["adaptive_dense"] for r in lin["pruned"]] == [False] * 4
    # epoch 0 is an empty table, epoch 1 has one dense measurement on
    # record; from epoch 2 on, two dense measurements skip discovery
    assert [r["adaptive_dense"] for r in lin["dense"]] == [False, False, True, True]
    assert lin["dense"][-1]["affected_buckets"] == len(tables["dense"].manifest()["buckets"])
    # dense epochs still record per-bucket lineage and replay bookkeeping
    assert tables["dense"].epoch_applied("dense", 3)
    assert sum(lin["dense"][-1]["bucket_rows"].values()) == lin["dense"][-1]["rows_out"]


def test_dense_epoch_reads_delta_only_buckets(spark, tmp_path):
    """A dense CoW epoch rewrites every bucket it writes from a target read
    that must include merge-on-read deltas in buckets with no base yet;
    otherwise the rewrite drops the delta's rows."""
    from pyspark.sql import functions as F

    from oplogtoredis_spark.functions.routing import bucket_for

    t = LakeTable.create(str(tmp_path / "t"), TARGET_SCHEMA, n_buckets=8)
    cands = spark.createDataFrame(
        [("org/r", f"f{i}.py") for i in range(64)], "repo string, path string"
    )
    by_bucket = {}
    for r in cands.select("path", bucket_for(F.col("repo"), F.col("path"), 8)
                          .alias("b")).collect():
        by_bucket.setdefault(r.b, []).append(r.path)
    base_b, delta_b = sorted(b for b in by_bucket if len(by_bucket[b]) >= 2)[:2]
    a, k1, k2 = by_bucket[base_b][0], *by_bucket[delta_b][:2]

    def row(path, ts, content):
        return ("org/r", path, ts << 32, 0, "i", "c", "py", content)

    # two CoW epochs on one bucket: two dense measurements on record
    t.merge_batch(_batch(spark, [row(a, 1, "a1")]), 0, epoch_ns="s")
    t.merge_batch(_batch(spark, [row(a, 2, "a2")]), 1, epoch_ns="s")
    # a merge-on-read delta lands in a bucket that has no base
    t.merge_batch(_batch(spark, [row(k1, 3, "k1")]), 2, epoch_ns="s",
                  merge_mode="mor")
    assert str(delta_b) not in t.manifest()["buckets"]
    # the next CoW epoch is dense and writes that bucket
    s = t.merge_batch(_batch(spark, [row(k2, 4, "k2")]), 3, epoch_ns="s")
    assert s["adaptive_dense"] is True
    got = {r.path: r.content for r in t.read(spark).collect()}
    assert got == {a: "a2", k1: "k1", k2: "k2"}


def test_concurrent_commit_detected(spark, tmp_path):
    """Optimistic concurrency: two writers claiming the same snapshot
    version — exactly one wins; the loser raises ConcurrentCommitError
    instead of silently clobbering the winner's commit."""
    from oplogtoredis_spark.streaming.lake import ConcurrentCommitError

    t = LakeTable.create(str(tmp_path / "t"), TARGET_SCHEMA, n_buckets=4)
    m = t.manifest()
    winner = {**m, "version": m["version"] + 1}
    t._write_manifest(winner)
    loser = {**m, "version": m["version"] + 1}  # same base version
    with pytest.raises(ConcurrentCommitError, match="already committed"):
        t._write_manifest(loser)
    # the winner's commit is intact and current
    assert t.current_version() == winner["version"]


def test_orphan_manifest_recovery_after_crash(spark, tmp_path):
    """Crash between claiming manifest vN+1 and advancing CURRENT must NOT
    wedge the table: the restart's re-apply recognizes the orphan (CURRENT
    still at vN) as an abandoned commit and ADOPTS it — raises CURRENT over
    it (complete-on-link) and recommits on top (round-5 review: replacing
    the orphan could destroy a manifest a monotonic repair or a successor
    had already built on)."""
    import json
    import os

    import time

    t = LakeTable.create(str(tmp_path / "t"), TARGET_SCHEMA, n_buckets=4)
    t.merge_batch(_batch(spark, [("r/a", "f.py", 1 << 32, 0, "i", "c0", "py", "v1")]), 0, epoch_ns="s")
    v = t.current_version()
    # simulate the crashed attempt: manifest v+1 exists, CURRENT still at v;
    # backdate its mtime past the staleness horizon (a real crash orphan is
    # old by the time anyone restarts — fresh claims belong to live writers)
    orphan = {**t.manifest(), "version": v + 1}
    opath = os.path.join(t._manifest_dir, f"v{v + 1:08d}.json")
    with open(opath, "w") as f:
        json.dump(orphan, f)
    old = time.time() - 2 * LakeTable.ORPHAN_STALENESS_SECS
    os.utime(opath, (old, old))
    assert t.current_version() == v
    # the restarted writer re-applies the epoch: must adopt + recommit,
    # not raise out of the bounded retry loop
    stats = t.merge_batch(
        _batch(spark, [("r/a", "f.py", 2 << 32, 0, "u", "c1", "py", "v2")]), 1, epoch_ns="s"
    )
    assert stats.get("skipped_replay") is not True
    # the orphan was adopted at v+1; this merge committed on top at v+2
    assert t.current_version() == v + 2
    assert t.read(spark).toPandas().iloc[0]["content"] == "v2"
    # and the next commit proceeds normally
    t.merge_batch(_batch(spark, [("r/a", "f.py", 3 << 32, 0, "u", "c2", "py", "v3")]), 2, epoch_ns="s")
    assert t.read(spark).toPandas().iloc[0]["content"] == "v3"


def test_fresh_claim_is_not_reclaimed_as_orphan(spark, tmp_path):
    """ADVICE r3 race: writer B hitting FileExistsError while writer A is
    BETWEEN os.link and the CURRENT advance must NOT misclassify A's fresh
    manifest as a crash orphan and clobber it — B raises and retries; A's
    commit survives intact."""
    import json
    import os
    from oplogtoredis_spark.streaming.lake import ConcurrentCommitError

    t = LakeTable.create(str(tmp_path / "t"), TARGET_SCHEMA, n_buckets=4)
    m = t.manifest()
    v = m["version"] + 1
    # writer A mid-commit: v+1 manifest freshly claimed, CURRENT not advanced
    mine = {**m, "version": v, "writer_token": "writer-A", "mark": "A"}
    mpath = os.path.join(t._manifest_dir, f"v{v:08d}.json")
    with open(mpath, "w") as f:
        json.dump(mine, f)
    with pytest.raises(ConcurrentCommitError, match="mid-commit"):
        t._write_manifest({**m, "version": v})
    # A's claim is untouched and CURRENT never advanced past A's base
    with open(mpath) as f:
        assert json.load(f)["mark"] == "A"
    assert t.current_version() == m["version"]


def test_token_mismatch_before_current_advance_raises(spark, tmp_path, monkeypatch):
    """Defense-in-depth for the reclaim TOCTOU: if another writer replaces
    this writer's claimed manifest after the link, the PRE-advance
    writer-token re-read (ADVICE r4) detects it and raises WITHOUT touching
    CURRENT — the other writer's claim is still mid-commit, so advancing
    CURRENT for it would publish a version its writer hasn't finished
    committing (and would previously have claimed success for US)."""
    import json
    import os
    from oplogtoredis_spark.streaming.lake import ConcurrentCommitError

    t = LakeTable.create(str(tmp_path / "t"), TARGET_SCHEMA, n_buckets=4)
    m = t.manifest()
    v = m["version"] + 1
    mpath = os.path.join(t._manifest_dir, f"v{v:08d}.json")
    real_link = os.link

    def hijacked_link(src, dst, **kw):
        real_link(src, dst, **kw)
        # a racing stale-reclaimer replaces the manifest right after our claim
        other = {**m, "version": v, "writer_token": "someone-else"}
        tmp2 = dst + ".race"
        with open(tmp2, "w") as f:
            json.dump(other, f)
        os.replace(tmp2, dst)

    monkeypatch.setattr(os, "link", hijacked_link)
    with pytest.raises(ConcurrentCommitError, match="lost the claim"):
        t._write_manifest({**m, "version": v})
    monkeypatch.undo()
    # we never advanced CURRENT (the other claim is not committed yet) and
    # the other writer's manifest claim survives intact
    assert t.current_version() == m["version"]
    with open(mpath) as f:
        assert json.load(f)["writer_token"] == "someone-else"


def test_stalled_writer_cannot_regress_current(spark, tmp_path, monkeypatch):
    """ADVICE r4 (medium): writer A stalls >ORPHAN_STALENESS between its
    manifest claim and its CURRENT advance; a reclaimer adopts A's orphaned
    claim, commits v, and a successor commits v+1. When A resumes it must
    NOT os.replace CURRENT back to v — that would hide the committed v+1
    and expose it to a later orphan reclaim (committed-epoch loss)."""
    import json
    import os
    from oplogtoredis_spark.streaming.lake import ConcurrentCommitError

    t = LakeTable.create(str(tmp_path / "t"), TARGET_SCHEMA, n_buckets=4)
    m = t.manifest()
    v = m["version"] + 1
    real_link = os.link

    def stall_then_reclaim(src, dst, **kw):
        real_link(src, dst, **kw)
        # while A is "stalled": reclaimer adopts A's claim and commits v,
        # then a successor commits v+1 — CURRENT ends at v+1
        for w, tok in ((v, "reclaimer"), (v + 1, "successor")):
            other = {**m, "version": w, "writer_token": tok}
            wpath = os.path.join(t._manifest_dir, f"v{w:08d}.json")
            tmp2 = wpath + ".race"
            with open(tmp2, "w") as f:
                json.dump(other, f)
            os.replace(tmp2, wpath)
            cur = os.path.join(t._manifest_dir, ".cur.race")
            with open(cur, "w") as f:
                f.write(str(w))
            os.replace(cur, os.path.join(t._manifest_dir, "CURRENT"))

    monkeypatch.setattr(os, "link", stall_then_reclaim)
    with pytest.raises(ConcurrentCommitError, match="regress"):
        t._write_manifest({**m, "version": v})
    monkeypatch.undo()
    # the committed v+1 is still visible — CURRENT never moved backward
    assert t.current_version() == v + 1
    with open(os.path.join(t._manifest_dir, f"v{v + 1:08d}.json")) as f:
        assert json.load(f)["writer_token"] == "successor"


def test_repair_current_monotonic_restores_highest_manifest(spark, tmp_path):
    """The post-advance mismatch arm's repair: CURRENT behind the highest
    linked manifest is raised back to it (manifest existence at w proves all
    versions < w committed; a linked manifest is complete-on-link)."""
    import json
    import os

    t = LakeTable.create(str(tmp_path / "t"), TARGET_SCHEMA, n_buckets=4)
    m = t.manifest()
    for w in (1, 2):
        with open(os.path.join(t._manifest_dir, f"v{w:08d}.json"), "w") as f:
            json.dump({**m, "version": w, "writer_token": f"w{w}"}, f)
    # simulate the regression the mismatch arm repairs: CURRENT stomped to 0
    assert t.current_version() == 0
    t._repair_current_monotonic()
    assert t.current_version() == 2
    # idempotent / never lowers
    t._repair_current_monotonic()
    assert t.current_version() == 2


@pytest.mark.parametrize("newer_first", [True, False])
def test_concurrent_writers_serialize(spark, tmp_path, newer_first):
    """Two racing merge_batch writers on one table (HA double-run,
    integration-tests/fault-injection/HA_test.go:12-41): one wins the
    snapshot claim, the loser hits ConcurrentCommitError internally,
    re-reads, and lands — the final state equals the SERIAL application of
    both batches (LWW picks the newer event regardless of commit order)."""
    path = str(tmp_path / "t")
    t_a = LakeTable.create(path, TARGET_SCHEMA, n_buckets=4)
    t_b = LakeTable(path)
    ts_a, ts_b = (5 << 32, 3 << 32) if newer_first else (3 << 32, 5 << 32)
    batch_a = _batch(spark, [("r/a", "f.py", ts_a, 0, "u", "ca", "py", f"A@{ts_a}")])
    batch_b = _batch(spark, [("r/a", "f.py", ts_b, 0, "u", "cb", "py", f"B@{ts_b}")])

    # interleave: when A is about to claim its snapshot, B sneaks in a full
    # commit first — A's claim loses and its retry must re-apply over B's
    orig = t_a._write_manifest
    fired = {"done": False}

    def hijack(manifest):
        if not fired["done"]:
            fired["done"] = True
            t_b.merge_batch(batch_b, 0, epoch_ns="B")
        return orig(manifest)

    t_a._write_manifest = hijack
    stats = t_a.merge_batch(batch_a, 0, epoch_ns="A")
    assert stats.get("skipped_replay") is not True
    got = t_a.read(spark).toPandas()
    assert len(got) == 1
    # serial application: the newer (ts) event wins whatever the commit order
    assert got.iloc[0]["content"] == f"{'A' if ts_a > ts_b else 'B'}@{max(ts_a, ts_b)}"
    assert t_a.epoch_applied("A", 0) and t_a.epoch_applied("B", 0)


def test_batch_mode_out_of_order_ids_apply(spark, tmp_path):
    """epoch_ns='' (ad-hoc batch mode) must use exact-set replay bookkeeping:
    applying batch id 5 then batch id 3 applies BOTH (the streaming
    watermark shortcut id<=wm would silently skip 3 — ADVICE r2)."""
    t = LakeTable.create(str(tmp_path / "t"), TARGET_SCHEMA, n_buckets=4)
    t.merge_batch(_batch(spark, [("r/a", "f.py", 5 << 32, 0, "i", "c5", "py", "v5")]), 5)
    stats = t.merge_batch(
        _batch(spark, [("r/b", "g.py", 3 << 32, 0, "i", "c3", "py", "v3")]), 3
    )
    assert stats.get("skipped_replay") is not True and stats["applied"] == 1
    assert len(t.read(spark).toPandas()) == 2
    # but an exact replay of an applied id is still recognized
    stats = t.merge_batch(
        _batch(spark, [("r/b", "g.py", 9 << 32, 0, "u", "c9", "py", "NO")]), 3
    )
    assert stats.get("skipped_replay") is True


def test_quarantine_is_idempotent_per_epoch(spark, tmp_path):
    """Replaying the quarantine write for the same epoch (crash between
    quarantine and manifest commit) overwrites rather than duplicates."""
    import os
    from oplogtoredis_spark.operators.deadletter import quarantine
    from pyspark.sql import functions as F

    dead = spark.createDataFrame([(1, "null_ts")], "seq long, dl_reason string")
    qdir = str(tmp_path / "dl")
    assert quarantine(dead, qdir, "ns:7") == 1
    assert quarantine(dead, qdir, "ns:7") == 1  # replay of the same epoch
    got = spark.read.parquet(qdir)
    assert got.count() == 1
    assert got.where(F.col("dl_epoch") == "ns:7").count() == 1


def test_entry_size_histogram_in_lineage(spark, tmp_path):
    """The merge's observe pass records the reference's entry-size histogram
    (exponential buckets 8B->2GB, lib/oplog/tail.go:71-137) per batch; the
    lineage aggregator folds batches into the publish-path histograms."""
    from oplogtoredis_spark.functions.histograms import lineage_histograms

    t = LakeTable.create(str(tmp_path / "t"), TARGET_SCHEMA, n_buckets=4)
    rows = [
        ("r/a", "a.py", 1 << 32, 0, "i", "c", "py", "x" * 5),      # <=8
        ("r/b", "b.py", 1 << 32, 0, "i", "c", "py", "x" * 8),      # <=8 (boundary)
        ("r/c", "c.py", 1 << 32, 0, "i", "c", "py", "x" * 9),      # <=16
        ("r/d", "d.py", 1 << 32, 0, "i", "c", "py", "x" * 100),    # <=128
        ("r/e", "e.py", 1 << 32, 0, "d", None, None, None),        # null: unobserved
    ]
    stats = t.merge_batch(_batch(spark, rows), 0, epoch_ns="h")
    assert stats["entry_size_hist"] == {"8": 2, "16": 1, "128": 1}
    rec = [x for x in t.lineage() if x.get("entry_size_hist")]
    assert rec and rec[0]["entry_size_hist"] == {"8": 2, "16": 1, "128": 1}
    # second batch folds in
    t.merge_batch(
        _batch(spark, [("r/f", "f.py", 2 << 32, 0, "i", "c", "py", "x" * 2000)]),
        1, epoch_ns="h",
    )
    h = lineage_histograms(t.lineage())
    assert h["entry_size"] == {"8": 2, "16": 1, "128": 1, "2048": 1}
    assert h["batch_size"] == {"8": 2}  # two applied batches of <=8 events


def test_adaptive_pruning_dense_skips_discovery_sparse_resumes(spark, tmp_path):
    """VERDICT r4 #2 serial-term fix: after TWO consecutive dense
    measurements on a small table, merge_batch skips the
    per-epoch bucket-discovery job (adaptive_dense in lineage); a sparse
    epoch recalibrates the estimate (balls-into-bins from the applied
    count) and the NEXT epoch prunes again with a small affected set —
    misprediction costs at most one dense rewrite, only on tables small
    enough that this is cheap (ADAPTIVE_DENSE_MAX_BUCKETS)."""
    from pyspark.sql import functions as F
    from oplogtoredis_spark.sources.generator import generate_events

    t = LakeTable.create(str(tmp_path / "t"), TARGET_SCHEMA, n_buckets=8)
    ev = generate_events(n_events=1200, n_repos=16, seed=9)
    sdf = spark.createDataFrame(ev)
    # epochs 0+1: dense batches — discovery still runs (needs two dense
    # measurements before skipping)
    s0 = t.merge_batch(sdf.where(F.col("seq") < 400), 0, epoch_ns="s")
    s1 = t.merge_batch(
        sdf.where((F.col("seq") >= 400) & (F.col("seq") < 800)), 1, epoch_ns="s"
    )
    assert s0["adaptive_dense"] is False and s1["adaptive_dense"] is False
    m = t.manifest()
    assert m["affected_frac"] >= 0.6 and m["affected_frac_prev"] >= 0.6
    # epoch 2: two dense measurements on record — discovery skipped
    s2 = t.merge_batch(sdf.where(F.col("seq") >= 800), 2, epoch_ns="s")
    assert s2["adaptive_dense"] is True
    assert s2["affected_buckets"] == len(t.manifest()["buckets"])
    # epoch 3: ONE key (sparse) — still dense-skipped (one-epoch lag), but
    # the applied count recalibrates the estimate well below the threshold
    s3 = t.merge_batch(
        _batch(spark, [("org0/repo0", "zzz.py", 1 << 42, 0, "i", "c", "py", "x")]),
        3, epoch_ns="s",
    )
    assert s3["adaptive_dense"] is True
    assert t.manifest()["affected_frac"] < LakeTable.ADAPTIVE_DENSE_FRAC
    # epoch 4: pruning resumed — discovery runs, touches only 1 bucket
    s4 = t.merge_batch(
        _batch(spark, [("org0/repo0", "zzz.py", 2 << 42, 0, "u", "c2", "py", "y")]),
        4, epoch_ns="s",
    )
    assert s4["adaptive_dense"] is False
    assert s4["affected_buckets"] == 1
    got = t.read(spark).toPandas()
    assert got.set_index(["repo", "path"]).loc[("org0/repo0", "zzz.py")]["content"] == "y"


def test_adaptive_dense_gated_off_for_many_bucket_tables(spark, tmp_path, monkeypatch):
    """Misprediction on a big table costs an O(live-buckets) rewrite, so the
    dense skip is hard-gated by bucket count: above the cap, discovery
    always runs no matter how dense the history says the table is."""
    monkeypatch.setattr(LakeTable, "ADAPTIVE_DENSE_MAX_BUCKETS", 2)
    from pyspark.sql import functions as F
    from oplogtoredis_spark.sources.generator import generate_events

    t = LakeTable.create(str(tmp_path / "t"), TARGET_SCHEMA, n_buckets=8)
    ev = generate_events(n_events=900, n_repos=16, seed=11)
    sdf = spark.createDataFrame(ev)
    for e, (lo, hi) in enumerate(((0, 300), (300, 600), (600, 900))):
        s = t.merge_batch(
            sdf.where((F.col("seq") >= lo) & (F.col("seq") < hi)), e, epoch_ns="s"
        )
        assert s["adaptive_dense"] is False  # gate holds at every epoch
