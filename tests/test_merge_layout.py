"""The CoW merge's physical layout and fixed per-epoch cost: one file per
touched bucket from one shuffle and a write of at most one task per core,
a target read and a stream batch that list their paths without a Spark
job, bucket discovery as one single-stage job, dead letters quarantined
on every merge path, plan fragments shared by every
LakeTable of the same shape, and a merge and maintenance rewrites keyed on
the bucket the key hashes to rather than the stored column. Also the log
writer's explicit parquet types and the package zip's cleanup."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from oplogtoredis_spark import session
from oplogtoredis_spark.config import EngineConfig
from oplogtoredis_spark.functions.routing import bucket_for
from oplogtoredis_spark.plans.oracle import assert_parity, replay_oracle
from oplogtoredis_spark.sources.generator import generate_events, write_events
from oplogtoredis_spark.sources.schemas import EVENT_SCHEMA, TARGET_SCHEMA
from oplogtoredis_spark.streaming import lake as lake_mod
from oplogtoredis_spark.streaming.lake import LakeTable
from oplogtoredis_spark.streaming.runner import run_to_completion

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COLS = (
    "repo string, path string, ts long, tx_idx int, op string, "
    "commit string, lang string, content string"
)


def _batch(spark, keys, ts, content="v"):
    return spark.createDataFrame(
        [(r, p, ts << 32, 0, "u", "c", "py", f"{content}-{r}/{p}") for r, p in keys],
        COLS,
    )


def _keys_by_bucket(spark, n_keys, n_buckets):
    """{bucket: [(repo, path), ...]} over n_keys synthetic keys."""
    rows = (
        spark.createDataFrame(
            [(f"r{i % 37}", f"f{i}.py") for i in range(n_keys)], "repo string, path string"
        )
        .withColumn("b", bucket_for(F.col("repo"), F.col("path"), n_buckets))
        .collect()
    )
    out: dict = {}
    for r in rows:
        out.setdefault(r.b, []).append((r.repo, r.path))
    return out


def _jobs(spark, run):
    """(result of run(), ids of the Spark jobs it started)."""
    sc = spark.sparkContext
    group = f"t-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sorted(sc.statusTracker().getJobIdsForGroup(group))


def _seeded(spark, path, n_buckets, n_keys=400):
    kb = _keys_by_bucket(spark, n_keys, n_buckets)
    assert len(kb) == n_buckets
    t = LakeTable.create(path, TARGET_SCHEMA, n_buckets=n_buckets)
    t.merge_batch(_batch(spark, [k for ks in kb.values() for k in ks], 1), 0)
    return t, kb


def _shuffle_stages(spark, jobs):
    """How many stages of ``jobs`` wrote shuffle output (a stage that a
    later job reuses is counted once; a skipped stage never ran)."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    stages = {s for j in jobs for s in sc.statusTracker().getJobInfo(j).stageIds}
    n = 0
    for s in stages:
        try:
            n += store.lastStageAttempt(s).shuffleWriteRecords() > 0
        except Py4JJavaError:
            continue
    return n


@pytest.mark.parametrize("k", [2, 12])
def test_one_file_per_touched_bucket_in_one_wave(spark, tmp_path, k):
    # fewer touched buckets (k=2) than cores and more (k=12) run the same
    # plan: one shuffle on the bucket, then the write
    t, kb = _seeded(spark, str(tmp_path / "t"), 32)
    touched = sorted(kb)[:k]
    batch = _batch(spark, [kk for b in touched for kk in kb[b]], 2, "new")
    stats, jobs = _jobs(spark, lambda: t.merge_batch(batch, 1))
    assert stats["affected_buckets"] == k

    m = t.manifest()
    new_dirs = {
        b: d for b, d in m["buckets"].items()
        if d.startswith(f"data/v{m['version']:08d}-")
    }
    assert sorted(int(b) for b in new_dirs) == touched
    for d in new_dirs.values():
        assert len(glob.glob(os.path.join(t.path, d, "*.parquet"))) == 1

    # the last job of the merge is the write's result stage
    tracker = spark.sparkContext.statusTracker()
    write_stage = max(tracker.getJobInfo(jobs[-1]).stageIds)
    n_tasks = tracker.getStageInfo(write_stage).numTasks
    assert n_tasks <= spark.sparkContext.defaultParallelism
    assert _shuffle_stages(spark, jobs) == 1

    got = t.read(spark).toPandas()
    assert len(got) == sum(len(v) for v in kb.values())
    assert got.groupby(["repo", "path"]).size().max() == 1
    assert (got["content"].str.startswith("new-")).sum() == sum(len(kb[b]) for b in touched)


def test_target_read_over_many_buckets_starts_no_job(spark, tmp_path):
    t, kb = _seeded(spark, str(tmp_path / "t"), 64, n_keys=800)
    live = sorted(int(b) for b in t.manifest()["buckets"])
    assert len(live) > 32  # past Spark's default parallel-listing threshold
    df, jobs = _jobs(spark, lambda: t.read(spark, include_deleted=True, buckets=live))
    assert jobs == []
    assert spark.conf.get(session.LISTING_THRESHOLD_KEY) == str(session.DRIVER_LISTING_PATHS)
    assert df.count() == sum(len(v) for v in kb.values())


def test_stream_batch_past_listing_threshold_starts_no_job(spark, tmp_path):
    d = str(tmp_path / "ev")
    write_events(generate_events(n_events=200, n_repos=5, seed=3).head(80), d, n_files=80)
    batches = []
    q = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 40)
        .parquet(d)
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        # runs no action: any job in the stream's group is the source's own
        .foreachBatch(lambda df, batch_id: batches.append(batch_id))
        .start()
    )
    assert q.awaitTermination(120)
    assert batches == [0, 1]
    # the stream's clone of the session lists each 40-file batch on the driver
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert list(jobs) == []


def _discovery_table(spark, path):
    """A table above the adaptive-dense bucket limit: every merge on it
    after the first runs discovery."""
    n = 2 * LakeTable.ADAPTIVE_DENSE_MAX_BUCKETS
    return _seeded(spark, path, n, n_keys=16 * n)


def test_discovery_is_one_single_stage_job(spark, tmp_path):
    t, kb = _discovery_table(spark, str(tmp_path / "t"))
    touched = sorted(kb)[:5]
    batch = _batch(spark, [kb[b][0] for b in touched], 2, "new")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before_read = []
    read = t.read

    def spied_read(*args, **kwargs):
        group = sc.getLocalProperty("spark.jobGroup.id")
        before_read.extend(sorted(tracker.getJobIdsForGroup(group)))
        return read(*args, **kwargs)

    t.read = spied_read
    stats, jobs = _jobs(spark, lambda: t.merge_batch(batch, 1))
    assert not stats["adaptive_dense"] and stats["affected_buckets"] == len(touched)
    assert len(before_read) == 1 and len(jobs) > 1  # discovery, then the write
    assert len(tracker.getJobInfo(before_read[0]).stageIds) == 1
    assert stats["events_in"] == len(touched)  # the input observation completed


def _dense_table(spark, path):
    """Two epochs that touch every bucket of a small table: the next CoW
    merge is adaptive-dense."""
    t, kb = _seeded(spark, path, 8, n_keys=80)
    t.merge_batch(_batch(spark, [k for ks in kb.values() for k in ks], 2), 1)
    return t


#: (table factory, merge mode, adaptive-dense?) per merge path
_MERGE_PATHS = {
    "first": (lambda spark, p: LakeTable.create(p, TARGET_SCHEMA, n_buckets=8), "cow", False),
    "dense": (_dense_table, "cow", True),
    "discovery": (lambda spark, p: _discovery_table(spark, p)[0], "cow", False),
    "mor": (lambda spark, p: _seeded(spark, p, 8, n_keys=80)[0], "mor", False),
}


@pytest.mark.parametrize("merge_path", list(_MERGE_PATHS))
def test_discovery_commits_filtered_and_dead_letter_batches(spark, tmp_path, merge_path):
    make, mode, dense = _MERGE_PATHS[merge_path]
    filtered = _batch(spark, [("r1", "a.py")] * 3, 9).where(F.col("path") == "nope")
    dead = spark.createDataFrame(
        [(None, "f.py", 9 << 32, 0, "u", "c", "py", "x"),
         ("r1", None, 9 << 32, 1, "u", "c", "py", "y")],
        COLS,
    )
    for name, batch, n_dead in (("filtered", filtered, 0), ("dead", dead, 2)):
        # a fresh table each: an epoch that merges nothing resets the
        # dense estimate, so a second batch on the same table would not be
        t = make(spark, str(tmp_path / name))
        before = t.read(spark).count()
        v, live = t.current_version(), len(t.manifest()["buckets"])
        stats = t.merge_batch(batch, 7, merge_mode=mode)
        assert stats["adaptive_dense"] is dense
        # a dense epoch rewrites every bucket it read, whatever it merged
        assert stats["affected_buckets"] == (live if dense else 0)
        assert stats["unprocessable_in"] == n_dead
        assert t.current_version() == v + 1 and t.epoch_applied("", 7)
        quar = os.path.join(t.path, "_deadletter")
        if n_dead:
            got = spark.read.parquet(quar).collect()
            assert sorted(r.dl_reason for r in got) == ["null_path", "null_repo"]
        else:
            assert not os.path.exists(quar)
        assert t.read(spark).count() == before


def test_plan_fragments_shared_across_tables_rebuilt_on_shape_change(spark, tmp_path):
    cache = lake_mod._EPOCH_EXPR_CACHE
    cache.clear()
    path = str(tmp_path / "t")
    t1 = LakeTable.create(path, TARGET_SCHEMA, n_buckets=8)
    t1.merge_batch(_batch(spark, [("r", "a.py"), ("r", "b.py")], 1), 0)
    assert len(cache) == 1
    (cx,) = cache.values()

    # a second instance (a new stream on the same table) reuses them
    t2 = LakeTable(path)
    t2.merge_batch(_batch(spark, [("r", "c.py")], 2), 1)
    assert len(cache) == 1 and next(iter(cache.values())) is cx

    # a schema-evolving batch needs new fragments
    evolving = _batch(spark, [("r", "a.py")], 3).withColumn("stars", F.lit(7).cast("long"))
    stats = t2.merge_batch(evolving, 2, extra_payload_cols=("stars",))
    assert stats["schema_evolved"]
    assert len(cache) == 2

    # a new bucket count needs new fragments too
    t2.rebucket(spark, 16)
    t2.merge_batch(evolving.withColumn("ts", F.lit(4 << 32)), 3, extra_payload_cols=("stars",))
    assert len(cache) == 3
    assert sorted(k[-1] for k in cache) == [8, 8, 16]
    got = t2.read(spark).toPandas()
    assert sorted(got["path"]) == ["a.py", "b.py", "c.py"]
    assert got.set_index("path").loc["a.py", "stars"] == 7


def _rewrite_row(t, bucket, key, stored_bucket=None, move_to=None):
    """Alter one key's committed row the way a foreign writer or corruption
    could: give it ``stored_bucket`` in its bucket column, or move it out of
    ``bucket``'s file into ``move_to``'s dir."""
    m = t.manifest()
    (f,) = glob.glob(os.path.join(t.path, m["buckets"][str(bucket)], "*.parquet"))
    tbl = pq.read_table(f)
    df = tbl.to_pandas()
    hit = (df["repo"] == key[0]) & (df["path"] == key[1])
    assert hit.sum() == 1

    def write(frame, d):
        pq.write_table(
            pa.Table.from_pandas(frame, schema=tbl.schema, preserve_index=False),
            os.path.join(d, "foreign.parquet"),
        )

    # replaced, not rewritten in place: the Hadoop checksum sidecar of the
    # original file would no longer match
    os.remove(f)
    os.remove(os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc"))
    if stored_bucket is not None:
        df.loc[hit, "bucket"] = stored_bucket
        write(df, os.path.dirname(f))
    else:
        write(df[~hit], os.path.dirname(f))
        write(df[hit], os.path.join(t.path, m["buckets"][str(move_to)]))


def _one_row_per_key(spark, t, kb):
    got = t.read(spark).toPandas()
    assert got.groupby(["repo", "path"]).size().max() == 1
    assert len(got) == sum(len(v) for v in kb.values())
    return got


def test_wrong_stored_bucket_still_yields_one_row_per_key(spark, tmp_path):
    t, kb = _seeded(spark, str(tmp_path / "t"), 8, n_keys=80)
    true_b, wrong_b = sorted(kb)[0], sorted(kb)[1]
    key = kb[true_b][0]
    _rewrite_row(t, true_b, key, stored_bucket=wrong_b)
    # touches every bucket, the planted key's among them, and the bucket
    # its stored column names
    batch = _batch(spark, [key] + [ks[-1] for b, ks in kb.items() if b != true_b], 5, "new")
    t.merge_batch(batch, 1)
    got = t.read(spark).toPandas()
    assert got.groupby(["repo", "path"]).size().max() == 1
    row = got[(got["repo"] == key[0]) & (got["path"] == key[1])]
    assert row["content"].tolist() == [f"new-{key[0]}/{key[1]}"]
    assert row["bucket"].tolist() == [true_b]
    assert len(got) == sum(len(v) for v in kb.values())


def test_row_hashing_to_an_unread_bucket_fails_loud(spark, tmp_path):
    t, kb = _seeded(spark, str(tmp_path / "t"), 8, n_keys=80)
    home, foreign = sorted(kb)[0], sorted(kb)[1]
    key = kb[home][0]
    _rewrite_row(t, home, key, move_to=foreign)
    v = t.current_version()
    # every bucket but the key's own: its true bucket is never read
    batch = _batch(spark, [ks[-1] for b, ks in kb.items() if b != home], 5)
    with pytest.raises(RuntimeError, match="untouched buckets"):
        t.merge_batch(batch, 1)
    assert t.current_version() == v
    # a bucket-scoped fold of the foreign bucket refuses the same way
    with pytest.raises(RuntimeError, match="untouched buckets"):
        t.compact_buckets(spark, [foreign])
    assert t.current_version() == v
    # the whole-table fold puts the row back where its key hashes
    t.compact(spark, 0)
    _one_row_per_key(spark, t, kb)


@pytest.mark.parametrize(
    "rewrite", ["compact", "compact_buckets", "rewrite_clustered", "rebucket"]
)
def test_rewrites_place_rows_by_key_hash(spark, tmp_path, rewrite):
    t, kb = _seeded(spark, str(tmp_path / "t"), 8, n_keys=80)
    true_b, wrong_b = sorted(kb)[0], sorted(kb)[1]
    key = kb[true_b][0]
    _rewrite_row(t, true_b, key, stored_bucket=wrong_b)
    v = t.current_version()
    if rewrite == "compact":
        t.compact(spark, 0)
    elif rewrite == "compact_buckets":
        try:
            t.compact_buckets(spark, [true_b])
        except RuntimeError:
            assert t.current_version() == v  # refused, nothing committed
    elif rewrite == "rewrite_clustered":
        t.rewrite_clustered(spark, ["path"], files_per_bucket=2)
    else:
        t.rebucket(spark, 16)
        t.rebucket(spark, 8)
    _one_row_per_key(spark, t, kb)

    # a one-key merge reads only the bucket the key hashes to
    t.merge_batch(_batch(spark, [key], 9, "new"), 1)
    got = _one_row_per_key(spark, t, kb)
    row = got[(got["repo"] == key[0]) & (got["path"] == key[1])]
    assert row["content"].tolist() == [f"new-{key[0]}/{key[1]}"]
    assert row["bucket"].tolist() == [true_b]


def test_stream_reads_single_row_file_with_null_diff(spark, tmp_path):
    ev = generate_events(n_events=500, n_repos=5, seed=11)
    one = ev[(ev["op"] == "i") & ev["diff"].isna()].head(1)
    d = str(tmp_path / "ev")
    write_events(one, d, n_files=1)
    assert pq.read_schema(os.path.join(d, "events-00000.parquet")).field("diff").type == pa.string()
    cfg = EngineConfig(target_buckets=8)
    t = run_to_completion(spark, d, str(tmp_path / "tbl"), str(tmp_path / "ck"), cfg)
    assert_parity(t.read(spark).toPandas(), replay_oracle(one, ()))


def test_session_leaves_no_package_zip_in_tempdir(tmp_path):
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    child = (
        "import json, os, sys\n"
        f"sys.path.insert(0, {ROOT!r})\n"
        "from oplogtoredis_spark import session\n"
        "s = session.get_spark('zip-test', master='local[1]', shuffle_partitions=1)\n"
        "print(json.dumps({'dir': session._PKG_DIR,\n"
        "                  'zips': os.listdir(session._PKG_DIR)}))\n"
        "s.stop()\n"
    )
    env = {
        **os.environ,
        "TMPDIR": str(tmp),
        "OTR_SPARK_DRIVER_MEMORY": "1g",
        "OTR_SPARK_LOCAL_DIR": str(tmp_path / "local"),
    }
    out = subprocess.run(
        [sys.executable, "-c", child], env=env, capture_output=True, text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    seen = json.loads(out.stdout.strip().splitlines()[-1])
    # while the session ran, the zip sat in a private dir under TMPDIR
    assert os.path.dirname(seen["dir"]) == str(tmp)
    assert seen["zips"] == ["oplogtoredis_spark_pkg.zip"]
    # the process exit removed it
    assert not os.path.exists(seen["dir"])
    assert glob.glob(os.path.join(tmp, "**", "*.zip"), recursive=True) == []
