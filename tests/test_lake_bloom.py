"""File-level Bloom indexes (LakeTable rewrite_clustered(bloom_cols=...) /
prune_plan(eq=...) / read_pruned(eq=...)): equality lookups on a column
UNCORRELATED with the sort order — where min/max stats cannot prune because
every file spans nearly the full value range — skip files via per-file
membership bitmaps, while the result stays equal to read().where(col == v)
bit-for-bit (Bloom filters have no false negatives; a false positive only
keeps a file; the exact predicate is re-applied on read)."""

import pytest
from pyspark.sql import functions as F

from oplogtoredis_spark.sources.schemas import TARGET_SCHEMA
from oplogtoredis_spark.streaming.lake import LakeTable
from tests.test_lake_skipping import _index_names_live_dirs


N = 1024


def _batch(spark, ids, ts, op="u"):
    """Envelope rows with two payload columns: ``x`` (sorted cluster key,
    i div 32) and ``h`` (Knuth-hash scatter — uncorrelated with x, unique
    per row, so a linear rewrite on x leaves every file's h range spanning
    ~the full domain: stats can never prune an h lookup)."""
    cols = (
        "repo string, path string, ts long, tx_idx int, op string,"
        " commit string, lang string, content string, x long, h long"
    )
    return spark.createDataFrame(
        [
            (
                "docs",
                str(i),
                ts << 32,
                int(i),
                op,
                f"c{ts}",
                "en",
                f"doc {i}",
                i // 32,
                _h(i),
            )
            for i in ids
        ],
        cols,
    )


def _h(i: int) -> int:
    return (i * 2654435761) % (1 << 31)


def _rows(df):
    return sorted((r.path, r.x, r.h) for r in df.collect())


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable.create(str(tmp_path / "tbl"), TARGET_SCHEMA, n_buckets=2)
    t.merge_batch(
        _batch(spark, range(N), ts=1), 0, extra_payload_cols=("x", "h")
    )
    t.rewrite_clustered(
        spark, ["x"], files_per_bucket=8, bloom_cols=["h"], bloom_bits=8192
    )
    return t


def test_bloom_prunes_where_stats_cannot(spark, table):
    v = _h(321)
    # stats alone (no spark handle): h ranges span the domain, nothing skips
    stats_only = table.prune_plan("h", eq=v)
    assert stats_only["files_skipped"] == 0
    plan = table.prune_plan("h", eq=v, spark=spark)
    assert plan["files_total"] >= 16
    assert plan["files_skipped"] / plan["files_total"] >= 0.8
    got = table.read_pruned(spark, "h", eq=v)
    want = table.read(spark).where(F.col("h") == v)
    assert _rows(got) == _rows(want)
    assert len(_rows(got)) == 1


def test_no_false_negatives_sampled(spark, table):
    """Every 37th value must be found through the pruned read — a wrongly
    skipped file would lose its row."""
    want = {(str(i), i // 32, _h(i)) for i in range(0, N, 37)}
    got = set()
    for i in range(0, N, 37):
        got |= set(_rows(table.read_pruned(spark, "h", eq=_h(i))))
    assert got == want


def test_absent_value_returns_empty_exactly(spark, table):
    v = _h(N + 5)  # never inserted
    got = table.read_pruned(spark, "h", eq=v)
    assert got.count() == 0
    assert got.columns == table.read(spark).columns


def test_eq_mutually_exclusive_with_range(table):
    with pytest.raises(ValueError, match="mutually exclusive"):
        table.prune_plan("h", lo=0, eq=1)


def test_bloom_validation(spark, table):
    with pytest.raises(ValueError, match="multiple of 64"):
        table.rewrite_clustered(spark, ["x"], bloom_cols=["h"], bloom_bits=100)
    with pytest.raises(ValueError, match="bloom_hashes"):
        table.rewrite_clustered(
            spark, ["x"], bloom_cols=["h"], bloom_hashes=0
        )
    with pytest.raises(ValueError, match="bloom column not in the table"):
        table.rewrite_clustered(spark, ["x"], bloom_cols=["nope"])


def test_uncastable_probe_skips_bloom_not_files(spark, table):
    """A probe that cannot cast to the recorded column type must disable
    bloom pruning (hashing NULL would test the seed's positions — a false
    negative) and must not skip files at PLAN time. (The read itself is
    ANSI's business: casting junk to bigint fails loudly there, which is
    the right posture — planning just must never lose data first.)"""
    plan = table.prune_plan("h", eq="not-a-long", spark=spark)
    assert plan["files_skipped"] == 0  # neither stats nor bloom may skip


def test_bloom_entries_survive_merges_for_untouched_buckets(spark, tmp_path):
    """Index carry-forward: a CoW merge drops ONLY the replaced buckets'
    entries — untouched buckets keep their blooms (and stats) and point
    lookups there still skip files. Without the carry-forward, the first
    merge after a rewrite silently killed bloom pruning table-wide."""
    t = LakeTable.create(str(tmp_path / "tbl"), TARGET_SCHEMA, n_buckets=8)
    t.merge_batch(
        _batch(spark, range(N), ts=1), 0, extra_payload_cols=("x", "h")
    )
    t.rewrite_clustered(
        spark, ["x"], files_per_bucket=8, bloom_cols=["h"], bloom_bits=8192
    )
    ref0 = t.manifest()["file_blooms_ref"]
    n_entries = len(t._load_blooms(t.manifest()))
    # merge ONE key: exactly one bucket's base is replaced -> a NEW filtered
    # sidecar (the old one stays immutable for time travel)
    t.merge_batch(_batch(spark, [5], ts=9), 1, extra_payload_cols=("x", "h"))
    m = t.manifest()
    assert m["file_blooms_ref"] and m["file_blooms_ref"] != ref0
    kept_entries = len(t._load_blooms(m))
    assert 0 < kept_entries < n_entries
    # untouched buckets still prune; every lookup stays exact
    skipped = 0
    for i in (100, 321, 5):
        plan = t.prune_plan("h", eq=_h(i), spark=spark)
        skipped += plan["files_skipped"]
        got = _rows(t.read_pruned(spark, "h", eq=_h(i)))
        assert got == _rows(t.read(spark).where(F.col("h") == _h(i)))
        assert len(got) == 1
    assert skipped > 0
    # a MoR delta merge replaces no base: the ref is copied VERBATIM — the
    # no-IO carry-forward that keeps per-epoch commits O(1) in index size
    ref1 = m["file_blooms_ref"]
    t.merge_batch(
        _batch(spark, [7], ts=10),
        2,
        merge_mode="mor",
        extra_payload_cols=("x", "h"),
    )
    assert t.manifest()["file_blooms_ref"] == ref1
    assert len(t._load_blooms(t.manifest())) == kept_entries
    # time travel: the post-rewrite snapshot still plans with its own
    # (immutable) sidecar and its pruned read matches that snapshot
    old = t.prune_plan("h", eq=_h(100), version=2, spark=spark)
    assert old["files_skipped"] > 0
    got = _rows(t.read_pruned(spark, "h", eq=_h(100), version=2))
    assert got == _rows(t.read(spark, version=2).where(F.col("h") == _h(100)))


def test_bloom_entries_never_stale_after_cow_merge(spark, table):
    """Every bucket rewrite (a CoW merge, a bucket-scoped fold, a rebucket)
    writes NEW dirs; bloom entries are keyed by file path, so entries of
    replaced dirs are dropped (their files have no entry: kept), untouched
    buckets keep theirs, and the pruned read stays exact."""

    def exact():
        _index_names_live_dirs(table)
        for i in (0, 333):
            got = table.read_pruned(spark, "h", eq=_h(i))
            want = table.read(spark).where(F.col("h") == _h(i))
            assert _rows(got) == _rows(want)
            assert len(_rows(got)) == 1

    # a CoW merge on one bucket's keys keeps the other bucket's entries
    b0 = [r.path for r in table.read(spark).where(F.col("bucket") == 0).collect()]
    table.merge_batch(
        _batch(spark, [int(p) for p in b0[:8]], ts=8), 6, extra_payload_cols=("x", "h")
    )
    assert table._load_blooms(table.manifest())
    exact()
    table.merge_batch(
        _batch(spark, range(0, N, 2), ts=9), 7, extra_payload_cols=("x", "h")
    )
    exact()
    table.rewrite_clustered(spark, ["x"], files_per_bucket=4, bloom_cols=["h"])
    table.compact_buckets(spark, [1])
    assert table._load_blooms(table.manifest())
    exact()
    table.rebucket(spark, 4)
    assert not table._load_blooms(table.manifest())
    exact()


def test_delta_bucket_read_whole_under_eq(spark, tmp_path):
    """MoR stale-redelivery hazard under eq pruning: base holds the newer
    row, a delta redelivers an older image whose h matches the probe. The
    delta-carrying bucket must be read whole so the LWW collapse wins."""
    t = LakeTable.create(str(tmp_path / "mor"), TARGET_SCHEMA, n_buckets=1)
    t.merge_batch(
        _batch(spark, [1, 2, 3], ts=10),
        0,
        merge_mode="mor",
        extra_payload_cols=("x", "h"),
    )
    t.compact(spark, 0)
    t.rewrite_clustered(spark, ["x"], bloom_cols=["h"])
    # stale older image for id 1 lands in a delta (same h — key identity)
    t.merge_batch(
        _batch(spark, [1], ts=5),
        1,
        merge_mode="mor",
        extra_payload_cols=("x", "h"),
    )
    plan = t.prune_plan("h", eq=_h(1), spark=spark)
    assert None in plan["kept"].values()
    got = t.read_pruned(spark, "h", eq=_h(1))
    want = t.read(spark).where(F.col("h") == _h(1))
    assert _rows(got) == _rows(want)
    assert [r.last_ts for r in got.collect()] == [10 << 32]


def test_all_null_bloom_files_prune(spark, tmp_path):
    """Files whose bloom column is entirely NULL carry an all-zero bitmap
    (pre-seeded) — any probe skips them, which is sound: no non-null value
    lives there."""
    cols = (
        "repo string, path string, ts long, tx_idx int, op string,"
        " commit string, lang string, content string, x long, h long"
    )
    rows = [
        (
            "docs",
            str(i),
            1 << 32,
            i,
            "u",
            "c1",
            "en",
            f"doc {i}",
            i // 32,
            _h(i) if i >= 512 else None,
        )
        for i in range(N)
    ]
    t = LakeTable.create(str(tmp_path / "nulls"), TARGET_SCHEMA, n_buckets=1)
    t.merge_batch(
        spark.createDataFrame(rows, cols), 0, extra_payload_cols=("x", "h")
    )
    t.rewrite_clustered(
        spark, ["x"], files_per_bucket=16, bloom_cols=["h"]
    )
    plan = t.prune_plan("h", eq=_h(700), spark=spark)
    # the i<512 half of the files (all-null h, x-clustered) must all skip
    assert plan["files_skipped"] / plan["files_total"] >= 0.5
    got = t.read_pruned(spark, "h", eq=_h(700))
    assert _rows(got) == [(str(700), 700 // 32, _h(700))]


def test_zero_io_eq_planning(spark, table, monkeypatch):
    """bloom_cols ride the manifest stats too: an eq plan after the rewrite
    must touch no data-file footer."""
    import oplogtoredis_spark.streaming.lake as lake_mod

    assert table.manifest()["file_blooms_ref"]
    assert table._load_blooms(table.manifest())
    monkeypatch.setattr(
        lake_mod,
        "_footer_col_range",
        lambda p, c: pytest.fail(f"footer read attempted for {p}"),
    )
    plan = table.prune_plan("h", eq=_h(10), spark=spark)
    assert plan["files_skipped"] > 0


def test_string_bloom_column(spark, table):
    """String columns hash under their recorded type — path is unique per
    row, so a path lookup prunes most files."""
    table.rewrite_clustered(
        spark, ["x"], files_per_bucket=8, bloom_cols=["path", "h"]
    )
    plan = table.prune_plan("path", eq="777", spark=spark)
    assert plan["files_skipped"] / plan["files_total"] >= 0.8
    got = table.read_pruned(spark, "path", eq="777")
    assert _rows(got) == [("777", 777 // 32, _h(777))]
