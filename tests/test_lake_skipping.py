"""Clustered rewrite + footer-stats file skipping (LakeTable
rewrite_clustered / prune_plan / read_pruned): the pruned read must equal
read().where(...) bit-for-bit in every layout — CoW, clustered, MoR with
live deltas — while provably touching fewer files on clustered layouts."""

import pytest
from pyspark.sql import functions as F

from oplogtoredis_spark.sources.schemas import TARGET_SCHEMA
from oplogtoredis_spark.streaming.lake import LakeTable


LANGS = ["de", "en", "fr", "ja"]


def _batch(spark, ids, ts, op="u", lang=None):
    cols = (
        "repo string, path string, ts long, tx_idx int, op string,"
        " commit string, lang string, content string"
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
                lang or LANGS[i % 4],
                f"content {i} " * 3,
            )
            for i in ids
        ],
        cols,
    )


def _rows(df):
    return sorted(
        (r.path, r.lang, r.content, r.last_ts) for r in df.collect()
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable.create(str(tmp_path / "tbl"), TARGET_SCHEMA, n_buckets=4)
    t.merge_batch(_batch(spark, range(64), ts=1), 0)
    # updates move some rows' lang; one delete
    t.merge_batch(
        _batch(spark, range(0, 64, 8), ts=2, lang="en").unionByName(
            _batch(spark, [5], ts=2, op="d")
        ),
        1,
    )
    return t


def test_rewrite_clustered_preserves_state(spark, table):
    before = _rows(table.read(spark))
    v0 = table.current_version()
    st = table.rewrite_clustered(spark, ["lang"], files_per_bucket=3)
    assert st["clustered"] and st["version"] == v0 + 1
    assert _rows(table.read(spark)) == before
    assert table.manifest()["bucket_deltas"] == {}
    with pytest.raises(ValueError, match="at least one column"):
        table.rewrite_clustered(spark, [])


def test_read_pruned_equals_filter_and_skips_files(spark, table):
    table.rewrite_clustered(spark, ["lang"], files_per_bucket=4)
    plan = table.prune_plan("lang", "de", "de")
    # clustered layout: several files per bucket, most skipped for one lang
    assert plan["files_total"] > len(table.manifest()["buckets"])
    assert plan["files_skipped"] > 0
    got = table.read_pruned(spark, "lang", "de", "de")
    want = table.read(spark).where(F.col("lang") == "de")
    assert _rows(got) == _rows(want)
    assert len(_rows(got)) > 0


def test_read_pruned_long_column_range(spark, table):
    table.rewrite_clustered(spark, ["last_ts"], files_per_bucket=4)
    lo = 2 << 32
    got = table.read_pruned(spark, "last_ts", lo=lo)
    want = table.read(spark).where(F.col("last_ts") >= lo)
    assert _rows(got) == _rows(want)
    # only the ts=2 updates survive the range
    assert all(ts >= lo for (_, _, _, ts) in _rows(got))


def test_unclustered_layout_still_correct(spark, table):
    """Without clustering, stats ranges are wide — little skipping, but the
    result must still match exactly."""
    got = table.read_pruned(spark, "lang", "ja", "ja")
    want = table.read(spark).where(F.col("lang") == "ja")
    assert _rows(got) == _rows(want)


def test_all_files_skipped_keeps_schema(spark, table):
    table.rewrite_clustered(spark, ["lang"], files_per_bucket=4)
    got = table.read_pruned(spark, "lang", "zz", "zz")
    assert got.count() == 0
    assert got.columns == table.read(spark).columns


def test_unknown_column_keeps_every_file(spark, table):
    plan = table.prune_plan("no_such_col", lo=0)
    assert plan["files_skipped"] == 0 and plan["buckets_dropped"] == []


def test_delta_buckets_read_whole_base(spark, tmp_path):
    """The stale-redelivery hazard pinned: base holds the NEWER row (out of
    the predicate range), a later MoR delta redelivers an OLDER row (inside
    the range). Pruning the base file would resurrect the stale row; the
    plan must read delta-carrying buckets whole so the LWW collapse keeps
    winning."""
    t = LakeTable.create(str(tmp_path / "mor"), TARGET_SCHEMA, n_buckets=2)
    t.merge_batch(_batch(spark, [1, 2, 3], ts=10, lang="en"), 0, merge_mode="mor")
    t.compact(spark, 0)  # fold into base: newest rows, lang='en'
    # stale redelivery of an older image with lang='de' lands in a delta
    t.merge_batch(_batch(spark, [1], ts=5, lang="de"), 1, merge_mode="mor")
    plan = t.prune_plan("lang", "de", "de")
    assert None in plan["kept"].values()  # at least one bucket read whole
    got = t.read_pruned(spark, "lang", "de", "de")
    want = t.read(spark).where(F.col("lang") == "de")
    assert _rows(got) == _rows(want) == []  # the newer 'en' row still wins


def test_time_travel_pruned(spark, table):
    v_before = table.current_version()
    table.rewrite_clustered(spark, ["lang"], files_per_bucket=3)
    got = table.read_pruned(spark, "lang", "fr", "fr", version=v_before)
    want = table.read(spark, version=v_before).where(F.col("lang") == "fr")
    assert _rows(got) == _rows(want)


def test_read_pruned_requires_a_bound(spark, table):
    with pytest.raises(ValueError, match="lo and/or hi"):
        table.read_pruned(spark, "lang")


def test_manifest_stats_plan_reads_no_footers(spark, table, monkeypatch):
    """rewrite_clustered persists per-file column stats into the manifest;
    prune_plan must plan from them with ZERO data-file IO (footer reads
    poisoned to prove it)."""
    import oplogtoredis_spark.streaming.lake as lake_mod

    st = table.rewrite_clustered(spark, ["lang"], files_per_bucket=4)
    assert st["stat_files"] > 0
    assert table.manifest()["file_stats"]  # persisted
    monkeypatch.setattr(
        lake_mod, "_footer_col_range", lambda p, c: pytest.fail(
            f"footer read attempted for {p}"
        )
    )
    plan = table.prune_plan("lang", "de", "de")
    assert plan["files_skipped"] > 0


# --- Z-order (Morton) clustering --------------------------------------------
# A 32x32 grid over two INDEPENDENT numeric payload columns (x, y): linear
# sort on [x, y] gives tight files on x but scatters y across every file;
# zorder gives useful pruning on BOTH dimensions.


def _grid_batch(spark, n_side):
    cols = (
        "repo string, path string, ts long, tx_idx int, op string,"
        " commit string, lang string, content string, x long, y long"
    )
    return spark.createDataFrame(
        [
            (
                "docs",
                str(i),
                1 << 32,
                i,
                "u",
                "c1",
                "en",
                f"doc {i}",
                i // n_side,
                i % n_side,
            )
            for i in range(n_side * n_side)
        ],
        cols,
    )


@pytest.fixture()
def grid_table(spark, tmp_path):
    t = LakeTable.create(str(tmp_path / "grid"), TARGET_SCHEMA, n_buckets=1)
    t.merge_batch(_grid_batch(spark, 32), 0, extra_payload_cols=("x", "y"))
    return t


def _skip_frac(t, col, lo, hi):
    plan = t.prune_plan(col, lo, hi)
    return plan["files_skipped"] / plan["files_total"]


def test_zorder_prunes_both_dimensions(spark, grid_table):
    t = grid_table
    t.rewrite_clustered(
        spark, ["x", "y"], files_per_bucket=16, strategy="zorder",
        zorder_bits=5,
    )
    # each dimension's 4/32-value slice keeps only the Morton blocks that
    # intersect it — most files skip on EITHER predicate
    assert _skip_frac(t, "x", 0, 3) >= 0.5
    assert _skip_frac(t, "y", 0, 3) >= 0.5
    for col in ("x", "y"):
        got = t.read_pruned(spark, col, 0, 3)
        want = t.read(spark).where(F.col(col).between(0, 3))
        assert sorted((r.path, r[col]) for r in got.collect()) == sorted(
            (r.path, r[col]) for r in want.collect()
        )
        assert got.count() == 4 * 32


def test_linear_scatters_second_dimension(spark, grid_table):
    t = grid_table
    t.rewrite_clustered(spark, ["x", "y"], files_per_bucket=16)
    lin_y = _skip_frac(t, "y", 0, 3)
    assert _skip_frac(t, "x", 0, 3) >= 0.75  # leading column: tight
    assert lin_y <= 0.25  # scattered by the diverse leading column
    t.rewrite_clustered(
        spark, ["x", "y"], files_per_bucket=16, strategy="zorder",
        zorder_bits=5,
    )
    assert _skip_frac(t, "y", 0, 3) > lin_y


def test_zorder_preserves_state_and_validates(spark, grid_table):
    t = grid_table
    before = sorted((r.path, r.x, r.y) for r in t.read(spark).collect())
    st = t.rewrite_clustered(
        spark, ["x", "y"], files_per_bucket=8, strategy="zorder",
        zorder_bits=4,
    )
    assert st["clustered"] and st["stat_files"] > 0
    after_df = t.read(spark)
    assert "_z" not in after_df.columns  # the key never persists
    assert sorted((r.path, r.x, r.y) for r in after_df.collect()) == before
    with pytest.raises(ValueError, match=">= 2 cluster columns"):
        t.rewrite_clustered(spark, ["x"], strategy="zorder")
    with pytest.raises(ValueError, match="not numeric"):
        t.rewrite_clustered(spark, ["x", "lang"], strategy="zorder")
    with pytest.raises(ValueError, match="zorder_bits"):
        t.rewrite_clustered(
            spark, ["x", "y"], strategy="zorder", zorder_bits=0
        )
    with pytest.raises(ValueError, match="62-bit"):
        t.rewrite_clustered(
            spark,
            ["x", "y", "last_ts", "bucket"],
            strategy="zorder",
            zorder_bits=16,
        )
    with pytest.raises(ValueError, match="unknown strategy"):
        t.rewrite_clustered(spark, ["x", "y"], strategy="hilbert")


def _index_names_live_dirs(t):
    """Every file_stats / bloom key names a base dir the manifest lists."""
    m = t.manifest()
    keys = [*m.get("file_stats", {}), *t._load_blooms(m)]
    assert {k.rsplit("/", 1)[0] for k in keys} <= set(m["buckets"].values())


def _pruned_exact(spark, t, lang):
    got = t.read_pruned(spark, "lang", lang, lang)
    want = t.read(spark).where(F.col("lang") == lang)
    assert _rows(got) == _rows(want)
    return _rows(got)


def test_manifest_stats_never_stale_after_rewrite(spark, table):
    """Every bucket rewrite (a CoW merge, a bucket-scoped fold, a rebucket)
    writes NEW dirs; manifest stats are keyed by file path, so entries of
    replaced dirs are dropped, untouched buckets keep theirs, and the
    pruned read stays exact."""
    table.rewrite_clustered(spark, ["lang"], files_per_bucket=3)
    _index_names_live_dirs(table)
    # a bucket-scoped fold keeps the untouched buckets' stats
    table.compact_buckets(spark, [0])
    _index_names_live_dirs(table)
    assert table.manifest()["file_stats"]
    _pruned_exact(spark, table, "en")
    # merge touches every bucket (ids 0..63 spread over 4 buckets)
    table.merge_batch(_batch(spark, range(0, 64, 2), ts=9, lang="fr"), 7)
    _index_names_live_dirs(table)
    assert len(_pruned_exact(spark, table, "fr")) >= 32
    table.rewrite_clustered(spark, ["lang"], files_per_bucket=3)
    table.rebucket(spark, 8)
    _index_names_live_dirs(table)
    assert len(_pruned_exact(spark, table, "fr")) >= 32
