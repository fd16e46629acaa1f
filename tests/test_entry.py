"""Driver-contract mirror: every queries() entry vs its oracle_sql() via
DuckDB — row count, schema (column names), and order-insensitive values —
exactly what the driver records into CORRECTNESS_r{N}.json, run at sf0.001
for speed (the driver runs sf0.01)."""

import json
import os
import subprocess
import sys

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return c


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(lambda v: f"{v:.4f}" if isinstance(v, float) else str(v))
    return df.sort_values(list(df.columns), kind="stable").reset_index(drop=True)


ORACLED = sorted(entry_mod.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, con, name):
    sdf = entry_mod.queries()[name](spark, SF)
    got = _normalize(sdf.toPandas())
    want = _normalize(con.execute(entry_mod.oracle_sql()[name]).fetchdf())
    assert list(got.columns) == list(want.columns), (
        f"{name}: column mismatch {list(got.columns)} vs {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: row count {len(got)} vs {len(want)}"
    if not got.equals(want):
        diff_cols = [c for c in got.columns if not got[c].equals(want[c])]
        c = diff_cols[0]
        bad = got[c] != want[c]
        i = bad.idxmax()
        raise AssertionError(
            f"{name}: value mismatch col={c} row={i}: "
            f"spark={got[c].iloc[i]!r} duckdb={want[c].iloc[i]!r} "
            f"({int(bad.sum())} differing rows)"
        )


def test_rows_only_queries_run(spark):
    for name in set(entry_mod.queries()) - set(entry_mod.oracle_sql()):
        df = entry_mod.queries()[name](spark, SF)
        assert df.count() >= 0, name


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert "user_id" in df.columns and "pkey" in df.columns


def test_scratch_dirs_removed_at_exit(tmp_path):
    """Fixture scratch made by _scratch_dir goes away when the process
    exits; the shared base dir and dirs the process did not make stay."""
    base = tmp_path / "scratch"
    foreign = base / "not_made_here"
    foreign.mkdir(parents=True)
    root = os.path.dirname(os.path.abspath(entry_mod.__file__))
    child = (
        "import json, os, sys\n"
        f"sys.path.insert(0, {root!r})\n"
        "import __spark_entry__ as e\n"
        "made = [e._scratch_dir('otr_a_'), e._scratch_dir('otr_b_')]\n"
        "os.makedirs(os.path.join(made[0], 'tbl', 'pb=0'))\n"
        "print(json.dumps(made))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", child],
        env={**os.environ, "OTR_SCRATCH_DIR": str(base)},
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    made = json.loads(out.stdout.strip().splitlines()[-1])
    assert len(made) == 2
    assert all(os.path.dirname(d) == str(base) for d in made)
    assert not any(os.path.exists(d) for d in made)
    assert base.is_dir() and foreign.is_dir()


def test_stream_fixtures_leave_no_views_or_streams(spark):
    """The stateful stream fixtures write a parquet file sink, not a memory
    sink: a run leaves no temp view and no active stream behind."""
    tables = sorted(t.name for t in spark.catalog.listTables())
    streams = [q.id for q in spark.streams.active]
    for name in ("funnel_stream_events", "heavy_hitters_stream_events"):
        assert entry_mod.queries()[name](spark, SF).count() > 0
    assert sorted(t.name for t in spark.catalog.listTables()) == tables
    assert [q.id for q in spark.streams.active] == streams


def test_run_stream_empty_output_keeps_schema(spark, tmp_path):
    """A stream that emits no rows reads back as an empty DataFrame with
    the stream's schema (schema inference over an empty sink would fail)."""
    from pyspark.sql import functions as F

    base = str(tmp_path)
    feed = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("ts_ms")
    )
    src, rows = entry_mod._dump_split_stream_dir(feed, base, "feed", "ts_ms")
    assert rows == 10
    out = entry_mod._run_stream(
        spark,
        base,
        [(src, "k long, ts_ms long")],
        lambda s: s.where(F.col("k") < 0).select(
            "k", (F.col("ts_ms") * 2).alias("t2")
        ),
        2,
    )
    assert out.schema.simpleString() == "struct<k:bigint,t2:bigint>"
    assert out.count() == 0
