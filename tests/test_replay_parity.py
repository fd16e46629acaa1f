"""M1: batch replay parity against the single-threaded oracle.

Mirrors the reference's fault-injection baseline assertion (all events
delivered, in order, exactly once — integration-tests/fault-injection/
baseline_test.go:16-45) as final-table-state equality with per-row
sha2(content, 256) parity (the north_star contract).
"""

import pandas as pd

from oplogtoredis_spark.config import EngineConfig
from oplogtoredis_spark.plans.oracle import assert_parity, replay_oracle
from oplogtoredis_spark.plans.replay import final_state
from oplogtoredis_spark.sources.generator import generate_events

DENY = ("denied_org/repo0", "denied_org/repo1")
CFG = EngineConfig(denylist=DENY)


def _spark_state(spark, events_pd: pd.DataFrame) -> pd.DataFrame:
    sdf = spark.createDataFrame(events_pd)
    return final_state(sdf, CFG).toPandas()


def test_batch_replay_matches_oracle(spark, small_events):
    oracle = replay_oracle(small_events, DENY)
    engine = _spark_state(spark, small_events)
    assert len(engine) == len(oracle) > 0
    assert_parity(engine, oracle)


def test_duplicates_and_late_arrivals_collapse(spark):
    """Heavy duplication + heavy lateness still converges (HA_test analogue)."""
    ev = generate_events(
        n_events=2000, n_repos=20, paths_per_repo=5, seed=7,
        dup_frac=0.3, late_frac=0.4, late_window=200,
    )
    oracle = replay_oracle(ev, DENY)
    engine = _spark_state(spark, ev)
    assert_parity(engine, oracle)


def test_filters_drop_junk(spark, small_events):
    """Denylist, config repo, system.* paths and 'c' ops never reach the state."""
    engine = _spark_state(spark, small_events)
    assert not engine["repo"].isin(DENY).any()
    assert not (engine["repo"] == "config").any()
    assert not engine["path"].str.startswith("system.").any()


def test_transaction_tx_idx_tiebreak(spark):
    """Within one ts, the highest tx_idx wins (publisher.go:315-317 contract)."""
    rows = [
        # (seq, ts, tx_idx, wall, op, repo, path, commit, lang, content, diff)
        (0, 5 << 32, 0, pd.Timestamp("2024-01-01"), "i", "r/a", "f.py", "c0", "py", "v0", None),
        (1, 5 << 32, 1, pd.Timestamp("2024-01-01"), "u", "r/a", "f.py", "c1", "py", "v1", None),
        (2, 5 << 32, 2, pd.Timestamp("2024-01-01"), "u", "r/a", "f.py", "c2", "py", "v2", None),
        # a later-arriving but older-ts event must lose
        (3, 4 << 32, 9, pd.Timestamp("2024-01-01"), "u", "r/a", "f.py", "cX", "py", "vX", None),
    ]
    cols = ["seq", "ts", "tx_idx", "wall", "op", "repo", "path", "commit", "lang", "content", "diff"]
    ev = pd.DataFrame(rows, columns=cols)
    engine = _spark_state(spark, ev)
    assert len(engine) == 1
    assert engine.iloc[0]["content"] == "v2"
    assert engine.iloc[0]["last_tx_idx"] == 2


def test_winning_delete_removes_row(spark):
    rows = [
        (0, 5 << 32, 0, pd.Timestamp("2024-01-01"), "i", "r/a", "f.py", "c0", "py", "v0", None),
        (1, 6 << 32, 0, pd.Timestamp("2024-01-01"), "d", "r/a", "f.py", None, None, None, None),
        (2, 5 << 32, 0, pd.Timestamp("2024-01-01"), "i", "r/b", "g.py", "c1", "py", "v1", None),
    ]
    cols = ["seq", "ts", "tx_idx", "wall", "op", "repo", "path", "commit", "lang", "content", "diff"]
    ev = pd.DataFrame(rows, columns=cols)
    engine = _spark_state(spark, ev)
    assert list(engine["repo"]) == ["r/b"]
