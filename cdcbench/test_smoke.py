"""Smoke test of the benchmark at toy size.

    python3 -m pytest cdcbench/test_smoke.py -q

One Spark session runs every workload of BENCHMARK.json end to end, traced
and untraced, checks its outputs, and asserts that every metric the file
names is emitted with its unit. It also shows that the output check fires
on a wrong state, and that the command fails without printing a result
where the engine package is missing.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run as bench  # noqa: E402
import workloads as W  # noqa: E402
from tracing import Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


@pytest.fixture(scope="module")
def scratch():
    d = os.path.join(ROOT, ".cdcbench_scratch", f"test-{os.getpid()}")
    os.makedirs(d)
    saved = {k: os.environ.get(k) for k in ("TMPDIR", "SPARK_LOCAL_DIRS")}
    bench.isolate(d)
    yield d
    for k, v in saved.items():
        if v is None:
            os.environ.pop(k, None)
        else:
            os.environ[k] = v
    shutil.rmtree(d, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(d))
    except OSError:
        pass  # a benchmark run's scratch is still there


@pytest.fixture(scope="module")
def spark(scratch):
    s = bench._session(scratch, "local[2]")
    yield s
    bench._stop(s)


def _run_toy(spark, scratch, workload, trace):
    d = os.path.join(scratch, f"{workload}-{int(trace)}")
    os.makedirs(d)
    ctx = W.Ctx(spark=None, scratch=d, seed=3, seconds=0.5,
                tracer=Tracer(None, False), size=W.SIZES["toy"][workload])

    def start_session():
        ctx.spark = spark
        ctx.tracer = Tracer(spark, trace)
        ctx.cpu_pids = (os.getpid(), bench._jvm_pid(spark))
        return 0.01

    out, setup = W.RUNNERS[workload](ctx, start_session)
    if trace:
        metrics = bench._layers(ctx, out, 0.01, ctx.tracer.stage_totals())
    else:
        metrics = bench._e2e(out, setup, 1.0)
    return ctx, metrics


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [False, True])
def test_workload_runs_checks_and_emits_every_metric(spark, scratch, workload, trace):
    ctx, metrics = _run_toy(spark, scratch, workload, trace)
    assert ctx.errors == []
    assert ctx.attempted > 0 and ctx.failed == 0
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(metrics) == {m["name"] for m in spec}
    for m in spec:
        got = metrics[m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float), m["name"]
    if not trace:
        assert all(metrics[m["name"]]["value"] > 0 for m in spec), metrics


def test_check_fires_on_a_wrong_state(spark, scratch):
    log = W.make_log(2_000, 50, seed=5)
    log_dir = os.path.join(scratch, "wrong_state_log")
    W.write_log(log, log_dir, n_files=2)
    oracle = W.oracle_of(log)
    # drop every delivery of one key's winning event: that key's expected
    # state moves back to an older version or disappears
    win = oracle.iloc[0]
    hit = (
        (log["repo"] == win["repo"]) & (log["path"] == win["path"])
        & (log["ts"] == win["last_ts"]) & (log["tx_idx"] == win["last_tx_idx"])
    )
    wrong = W.oracle_of(log[~hit])
    ctx = W.Ctx(spark=spark, scratch=scratch, seed=5, seconds=0.5,
                tracer=Tracer(None, False), size={})
    replay = W.final_state(
        spark.read.schema(W.EVENT_SCHEMA).parquet(log_dir), W.CFG
    )
    assert ctx.check("right", lambda: W.check_state(replay, oracle))
    assert not ctx.check("wrong", lambda: W.check_state(replay, wrong))
    assert (ctx.attempted, ctx.failed) == (2, 1)
    assert ctx.errors and ctx.errors[0].startswith("wrong:")


def test_fails_without_the_engine(scratch):
    bare = os.path.join(scratch, "bare")
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    r = subprocess.run(
        [*SPEC["command"], "--workload", SPEC["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=60,
    )
    assert r.returncode != 0
    assert r.stdout.strip() == ""
