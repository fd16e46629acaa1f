"""CDC engine benchmark: one workload per run, one JSON line out.

    python3 cdcbench/run.py --workload cdc_catchup --seed 1 --seconds 13 --trace 0

Run from the repository root. Inputs come from ``--seed``; every output is
checked against the pandas oracle (``plans/oracle.py``). The last stdout
line is ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``),
each as ``{"value", "unit"}``. A wrong output makes the exit code 1; a run
that cannot start (no engine package beside this directory) exits 2 without
a result. All scratch lives under ``.cdcbench_scratch/`` in the checkout and
is removed on exit, failure or SIGTERM; traced runs write their spans to
``.cdcbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Throughput is gated per wall second and per CPU second. The wall-clock
# rates are net of the time the hypervisor stole from the run's vCPUs: on a
# shared VM, minutes-long spells of steal moved raw wall-clock figures of
# identical code by up to 2x between runs. The CPU rate counts the work,
# the wall rates also its parallelism and its waits. Raw wall-clock figures,
# the stolen share and the replay's task CPU rate are reported per layer.
E2E = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ingest_events_per_s": "1/s",
    "ingest_events_per_cpu_s": "1/s",
    "replay_events_per_s": "1/s",
}
E2E_SRC = {
    "ingest_events_per_s": "ingest_events_per_net_s",
    "ingest_events_per_cpu_s": "ingest_events_per_cpu_s",
    "replay_events_per_s": "replay_events_per_net_s",
}
REPORTED = {
    "runner.ingest_raw_events_per_s": ("ingest_events_per_s", "1/s"),
    "runner.stolen_share": ("stolen_share", "ratio"),
    "runner.commit_lag_p50_s": ("lag_p50_s", "s"),
    "runner.commit_lag_p90_s": ("lag_p90_s", "s"),
    "plans.replay_raw_events_per_s": ("replay_events_per_s", "1/s"),
    "plans.replay_events_per_task_cpu_s": ("replay_events_per_cpu_s", "1/s"),
}

_SPAN_KINDS = ("lake.merge_batch", "plans.replay", "lww.collapse")
LAYER = {
    **{k: u for k, (_, u) in REPORTED.items()},
    "session.start_s": "s",
    "sources.gen_late_p99_s": "s",
    "runner.epochs": "count",
    "runner.rows_per_epoch_p50": "count",
    "runner.overhead_p50_s": "s",
    "runner.backlog_files_max": "count",
    "runner.self_s": "s",
    "lake.merge_p50_s": "s",
    "lake.merge_p90_s": "s",
    "lake.phase.setup_s": "s",
    "lake.phase.affected_s": "s",
    "lake.phase.tgt_plan_s": "s",
    "lake.phase.merge_write_s": "s",
    "lake.phase.bookkeeping_s": "s",
    "lake.affected_bucket_frac": "ratio",
    "lake.rows_rewritten_per_event": "ratio",
    "lake.dedup_hit_frac": "ratio",
    "filters.scan_s": "s",
    "lww.collapse_s": "s",
    **{
        f"spark.{kind}.{m}": u
        for kind in _SPAN_KINDS
        for m, u in (("task_s", "s"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"))
    },
}


def _hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def isolate(scratch: str) -> None:
    """Point everything Python or the JVMs would put in /tmp or a shared
    spill dir at the run's scratch (the engine zips itself for executors
    into tempfile's directory; SPARK_LOCAL_DIRS beats spark.local.dir)."""
    import tempfile

    os.environ["TMPDIR"] = scratch
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    # spark-submit's launcher JVM, which spark.*.extraJavaOptions do not reach
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={scratch}"
    tempfile.tempdir = None


def _jvm_pid(spark) -> int:
    return spark._jvm.java.lang.ProcessHandle.current().pid()


def _session(scratch: str, master: str):
    from oplogtoredis_spark.session import get_spark

    spark = get_spark(
        "cdcbench",
        master=master,
        extra_conf={
            # The heap starts small and grows only when a full collection
            # finds too little free (parallel collector, fixed 256 MB young
            # generation, no adaptive sizing), so the JVM's resident memory
            # follows the data it keeps, not a pause-time heuristic: with
            # G1, identical runs ended anywhere from 1.4 to 2.1 GB resident.
            "spark.driver.memory": "3g",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData"
                " -XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy -Xms512m -Xmn256m",
            "spark.local.dir": os.path.join(scratch, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # stage metrics are read back from the status store after the
            # timed regions: keep every job and stage of the run
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark, then the JVM, and wait until it has exited (the gateway
    JVM exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None or getattr(gateway, "proc", None) is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def _e2e(out: dict, setup: float, rss_mb: float) -> dict:
    from tracing import median

    vals = {
        "setup_s": setup,
        "peak_rss_mb": rss_mb,
        **{k: median(out[src]) for k, src in E2E_SRC.items()},
    }
    return {k: {"value": vals[k], "unit": u} for k, u in E2E.items()}


def _reported(out: dict) -> dict:
    from tracing import median

    return {k: {"value": median(out[src]), "unit": u} for k, (src, u) in REPORTED.items()}


def _layers(ctx, out: dict, session_s: float, stages: dict) -> dict:
    from tracing import median, quantile, self_times

    s = ctx.layer
    spans = ctx.tracer.spans
    selfs = self_times(spans)
    vals = {
        **{k: v["value"] for k, v in _reported(out).items()},
        "session.start_s": session_s,
        "sources.gen_late_p99_s": quantile(s.get("sources.gen_late_s", []), 0.99),
        "runner.epochs": median(s.get("runner.epochs", [])),
        "runner.rows_per_epoch_p50": median(s.get("runner.rows_per_epoch", [])),
        "runner.overhead_p50_s": median(s.get("runner.overhead_s", [])),
        "runner.backlog_files_max": max(s.get("runner.backlog_files", [0])),
        # stream wall not spent inside the sink: trigger planning, source
        # listing, offset commits
        "runner.self_s": median(
            selfs[sp["id"]] for sp in spans
            if sp["name"] == "runner.stream" and not sp["warm"]
        ),
        "lake.merge_p50_s": quantile(s.get("lake.merge_s", []), 0.5),
        "lake.merge_p90_s": quantile(s.get("lake.merge_s", []), 0.9),
    }
    for ph in ("setup", "affected", "tgt_plan", "merge_write", "bookkeeping"):
        vals[f"lake.phase.{ph}_s"] = median(s.get(f"lake.phase.{ph}_s", []))
    for k in ("lake.affected_bucket_frac", "lake.rows_rewritten_per_event",
              "lake.dedup_hit_frac", "filters.scan_s",
              "lww.collapse_s"):
        vals[k] = median(s.get(k, []))
    for kind in _SPAN_KINDS:
        groups = [
            stages.get(sp["group"], {"task_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0})
            for sp in spans
            if sp["name"] == kind and not sp["warm"]
        ]
        for m in ("task_s", "shuffle_write_mb", "spill_mb"):
            vals[f"spark.{kind}.{m}"] = median(g[m] for g in groups)
    return {k: {"value": vals[k], "unit": u} for k, u in LAYER.items()}


def run(workload: str, seed: int, seconds: float, trace: bool,
        scratch: str, spans_out: str) -> dict:
    import workloads as W
    from tracing import Tracer

    master = f"local[{len(os.sched_getaffinity(0))}]"
    ctx = W.Ctx(spark=None, scratch=scratch, seed=seed, seconds=seconds,
                tracer=Tracer(None, False), size=W.SIZES["full"][workload])
    timing = {}

    def start_session() -> float:
        t0 = time.perf_counter()
        ctx.spark = _session(scratch, master)
        timing["session"] = time.perf_counter() - t0
        ctx.tracer = Tracer(ctx.spark, trace)
        ctx.cpu_pids = (os.getpid(), _jvm_pid(ctx.spark))
        # the session span is recorded after the fact: no job group to set
        # before there is a context
        if trace:
            ctx.tracer.spans.append({"id": -1, "name": "session.start", "start": t0,
                                     "end": t0 + timing["session"], "parent": None,
                                     "batch_id": None, "group": None,
                                     "warm": False})
        return timing["session"]

    try:
        out, setup = W.RUNNERS[workload](ctx, start_session)
        rss_mb = sum(_hwm_kb(pid) for pid in ctx.cpu_pids) / 1024.0
        # every run's raw samples, whatever --trace says
        print("samples: " + json.dumps(out), file=sys.stderr)
        if trace:
            stages = ctx.tracer.stage_totals()
            metrics = _layers(ctx, out, timing["session"], stages)
            ctx.tracer.write(spans_out, {
                "workload": workload, "seed": seed,
                "e2e_while_traced": _e2e(out, setup, rss_mb),
                "stage_totals": stages,
            })
        else:
            metrics = _e2e(out, setup, rss_mb)
    finally:
        if ctx.spark is not None:
            _stop(ctx.spark)
    for e in ctx.errors:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    return {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("cdc_catchup", "cdc_live"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "oplogtoredis_spark", "__init__.py")):
        print(f"cdcbench: no oplogtoredis_spark package in {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    scratch_root = os.path.join(ROOT, ".cdcbench_scratch")
    scratch = os.path.join(scratch_root, f"{args.workload}-{os.getpid()}")
    os.makedirs(scratch)
    isolate(scratch)
    out_dir = os.path.join(ROOT, ".cdcbench_out")
    spans_out = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json")
    if args.trace:
        os.makedirs(out_dir, exist_ok=True)

    def on_term(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace),
                     scratch, spans_out)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(scratch_root)
        except OSError:
            pass  # another run's scratch is still there
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
