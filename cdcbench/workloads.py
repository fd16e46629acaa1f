"""The CDC workloads, their inputs and their output checks.

* ``cdc_catchup`` — a written backlog drained by a copy-on-write
  ``availableNow`` stream in a few large epochs that touch every bucket,
  then the same log replayed in batch.
* ``cdc_live`` — a pre-loaded 128-bucket table fed one-event files by an
  open-loop publisher at a fixed rate, then a burst of several epochs
  drained at the same admission bound. Epochs touch well under half of the
  buckets.

Both end the same way, so that every run reports the same end-to-end
metrics: the ingested table is checked against the oracle, and the log is
replayed in batch and checked too.

The engine is called only through its public functions and the options it
keeps; the merge plan is the engine's own choice.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from oplogtoredis_spark.config import EngineConfig
from oplogtoredis_spark.operators.filters import apply_all_filters
from oplogtoredis_spark.operators.lww import lww_collapse
from oplogtoredis_spark.plans.oracle import assert_parity, replay_oracle
from oplogtoredis_spark.plans.replay import final_state
from oplogtoredis_spark.sources.generator import generate_events
from oplogtoredis_spark.sources.schemas import EVENT_SCHEMA, TARGET_SCHEMA
from oplogtoredis_spark.streaming.lake import LakeTable
from oplogtoredis_spark.streaming.runner import start_stream

from tracing import Tracer, job_group, quantile, stage_totals

DENYLIST = ("denied_org/repo0", "denied_org/repo1")
CFG = EngineConfig(denylist=DENYLIST)
PATHS_PER_REPO = 10
# The warm-up log has a fixed seed, so warm-up work is the same in every run.
WARMUP_SEED = 0

# start_stream's processing-time trigger interval (seconds)
TRIGGER_S = 1.0
# cdc_live's offered rate in files (= events) per second: about half of the
# burst drain rate measured at its admission bound (see the README).
RATE = 8.0
# Input sizes. "full" is what the benchmark measures; "toy" runs every code
# path in seconds for the smoke test.
SIZES = {
    "full": {
        "cdc_catchup": dict(
            n_events=45_000, n_repos=2_000, files=24, per_trigger=8,
            buckets=32, warmup_events=3_000, replays=4,
        ),
        "cdc_live": dict(
            base_events=15_000, n_repos=3_000, buckets=128, file_events=1,
            rate=RATE, per_trigger=48, warmup_files=48, burst_files=3 * 48,
            replays=3,
        ),
    },
    "toy": {
        "cdc_catchup": dict(
            n_events=3_000, n_repos=50, files=8, per_trigger=4,
            buckets=8, warmup_events=1_000, replays=1,
        ),
        "cdc_live": dict(
            base_events=2_000, n_repos=50, buckets=16, file_events=1,
            rate=10.0, per_trigger=8, warmup_files=4, burst_files=2 * 8,
            replays=1,
        ),
    },
}

_ARROW_SCHEMA = pa.schema([
    ("seq", pa.int64()), ("ts", pa.int64()), ("tx_idx", pa.int32()),
    ("wall", pa.timestamp("us")), ("op", pa.string()), ("repo", pa.string()),
    ("path", pa.string()), ("commit", pa.string()), ("lang", pa.string()),
    ("content", pa.string()), ("diff", pa.string()),
])


@dataclass
class Ctx:
    """What one run shares across its phases."""

    spark: object
    scratch: str
    seed: int
    seconds: float
    tracer: Tracer
    size: dict
    cpu_pids: tuple = ()  # processes whose CPU time a timed region counts
    replays_run: int = 0
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    layer: dict = field(default_factory=dict)  # raw per-layer samples

    def cpu_s(self) -> float:
        """User + system CPU seconds used so far by the Python process and
        its JVM (unlike wall time, not inflated by CPU stolen by the host)."""
        ticks = 0
        for pid in self.cpu_pids:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])
        return ticks / os.sysconf("SC_CLK_TCK")

    def clock(self) -> tuple:
        """(wall, CPU of this process and its JVM, host CPU ticks) now."""
        return time.perf_counter(), self.cpu_s(), host_ticks()

    def since(self, c0: tuple) -> tuple[float, float, float]:
        """Wall seconds, the unstolen share of runnable CPU time (see
        ``unstolen_share``) and CPU seconds since ``clock()`` gave ``c0``."""
        t1, cpu1, h1 = self.clock()
        return t1 - c0[0], unstolen_share(c0[2], h1), cpu1 - c0[1]

    def sample(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(float(value))

    def check(self, what: str, fn) -> bool:
        """One checked operation: ``fn`` raises AssertionError on a wrong
        output. A failure is counted, kept, and the run goes on."""
        self.attempted += 1
        try:
            fn()
            return True
        except AssertionError as e:
            self.failed += 1
            self.errors.append(f"{what}: {str(e)[:500]}")
            return False


def host_ticks() -> list[int]:
    """The host's summed CPU time counters (user, nice, system, idle,
    iowait, irq, softirq, steal, ...) from /proc/stat, in ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def unstolen_share(h0: list[int], h1: list[int]) -> float:
    """Share of the vCPUs' runnable time between two ``host_ticks()`` that
    ran rather than being stolen by the hypervisor. Steal accrues only
    while a vCPU has work, so the share is the same whether the work used
    one vCPU or all of them."""
    user, nice, system, _idle, _iowait, irq, softirq, steal = (
        b - a for a, b in zip(h0[:8], h1[:8])
    )
    ran = user + nice + system + irq + softirq
    return ran / (ran + steal) if ran + steal else 1.0


def new_samples() -> dict:
    return {k: [] for k in ("ingest_events_per_s", "ingest_events_per_net_s",
                            "ingest_events_per_cpu_s", "stolen_share",
                            "lag_p50_s", "lag_p90_s", "replay_events_per_s",
                            "replay_events_per_net_s", "replay_events_per_cpu_s")}


def add_ingest(out: dict, events: int, wall: float, share: float) -> None:
    """One ingest region's rate per wall second, and per net wall second:
    wall time scaled by the unstolen share, i.e. with the time the
    hypervisor stole from the run's vCPUs taken out."""
    out["ingest_events_per_s"].append(events / wall)
    out["ingest_events_per_net_s"].append(events / (wall * share))
    out["stolen_share"].append(1.0 - share)


def add_lags(out: dict, lags: list[float]) -> None:
    """One stream's commit lags, as its p50 and p90."""
    out["lag_p50_s"].append(quantile(lags, 0.5))
    out["lag_p90_s"].append(quantile(lags, 0.9))


# ---------------------------------------------------------------- inputs
def make_log(n_events: int, n_repos: int, seed: int) -> pd.DataFrame:
    return generate_events(
        n_events=n_events, n_repos=n_repos, paths_per_repo=PATHS_PER_REPO, seed=seed
    )


def write_log(log: pd.DataFrame, out_dir: str, n_files: int) -> list[str]:
    """The log as ``n_files`` parquet files in arrival order, written with
    the event schema spelled out: ``generator.write_events`` infers column
    types per file, and a small file whose ``diff`` values are all null
    gets an INT32 column that Spark refuses to read as string."""
    os.makedirs(out_dir, exist_ok=True)
    log = log.assign(wall=log["wall"].astype("datetime64[us]"))
    bounds = np.linspace(0, len(log), n_files + 1).astype(int)
    paths = []
    for i in range(n_files):
        part = log.iloc[bounds[i]:bounds[i + 1]]
        p = os.path.join(out_dir, f"events-{i:05d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(part, schema=_ARROW_SCHEMA, preserve_index=False), p
        )
        paths.append(p)
    return paths


def oracle_of(log: pd.DataFrame) -> pd.DataFrame:
    return replay_oracle(log, DENYLIST)


def force(df) -> None:
    """Run a DataFrame to the end without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def check_state(df, oracle: pd.DataFrame) -> None:
    assert_parity(df.toPandas(), oracle)


# ---------------------------------------------------------------- the sink
class _Recorder:
    """Start and return time of each merge_batch, by batch id, written by
    the sink wrapper below on the stream's thread."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.parent: int | None = None  # span the merges are children of
        self.commits: dict[int, tuple[float, float]] = {}
        self.cond = threading.Condition()

    def factory(self, path: str) -> LakeTable:
        return _RecordingLake(path, self)


class _RecordingLake(LakeTable):
    """LakeTable that records when each merge_batch starts and returns.
    Arguments pass through untouched, so a change to the merge signature
    cannot break the benchmark."""

    def __init__(self, path: str, rec: _Recorder):
        super().__init__(path)
        self._rec = rec

    def merge_batch(self, *args, **kwargs):
        batch_id = kwargs["batch_id"] if "batch_id" in kwargs else args[1]
        t0 = time.perf_counter()
        with self._rec.tracer.span(
            "lake.merge_batch", batch_id=batch_id, parent=self._rec.parent
        ):
            out = super().merge_batch(*args, **kwargs)
        with self._rec.cond:
            self._rec.commits[batch_id] = (t0, time.perf_counter())
            self._rec.cond.notify_all()
        return out


def admitted_files(checkpoint: str) -> dict[str, int]:
    """File name → id of the batch that admitted it, from the file source's
    log in the checkpoint (written, by rename, when a batch is planned)."""
    d = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _assert_committed(name: str, adm: dict, rec: _Recorder) -> None:
    assert name in adm, "never admitted by a batch"
    assert adm[name] in rec.commits, f"batch {adm[name]} never committed"


def _wait_committed(q, rec: _Recorder, checkpoint: str, names,
                    timeout: float = 60.0) -> dict:
    """Block until every named file sits in a batch whose merge returned;
    fail at once if the stream died."""
    deadline = time.perf_counter() + timeout
    names = list(names)
    polls = 0
    while True:
        adm = admitted_files(checkpoint)
        with rec.cond:
            if all(n in adm and adm[n] in rec.commits for n in names):
                return adm
            left = deadline - time.perf_counter()
            if left <= 0:
                raise TimeoutError(
                    f"{sum(n not in adm for n in names)} of {len(names)} files "
                    f"not admitted, others not committed, after {timeout} s"
                )
            rec.cond.wait(min(0.05, left))
        polls += 1
        if polls % 20 == 0 and not q.isActive:
            raise RuntimeError(f"stream stopped: {q.exception()}")


def _stream_layers(ctx: Ctx, rec: _Recorder, q, n_buckets: int, lineage: list,
                   batches: set, backlog_batches: set, publish: dict, adm: dict) -> None:
    """Per-layer samples of one stream, restricted to ``batches``. The
    backlog is sampled when each merge in ``backlog_batches`` returns: the
    files published by then that no batch up to it has admitted."""
    prog = [
        p for p in q.recentProgress
        if p["batchId"] in batches and p["numInputRows"] > 0
    ]
    ctx.sample("runner.epochs", len(prog))
    for p in prog:
        d = p["durationMs"]
        ctx.sample("runner.overhead_s", (d["triggerExecution"] - d.get("addBatch", 0)) / 1000)
    for b in batches:
        t0, t1 = rec.commits[b]
        ctx.sample("lake.merge_s", t1 - t0)
        if b in backlog_batches:
            ctx.sample("runner.backlog_files", sum(
                1 for f, tp in publish.items() if tp <= t1 and adm.get(f, b + 1) > b
            ))
    ev = rows = hits = applied = 0
    for r in lineage:
        if r.get("batch_id") not in batches or "phase_secs" not in r:
            continue
        if str(r["epoch_key"]).startswith("bootstrap:"):
            continue
        for k, v in r["phase_secs"].items():
            ctx.sample(f"lake.phase.{k}_s", v)
        ctx.sample("lake.affected_bucket_frac", r["affected_buckets"] / n_buckets)
        # the events the epoch carried into the merge (numInputRows counts
        # every scan of the batch, and the merge scans it more than once)
        ctx.sample("runner.rows_per_epoch", r.get("events_in", 0))
        ev += r.get("events_in", 0)
        rows += r["rows_out"]
        hits += r["dedup_hits"]
        applied += r["applied"]
    ctx.sample("lake.rows_rewritten_per_event", rows / ev if ev else 0.0)
    ctx.sample("lake.dedup_hit_frac", hits / (hits + applied) if hits + applied else 0.0)


# ----------------------------------------------------- shared last phase
def replay_phase(ctx: Ctx, table_path: str, log_dirs: list[str], n_log: int,
                 oracle: pd.DataFrame | None, out: dict | None) -> None:
    """Check the ingested table, then replay its log in batch (timed) and
    check the replay. ``oracle`` None = warm-up: same work, nothing checked
    or kept."""
    spark, tr = ctx.spark, ctx.tracer
    if oracle is not None:
        ctx.check("lake state", lambda: check_state(LakeTable(table_path).read(spark), oracle))

    def replay():
        # replay_events_path's plan, over one or more log directories
        return final_state(spark.read.schema(EVENT_SCHEMA).parquet(*log_dirs), CFG)

    # the replays are timed as one region, long enough not to be a ~1 s
    # timing; each has its own job group, traced or not, so that its task
    # CPU can be read back from the status store
    groups = []
    c0 = ctx.clock()
    for _ in range(ctx.size["replays"]):
        g = f"plans.replay/{ctx.replays_run}"
        ctx.replays_run += 1
        with tr.span("plans.replay", group=g), job_group(spark.sparkContext, g):
            force(replay())
        groups.append(g)
    dt, share, _ = ctx.since(c0)
    if out is not None:
        n = n_log * len(groups)
        out["replay_events_per_s"].append(n / dt)
        out["replay_events_per_net_s"].append(n / (dt * share))
        tot = stage_totals(spark.sparkContext)
        out["replay_events_per_cpu_s"].append(n / sum(tot[g]["cpu_s"] for g in groups))
    if oracle is not None:
        ctx.check("batch replay", lambda: check_state(replay(), oracle))


def layer_probes(ctx: Ctx, log_dirs: list[str]) -> None:
    """Traced runs only: the filter scan alone, then filter + LWW collapse,
    each forced over the workload's log; the collapse's share is the
    difference."""
    spark, tr = ctx.spark, ctx.tracer
    cols = ("repo", "path", "ts", "tx_idx", "op", "commit", "lang", "content")
    for _ in range(3):
        ev = spark.read.schema(EVENT_SCHEMA).parquet(*log_dirs)
        with tr.span("filters.scan"):
            t0 = time.perf_counter()
            force(apply_all_filters(ev, DENYLIST))
            scan = time.perf_counter() - t0
        with tr.span("lww.collapse"):
            t0 = time.perf_counter()
            force(lww_collapse(apply_all_filters(ev, DENYLIST).select(*cols)))
            both = time.perf_counter() - t0
        ctx.sample("filters.scan_s", scan)
        ctx.sample("lww.collapse_s", both - scan)


# ------------------------------------------------------------ cdc_catchup
def _catchup_round(ctx: Ctx, log_dir: str, n_log: int, oracle, tag: str,
                   out: dict | None) -> None:
    """Drain a written backlog into a fresh table, then the replay phase.
    Every file is due when the stream starts."""
    sz, tr = ctx.size, ctx.tracer
    d = os.path.join(ctx.scratch, tag)
    tbl, ck = os.path.join(d, "tbl"), os.path.join(d, "ckpt")
    LakeTable.create(tbl, TARGET_SCHEMA, n_buckets=sz["buckets"])
    rec = _Recorder(tr)
    files = sorted(f for f in os.listdir(log_dir) if f.endswith(".parquet"))
    with tr.span("runner.stream") as sid:
        rec.parent = sid
        c0 = ctx.clock()
        t0 = c0[0]
        q = start_stream(
            ctx.spark, log_dir, tbl, ck, CFG,
            max_files_per_trigger=sz["per_trigger"], available_now=True,
            sink_factory=rec.factory,
        )
        q.awaitTermination()
        wall, share, cpu = ctx.since(c0)
    if out is not None:
        adm = admitted_files(ck)
        lags = []
        for f in files:
            if ctx.check(f"{f} committed", lambda f=f: _assert_committed(f, adm, rec)):
                lags.append(rec.commits[adm[f]][1] - t0)
        add_lags(out, lags)
        add_ingest(out, n_log, wall, share)
        out["ingest_events_per_cpu_s"].append(n_log / cpu)
        if tr.enabled:
            batches = set(rec.commits)
            # lineage() re-reads every record file: once per table, at its end
            _stream_layers(ctx, rec, q, sz["buckets"], LakeTable(tbl).lineage(),
                           batches, batches, {f: t0 for f in files}, adm)
            ctx.sample("sources.gen_late_s", 0.0)  # a backlog is due at once
    replay_phase(ctx, tbl, [log_dir], n_log, oracle, out)
    shutil.rmtree(d, ignore_errors=True)


def cdc_catchup(ctx: Ctx, start_session) -> tuple[dict, float]:
    sz = ctx.size
    log = make_log(sz["n_events"], sz["n_repos"], ctx.seed)
    warm = make_log(sz["warmup_events"], sz["n_repos"], WARMUP_SEED)
    log_dir = os.path.join(ctx.scratch, "log")
    warm_dir = os.path.join(ctx.scratch, "warm_log")
    write_log(log, log_dir, n_files=sz["files"])
    write_log(warm, warm_dir, n_files=sz["files"])
    oracle = oracle_of(log)
    n_log, n_warm = len(log), len(warm)
    del log, warm

    setup = start_session()
    ctx.tracer.warm = True
    with ctx.tracer.span("warmup"):
        t0 = time.perf_counter()
        _catchup_round(ctx, warm_dir, n_warm, None, "warm", None)
        setup += time.perf_counter() - t0
    ctx.tracer.warm = False

    out = new_samples()
    t_start = time.perf_counter()
    k = 0
    # whole rounds only: another round starts if, as long as the last one,
    # it would end within --seconds
    while True:
        t0 = time.perf_counter()
        _catchup_round(ctx, log_dir, n_log, oracle, f"r{k}", out)
        k += 1
        now = time.perf_counter()
        if now - t_start + (now - t0) > ctx.seconds:
            break
    if ctx.tracer.enabled:
        layer_probes(ctx, [log_dir])
    return out, setup


# ------------------------------------------------------------- cdc_live
def cdc_live(ctx: Ctx, start_session) -> tuple[dict, float]:
    sz = ctx.size
    n_fixed = max(1, round(ctx.seconds * sz["rate"]))
    n_warm, n_burst = sz["warmup_files"], sz["burst_files"]
    n_files = n_warm + n_fixed + n_burst
    base_n = sz["base_events"]
    # the generator adds redeliveries and junk on top of n_events; the
    # prefix keeps every file at exactly file_events rows
    n_log = base_n + n_files * sz["file_events"]
    log = make_log(n_log, sz["n_repos"], ctx.seed).iloc[:n_log]
    base_dir = os.path.join(ctx.scratch, "base")
    staging = os.path.join(ctx.scratch, "staging")
    events_dir = os.path.join(ctx.scratch, "events")
    write_log(log.iloc[:base_n], base_dir, n_files=8)
    staged = [os.path.basename(p) for p in
              write_log(log.iloc[base_n:], staging, n_files=n_files)]
    oracle = oracle_of(log)
    del log
    os.makedirs(events_dir)
    tbl, ck = os.path.join(ctx.scratch, "tbl"), os.path.join(ctx.scratch, "ckpt")
    warm = staged[:n_warm]
    fixed = staged[n_warm:n_warm + n_fixed]
    burst = staged[n_warm + n_fixed:]
    publish: dict[str, float] = {}
    due: dict[str, float] = {}

    def publish_now(names):
        # rename is atomic: the stream never lists a half-written file
        for f in names:
            os.rename(os.path.join(staging, f), os.path.join(events_dir, f))
            publish[f] = time.perf_counter()

    setup = start_session()
    spark, tr = ctx.spark, ctx.tracer
    t0 = time.perf_counter()
    with tr.span("lake.bootstrap"):
        LakeTable.create(tbl, TARGET_SCHEMA, n_buckets=sz["buckets"])
        base = spark.read.schema(EVENT_SCHEMA).parquet(base_dir)
        LakeTable(tbl).merge_batch(apply_all_filters(base, DENYLIST), 0,
                                   epoch_ns="bootstrap")
    rec = _Recorder(tr)
    tr.warm = True
    q = start_stream(
        spark, events_dir, tbl, ck, CFG,
        max_files_per_trigger=sz["per_trigger"], available_now=False,
        sink_factory=rec.factory,
    )
    try:
        with tr.span("warmup") as sid:
            rec.parent = sid
            publish_now(warm)
            _wait_committed(q, rec, ck, warm)
        setup += time.perf_counter() - t0
        warm_batches = set(rec.commits)
        tr.warm = False

        # open loop: file i is due at t_fixed + i/rate whatever the stream
        # does; a stall shows as lag of the files behind it
        with tr.span("runner.open_loop") as sid:
            rec.parent = sid
            c_fixed = ctx.clock()
            t_fixed = c_fixed[0]
            for i, f in enumerate(fixed):
                due[f] = t_fixed + i / sz["rate"]

            def publisher():
                for f in fixed:
                    delay = due[f] - time.perf_counter()
                    if delay > 0:
                        time.sleep(delay)
                    publish_now([f])

            th = threading.Thread(target=publisher, name="open-loop-publisher")
            th.start()
            th.join()
            _wait_committed(q, rec, ck, fixed)
        fixed_batches = set(rec.commits) - warm_batches

        # the burst: a backlog drained at the same admission bound; the
        # stream is busy throughout, so this is the "runner.stream" span.
        # Processing-time triggers fire at whole multiples of their interval
        # on the wall clock, and a stream behind schedule lists its source
        # the moment a batch ends: publish once it is idle, half-way
        # between two ticks, so that the first trigger lists the whole
        # burst and every run drains it in the same number of epochs.
        time.sleep(1.0)
        time.sleep((TRIGGER_S / 2 - time.time()) % TRIGGER_S)
        with tr.span("runner.stream") as sid:
            rec.parent = sid
            c_burst = ctx.clock()
            t_burst = c_burst[0]
            for f in burst:
                due[f] = t_burst
            publish_now(burst)
            adm = _wait_committed(q, rec, ck, burst)
            drain = max(rec.commits[adm[f]][1] for f in burst) - t_burst
            share = ctx.since(c_burst)[1]
            live_cpu = ctx.since(c_fixed)[2]
    finally:
        q.stop()

    out = new_samples()
    for f in staged:
        ctx.check(f"{f} committed", lambda f=f: _assert_committed(f, adm, rec))
    add_lags(out, [rec.commits[adm[f]][1] - due[f] for f in fixed if f in adm])
    # wall: the burst drain rate; CPU: the open-loop phase and the burst
    add_ingest(out, n_burst * sz["file_events"], drain, share)
    out["ingest_events_per_cpu_s"].append(
        (n_fixed + n_burst) * sz["file_events"] / live_cpu)
    lineage = LakeTable(tbl).lineage()  # re-reads every record: once
    ctx.check("no epoch applied twice",
              lambda: _assert_unique([r["epoch_key"] for r in lineage]))
    if tr.enabled:
        _stream_layers(ctx, rec, q, sz["buckets"], lineage,
                       set(rec.commits) - warm_batches, fixed_batches, publish, adm)
        for f in fixed:
            ctx.sample("sources.gen_late_s", publish[f] - due[f])
    replay_phase(ctx, tbl, [base_dir, events_dir], n_log, oracle, out)
    if tr.enabled:
        layer_probes(ctx, [base_dir, events_dir])
    return out, setup


def _assert_unique(keys: list[str]) -> None:
    seen, dup = set(), set()
    for k in keys:
        (dup if k in seen else seen).add(k)
    assert not dup, f"epoch keys recorded twice: {sorted(dup)[:5]}"


RUNNERS = {"cdc_catchup": cdc_catchup, "cdc_live": cdc_live}
