"""Benchmark harness (driver contract + BASELINE.md scaling evidence).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default 32) and prints ONE
JSON line:

  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "cdc_events_per_sec": ...}

The CDC replay portion generates a deterministic change-event log (seed 42,
size $OTR_BENCH_EVENTS, default 2M) and measures:
  * cdc_batch_replay  — whole-log batch LWW replay (scan → one shuffle)
  * cdc_stream_apply  — the streaming engine end-to-end (readStream →
    foreachBatch MERGE into the snapshot table), the reference-comparable
    number (vs oplogtoredis's ~2.8k events/s single-writer path, BASELINE.md)

Each query is forced with the noop sink (full materialization, no output
cost). Scaling evidence (local[8] vs local[32]) is produced by
scripts/run_scaling.py, which invokes this file twice in fresh JVMs.

SELF-ADJUDICATION (VERDICT r4 #1): this host is shared and its 1-min load
swings 0→20 from foreign tenants, so a single wall-clock number cannot
distinguish a regression from noise. Every published timing is therefore the
MINIMUM of $OTR_BENCH_REPS (default 3) reps, the raw reps ship in the
artifact under "reps" as [sec, load1m_at_start] pairs, and the whole run is
book-ended by os.getloadavg() stamps under "load" — a slow rep taken at high
ambient load adjudicates itself. An optional quiet-window gate
($OTR_BENCH_QUIET_WAIT secs, default 180) delays the start while load1m >=
$OTR_BENCH_QUIET_LOAD (default 8) so the driver's once-per-round artifact is
taken in the best window available, never blocked indefinitely.
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_EVENTS = int(os.environ.get("OTR_BENCH_EVENTS", "2000000"))
EVENTS_CACHE = os.environ.get(
    "OTR_BENCH_EVENTS_DIR", f"/tmp/otr_bench_events_{N_EVENTS}"
)
REPS = max(1, int(os.environ.get("OTR_BENCH_REPS", "3")))
QUIET_WAIT = float(os.environ.get("OTR_BENCH_QUIET_WAIT", "180"))
QUIET_LOAD = float(os.environ.get("OTR_BENCH_QUIET_LOAD", "8"))
#: the CDC steps' tables and checkpoints, rebuilt on every run and removed
#: at process exit (EVENTS_CACHE is an input cache and stays)
WORK_DIRS = [
    f"/tmp/otr_bench_{name}_{CPUS}"
    for name in ("stream", "stream_mor", "stream_mor_nc", "stream_mor_ac", "clustered")
]

HEADLINE = [
    "cdc_final_state",
    "lww_latest_per_user",
    "txn_flatten",
    "envelope_decode",
    "parallelism_key",
    "message_json",
    "publications",
    "changed_fields_v2_deep",
    "interval_max",
    "asof_join_events",
    "sessionize_events",
    "range_join_events",
    "scd2_user_history",
    "scd2_stream_history",
    "enrich_stream_events",
    "metrics_histogram",
    "text_profile",
    "bpe_tokens",
    "bpe_train_docs",
    "quality_filter",
    "chunk_documents",
    "corpus_pipeline",
    "incremental_corpus_pipeline",
    "follow_lake_corpus",
    "agg_view_lake",
    "index_view_lake",
    "lake_read_clustered",
    "lake_point_lookup",
    "rebucket_lake",
    "schema_evolution_lake",
    "lake_read_tagged",
    "wap_publish_lake",
    "span_dedup_docs",
    "pack_chunks_docs",
    "lake_fsck",
    "fuzzy_dedup_pipeline",
    "hash_split",
    "stratified_sample",
    "mixture_resample_docs",
    "lm_perplexity_docs",
    "weighted_sample_docs",
    "distinct_view_lake",
    "ngram_jaccard_pairs",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "dedup_clusters",
    "simhash",
    "embedding_dup_pairs",
    "ann_bruteforce_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "embedding_clusters",
    "semdedup_keep",
    "cluster_balanced_sample",
    "incremental_semdedup",
    "follow_lake_semdedup",
    "ann_quantized_topk",
    "ann_ivf_quantized_topk",
    "simhash_dup_pairs",
    "multimodal_features",
    "decontaminate_ngram",
    "doc_repetition",
    "pii_redact",
    "funnel_stages",
    "event_value_percentiles",
    "hopping_window_counts",
    "retention_cohorts",
    "distinct_users_by_type",
    "corpus_hygiene_report",
    "topk_users_by_type",
    "props_field_histogram",
    "inverted_index_stats",
    "bm25_topk_docs",
    "table_profile_events",
    "value_trend_by_type",
    "resample_value_by_type",
    "zscore_anomalies_events",
    "bloom_semi_join_events",
    "rolling_value_by_user",
    "editdist_dup_pairs",
    "mad_anomalies_events",
    "event_transitions",
    "ab_test_value",
    "dq_expectations",
    "star_revenue_by_nation",
    "pagerank_user_graph",
    "salted_join_events",
    "stream_interval_join_events",
    "event_type_pivot",
    "rollup_value_by_type_day",
    "funnel_stream_events",
    "stream_dedup_events",
    "heavy_hitters_stream_events",
]


def _force(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def _git_rev() -> str | None:
    """Short HEAD hash, suffixed ``-dirty`` when tracked files differ from
    it, so a run of uncommitted changes never carries its parent's stamp."""
    try:
        import subprocess

        return (
            subprocess.run(
                ["git", "describe", "--always", "--dirty", "--exclude", "*"],
                cwd=os.path.dirname(os.path.abspath(__file__)),
                capture_output=True, text=True, timeout=10,
            ).stdout.strip()
            or None
        )
    except Exception:
        return None


def _timed_reps(fn, reps: int = REPS) -> tuple[float, list[list[float]]]:
    """Run ``fn`` ``reps`` times; return (min seconds, raw reps) where each
    raw rep is [seconds, 1-min loadavg at rep start]. The minimum is the
    faithful engine-cost estimate on a noisy shared host; the per-rep load
    stamp lets the artifact adjudicate slow reps itself (VERDICT r4 #1)."""
    raw: list[list[float]] = []
    for _ in range(reps):
        load1 = os.getloadavg()[0]
        t0 = time.time()
        fn()
        raw.append([round(time.time() - t0, 3), round(load1, 2)])
    return min(r[0] for r in raw), raw


def _wait_for_quiet() -> None:
    """Best-effort quiet-window gate: wait (bounded) for ambient load to
    drop before measuring, but never block the driver indefinitely."""
    deadline = time.time() + QUIET_WAIT
    while time.time() < deadline and os.getloadavg()[0] >= QUIET_LOAD:
        time.sleep(5.0)


def _ensure_events() -> str:
    marker = os.path.join(EVENTS_CACHE, "_COMPLETE")
    if os.path.exists(marker):
        return EVENTS_CACHE
    shutil.rmtree(EVENTS_CACHE, ignore_errors=True)
    from oplogtoredis_spark.sources.generator import write_events_chunked

    n_chunks = max(1, N_EVENTS // 2_000_000)
    total = write_events_chunked(
        EVENTS_CACHE,
        n_events=N_EVENTS,
        n_chunks=n_chunks,
        files_per_chunk=max(8, 128 // n_chunks),
        n_repos=max(200, N_EVENTS // 2000),
        paths_per_repo=20,
        seed=42,
    )
    with open(marker, "w") as f:
        f.write(str(total))
    return EVENTS_CACHE


def main() -> None:
    atexit.register(
        lambda: [shutil.rmtree(d, ignore_errors=True) for d in WORK_DIRS]
    )
    # OTR_BENCH_ONLY=a,b,c runs just those headline queries and emits a
    # clearly-labelled SUBSET artifact (no CDC section) — for re-measuring
    # a few queries inside a short quiet window on this noisy shared host.
    # The driver contract path (no env) is unchanged. Validated before the
    # Spark spin-up so a typo fails in milliseconds, not minutes.
    only = [s for s in os.environ.get("OTR_BENCH_ONLY", "").split(",") if s]
    unknown = [s for s in only if s not in HEADLINE]
    if unknown:  # a typo'd subset would silently measure nothing
        raise SystemExit(f"OTR_BENCH_ONLY names not in HEADLINE: {unknown}")
    # OTR_BENCH_CDC_ONLY=1 skips the headline loop and measures just the
    # CDC replay/stream sections — the throughput evidence fits a short
    # quiet window (~4 min) where the full suite (~18 min) rarely does.
    cdc_only = os.environ.get("OTR_BENCH_CDC_ONLY", "") == "1"
    if cdc_only and only:
        raise SystemExit("OTR_BENCH_CDC_ONLY and OTR_BENCH_ONLY are exclusive")

    from oplogtoredis_spark.config import EngineConfig
    from oplogtoredis_spark.session import get_spark

    import __spark_entry__ as entry_mod

    events_dir = _ensure_events()
    with open(os.path.join(events_dir, "_COMPLETE")) as f:
        n_events_total = int(f.read())

    spark = get_spark(
        "otr-bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=128,  # sized so a reduce partition of the largest
        # shuffle fits execution memory at 32 concurrent tasks (spill-free)
        extra_conf={
            # CPU-heavy derivations over small inputs parallelize via the
            # explicit _par() repartitions in __spark_entry__; AQE keeps its
            # scale-sane default advisory size (a small advisory here
            # measured 3-4x WORSE at local[32]: thousands of tiny tasks).
            "spark.sql.adaptive.coalescePartitions.parallelismFirst": "true",
            # shuffle/spill on tmpfs: the sandbox's disk is shared and slow;
            # on a real cluster this is local NVMe
            "spark.local.dir": "/dev/shm/spark-tmp",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    cfg = EngineConfig(
        denylist=("denied_org/repo0", "denied_org/repo1"),
        target_buckets=max(CPUS, 16),
    )

    timings: dict[str, float] = {}
    raw_reps: dict[str, list[list[float]]] = {}

    # warm the JVM/codegen and the Python UDF workers once (cold worker
    # spawn across all cores otherwise lands on whichever query runs first)
    spark.range(1000).count()
    from pyspark.sql import functions as _F
    from pyspark.sql.functions import pandas_udf as _pudf

    @_pudf("long")
    def _warm(s):
        return s

    spark.range(10000).repartition(CPUS).select(_F.sum(_warm(_F.col("id")))).collect()

    _wait_for_quiet()
    load_start = [round(x, 2) for x in os.getloadavg()]
    t_suite0 = time.time()

    qmap = entry_mod.queries()
    if not cdc_only:
        for name in [n for n in HEADLINE if n in only] if only else HEADLINE:
            best, raw = _timed_reps(lambda: _force(qmap[name](spark, SF_DIR)))
            timings[name] = round(best, 3)
            raw_reps[name] = raw

    if only:
        out = {
            "metric": "headline query SUBSET wall time (OTR_BENCH_ONLY)",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            "sf": SF_DIR.rstrip("/").split("sf")[-1],
            "cpus": CPUS,
            "reps_per_query": REPS,
            "reps": raw_reps,
            "load": {
                "host_cpus": os.cpu_count(),
                "start_1m_5m_15m": load_start,
                "end_1m_5m_15m": [round(x, 2) for x in os.getloadavg()],
                "suite_wall_sec": round(time.time() - t_suite0, 3),
            },
            "git_rev": _git_rev(),
        }
        print(json.dumps(out))
        return

    # --- CDC batch replay over the generated log ---
    from oplogtoredis_spark.plans.replay import replay_events_path

    batch_secs, raw = _timed_reps(
        lambda: _force(replay_events_path(spark, events_dir, cfg))
    )
    batch_secs = round(batch_secs, 3)
    timings["cdc_batch_replay"] = batch_secs
    raw_reps["cdc_batch_replay"] = raw

    # --- CDC streaming apply (the reference-comparable path) ---
    from oplogtoredis_spark.streaming.runner import run_to_completion

    def _run_stream_cow():
        work = f"/tmp/otr_bench_stream_{CPUS}"
        shutil.rmtree(work, ignore_errors=True)
        run_to_completion(
            spark,
            events_dir,
            os.path.join(work, "tbl"),
            os.path.join(work, "ckpt"),
            cfg,
            # ~8 micro-batches over the log regardless of N_EVENTS
            max_files_per_trigger=max(
                4, len([f for f in os.listdir(events_dir) if f.endswith(".parquet")]) // 8
            ),
        )

    stream_secs, raw = _timed_reps(_run_stream_cow)
    stream_secs = round(stream_secs, 3)
    timings["cdc_stream_apply"] = stream_secs
    raw_reps["cdc_stream_apply"] = raw

    # --- CDC streaming apply, merge-on-read (write-optimized ingest) ---
    # Deltas only, no target read per epoch; the deferred merge is then paid
    # ONCE by compact(), which is also timed so the trade is visible. The
    # state must match the CoW stream's (spot-asserted on row count).
    from oplogtoredis_spark.streaming.lake import LakeTable

    mor_secs = compact_secs = None
    raw_reps["cdc_stream_apply_mor"] = []
    raw_reps["cdc_mor_compact"] = []
    cow_rows = LakeTable(os.path.join(f"/tmp/otr_bench_stream_{CPUS}", "tbl")).read(
        spark
    ).count()
    for _ in range(REPS):
        work = f"/tmp/otr_bench_stream_mor_{CPUS}"
        shutil.rmtree(work, ignore_errors=True)
        load1 = os.getloadavg()[0]
        t0 = time.time()
        table = run_to_completion(
            spark, events_dir,
            os.path.join(work, "tbl"), os.path.join(work, "ckpt"), cfg,
            max_files_per_trigger=max(
                4, len([f for f in os.listdir(events_dir) if f.endswith(".parquet")]) // 8
            ),
            merge_mode="mor",
        )
        dt = time.time() - t0
        raw_reps["cdc_stream_apply_mor"].append([round(dt, 3), round(load1, 2)])
        mor_secs = dt if mor_secs is None else min(mor_secs, dt)
        load1 = os.getloadavg()[0]
        t0 = time.time()
        table.compact(spark, drop_tombstones_older_than_ts=0)
        dt = time.time() - t0
        raw_reps["cdc_mor_compact"].append([round(dt, 3), round(load1, 2)])
        compact_secs = dt if compact_secs is None else min(compact_secs, dt)
        assert table.read(spark).count() == cow_rows  # same final state
    timings["cdc_stream_apply_mor"] = round(mor_secs, 3)
    timings["cdc_mor_compact"] = round(compact_secs, 3)

    # read latency of the UNBOUNDED-delta MoR table (the table compact()
    # just folded is gone, so re-run one MoR stream without compaction and
    # read it) vs the AUTO-COMPACTED posture (threshold policy inside the
    # stream, VERDICT r4 #6) — the pair quantifies what maybe_compact buys
    mft = max(
        4, len([f for f in os.listdir(events_dir) if f.endswith(".parquet")]) // 8
    )
    work = f"/tmp/otr_bench_stream_mor_nc_{CPUS}"
    shutil.rmtree(work, ignore_errors=True)
    t_nc = run_to_completion(
        spark, events_dir,
        os.path.join(work, "tbl"), os.path.join(work, "ckpt"), cfg,
        max_files_per_trigger=mft, merge_mode="mor",
    )
    rl_unbounded, raw = _timed_reps(lambda: _force(t_nc.read(spark)))
    timings["cdc_mor_read_unbounded"] = round(rl_unbounded, 3)
    raw_reps["cdc_mor_read_unbounded"] = raw

    ac_secs = None
    raw_reps["cdc_stream_apply_mor_ac"] = []
    for _ in range(REPS):
        work = f"/tmp/otr_bench_stream_mor_ac_{CPUS}"
        shutil.rmtree(work, ignore_errors=True)
        load1 = os.getloadavg()[0]
        t0 = time.time()
        t_ac = run_to_completion(
            spark, events_dir,
            os.path.join(work, "tbl"), os.path.join(work, "ckpt"), cfg,
            max_files_per_trigger=mft, merge_mode="mor", compact_min_deltas=3,
        )
        dt = time.time() - t0
        raw_reps["cdc_stream_apply_mor_ac"].append([round(dt, 3), round(load1, 2)])
        ac_secs = dt if ac_secs is None else min(ac_secs, dt)
    timings["cdc_stream_apply_mor_ac"] = round(ac_secs, 3)
    rl_ac, raw = _timed_reps(lambda: _force(t_ac.read(spark)))
    timings["cdc_mor_read_autocompacted"] = round(rl_ac, 3)
    raw_reps["cdc_mor_read_autocompacted"] = raw
    assert t_ac.read(spark).count() == cow_rows

    # --- clustered rewrite + file-skipping read (the read-path lever) ---
    # A 2M-row lake (one row per event: seq folded into the key) clustered
    # on lang; the pruned single-lang read vs the full filtered read
    # quantifies what footer/manifest-stats skipping buys at row counts
    # where scan bytes dominate. Build is timed once (it's a maintenance
    # job, not a read).
    clustered_stats = None
    if not cdc_only:
        from pyspark.sql import functions as _FF

        from oplogtoredis_spark.sources.schemas import TARGET_SCHEMA

        cl_work = f"/tmp/otr_bench_clustered_{CPUS}"
        shutil.rmtree(cl_work, ignore_errors=True)
        envl = spark.read.parquet(events_dir).select(
            "repo",
            _FF.concat_ws(
                "#", "path", _FF.col("seq").cast("string")
            ).alias("path"),
            "ts", "tx_idx", "op", "commit", "lang", "content",
        )
        t_cl = LakeTable.create(
            os.path.join(cl_work, "tbl"), TARGET_SCHEMA, n_buckets=32
        )
        load1 = os.getloadavg()[0]
        t0 = time.time()
        t_cl.merge_batch(envl, 0)
        t_cl.rewrite_clustered(spark, ["lang"], files_per_bucket=8)
        timings["lake_clustered_build_2m"] = round(time.time() - t0, 3)
        raw_reps["lake_clustered_build_2m"] = [
            [timings["lake_clustered_build_2m"], round(load1, 2)]
        ]
        full_s, raw = _timed_reps(
            lambda: _force(t_cl.read(spark).where(_FF.col("lang") == "go"))
        )
        timings["lake_read_full_2m"] = round(full_s, 3)
        raw_reps["lake_read_full_2m"] = raw
        pruned_s, raw = _timed_reps(
            lambda: _force(t_cl.read_pruned(spark, "lang", "go", "go"))
        )
        timings["lake_read_pruned_2m"] = round(pruned_s, 3)
        raw_reps["lake_read_pruned_2m"] = raw
        pp = t_cl.prune_plan("lang", "go", "go")
        clustered_stats = {
            "files_total": pp["files_total"],
            "files_skipped": pp["files_skipped"],
        }

    git_rev = _git_rev()

    total = round(sum(timings.values()), 3)
    out = {
        "metric": (
            "CDC replay wall time (OTR_BENCH_CDC_ONLY)"
            if cdc_only
            else "headline query suite + CDC replay wall time"
        ),
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "cpus": CPUS,
        "cdc_events_total": n_events_total,
        "cdc_batch_events_per_sec": round(n_events_total / batch_secs, 1),
        "cdc_stream_events_per_sec": round(n_events_total / stream_secs, 1),
        "cdc_stream_mor_events_per_sec": round(n_events_total / mor_secs, 1),
        # self-adjudication (VERDICT r4 #1): published numbers are minima of
        # `reps_per_query` reps; "reps" carries every raw [sec, load1m] pair
        # and "load" book-ends the suite — tenancy noise is visible in the
        # artifact itself, no out-of-band STATUS claims needed
        "reps_per_query": REPS,
        "reps": raw_reps,
        "load": {
            "host_cpus": os.cpu_count(),
            "start_1m_5m_15m": load_start,
            "end_1m_5m_15m": [round(x, 2) for x in os.getloadavg()],
            "suite_wall_sec": round(time.time() - t_suite0, 3),
        },
        "git_rev": git_rev,
    }
    if clustered_stats is not None:
        out["clustered_read"] = clustered_stats
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
