"""Phase-level profiler for single headline queries (guide §1 tooling).

Not part of the driver contract (bench.py is frozen); this script exists to
attribute a query's wall time to its internal phases before optimizing it.
Usage:
    python scripts/profile_query.py <query_name> [sf_dir]
Runs the query twice (warm JVM) with the noop sink, printing total wall per
run; with OTR_PROFILE_UI=1 keeps the Spark UI up on :4040 for stage reads.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf1.0"
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


_CALLS: list[tuple[str, float]] = []


def _patch_timers() -> None:
    """Wrap the engine's expensive entry points with wall-clock timers so a
    query's total attributes to named internal phases. OUTER calls only
    (nested patched calls subtract their children), reported in call order."""
    import functools

    targets = []
    from oplogtoredis_spark.streaming import lake as _lake

    targets += [
        (_lake.LakeTable, m)
        for m in (
            "merge_batch", "read", "read_pruned", "rewrite_clustered",
            "compact", "rebucket", "changes", "create", "fsck", "prune_plan",
        )
        if hasattr(_lake.LakeTable, m)
    ]
    for modname, cls, meths in (
        ("oplogtoredis_spark.operators.aggview", "IncrementalAggView",
         ("follow_lake", "summary", "read")),
        ("oplogtoredis_spark.operators.aggview", "IncrementalDistinctView",
         ("follow_lake", "read")),
        ("oplogtoredis_spark.operators.indexview", "IncrementalIndexView",
         ("follow_lake", "stats")),
        ("oplogtoredis_spark.operators.incremental_corpus", "IncrementalCorpus",
         ("follow_lake", "apply_epoch", "chunks")),
        ("oplogtoredis_spark.operators.semantic_corpus", "SemanticCorpus",
         ("follow_lake", "apply_epoch", "kept")),
        ("oplogtoredis_spark.streaming", "history",
         ("make_history_applier", "read_history")),
    ):
        try:
            import importlib

            mod = importlib.import_module(modname)
            obj = getattr(mod, cls)
            targets += [(obj, m) for m in meths if hasattr(obj, m)]
        except Exception:
            pass

    depth = [0]

    def wrap(obj, meth):
        orig = getattr(obj, meth)
        if not callable(orig):
            return

        @functools.wraps(orig)
        def timed(*a, **kw):
            label = f"{obj.__name__}.{meth}"
            if depth[0]:
                return orig(*a, **kw)
            depth[0] += 1
            t0 = time.time()
            sc = None
            try:
                from pyspark.sql import SparkSession

                sc = SparkSession.getActiveSession().sparkContext
                sc.setJobDescription(label)
            except Exception:
                pass
            try:
                return orig(*a, **kw)
            finally:
                depth[0] -= 1
                _CALLS.append((label, time.time() - t0))
                if sc is not None:
                    sc.setJobDescription(None)

        setattr(obj, meth, timed)

    for obj, meth in targets:
        wrap(obj, meth)


def main() -> None:
    name = sys.argv[1]
    from oplogtoredis_spark.session import get_spark

    import __spark_entry__ as entry

    extra = {"spark.local.dir": "/dev/shm/spark-tmp"}
    if os.environ.get("OTR_PROFILE_UI") == "1":
        extra["spark.ui.enabled"] = "true"
    spark = get_spark(
        "otr-profile", master=f"local[{CPUS}]", shuffle_partitions=128,
        extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")
    if os.environ.get("OTR_PROFILE_PATCH", "1") == "1":
        _patch_timers()
    qmap = entry.queries()
    fn = qmap[name]
    # warm the workers like bench.py does
    spark.range(1000).count()
    for i in range(int(os.environ.get("OTR_PROFILE_REPS", "2"))):
        spark.sparkContext.setJobDescription(f"{name} rep{i}")
        _CALLS.clear()
        t0 = time.time()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        wall = time.time() - t0
        print(f"rep{i}: {wall:.3f}s", flush=True)
        acc = sum(dt for _, dt in _CALLS)
        for lbl, dt in _CALLS:
            print(f"   {dt:7.3f}s  {lbl}", flush=True)
        print(f"   {wall - acc:7.3f}s  (everything else incl. final noop)", flush=True)
    if os.environ.get("OTR_PROFILE_UI") == "1":
        # job-level attribution: jobs grouped by description, with serial
        # gap time (time between jobs = driver-serial work) derivable from
        # submission/completion stamps
        import json
        import urllib.request

        app = json.load(
            urllib.request.urlopen("http://localhost:4040/api/v1/applications")
        )[0]["id"]
        jobs = json.load(
            urllib.request.urlopen(
                f"http://localhost:4040/api/v1/applications/{app}/jobs?status=succeeded"
            )
        )
        from collections import defaultdict
        from datetime import datetime

        def ts(s):
            return datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f").timestamp()

        agg = defaultdict(lambda: [0, 0.0])
        for j in jobs:
            d = j.get("description") or j.get("name", "?")
            agg[d][0] += 1
            agg[d][1] += ts(j["completionTime"]) - ts(j["submissionTime"])
        for d, (n, t) in sorted(agg.items(), key=lambda kv: -kv[1][1]):
            print(f"   jobs={n:3d} job_wall={t:8.3f}s  {d[:90]}", flush=True)
    if os.environ.get("OTR_PROFILE_HOLD") == "1":
        print("holding for UI inspection; kill when done", flush=True)
        time.sleep(3600)


if __name__ == "__main__":
    main()
