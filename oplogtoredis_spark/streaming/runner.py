"""Structured Streaming wiring: event log → filters/derive → foreachBatch MERGE.

The streaming analogue of the reference's main loop (SURVEY.md §3.1):

  reference                                this engine
  ---------                                -----------
  tailable cursor + re-query (S1/S2)       file/Iceberg stream source, micro-
                                           batch re-poll, task retries
  resume from lastProcessedEntry (S3)      checkpointLocation WAL offsets —
                                           losing the checkpoint NEVER silently
                                           skips (tail.go:552-576 policy):
                                           a fresh checkpoint replays the log,
                                           and replay is idempotent via the
                                           sink's batch-id / LWW dedup
  bounded buffer / batch fill (B1)         maxFilesPerTrigger admission control
  Lua dedupe+publish (B2)                  LakeTable.merge_batch (exactly-once:
                                           atomic snapshot commit per epoch)
  throttled checkpoint flush (B4)          offset commit per micro-batch
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..config import DEFAULT_CONFIG, EngineConfig
from ..operators.filters import apply_all_filters
from ..sources.schemas import EVENT_SCHEMA
from .lake import LakeTable


def make_batch_applier(
    table_path: str,
    extra_payload_cols: tuple[str, ...] = (),
    fail_before_batch: int | None = None,
    epoch_ns: str = "",
    sink_factory=LakeTable,
    merge_mode: str = "cow",
    compact_min_deltas: int | None = None,
    wap_checks: list | None = None,
    publish_tag: str = "published",
    wap_audit_scope: str = "changes",
    rebucket_target_bytes: int | None = None,
    rebucket_max_n_buckets: int = 4096,
):
    """The foreachBatch function. ``fail_before_batch`` is a fault-injection
    hook for restart tests (mirrors integration-tests/fault-injection/
    restart_test.go): raise BEFORE applying batch N — the query dies after
    N-1 commits, and a restarted query must replay batch N-1' safely.

    ``sink_factory(path) -> UpsertSink`` (sink.py): the runner depends only
    on the protocol — swap in an Iceberg-backed sink on a cluster.

    ``compact_min_deltas`` (MoR only): after each merge, fold any bucket
    whose delta count reached the threshold (LakeTable.maybe_compact —
    Iceberg's commit.manifest.min-count-to-merge posture), so a long-lived
    stream keeps per-bucket delta counts, and therefore read latency,
    bounded. Runs inside the foreachBatch loop ⇒ the single-writer
    discipline holds by construction.

    ``wap_checks`` turns every epoch into a write-audit-publish commit
    (streaming/wap.py): merge → audit (``wap_audit_scope``) → move
    ``publish_tag``. A failed audit ROLLS the epoch BACK and kills the
    stream with the checkpoint still on the bad batch (the fail posture):
    the table never exposes the bad snapshot to ``publish_tag`` readers,
    and a restart replays the batch — crash-looping until upstream is
    fixed, exactly like dq_policy="fail" but auditing the MERGED effect.
    Compaction commits (``compact_min_deltas``) land after the publish, so
    the tag may briefly point one version behind the compacted layout —
    same rows, pre-fold files; the tag's pin keeps them readable.

    ``rebucket_target_bytes`` wires bucket-count EVOLUTION into the stream
    (LakeTable.maybe_rebucket): after each merge, if mean live bytes per
    bucket exceed the target, the table grows to the next power-of-two
    count (≤ ``rebucket_max_n_buckets``) as its own commit inside the
    foreachBatch loop — single-writer discipline holds, the next epoch's
    merge picks up the new modulus through the plan-fragment cache's
    bucket-count key. The pre-check is a driver-side listdir (no Spark
    job), so leaving it on costs nothing between fires."""
    seen = {"n": 0}
    # ONE sink instance for the stream's lifetime (not one per batch): the
    # sink may carry per-stream state (LakeTable seeds its lineage ordinal
    # from one listdir, then counts locally; its merge plan fragments are
    # cached process-wide, so they survive either way). Durable
    # state still lives behind the path, so crash/restart semantics are
    # unchanged (a restarted stream gets a fresh instance and re-reads the
    # manifest; every epoch re-reads it anyway).
    sink = sink_factory(table_path)
    # isinstance, not identity: a LakeTable SUBCLASS must keep the caller's
    # merge_mode/compaction knobs instead of silently dropping them
    is_lake = isinstance(sink, LakeTable)
    if not is_lake and (
        merge_mode != "cow"
        or compact_min_deltas is not None
        or wap_checks
        or rebucket_target_bytes is not None
    ):
        raise ValueError(
            f"merge_mode={merge_mode!r}/compact_min_deltas/wap_checks/"
            "rebucket_target_bytes only "
            f"apply to LakeTable sinks; {type(sink).__name__} does not "
            "support them"
        )

    def apply(batch_df, batch_id: int):
        if fail_before_batch is not None and seen["n"] >= fail_before_batch:
            raise RuntimeError(f"injected failure before batch {batch_id}")
        seen["n"] += 1
        table = sink
        kw = {"merge_mode": merge_mode} if is_lake else {}
        if wap_checks:
            from .wap import wap_merge

            wap_merge(
                table, batch_df.sparkSession, batch_df, batch_id,
                wap_checks, publish_tag=publish_tag,
                audit_scope=wap_audit_scope,
                extra_payload_cols=extra_payload_cols, epoch_ns=epoch_ns,
                **kw,
            )
        else:
            table.merge_batch(
                batch_df, batch_id, extra_payload_cols=extra_payload_cols,
                epoch_ns=epoch_ns, **kw,
            )
        if compact_min_deltas is not None and merge_mode == "mor" and is_lake:
            table.maybe_compact(batch_df.sparkSession, compact_min_deltas)
        if rebucket_target_bytes is not None and is_lake:
            table.maybe_rebucket(
                batch_df.sparkSession,
                rebucket_target_bytes,
                max_n_buckets=rebucket_max_n_buckets,
            )

    return apply


def _lineage_token(checkpoint_dir: str) -> str:
    """A random token minted ONCE per checkpoint lineage, stored inside the
    checkpoint dir (Spark tolerates foreign files there). The epoch
    namespace embeds it so that a FRESH lineage at the SAME path — after
    resolve_start_policy archives a stale/unreadable checkpoint, or after a
    manual delete — gets a NEW namespace. Without it, the manifest's
    applied-watermark from the old lineage (batch ids up to N) would
    silently skip the new lineage's batches, which restart at 0: the
    archive paths exist precisely to reprocess, and a path-only namespace
    turned that into data loss. Creation is O_EXCL-atomic, so two racing
    starts agree on one token."""
    os.makedirs(checkpoint_dir, exist_ok=True)
    p = os.path.join(checkpoint_dir, "_otr_lineage")
    try:
        import uuid

        fd = os.open(p, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        try:
            os.write(fd, uuid.uuid4().hex[:12].encode())
        finally:
            os.close(fd)
    except FileExistsError:
        pass
    with open(p) as f:
        return f.read().strip()


def _catch_up_cutoff_opts(cfg: EngineConfig) -> dict:
    """Reader options for "start at the end of the log": admit only files
    modified within the MaxCatchUp window (`modifiedAfter` on the file
    source — the Spark-native expression of tail.go:526-540's bounded
    catch-up)."""
    import datetime

    cutoff = datetime.datetime.now(datetime.timezone.utc) - datetime.timedelta(
        seconds=cfg.max_catch_up_seconds
    )
    # explicit +00:00 offset: without it Spark parses the timestamp in
    # spark.sql.session.timeZone, shifting the catch-up window by the UTC
    # offset on non-UTC sessions (events inside the window silently skipped
    # for sessions behind UTC — ADVICE r2)
    return {"modifiedAfter": cutoff.strftime("%Y-%m-%dT%H:%M:%S+00:00")}


def _archive_checkpoint(checkpoint_dir: str, reason: str) -> None:
    """Move a checkpoint aside (never delete — auditable skip, the analogue
    of the reference logging the skipped resume point, tail.go:536-539)."""
    import time as _time

    dst = f"{checkpoint_dir}.skipped-{reason}-{int(_time.time() * 1000)}"
    os.replace(checkpoint_dir, dst)


def resolve_start_policy(
    checkpoint_dir: str, events_dir: str, cfg: EngineConfig
) -> dict:
    """S3 resume-point resolution (lib/oplog/tail.go:514-588) — the full
    decision matrix of tail_test.go:45-205, with the reference's TWO
    independent knobs kept distinct:

    * ``cfg.start_mode`` — the DEFAULT MaxCatchUp semantics
      (lib/config/main.go:77-86, tail.go:526-540):
        - "replay" (engine default; required for replay-to-parity): fresh
          start reads the whole log; a checkpoint of ANY age resumes with
          full catch-up. Nothing is ever skipped.
        - "latest" (the reference's default): fresh start = end of log
          (only files inside the MaxCatchUp window are admitted); a
          checkpoint OLDER than MaxCatchUp is archived and the stream skips
          to the recent window — the reference's "too far behind, jump to
          end" rule (resume_test.go:17-97).
    * ``cfg.resume_from_end_on_failure`` — the escape hatch
      (lib/config/main.go:204-219): applies ONLY when the checkpoint is
      UNREADABLE. Default off ⇒ raise (never silently skip,
      tail.go:552-576); on ⇒ archive the corrupt checkpoint and start from
      the end of the log.

    Returns extra reader options; archiving the checkpoint (when the matrix
    calls for it) happens here so `start_stream` stays declarative.
    """
    import time as _time

    offsets_dir = os.path.join(checkpoint_dir, "offsets")
    has_ckpt = os.path.isdir(offsets_dir) and bool(os.listdir(offsets_dir))
    if not has_ckpt:
        # fresh start: replay ⇒ everything; latest ⇒ end of log
        return {} if cfg.start_mode == "replay" else _catch_up_cutoff_opts(cfg)

    # checkpoint exists — is it readable?
    try:
        with open(os.path.join(checkpoint_dir, "metadata")) as f:
            f.read()
    except OSError:
        if not cfg.resume_from_end_on_failure:
            raise RuntimeError(
                "checkpoint exists but is unreadable; refusing to silently "
                "skip events (set EngineConfig.resume_from_end_on_failure to override)"
            )
        _archive_checkpoint(checkpoint_dir, "unreadable")
        return _catch_up_cutoff_opts(cfg)

    if cfg.start_mode == "latest":
        # checkpoint age = newest committed progress file; older than the
        # MaxCatchUp window ⇒ too far behind, skip to the recent window
        newest = max(
            os.path.getmtime(os.path.join(offsets_dir, f))
            for f in os.listdir(offsets_dir)
        )
        if _time.time() - newest > cfg.max_catch_up_seconds:
            _archive_checkpoint(checkpoint_dir, "stale")
            return _catch_up_cutoff_opts(cfg)
    return {}


def start_stream(
    spark: SparkSession,
    events_dir: str,
    table_path: str,
    checkpoint_dir: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    schema=EVENT_SCHEMA,
    max_files_per_trigger: int = 2,
    available_now: bool = True,
    extra_payload_cols: tuple[str, ...] = (),
    fail_before_batch: int | None = None,
    dedup_within_watermark: bool = False,
    sink_factory=None,
    source_format: str = "parquet",
    merge_mode: str = "cow",
    compact_min_deltas: int | None = None,
    dq_checks: list | None = None,
    dq_policy: str = "fail",
    dq_quarantine_dir: str | None = None,
    dq_on_report=None,
    wap_checks: list | None = None,
    publish_tag: str = "published",
    wap_audit_scope: str = "changes",
    rebucket_target_bytes: int | None = None,
    rebucket_max_n_buckets: int = 4096,
) -> StreamingQuery:
    """Start (or resume, if the checkpoint exists) the CDC apply stream.

    ``sink_factory``: UpsertSink constructor (sink.py protocol); default is
    the built-in LakeTable (created here if absent).

    ``source_format``: "parquet" (columnar log segments — the Iceberg
    changelog analogue) or "jsonl" (newline-delimited JSON event lines —
    the raw-oplog-dump analogue). Both present the same EVENT_SCHEMA to the
    pipeline; everything downstream is format-agnostic.

    ``dq_checks``: optional expectation suite (operators/expectations.py)
    gating every micro-batch BEFORE the merge; ``dq_policy`` is one of
    fail / quarantine / log (streaming/gate.py).

    ``wap_checks``: optional write-audit-publish suite (streaming/wap.py)
    auditing every epoch's MERGED effect after the merge; passing audits
    move ``publish_tag`` atomically, failing ones roll the epoch back and
    kill the stream on the bad batch. Composes with ``dq_checks`` (gate
    rejects malformed input cheaply; WAP guards the publish boundary)."""
    from ..sources.schemas import TARGET_SCHEMA

    if sink_factory is None:
        sink_factory = LakeTable
    # create the table for the default sink whether it was implied (None)
    # or named explicitly — an explicit sink_factory=LakeTable used to skip
    # creation and die on batch 0 with an opaque missing-manifest error
    if sink_factory is LakeTable and not LakeTable.exists(table_path):
        LakeTable.create(table_path, TARGET_SCHEMA, n_buckets=cfg.target_buckets)

    reader = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    for k, v in resolve_start_policy(checkpoint_dir, events_dir, cfg).items():
        reader = reader.option(k, v)
    if source_format == "parquet":
        stream = reader.parquet(events_dir)
    elif source_format == "jsonl":
        stream = reader.json(events_dir)
    else:
        raise ValueError(f"unsupported source_format: {source_format!r}")
    # filters + watermark run inside the micro-batch plan (pushed to the scan);
    # the watermark bounds state for streaming dedup variants and is the
    # MaxCatchUp analogue (lib/config/main.go:19,77-86)
    events = apply_all_filters(stream, cfg.denylist).withWatermark(
        "wall", f"{cfg.max_catch_up_seconds} seconds"
    )
    if dedup_within_watermark:
        # Spark-native analogue of the dedup-TTL SETEX keys
        # (lib/redispub/publisher.go:41-62): state-store dedup on the event
        # identity, expiring with the watermark — optional because the MERGE
        # is already idempotent; this just cuts shuffle volume upstream.
        events = events.dropDuplicatesWithinWatermark(
            ["repo", "path", "ts", "tx_idx"]
        )
    # epoch namespace = checkpoint LINEAGE, not just its path: batch
    # ids are only unique within one checkpoint, and ids restart at
    # 0 when the resume policy archives a stale/unreadable
    # checkpoint and a fresh one is created at the same path — the
    # per-lineage token keeps the old lineage's applied-watermark
    # from silently skipping the new lineage's batches
    epoch_ns = (
        f"{os.path.abspath(checkpoint_dir)}#{_lineage_token(checkpoint_dir)}"
    )
    applier = make_batch_applier(
        table_path,
        extra_payload_cols,
        fail_before_batch,
        epoch_ns=epoch_ns,
        sink_factory=sink_factory,
        merge_mode=merge_mode,
        compact_min_deltas=compact_min_deltas,
        rebucket_target_bytes=rebucket_target_bytes,
        rebucket_max_n_buckets=rebucket_max_n_buckets,
        wap_checks=wap_checks,
        publish_tag=publish_tag,
        wap_audit_scope=wap_audit_scope,
    )
    if dq_checks:
        from .gate import make_gated_applier

        applier = make_gated_applier(
            applier,
            dq_checks,
            policy=dq_policy,
            quarantine_dir=dq_quarantine_dir,
            epoch_ns=epoch_ns,
            on_report=dq_on_report,
        )
    writer = events.writeStream.foreachBatch(applier).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="1 second")
    return writer.start()


def make_multi_sink_applier(
    table_paths: list[str],
    extra_payload_cols: tuple[str, ...] = (),
    epoch_ns: str = "",
):
    """R2 multi-destination fan-out (SURVEY.md §2): the reference publishes
    every message to EVERY Redis destination (lib/oplog/tail.go:143-147,
    main.go:67-139); here one micro-batch merges into every target table.
    Each table keeps its own epoch bookkeeping, so a crash between sink
    commits replays the batch and the already-committed tables skip it —
    per-destination exactly-once, like the reference's per-destination
    dedup keys."""

    tables = [LakeTable(path) for path in table_paths]

    def apply(batch_df, batch_id: int):
        batch_df.persist()
        try:
            for table in tables:
                table.merge_batch(
                    batch_df,
                    batch_id,
                    extra_payload_cols=extra_payload_cols,
                    epoch_ns=epoch_ns,
                )
        finally:
            batch_df.unpersist()

    return apply


def health(query: StreamingQuery) -> dict:
    """H1 healthz analogue (reference main.go:301-345): liveness + progress
    of the streaming query, suitable for a /healthz endpoint."""
    p = query.lastProgress or {}
    return {
        "healthy": query.isActive and query.exception() is None,
        "active": query.isActive,
        "status": query.status,
        "batch_id": p.get("batchId"),
        "num_input_rows": p.get("numInputRows"),
        "exception": str(query.exception()) if query.exception() else None,
    }


def serve_control_plane(
    query: StreamingQuery,
    table_path: str | None = None,
    denylist=None,
    port: int = 0,
):
    """Start the HTTP control plane next to a running query — the wiring
    the reference does in main.go:301-359 (healthz + metrics + denylist
    admin beside the tailer). Returns (server, bound_port); caller stops
    the server when the query ends. ``table_path`` enables /metrics from
    that LakeTable's lineage; ``denylist`` (a DenylistStore) enables the
    CRUD routes."""
    from .http import ControlPlaneServer

    lineage_fn = None
    if table_path is not None:
        sink = LakeTable(table_path)
        lineage_fn = sink.lineage
    srv = ControlPlaneServer(
        health_fn=lambda: health(query),
        denylist=denylist,
        lineage_fn=lineage_fn,
        port=port,
    )
    return srv, srv.start()


def run_to_completion(
    spark: SparkSession,
    events_dir: str,
    table_path: str,
    checkpoint_dir: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    **kw,
):
    """Drain the whole log with availableNow and return the sink (an
    UpsertSink — LakeTable unless a sink_factory was given)."""
    q = start_stream(
        spark, events_dir, table_path, checkpoint_dir, cfg, available_now=True, **kw
    )
    q.awaitTermination()
    return (kw.get("sink_factory") or LakeTable)(table_path)
