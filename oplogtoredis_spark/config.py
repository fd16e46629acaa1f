"""Engine configuration: a frozen dataclass that callers build directly.

Mirrors the shape of the reference's envconfig struct
(/root/reference/lib/config/main.go:13-36) with Spark-appropriate semantics.
Every field has a safe default.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class EngineConfig:
    # --- delivery semantics ------------------------------------------------
    # Reference MaxCatchUp (lib/config/main.go:19,77-86): checkpoint older than
    # this → skip to end of log. In Spark this becomes the watermark delay /
    # allowed lateness for streaming dedup state.
    max_catch_up_seconds: int = 120

    # --- parallelism / layout ----------------------------------------------
    # Number of hash buckets in the lake target table. The analogue of the
    # reference's WriteParallelism shards (lib/config/main.go:26): the unit of
    # copy-on-write rewrite and of merge parallelism. At 100 TB this would be
    # sized so one bucket's live data fits comfortably in an executor
    # (e.g. 4096+ buckets); small here for local tests.
    target_buckets: int = 32

    # --- behaviour gates ----------------------------------------------------
    # Reference OTR_RESUME_FROM_END_ON_FAILURE escape hatch
    # (lib/config/main.go:204-219): if the checkpoint is unreadable, never
    # silently skip unless this is set.
    resume_from_end_on_failure: bool = False
    # Reference DEFAULT resume semantics (lib/oplog/tail.go:526-540, distinct
    # from the escape hatch above): "latest" = fresh start begins at the end
    # of the log and a checkpoint older than MaxCatchUp skips to the end,
    # both bounded by max_catch_up_seconds. "replay" (engine default — the
    # only safe mode for replay-to-parity) = fresh start reads everything
    # and a checkpoint of any age resumes with full catch-up.
    start_mode: str = "replay"

    # --- denylist (lib/denylist/) -------------------------------------------
    denylist: tuple[str, ...] = field(default_factory=tuple)


DEFAULT_CONFIG = EngineConfig()
