"""Deterministic change-event generator (SURVEY.md §7.1 M0, FIXTURES.md §2).

Seeded, numpy-vectorized (scales to tens of millions of events for the bench),
and free of wall-clock reads so the oracle, the Spark replay, and both
parallelism levels (local[8] vs local[32]) see byte-identical input.

Coverage, each traceable to a reference test (FIXTURES.md §2):
  - inserts / updates (replacement + modifier) / deletes per key
  - multi-op transactions: several events share one ``ts``, tx_idx 0..n
    (reference lib/oplog/tail_test.go:280-393)
  - exact duplicate events (HA double-read / checkpoint replay) — must apply
    once (reference integration-tests/fault-injection/HA_test.go:12-41)
  - bounded out-of-order arrival (late data ≤ MaxCatchUp analogue)
  - hot-key skew: ~1% of repos receive ~50% of events (north_rule)
  - denylisted repos interleaved (acceptance/denylist_oplog_test.go:12-75)
  - filtered namespaces: ``system.``-prefixed paths and a ``config`` repo
    (reference lib/oplog/processor.go:34-43)
  - op='c' command rows that must be dropped (lib/oplog/tail.go:763-764)
  - optional schema-evolution phase: a ``stars`` column appears (M5)
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from .schemas import EVENT_SCHEMA_EVOLVED

_BASE_T = 1_700_000_000  # fixed epoch base (no wall clock!)

_LANGS = np.array(["py", "go", "js", "md", "rs", "java"])

# small pool of modifier-update shapes exercising changed-fields T4/T5/T6
_V1_DIFFS = np.array(
    [
        '{"$v":1,"$set":{"content":1,"lines":42}}',
        '{"$v":1,"$set":{"content":1},"$unset":{"legacy":true}}',
        '{"$v":1,"$set":{"meta.owner":"a","meta.team":"b"}}',
    ]
)
_V2_DIFFS = np.array(
    [
        '{"$v":2,"diff":{"u":{"content":"x","lines":7}}}',
        '{"$v":2,"diff":{"i":{"meta":{"owner":"a"}},"u":{"content":"y"}}}',
        '{"$v":2,"diff":{"smeta":{"u":{"owner":"c"}},"d":{"legacy":true}}}',
        '{"$v":2,"diff":{"stags":{"a":true,"u2":"new"}}}',
    ]
)

_FILLER = (
    "import os\nimport sys\n\n"
    "# generated module — deterministic fixture content\n"
    "def handler(event, ctx):\n"
    "    payload = dict(event)\n"
    "    payload['ok'] = True\n"
    "    return payload\n\n"
    "class Service:\n"
    "    def __init__(self, cfg):\n"
    "        self.cfg = cfg\n"
    "    def run(self):\n"
    "        return [self.cfg.get(k) for k in sorted(self.cfg)]\n"
)


# vectorized hex: a pre-built pool of 16-hex-char chunks indexed by random
# ints — fancy indexing instead of per-row format() (10-50x faster at 10^7)
_HEX_POOL = np.array([f"{i:04x}" for i in range(65536)])


def _hex40(rng: np.random.Generator, n: int) -> np.ndarray:
    parts = [_HEX_POOL[rng.integers(0, 65536, size=n)] for _ in range(10)]
    out = parts[0]
    for p in parts[1:]:
        out = np.char.add(out, p)
    return out


def generate_events(
    n_events: int = 10_000,
    n_repos: int = 100,
    paths_per_repo: int = 10,
    seed: int = 42,
    hot_frac: float = 0.01,
    hot_share: float = 0.5,
    txn_frac: float = 0.10,
    dup_frac: float = 0.02,
    late_frac: float = 0.05,
    late_window: int = 64,
    junk_frac: float = 0.02,
    denied_repos: tuple[str, ...] = ("denied_org/repo0", "denied_org/repo1"),
    evolve: bool = False,
    content_chars: int = 280,
) -> pd.DataFrame:
    """Returns the event log as a pandas frame in ARRIVAL order (seq)."""
    rng = np.random.default_rng(seed)

    # --- transaction grouping: group sizes 1 (1-txn_frac) or 2..5 ----------
    # vectorized: over-draw groups, then cut at the first cumsum ≥ n_events
    r_all = rng.random(n_events + 8)
    sizes_all = np.where(
        r_all >= txn_frac,
        1,
        (2 + (np.minimum(r_all / max(txn_frac, 1e-12), 0.999999) * 4).astype(np.int64)) % 4 + 2,
    )
    cum = np.cumsum(sizes_all)
    n_groups_needed = int(np.searchsorted(cum, n_events) + 1)
    sizes = sizes_all[:n_groups_needed]
    n_groups = len(sizes)
    group_id = np.repeat(np.arange(n_groups), sizes)[:n_events]
    # tx_idx = position within group
    tx_idx = (np.arange(n_events) - np.concatenate(([0], np.cumsum(sizes)))[group_id]).astype(
        np.int32
    )

    # --- timestamps: T advances by 0/1s per group; I counts within a T ------
    t_inc = (rng.random(n_groups) < 0.4).astype(np.int64)
    t_of_group = _BASE_T + np.cumsum(t_inc)
    grp_t = pd.Series(t_of_group)
    i_of_group = grp_t.groupby(grp_t).cumcount().to_numpy()
    ts_group = (t_of_group << 32) | i_of_group
    ts = ts_group[group_id]
    wall = pd.to_datetime(t_of_group[group_id], unit="s", utc=True).tz_localize(None)

    # --- keys: hot-set skew --------------------------------------------------
    n_hot = max(1, int(n_repos * hot_frac))
    is_hot = rng.random(n_events) < hot_share
    repo_idx = np.where(
        is_hot,
        rng.integers(0, n_hot, n_events),
        rng.integers(0, n_repos, n_events),
    )
    path_idx = rng.integers(0, paths_per_repo, n_events)
    lang_pick = _LANGS[(repo_idx * 7 + path_idx) % len(_LANGS)]
    repo = (
        "org" + pd.Series(repo_idx % 17).astype(str) + "/repo" + pd.Series(repo_idx).astype(str)
    ).to_numpy(dtype=object)
    path = (
        "src/m" + pd.Series(path_idx % 4).astype(str) + "/file"
        + pd.Series(path_idx).astype(str) + "." + pd.Series(lang_pick).astype(str)
    ).to_numpy(dtype=object)

    # --- ops ----------------------------------------------------------------
    r = rng.random(n_events)
    op = np.full(n_events, "u", dtype=object)
    op[r < 0.35] = "i"
    op[(r >= 0.85) & (r < 0.95)] = "d"
    op[r >= 0.95] = "c"  # command rows → dropped by the op filter (F3)

    # --- payload (all vectorized: pandas str.cat / np.char) -----------------
    commit = _hex40(rng, n_events)
    rnd = rng.integers(0, 1 << 31, n_events)
    reps = max(1, content_chars // len(_FILLER) + 1)
    body = "\n" + (_FILLER * reps)[: content_chars - 40]
    header = pd.Series(np.char.add("# ", repo.astype(str)))
    content = (
        header.str.cat(pd.Series(path).astype(str), sep=":")
        .str.cat(pd.Series(np.char.add(np.char.ljust(commit.astype(str), 12), "")).str[:12], sep=" commit ")
        .str.cat(pd.Series(rnd).astype(str), sep=" v")
        + body
    ).to_numpy(dtype=object)
    content[op == "d"] = None
    commit = commit.astype(object)
    commit[op == "d"] = None
    lang = lang_pick.astype(object)
    lang[op == "d"] = None

    # modifier updates: 60% of updates carry a diff (v1 or v2 alternating)
    is_u = op == "u"
    mod_roll = rng.random(n_events)
    is_mod = is_u & (mod_roll < 0.6)
    use_v2 = rng.random(n_events) < 0.5
    diff = np.full(n_events, None, dtype=object)
    v1_pick = _V1_DIFFS[rnd % len(_V1_DIFFS)]
    v2_pick = _V2_DIFFS[rnd % len(_V2_DIFFS)]
    diff[is_mod & ~use_v2] = v1_pick[is_mod & ~use_v2]
    diff[is_mod & use_v2] = v2_pick[is_mod & use_v2]

    df = pd.DataFrame(
        {
            "ts": ts.astype(np.int64),
            "tx_idx": tx_idx,
            "wall": wall,
            "op": op,
            "repo": repo.astype(object),
            "path": path.astype(object),
            "commit": commit,
            "lang": lang,
            "content": content,
            "diff": diff,
        }
    )

    # --- junk that the filters must drop ------------------------------------
    n_junk = int(n_events * junk_frac)
    if n_junk:
        junk_rows = df.sample(n=n_junk, random_state=seed + 1).copy()
        third = max(1, n_junk // 3)
        junk_rows.iloc[:third, junk_rows.columns.get_loc("repo")] = denied_repos[0]
        junk_rows.iloc[third : 2 * third, junk_rows.columns.get_loc("repo")] = "config"
        sys_slice = junk_rows.iloc[2 * third :]
        junk_rows.iloc[2 * third :, junk_rows.columns.get_loc("path")] = (
            "system." + sys_slice["path"].astype(str)
        )
        df = pd.concat([df, junk_rows], ignore_index=True)

    if evolve:
        # assigned BEFORE duplicate sampling so an exact-duplicate replay row
        # is byte-identical to its original — otherwise the LWW winner among
        # identical (repo, path, ts, tx_idx) identities is payload-ambiguous
        # (engine max_by arbitrary vs oracle keep-first)
        stars = rng.integers(0, 10_000, len(df)).astype(object)
        stars[df["op"].to_numpy() == "d"] = None
        df["stars"] = stars

    # --- exact duplicates (HA replay) ----------------------------------------
    n_dup = int(len(df) * dup_frac)
    if n_dup:
        dups = df.sample(n=n_dup, random_state=seed + 2)
        df = pd.concat([df, dups], ignore_index=True)

    # --- arrival order: mostly ts order, bounded lateness ---------------------
    # Integer sort key: dense-rank the encoded ts (raw ts*64 near 4.7e20
    # exceeds float64 ulp 65536, which silently rounded ALL jitter away —
    # arrival was exactly total order and lateness was never exercised).
    # rank*64 + tx_idx leaves room for tx_idx (group sizes ≤ 5 << 64); a late
    # event is displaced 1..late_window whole ts-steps, all in int64.
    _, ts_rank = np.unique(df["ts"].to_numpy(), return_inverse=True)
    order_key = ts_rank.astype(np.int64) * 64 + df["tx_idx"].to_numpy()
    jitter = np.zeros(len(df), dtype=np.int64)
    late_mask = rng.random(len(df)) < late_frac
    jitter[late_mask] = rng.integers(1, late_window, late_mask.sum()) * 64
    arrival = np.argsort(order_key + jitter, kind="stable")
    df = df.iloc[arrival].reset_index(drop=True)
    df.insert(0, "seq", np.arange(len(df), dtype=np.int64))

    return df


def write_events_chunked(
    out_dir: str,
    n_events: int,
    n_chunks: int = 8,
    files_per_chunk: int = 8,
    seed: int = 42,
    **gen_kwargs,
) -> int:
    """Large logs in bounded memory: n_chunks independent generator runs with
    disjoint oplog-time ranges (chunk i is strictly later), each written as
    its own parquet segments. Deterministic: chunk i uses seed+i.

    Returns total event count. Keys overlap across chunks (same repo
    namespace) so LWW work is realistic; exact-duplicate replays stay within
    a chunk, mirroring a bounded replay window.
    """
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    per_chunk = n_events // n_chunks
    for i in range(n_chunks):
        df = generate_events(n_events=per_chunk, seed=seed + i, **gen_kwargs)
        # shift chunk i's timestamps later than every prior chunk
        df["ts"] = df["ts"] + (np.int64(i) * 10_000_000 << 32)
        df["wall"] = df["wall"] + pd.Timedelta(seconds=10_000_000 * i)
        df["seq"] = df["seq"] + total
        bounds = np.linspace(0, len(df), files_per_chunk + 1).astype(int)
        for j in range(files_per_chunk):
            part = df.iloc[bounds[j] : bounds[j + 1]]
            _write_parquet(part, os.path.join(out_dir, f"events-{i:03d}-{j:03d}.parquet"))
        total += len(df)
    return total


#: parquet types of the event columns, from EVENT_SCHEMA_EVOLVED; wall is
#: written in microseconds — Spark's parquet reader rejects TIMESTAMP(NANOS)
_ARROW_OF = {
    "bigint": pa.int64(),
    "int": pa.int32(),
    "string": pa.string(),
    "timestamp": pa.timestamp("us"),
}
_EVENT_ARROW_TYPES = {
    f.name: _ARROW_OF[f.dataType.simpleString()] for f in EVENT_SCHEMA_EVOLVED.fields
}


def _write_parquet(part: pd.DataFrame, path: str) -> None:
    """Write one log segment with the event schema's types. Left to pandas,
    a segment whose values in a column are all null (``diff`` in a file of
    inserts) got an INT32 column, and a stream reading the log with
    EVENT_SCHEMA died with PARQUET_COLUMN_DATA_TYPE_MISMATCH. Columns
    outside the event schema keep their inferred type."""
    if "wall" in part:
        part = part.assign(wall=part["wall"].astype("datetime64[us]"))
    inferred = pa.Schema.from_pandas(part, preserve_index=False)
    schema = pa.schema(
        [(f.name, _EVENT_ARROW_TYPES.get(f.name, f.type)) for f in inferred]
    )
    pq.write_table(pa.Table.from_pandas(part, schema=schema, preserve_index=False), path)


def write_events(df: pd.DataFrame, out_dir: str, n_files: int = 8) -> list[str]:
    """Write the log as n_files parquet segments in arrival order.

    Multiple files let the file streaming source (maxFilesPerTrigger) consume
    the log in bounded micro-batches, the analogue of the reference's greedy
    batch fill (lib/redispub/publisher.go:191-207).
    """
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    bounds = np.linspace(0, len(df), n_files + 1).astype(int)
    for i in range(n_files):
        part = df.iloc[bounds[i] : bounds[i + 1]]
        p = os.path.join(out_dir, f"events-{i:05d}.parquet")
        _write_parquet(part, p)
        paths.append(p)
    return paths


def write_events_jsonl(df: pd.DataFrame, out_dir: str, n_files: int = 8) -> list[str]:
    """Write the log as newline-delimited JSON segments (the raw-oplog-dump
    source format; `start_stream(source_format="jsonl")` consumes these).
    Same arrival-order slicing as write_events."""
    os.makedirs(out_dir, exist_ok=True)
    df = df.assign(wall=df["wall"].astype("datetime64[us]"))
    paths = []
    bounds = np.linspace(0, len(df), n_files + 1).astype(int)
    for i in range(n_files):
        part = df.iloc[bounds[i] : bounds[i + 1]]
        p = os.path.join(out_dir, f"events-{i:05d}.json")
        part.to_json(p, orient="records", lines=True, date_format="iso")
        paths.append(p)
    return paths
