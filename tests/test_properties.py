"""Property-based invariants (hypothesis) for the delivery-semantics core:
LWW collapse is arrival-order-invariant and duplicate-absorbing — the
properties that make replay/HA idempotency work — plus diff-fold vs a
pure-Python reference over random modifier sequences."""

import json

import pandas as pd
from hypothesis import HealthCheck, given, settings, strategies as st

from oplogtoredis_spark.operators.fold import _apply_modifier
from oplogtoredis_spark.operators.lww import lww_collapse


def _mk_events(spark, rows):
    return spark.createDataFrame(
        rows, "repo string, path string, ts long, tx_idx int, op string, content string"
    )


events_strategy = st.lists(
    st.tuples(
        st.sampled_from(["r1", "r2"]),            # repo
        st.sampled_from(["a", "b", "c"]),         # path
        st.integers(min_value=1, max_value=6),    # ts
        st.integers(min_value=0, max_value=2),    # tx_idx
        st.sampled_from(["i", "u", "d"]),         # op
        st.text(alphabet="xyz", min_size=0, max_size=3),
    ),
    min_size=1,
    max_size=14,
)


def _oracle_lww(rows):
    best = {}
    for repo, path, ts, tx, op, content in rows:
        k = (repo, path)
        cur = best.get(k)
        if cur is None or (ts, tx) > (cur[0], cur[1]):
            best[k] = (ts, tx, op, content)
    return {k: (v[0], v[1]) for k, v in best.items()}


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=events_strategy, seed=st.integers(min_value=0, max_value=999))
def test_lww_collapse_order_invariant_and_duplicate_absorbing(spark, rows, seed):
    import random

    shuffled = list(rows)
    random.Random(seed).shuffle(shuffled)
    dup = shuffled + shuffled[: len(shuffled) // 2]  # replayed prefix (HA)
    out = lww_collapse(_mk_events(spark, dup), key=("repo", "path")).collect()
    got = {(r.repo, r.path): (r.ts, r.tx_idx) for r in out}
    assert got == _oracle_lww(rows)


# ---------------------------------------------------------------------------
# funnel vs a pure-Python reference over random event sequences
# ---------------------------------------------------------------------------
funnel_events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=4),                  # user
        st.integers(min_value=0, max_value=20),                 # ts_ms
        st.sampled_from(["signup", "click", "purchase", "view"]),
    ),
    min_size=1,
    max_size=24,
)


def _oracle_funnel(rows, stages=("signup", "click", "purchase")):
    out = {}
    for uid in {r[0] for r in rows}:
        evs = [(t, e) for u, t, e in rows if u == uid]
        ts, prev = [], None
        for s in stages:
            cand = [
                t for t, e in evs
                if e == s and (prev is None or t >= prev)
            ]
            cur = min(cand) if cand and (prev is not None or s == stages[0]) else None
            if prev is None and s != stages[0]:
                cur = None
            ts.append(cur)
            if cur is None:
                break
            prev = cur
        ts += [None] * (len(stages) - len(ts))
        stage = next((i for i, t in enumerate(ts) if t is None), len(stages))
        out[uid] = (tuple(ts), stage)
    return out


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=funnel_events_strategy)
def test_funnel_matches_reference_fold(spark, rows):
    import datetime as dt

    from oplogtoredis_spark.operators.analytics import funnel

    base = dt.datetime(2026, 1, 1)
    df = spark.createDataFrame(
        [
            (u, base + dt.timedelta(milliseconds=t), e)
            for u, t, e in rows
        ],
        "user_id int, ts timestamp, event_type string",
    )
    base_ms = int(
        dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1000
    )
    got = {
        r["user_id"]: (
            tuple(
                None if r[c] is None else r[c] - base_ms
                for c in ("t_signup_ms", "t_click_ms", "t_purchase_ms")
            ),
            r["stage"],
        )
        for r in funnel(df, ("signup", "click", "purchase")).collect()
    }
    assert got == _oracle_funnel(rows)


# ---------------------------------------------------------------------------
# decontamination vs brute-force set intersection
# ---------------------------------------------------------------------------
text_strategy = st.lists(
    st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=8
).map(" ".join)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    corpus=st.lists(text_strategy, min_size=1, max_size=5),
    bench=st.lists(text_strategy, min_size=1, max_size=3),
    n=st.integers(min_value=1, max_value=3),
)
def test_decontaminate_matches_set_intersection(spark, corpus, bench, n):
    from pyspark.sql import Row

    from oplogtoredis_spark.operators.decontam import decontaminate

    def grams(text):
        import re

        # mirror Spark/DuckDB split semantics exactly: splitting the
        # trimmed empty string yields [""], not [] (one empty token)
        toks = re.split(r"\s+", text.strip().lower())
        return {
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        }

    bench_grams = set().union(*(grams(t) for t in bench)) if bench else set()
    expect = {
        i: len(grams(t) & bench_grams) for i, t in enumerate(corpus)
    }
    cdf = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(corpus)]
    )
    bdf = spark.createDataFrame(
        [Row(doc_id=100 + i, text=t) for i, t in enumerate(bench)]
    )
    got = {
        r["doc_id"]: r["n_hit_ngrams"]
        for r in decontaminate(cdf, bdf, n=n).collect()
    }
    assert got == expect


doc_strategy = st.dictionaries(
    st.sampled_from(["a", "b", "c"]),
    st.one_of(st.integers(-5, 5), st.text(alphabet="pq", max_size=2)),
    max_size=3,
)
update_strategy = st.one_of(
    st.builds(lambda s: {"$set": s}, doc_strategy.filter(bool)),
    st.builds(lambda k: {"$unset": {k: True}}, st.sampled_from(["a", "b", "c"])),
    st.builds(lambda s: {"$v": 2, "diff": {"u": s}}, doc_strategy.filter(bool)),
    st.builds(lambda k: {"$v": 2, "diff": {"d": {k: False}}}, st.sampled_from(["a", "b"])),
)


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(initial=doc_strategy, updates=st.lists(update_strategy, max_size=5))
def test_apply_modifier_matches_reference_semantics(initial, updates):
    """_apply_modifier (the diff-fold kernel) agrees with a straightforward
    dict interpretation of $set/$unset and v2 u/d subtrees."""
    doc = dict(initial)
    ref = dict(initial)
    for u in updates:
        doc = _apply_modifier(doc, u)
        if "$set" in u or "$unset" in u:
            ref.update(u.get("$set", {}))
            for k in u.get("$unset", {}):
                ref.pop(k, None)
        elif u.get("$v") == 2:
            ref.update(u["diff"].get("u", {}))
            for k in u["diff"].get("d", {}):
                ref.pop(k, None)
        else:
            ref = {k: v for k, v in u.items() if not k.startswith("$")}
    assert doc == ref


bpe_word_strategy = st.text(
    alphabet="abcdefghinorstu0123456789", min_size=1, max_size=12
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(words=st.lists(bpe_word_strategy, min_size=1, max_size=6))
def test_bpe_count_bounds_and_reference_agreement(spark, words):
    """For random alnum words: 1 <= count(word) <= len(word), and the
    string-expression BPE equals the independent pure-Python rendering
    (one left-to-right non-overlapping pass per merge rank)."""
    from oplogtoredis_spark.operators.text import BPE_MERGES, bpe_token_counts

    def ref(word):
        toks = list(word)
        for a, b in BPE_MERGES:
            out, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            toks = out
        return len(toks)

    df = spark.createDataFrame(
        [(0, " ".join(words))], "doc_id long, text string"
    )
    got = bpe_token_counts(df).collect()[0]["n_tokens_bpe"]
    want = sum(ref(w) for w in words)
    assert got == want
    assert len(words) <= got <= sum(len(w) for w in words)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    keys=st.lists(st.integers(0, 10_000), min_size=1, max_size=30, unique=True),
    extra=st.lists(st.integers(10_001, 20_000), max_size=10, unique=True),
)
def test_hash_split_is_a_pure_partition_function(spark, keys, extra):
    """Splits are exhaustive, disjoint, and INVARIANT under corpus growth:
    adding rows never changes an existing key's split (the leakage
    guarantee, as a property)."""
    from oplogtoredis_spark.operators.sampling import hash_split

    def splits_of(ids):
        df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        return {
            r.doc_id: r.split
            for r in hash_split(df, "doc_id").select("doc_id", "split").collect()
        }

    small = splits_of(keys)
    grown = splits_of(keys + extra)
    assert set(small) == set(keys)  # exhaustive: every key assigned
    assert all(grown[k] == small[k] for k in keys)  # growth-stable
    assert set(grown.values()) <= {"train", "eval", "test"}


# ---------------------------------------------------------------------------
# SCD2 history vs a pure-Python reference fold
# ---------------------------------------------------------------------------
scd_changes_strategy = st.lists(
    st.tuples(
        st.sampled_from(["k1", "k2"]),               # key
        st.integers(min_value=1, max_value=5),       # ts (ties likely)
        st.sampled_from(["i", "u", "d"]),            # op
        st.one_of(st.none(), st.sampled_from(["x", "y"])),  # tracked attr
    ),
    min_size=1,
    max_size=16,
)


def _scd2_model(rows, compress):
    """Reference fold: rows are (k, ts, seq, op, v) with seq a total
    tiebreak. Compares to the previous SURVIVOR — equivalent to the
    operator's previous-ROW comparison by transitivity of equality
    within non-delete runs."""
    bykey = {}
    for r in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        bykey.setdefault(r[0], []).append(r)
    res = set()
    for k, changes in bykey.items():
        kept = []
        for c in changes:
            if (
                not compress
                or c[3] == "d"
                or not kept
                or kept[-1][3] == "d"
                or kept[-1][4] != c[4]
            ):
                kept.append(c)
        for i, c in enumerate(kept):
            if c[3] == "d":
                continue
            vt = kept[i + 1][1] if i + 1 < len(kept) else None
            res.add((k, c[4], c[1], vt, vt is None))
    return res


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=scd_changes_strategy, compress=st.booleans())
def test_scd2_matches_reference_model(spark, rows, compress):
    from oplogtoredis_spark.operators.scd import scd2_history

    tagged = [(k, ts, seq, op, v) for seq, (k, ts, op, v) in enumerate(rows)]
    df = spark.createDataFrame(
        tagged, "k string, ts long, seq int, op string, v string"
    )
    out = scd2_history(
        df, keys="k", attrs=["v"], ts="ts", tiebreak="seq", op="op",
        compress=compress,
    ).collect()
    got = {(r.k, r.v, r.valid_from, r.valid_to, r.is_current) for r in out}
    assert got == _scd2_model(tagged, compress)


def test_scd2_asof_duality(spark):
    """For an upsert-only feed, looking a timestamp up in the SCD2 table
    (valid_from <= t < valid_to, open current interval) gives the SAME
    answer as the as-of join against the raw feed — the two operators are
    the materialized and on-the-fly faces of one semantic."""
    import random

    from oplogtoredis_spark.operators.asof import asof_join
    from oplogtoredis_spark.operators.scd import scd2_history

    rng = random.Random(7)
    feed = [
        (f"k{rng.randrange(6)}", rng.randrange(1, 40), seq, f"v{rng.randrange(5)}")
        for seq in range(120)
    ]
    probes = [(f"k{i % 6}", rng.randrange(0, 42)) for i in range(60)]
    fdf = spark.createDataFrame(feed, "k string, ts long, seq int, v string")
    pdf = spark.createDataFrame(probes, "k string, t long")

    via_asof = {
        (r.k, r.t): r.r_v
        for r in asof_join(
            pdf, fdf, on="k", left_ts="t", right_ts="ts", right_tiebreak="seq"
        ).collect()
    }

    h = scd2_history(fdf, keys="k", attrs=["v"], ts="ts", tiebreak="seq")
    hh = {r.k: [] for r in h.collect()}
    for r in h.collect():
        hh[r.k].append((r.valid_from, r.valid_to, r.v))
    via_scd = {}
    for k, t in probes:
        v = None
        for vf, vt, val in hh.get(k, []):
            if vf <= t and (vt is None or t < vt):
                v = val
        via_scd[(k, t)] = v
    assert via_asof == via_scd
