"""Correctness checks and metric arithmetic for the benchmark.

Every check compares what the engine returned with what gen.World says it
must return; none of them asks the engine."""
import json
import math
import statistics

from gen import World

MIN_BEYOND = 10  # samples a reported percentile must have above it


def percentile(samples, nominal):
    """The highest whole percentile <= `nominal` that has at least
    MIN_BEYOND samples above its nearest-rank value.

    Returns (percentile, value, n), or (None, None, n) when no percentile
    qualifies (fewer than MIN_BEYOND + 1 samples)."""
    xs = sorted(samples)
    n = len(xs)
    for q in range(int(nominal), 0, -1):
        rank = max(1, math.ceil(q * n / 100))  # 1-based nearest rank
        if n - rank >= MIN_BEYOND:
            return q, xs[rank - 1], n
    return None, None, n


# ------------------------------------------------------------ responses

def _parse(body):
    try:
        return json.loads(body)
    except ValueError:
        return None


def check_kv(status, body, allowed):
    """`allowed` is the set of records (None = never written) the key may
    legally have when served. A 404 is right only if one of them is absent
    or a tombstone; a 200 must equal one live record exactly."""
    if status == 404:
        return any(r is None or r["tombstone"] for r in allowed)
    if status != 200:
        return False
    got = _parse(body)
    return any(r is not None and not r["tombstone"] and got == r for r in allowed)


def check_index_exact(status, body, expected):
    return status == 200 and _parse(body) == expected


def allowed_records(world, key, lo, hi):
    """Records `key` held after any batch from `lo` to `hi`: the newest
    committed when the request was sent, and the newest started when the
    reply arrived."""
    return [world.record_after(key, b) for b in range(lo, hi + 1)]


def check_serve_request(world, state, post, rec):
    if rec["kind"] == "kv":
        return check_kv(rec["status"], rec["body"], [state.get(int(rec["arg"]))])
    terms = [t for t in dict.fromkeys(rec["arg"].split(",")) if t]
    return check_index_exact(rec["status"], rec["body"],
                             World.index_answer(state, post, terms))


def check_ingest_request(world, rec):
    """A /kv read sent while batches commit."""
    lo, hi = rec["lo"], rec["hi"]
    if rec["kind"] != "kv" or lo < 0 or hi < lo:
        return False
    return check_kv(rec["status"], rec["body"], allowed_records(world, int(rec["arg"]), lo, hi))


def check_store(state, store_rows):
    """The drained table holds exactly the latest record of every key,
    tombstones included."""
    return {r["key"]: r for r in store_rows} == state and len(store_rows) == len(state)


def check_index(state, postings):
    """The drained index holds exactly the (term, key) postings of the live
    records."""
    want = {(t, k) for t, ks in World.postings(state).items() for k in ks}
    return {(t, k) for t, k in postings} == want and len(postings) == len(want)


# -------------------------------------------------------------- metrics

def ms(ns):
    return ns / 1e6


def median(xs):
    return statistics.median(xs) if xs else 0.0


def span_summary(spans):
    """Per span name: count, total time and self time (total minus the
    part covered by its child spans), in ms."""
    children = {}
    for s in spans:
        if s["parent"]:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        dur = s["end_ns"] - s["start_ns"]
        covered = sum(c["end_ns"] - c["start_ns"] for c in children.get(s["id"], []))
        o = out.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
        o["count"] += 1
        o["total_ms"] += ms(dur)
        o["self_ms"] += ms(dur - covered)
    return out
