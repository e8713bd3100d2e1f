"""Seeded input generator for the benchmark's workloads.

Writes the changelog files a workload drains and the request streams its
clients send, and computes, without the engine, what the engine must
serve: each key's record after every micro-batch, the latest state and the
inverted index (term -> keys) of the tags column.

The same seed gives byte-identical files.
"""
import bisect
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA = pa.schema([
    ("key", pa.int64()),
    ("ver", pa.int64()),
    ("val", pa.string()),
    ("tags", pa.string()),
    ("ts_us", pa.int64()),
    ("tombstone", pa.bool_()),
])

VOCAB = [f"t{i}" for i in range(200)]
MAX_HITS = 256  # the index route's page size

# Workload shapes. Sizes are chosen so a run fits its time budget; see
# NOTES.md for why each workload exists.
WORKLOADS = {
    "serve_kv": {
        "keys": 10000,          # keys written by the initial load
        "update_rows": 1000,    # updates and deletes after it, same file
        "tombstone_frac": 0.05,
        "num_buckets": 16,
        "clients": 4,
        "index_every": 10,      # every 10th request of a client is /index
        "requests_per_client": 2000,
        "warmup_requests": 24,
        "warmup_direct": 96,    # route calls from 4 threads, to warm the JIT quickly
        "direct_requests": 40,  # traced run: 20 /kv and 20 /index, each timed per layer
    },
    "ingest_serve": {
        "keys": 5000,
        "warm_files": 3,        # drained once after the builds, to warm the batch path
        "backlog_files": 150,   # more than any run drains
        "stats_files": 4,       # traced run: drained after the measured batches, with stats
        "rows_per_file": 8,
        "tombstone_frac": 0.05,
        "num_buckets": 16,
        "clients": 4,           # warm-up only
        "files_ahead": 2,
        "kv_rate": 2.5,         # open-loop /kv reads per second
        "reader_requests": 500,
        "warmup_requests": 8,
        "warmup_direct": 0,
    },
}


class Zipf:
    """Zipf(s) sampler over ranks 0..n-1 by inverse CDF."""

    def __init__(self, n, s=1.0):
        acc, self.cdf = 0.0, []
        for r in range(n):
            acc += 1.0 / (r + 1) ** s
            self.cdf.append(acc)
        self.total = acc

    def draw(self, rng):
        return bisect.bisect_left(self.cdf, rng.random() * self.total)


class World:
    """A workload's generated inputs and the engine-independent expectation.

    history[key] is the list of (batch, record) in batch order, where record
    is the row the key's latest-per-key entry holds after that batch (a
    tombstone record included). Batch b is changelog file b."""

    def __init__(self, workload, seed):
        self.workload = workload
        self.seed = seed
        self.cfg = dict(WORKLOADS[workload])
        self.rng = random.Random(f"{workload}:{seed}")
        self.files = []          # list of lists of row dicts, one per file
        self.history = {}
        self.requests = {}       # file name -> list of "kind arg" lines
        self._ts = 1_000_000
        self._ver = {}
        self._dead = []          # keys tombstoned when requests are drawn
        self.key_zipf = Zipf(self.cfg["keys"], 0.99)
        self.term_zipf = Zipf(len(VOCAB), 1.0)
        # hot keys are spread over the key space, so over buckets
        self.key_perm = list(range(self.cfg["keys"]))
        self.rng.shuffle(self.key_perm)

    # ---- changelog
    def _record(self, key, tombstone):
        self._ts += 1
        ver = self._ver.get(key, 0) + 1
        self._ver[key] = ver
        if tombstone:
            val, tags = None, None
        else:
            val = "%016x" % self.rng.getrandbits(64)
            n = 1 + self.rng.randrange(3)
            terms = []
            while len(terms) < n:
                t = VOCAB[self.term_zipf.draw(self.rng)]
                if t not in terms:
                    terms.append(t)
            tags = " ".join(terms)
        return {"key": key, "ver": ver, "val": val, "tags": tags,
                "ts_us": self._ts, "tombstone": tombstone}

    def zipf_key(self):
        return self.key_perm[self.key_zipf.draw(self.rng)]

    def rows(self, keys, tombstone_frac):
        return [self._record(k, self.rng.random() < tombstone_frac) for k in keys]

    def updates(self, n):
        """`n` changelog rows on Zipf keys, tombstone_frac of them deletes."""
        return self.rows([self.zipf_key() for _ in range(n)], self.cfg["tombstone_frac"])

    def add_file(self, rows):
        b = len(self.files)
        self.files.append(rows)
        latest = {}
        for r in rows:
            latest[r["key"]] = r
        for k, r in latest.items():
            self.history.setdefault(k, []).append((b, r))

    def initial_load(self):
        """Every key once, none deleted."""
        return self.rows(range(self.cfg["keys"]), 0.0)

    # ---- expectations
    def record_after(self, key, batch):
        """The key's stored record after `batch`, or None if never written."""
        hist = self.history.get(key, [])
        i = bisect.bisect_right([b for b, _ in hist], batch)
        return hist[i - 1][1] if i else None

    def state_after(self, batch):
        out = {}
        for k in self.history:
            r = self.record_after(k, batch)
            if r is not None:
                out[k] = r
        return out

    @staticmethod
    def postings(state):
        post = {}
        for k, r in state.items():
            if not r["tombstone"]:
                for t in set(r["tags"].split(" ")):
                    post.setdefault(t, set()).add(k)
        return post

    @staticmethod
    def index_answer(state, post, terms):
        """Rows the /index route must return for `terms` (AND), by key."""
        sets = [post.get(t, set()) for t in terms]
        hits = sorted(set.intersection(*sets)) if sets else []
        return [state[k] for k in hits[:MAX_HITS]]

    # ---- requests
    def request_key(self):
        """A /kv key: 2.5% never written, 2.5% tombstoned, else Zipf."""
        u = self.rng.random()
        if u < 0.025:
            return self.cfg["keys"] + self.rng.randrange(self.cfg["keys"])
        if u < 0.05 and self._dead:
            return self._dead[self.rng.randrange(len(self._dead))]
        return self.zipf_key()

    def request_terms(self):
        n = 1 + self.rng.randrange(2)
        terms = []
        while len(terms) < n:
            t = VOCAB[self.term_zipf.draw(self.rng)]
            if t not in terms:
                terms.append(t)
        return ",".join(terms)

    def mixed_requests(self, n, index_every, offset=0):
        """`n` requests, every `index_every`-th an /index one. A fixed
        pattern, not a coin per request, so every run has the same mix."""
        return [f"index {self.request_terms()}" if (i + offset) % index_every == 0
                else f"kv {self.request_key()}" for i in range(n)]

    # ---- output
    def write(self, out_dir):
        os.makedirs(out_dir, exist_ok=True)
        names = []
        for i, rows in enumerate(self.files):
            name = f"c-{i:05d}.parquet"
            table = pa.Table.from_pylist(rows, schema=SCHEMA)
            pq.write_table(table, os.path.join(out_dir, name), compression="snappy")
            names.append(name)
        for name, lines in self.requests.items():
            with open(os.path.join(out_dir, name), "w") as f:
                f.write("\n".join(lines) + "\n")
        meta = {k: v for k, v in self.cfg.items()}
        meta.update({"workload": self.workload, "seed": self.seed,
                     "changelog_files": names, "build_files": self.build_files,
                     "setup_files": self.setup_files})
        with open(os.path.join(out_dir, "meta.json"), "w") as f:
            json.dump(meta, f, indent=1, sort_keys=True)


def generate(workload, seed):
    """Builds the World for `workload` from `seed` (no files written)."""
    w = World(workload, seed)
    c = w.cfg
    if workload == "serve_kv":
        # one file, so the store is built by one micro-batch
        w.add_file(w.initial_load() + w.updates(c["update_rows"]))
        w.build_files = w.setup_files = 1
        state = w.state_after(w.setup_files - 1)
        w._dead = sorted(k for k, r in state.items() if r["tombstone"])
        every = c["index_every"]
        for i in range(c["clients"]):
            w.requests[f"requests-{i}.txt"] = w.mixed_requests(
                c["requests_per_client"], every, offset=i * every // c["clients"])
        w.requests["warmup.txt"] = w.mixed_requests(c["warmup_requests"], 4)
        w.requests["warmup-direct.txt"] = w.mixed_requests(c["warmup_direct"], every)
        w.requests["direct.txt"] = w.mixed_requests(c["direct_requests"], 2)
    elif workload == "ingest_serve":
        w.add_file(w.initial_load())
        for _ in range(c["warm_files"] + c["backlog_files"]):
            w.add_file(w.updates(c["rows_per_file"]))
        w.build_files = 1
        w.setup_files = 1 + c["warm_files"]
        state = w.state_after(w.setup_files - 1)
        w._dead = sorted(k for k, r in state.items() if r["tombstone"])
        w.requests["warmup.txt"] = w.mixed_requests(c["warmup_requests"], 4)
        w.requests["warmup-direct.txt"] = w.mixed_requests(c["warmup_direct"], 4)
        w.requests["reader-kv.txt"] = [
            f"kv {w.request_key()}" for _ in range(c["reader_requests"])]
    else:
        raise ValueError(f"unknown workload {workload}")
    return w
