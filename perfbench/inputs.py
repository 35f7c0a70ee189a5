"""Seeded input generation for every workload.

Inputs are made with numpy and pyarrow only, before the program under
test runs, and the program receives nothing but these generated inputs.
The same seed gives byte-identical inputs; ``digest`` hashes them so a
run can state what it measured.

Every timestamp comes from the fixed virtual clock ``T_NOW``: puts get
an explicit ``ts=`` and every Get an explicit ``now=``, so no result
depends on the wall clock.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

T_NOW = 1_700_000_000.0
DAY = 86_400.0
MASTER = 3376684800  # unitdb_spark.core.model.MASTER_CONTRACT
ALT = 1042
N_DOMAINS, N_GROUPS, N_LEAVES = 8, 12, 12

# Per-size knobs. "full" is what the benchmark measures; "tiny" is the
# smoke size the self-tests run. The full sizes are set so that the
# 4 + 22 x 3 runs a full comparison makes, each paying 15-25 s of JVM
# start, set-up and warm-up and measuring at least two whole units of
# work, fit in under an hour on a 4-core box.
SIZES = {
    "full": {
        "store_rows": 50_000, "store_topics": 1000, "store_tombstones": 200,
        "stream_files": 4, "stream_rows_per_file": 5_000,
        "fanout_files": 2, "fanout_rows_per_file": 1_000, "subscriptions": 200,
        "events": 40_000, "ops": 240,
    },
    "tiny": {
        "store_rows": 3_000, "store_topics": 100, "store_tombstones": 20,
        "stream_files": 3, "stream_rows_per_file": 300,
        "fanout_files": 2, "fanout_rows_per_file": 100, "subscriptions": 20,
        "events": 5_000, "ops": 36,
    },
}


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, so adding one stream
    never shifts the values of another."""
    tag = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:4], "big")
    return np.random.default_rng([seed, tag])


def _topic_space(rng: np.random.Generator, n_topics: int) -> list[str]:
    """``n_topics`` distinct three-level topics ``d<i>.g<j>.l<k>``, so
    that ``d.*.l`` and ``d.g...`` wildcards each match several."""
    combos = N_DOMAINS * N_GROUPS * N_LEAVES
    pick = rng.permutation(combos)[:n_topics]
    return [
        f"d{c // (N_GROUPS * N_LEAVES)}.g{(c // N_LEAVES) % N_GROUPS}.l{c % N_LEAVES}"
        for c in pick
    ]


def _zipf_probs(n: int, s: float = 1.1) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _patterns(topics: list[str], rng: np.random.Generator, n: int) -> list[str]:
    """Wildcard topics derived from real ones: ``d.*.l``, ``d.g...``, ``d...``."""
    out = []
    for i in range(n):
        d, g, l = topics[int(rng.integers(len(topics)))].split(".")
        out.append([f"{d}.*.{l}", f"{d}.{g}...", f"{d}..."][i % 3])
    return out


def _payloads(rng: np.random.Generator, ids: np.ndarray, lo: int = 64, hi: int = 512) -> list[bytes]:
    """Random payloads of ``lo``..``hi`` bytes, each starting with its
    8-byte id so every payload is unique and a result list can be
    compared exactly."""
    lens = rng.integers(lo, hi + 1, len(ids))
    blob = rng.integers(0, 256, int(lens.sum()), dtype=np.uint8).tobytes()
    out, pos = [], 0
    for i, n in zip(ids.tolist(), lens.tolist()):
        out.append(int(i).to_bytes(8, "big") + blob[pos + 8 : pos + n])
        pos += n
    return out


@dataclass
class Store:
    """A preloaded message store plus the closed-loop operation list."""

    topics: list[str]          # distinct stored topics (concrete and patterns)
    topic_idx: np.ndarray      # int32 index into topics, per row
    seq: np.ndarray            # int64, 1..N
    contract: np.ndarray       # int64
    ts: np.ndarray             # float64 seconds
    expires: np.ndarray        # float64 seconds, NaN = no TTL
    payload: list[bytes]
    tombstones: np.ndarray     # int64 seqs deleted before measuring
    ops: list[tuple] = field(default_factory=list)
    warmup: list[tuple] = field(default_factory=list)

    def table(self) -> pa.Table:
        """The preload as a messages-schema Arrow table (for ``put_df``)."""
        exp = pa.array(
            np.where(np.isnan(self.expires), 0, self.expires * 1e6).astype("int64"),
            type=pa.timestamp("us", tz="UTC"),
            mask=np.isnan(self.expires),
        )
        return pa.table({
            "seq": pa.array(self.seq),
            "contract": pa.array(self.contract),
            "topic": pa.array(np.asarray(self.topics, dtype=object)[self.topic_idx]),
            "ts": pa.array((self.ts * 1e6).astype("int64"), type=pa.timestamp("us", tz="UTC")),
            "expires_at": exp,
            "payload": pa.array(self.payload, type=pa.binary()),
        })


def _store_rows(rng: np.random.Generator, n_rows: int, n_topics: int) -> tuple:
    topics = _topic_space(rng, n_topics)
    pats = _patterns(topics, rng, 9)
    popularity = _zipf_probs(n_topics)
    idx = rng.choice(n_topics, size=n_rows, p=popularity).astype(np.int32)
    # 0.5% of rows are written to wildcard topics (symmetric matching)
    is_pat = rng.random(n_rows) < 0.005
    idx[is_pat] = n_topics + rng.integers(0, len(pats), int(is_pat.sum()))
    ts = np.sort(T_NOW - rng.uniform(0, 7 * DAY, n_rows))
    contract = np.where(rng.random(n_rows) < 0.7, MASTER, ALT).astype(np.int64)
    ttl = rng.uniform(3600, 3 * DAY, n_rows)
    expires = np.where(rng.random(n_rows) < 0.05, ts + ttl, np.nan)
    seq = np.arange(1, n_rows + 1, dtype=np.int64)
    return topics + pats, popularity, idx, seq, contract, ts, expires


def _query(rng: np.random.Generator, topics: list[str], popularity: np.ndarray, kind: str) -> tuple[str, int]:
    """One Get of ``kind`` as (topic string, contract), for a topic drawn
    by popularity rank."""
    d, g, l = topics[int(rng.choice(len(popularity), p=popularity))].split(".")
    contract = MASTER if rng.random() < 0.7 else ALT
    topic = {
        "static": f"{d}.{g}.{l}",
        "star": f"{d}.*.{l}",
        "tail": f"{d}.{g}...",
        "last": f"{d}.{g}.{l}?last=1h",
    }[kind]
    return topic, contract


def _commit_rows(rng: np.random.Generator, topics: list[str], popularity: np.ndarray,
                 n: int, id_base: int) -> list[tuple[str, int, bytes]]:
    """``n`` puts as (topic, contract, payload); 5% carry ``?ttl=30m``."""
    idx = rng.choice(len(popularity), size=n, p=popularity)
    contracts = np.where(rng.random(n) < 0.7, MASTER, ALT)
    ttl = rng.random(n) < 0.05
    pays = _payloads(rng, np.arange(id_base, id_base + n))
    return [
        (topics[i] + ("?ttl=30m" if t else ""), int(c), p)
        for i, c, t, p in zip(idx.tolist(), contracts.tolist(), ttl.tolist(), pays)
    ]


GET_KINDS = ["static", "star", "tail", "last"]

# The store workload's op schedule, one 12-op cycle repeated: seven
# Gets (every kind in turn, one of them read-your-writes), one get_many
# of 8, three commits and a delete. Runs measure whole cycles, so every
# run does the same mix. The commit sizes, the midpoints of three
# log-uniform strata of 1..1000 rows, and the popularity ranks and
# contracts the Gets ask for are the same for every seed; the seed
# picks the data, which topic holds which rank, the rows committed and
# the rows deleted.
STORE_CYCLE = [
    "get", "get_many", "get", ("commit", 316), "get", "get_recent",
    ("commit", 32), "get", "delete", "get", ("commit", 3), "get",
]


def store(seed: int, size: str = "full") -> Store:
    """~``store_rows`` messages over ``store_topics`` topics with Zipf
    popularity, 2 contracts, 7 days, 64-512 B payloads, 5% TTL'd, a few
    hundred tombstones; then the op list, and one op of each kind to
    warm up with."""
    z = SIZES[size]
    rng = _rng(seed, "store")
    shape = _rng(0, "store-queries")  # the same for every seed
    topics, pop, idx, seq, contract, ts, expires = _store_rows(rng, z["store_rows"], z["store_topics"])
    base = topics[: z["store_topics"]]
    store = Store(topics, idx, seq, contract, ts, expires, _payloads(rng, seq),
                  np.sort(rng.choice(seq, z["store_tombstones"], replace=False)))
    next_id = 1 << 40

    def op(kind, n_get: int) -> tuple:
        nonlocal next_id
        if kind == "get":
            return ("get",) + _query(shape, base, pop, GET_KINDS[n_get % 4])
        if kind == "get_recent":
            return ("get_recent", GET_KINDS[n_get % 4])
        if kind == "get_many":
            return ("get_many", [_query(shape, base, pop, GET_KINDS[j % 4]) for j in range(8)])
        if kind == "delete":
            return ("delete", float(rng.random()))
        next_id += kind[1]
        return ("commit", _commit_rows(rng, base, pop, kind[1], next_id - kind[1]))

    while len(store.ops) < z["ops"]:
        for kind in STORE_CYCLE:
            store.ops.append(op(kind, sum(o[0] in ("get", "get_recent") for o in store.ops)))
    del store.ops[z["ops"]:]
    store.warmup = [op(k, 0) for k in ("get", "get_many", ("commit", 10), "get_recent", "delete")]
    return store


@dataclass
class Stream:
    """Message files for ``ingest_stream`` and the fan-out, plus the
    subscription registry."""

    ingest: list[pa.Table]
    fanout: list[pa.Table]
    subs: pa.Table   # sub_id, topic, contract


def _message_file(rng: np.random.Generator, topics: list[str], pats: list[str],
                  pop: np.ndarray, n: int, id_base: int, t0: float) -> pa.Table:
    idx = rng.choice(len(pop), size=n, p=pop)
    names = np.asarray(topics, dtype=object)[idx]
    is_pat = rng.random(n) < 0.02  # some messages are published to wildcard topics
    names[is_pat] = np.asarray(pats, dtype=object)[rng.integers(0, len(pats), int(is_pat.sum()))]
    # distinct millisecond timestamps: seq is derived from ts by the program
    ts = t0 + np.arange(n) * 1e-3
    return pa.table({
        "topic": pa.array(names.tolist(), type=pa.string()),
        "payload": pa.array(_payloads(rng, np.arange(id_base, id_base + n), 32, 256), type=pa.binary()),
        "contract": pa.array(np.where(rng.random(n) < 0.7, MASTER, ALT).astype(np.int64)),
        "ts": pa.array((ts * 1e6).astype("int64"), type=pa.timestamp("us", tz="UTC")),
    })


def stream(seed: int, size: str = "full") -> Stream:
    """``stream_files`` message files to ingest and ``fanout_files`` to
    fan out, over the store's topic space with Zipf popularity."""
    z = SIZES[size]
    rng = _rng(seed, "stream")
    topics = _topic_space(rng, z["store_topics"])
    pats = _patterns(topics, rng, 9)
    pop = _zipf_probs(len(topics))
    files, fan = [], []
    for f in range(z["stream_files"]):
        n = z["stream_rows_per_file"]
        files.append(_message_file(rng, topics, pats, pop, n, f * n, T_NOW - DAY + f * 100.0))
    for f in range(z["fanout_files"]):
        n = z["fanout_rows_per_file"]
        fan.append(_message_file(rng, topics, pats, pop, n, (1 << 40) + f * n, T_NOW + f * 100.0))
    # subscription i follows the topic of popularity rank i, so every
    # seed fans out about the same number of deliveries
    n_subs = z["subscriptions"]
    sub_topics, sub_contracts = [], []
    for i in range(n_subs):
        d, g, l = topics[i % len(topics)].split(".")
        # half exact, a quarter '*', a quarter '...'
        sub_topics.append([f"{d}.{g}.{l}", f"{d}.{g}.{l}", f"{d}.*.{l}", f"{d}.{g}..."][i % 4])
        sub_contracts.append(MASTER if i % 10 < 7 else ALT)
    subs = pa.table({
        "sub_id": pa.array(np.arange(n_subs, dtype=np.int64)),
        "topic": pa.array(sub_topics, type=pa.string()),
        "contract": pa.array(np.asarray(sub_contracts, dtype=np.int64)),
    })
    return Stream(files, fan, subs)


EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]


def events(seed: int, size: str = "full") -> pa.Table:
    """A synthetic ``events`` table with TESTDATA's schema and value
    domains: 30 days from 2024-01-01, 1,500 users, five event types,
    two-decimal values, ``{"k": 0..99}`` props."""
    n = SIZES[size]["events"]
    rng = _rng(seed, "events")
    start = 1_704_067_200_000_000  # 2024-01-01T00:00:00 in µs
    span = 30 * 86_400_000_000
    ts = start + np.sort(rng.integers(0, span, n))
    value = np.round(np.minimum(rng.exponential(50.0, n), 560.21), 2)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n).astype(np.int64)),
        "event_type": pa.array(np.asarray(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)].tolist(), type=pa.string()),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n).tolist()], type=pa.string()),
    })


def digest(obj) -> str:
    """SHA-256 over a canonical rendering of generated inputs."""
    h = hashlib.sha256()

    def feed(x) -> None:
        if isinstance(x, pa.Table):
            for col in x.columns:
                for chunk in col.chunks:
                    for buf in chunk.buffers():
                        if buf is not None:
                            h.update(buf)
        elif isinstance(x, np.ndarray):
            h.update(np.ascontiguousarray(x).tobytes())
        elif isinstance(x, (bytes, bytearray)):
            h.update(x)
        elif isinstance(x, (list, tuple)):
            h.update(b"[%d" % len(x))
            for v in x:
                feed(v)
        elif isinstance(x, (Store, Stream)):
            for v in vars(x).values():
                feed(v)
        else:
            h.update(repr(x).encode())

    feed(obj)
    return h.hexdigest()[:16]
