"""The benchmark's own model of the message store, used to check outputs.

It is written from unitdb's documented semantics, not from the
program's code: a Get returns the payloads of rows in the query's
contract whose topic matches the query (wildcards on either side),
inside the ``?last`` window, not expired at ``now``, not tombstoned,
newest seq first, at most ``limit`` (default 1000) of them.
"""

from __future__ import annotations

import numpy as np

DEFAULT_LIMIT = 1000
_DUR = {"ms": 0.001, "s": 1.0, "m": 60.0, "h": 3600.0, "d": 86400.0}


def split_topic(topic: str) -> tuple[str, dict[str, str]]:
    path, _, opts = topic.partition("?")
    return path, dict(kv.partition("=")[::2] for kv in opts.split("&") if kv)


def duration(text: str) -> float:
    for unit in sorted(_DUR, key=len, reverse=True):
        if text.endswith(unit) and text[: -len(unit)].replace(".", "", 1).isdigit():
            return float(text[: -len(unit)]) * _DUR[unit]
    raise ValueError(text)


def _tokens(path: str) -> list[str]:
    """Levels of a topic path; a ``...`` suffix becomes its own token."""
    if path.endswith("..."):
        body = path[:-3]
        return (body.split(".") if body else []) + ["..."]
    return path.split(".")


def _pattern_matches(pattern: list[str], concrete: list[str]) -> bool:
    """``*`` is one level, a trailing ``...`` any number (>= 0) of levels;
    the concrete side's own wildcard tokens count as literal levels."""
    if pattern and pattern[-1] == "...":
        base = pattern[:-1]
        return len(concrete) >= len(base) and all(b in ("*", c) for b, c in zip(base, concrete))
    return len(pattern) == len(concrete) and all(p in ("*", c) for p, c in zip(pattern, concrete))


def topics_match(a: str, b: str) -> bool:
    """Symmetric match: either side may be the wildcard pattern."""
    ta, tb = _tokens(a), _tokens(b)
    return _pattern_matches(ta, tb) or _pattern_matches(tb, ta)


class StoreModel:
    """Rows of the store as growing numpy columns plus a tombstone set."""

    def __init__(self, topics, topic_idx, seq, contract, ts, expires, payload, tombstones=()):
        self.topics = list(topics)
        self._topic_id = {t: i for i, t in enumerate(self.topics)}
        self.cols = {
            "topic": np.asarray(topic_idx, dtype=np.int32),
            "seq": np.asarray(seq, dtype=np.int64),
            "contract": np.asarray(contract, dtype=np.int64),
            "ts": np.asarray(ts, dtype=np.float64),
            "expires": np.asarray(expires, dtype=np.float64),
        }
        self.payload = list(payload)
        self.dead = set(int(s) for s in tombstones)
        self._pending: list[tuple] = []
        self.user_bytes = sum(len(p) for p in self.payload) + sum(
            len(self.topics[i]) for i in self.cols["topic"].tolist()
        )

    def _topic(self, path: str) -> int:
        if path not in self._topic_id:
            self._topic_id[path] = len(self.topics)
            self.topics.append(path)
        return self._topic_id[path]

    def put(self, seq: int, topic: str, contract: int, ts: float, payload: bytes) -> None:
        """Record one acknowledged put (topic may carry ``?ttl=``)."""
        path, opts = split_topic(topic)
        exp = ts + duration(opts["ttl"]) if "ttl" in opts else np.nan
        self._pending.append((self._topic(path), seq, contract, ts, exp))
        self.payload.append(payload)
        self.user_bytes += len(path) + len(payload)

    def _merge(self) -> None:
        if self._pending:
            cols = list(zip(*self._pending))
            for name, vals in zip(("topic", "seq", "contract", "ts", "expires"), cols):
                self.cols[name] = np.concatenate([self.cols[name], np.asarray(vals, dtype=self.cols[name].dtype)])
            self._pending.clear()

    def delete(self, seq: int) -> None:
        self.dead.add(int(seq))

    def seqs(self) -> np.ndarray:
        """Every row's seq, tombstoned rows included."""
        self._merge()
        return self.cols["seq"]

    def get(self, topic: str, contract: int, now: float) -> list[bytes]:
        """Expected ``Engine.get`` result."""
        self._merge()
        path, opts = split_topic(topic)
        c = self.cols
        hit = np.fromiter((topics_match(t, path) for t in self.topics), bool, len(self.topics))
        mask = hit[c["topic"]] & (c["contract"] == contract)
        last = opts.get("last")
        limit = DEFAULT_LIMIT
        if last is not None and last.isdigit():
            limit = int(last)
        elif last is not None:
            mask &= c["ts"] >= now - duration(last)
        mask &= np.isnan(c["expires"]) | (c["expires"] > now)
        rows = np.flatnonzero(mask)
        if self.dead:
            rows = rows[~np.isin(c["seq"][rows], np.fromiter(self.dead, np.int64))]
        order = rows[np.argsort(-c["seq"][rows], kind="stable")][:limit]
        # row i's payload sits at position i: rows are appended in seq order
        return [self.payload[i] for i in order.tolist()]


def fanout_deliveries(messages, subs) -> int:
    """(message, subscription) pairs with equal contract and matching
    topics, summed over all messages."""
    msg_counts: dict[tuple[int, str], int] = {}
    for tbl in messages:
        for t, c in zip(tbl.column("topic").to_pylist(), tbl.column("contract").to_pylist()):
            msg_counts[(c, t)] = msg_counts.get((c, t), 0) + 1
    sub_list = list(zip(subs.column("contract").to_pylist(), subs.column("topic").to_pylist()))
    total = 0
    for (c, t), n in msg_counts.items():
        total += n * sum(1 for sc, st in sub_list if sc == c and topics_match(st, t))
    return total
