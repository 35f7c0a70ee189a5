"""Engine: the public unitdb-equivalent API surface on Spark.

Maps the reference's embedded-DB API (reference: db.go:50-482,
batch.go:60-293) onto DataFrame operations:

- ``Open``   -> Engine.open (SparkSession + table path)
- ``Put/PutEntry`` -> buffered driver-side rows, flushed as one atomic
  Parquet append (the tiny-log 100 ms group commit collapses into the
  flush — memdb/tiny_log.go:202-301)
- ``Get``    -> one declarative DataFrame expression: contract filter →
  topic match → trailing-window cutoff → TTL filter → tombstone
  anti-join → newest-first top-K (db.go:222-319)
- ``Delete/DeleteEntry`` -> tombstone table + read-time anti-join
  (db.go:389-425); forbidden when immutable (options.go:102-119)
- ``Batch``  -> context manager; commit = single append, abort = drop
  buffer (batch.go:60-293)
- ``Count``  -> live-entry count (db.go:474-482)

Scale notes (100 TB): every Get compiles to a single Catalyst plan with
partition pruning on (contract, p_date) and predicate pushdown on
seq/ts; the tombstone side of the anti-join is broadcast (deletes are
rare relative to data); no driver-side row loops anywhere on the read
path.
"""

from __future__ import annotations

import datetime as dt
import time
from collections import deque
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from unitdb_spark import fs

from unitdb_spark.core.model import (
    DEFAULT_QUERY_LIMIT,
    MASTER_CONTRACT,
    MAX_PAYLOAD_BYTES,
    Entry,
    Query,
    _SeqSource,
    message_id,
    new_contract,
)
from unitdb_spark.core.topic import TopicSpec, parse_topic
from unitdb_spark.table import MESSAGES_SCHEMA, MessagesTable, ttl_live_expr

#: the tombstone table: one deleted seq per row. Readers pass it
#: explicitly so a Get never runs a schema-inference job over the files.
TOMBSTONE_SCHEMA = "seq long"


class ImmutableError(RuntimeError):
    pass


class ResultTooLarge(RuntimeError):
    """get()/get_many() would buffer more payload bytes on the driver
    than EngineOptions.max_get_result_bytes allows."""


#: sentinel distinguishing "not passed" from an explicit None (= no cap)
_UNSET = object()


@dataclass
class EngineOptions:
    """Subset of options.go:102-252 that has meaning on Spark."""

    immutable: bool = False
    default_query_limit: int = DEFAULT_QUERY_LIMIT
    flush_every: int = 50_000  # driver buffer bound (tiny-log parity)
    # payload encryption parity (options.go WithEncryption + reference
    # chacha20-poly1305 value codec, db.go:281-294): AES-GCM via Spark's
    # built-in aes_encrypt/aes_decrypt — encryption/decryption runs
    # JVM-side on executors, never in Python. Key must be 16/24/32 bytes.
    encryption_key: bytes | None = None
    # None = "encrypt everything iff a key is set" (store-wide
    # WithEncryption, the round-1 behavior). False + key = mixed store:
    # only entries flagged Entry.encryption are encrypted (per-entry
    # WithEncryption, entry.go:54-95).
    encrypt_all: bool | None = None
    # driver-memory guard for the list-returning get()/get_many() API
    # (the reference's [][]byte return is inherently driver-resident;
    # limit 100k × payload ≤1 GB is a ~silent-OOM product without a
    # cap). None disables the guard. get_df is the scale path.
    max_get_result_bytes: int | None = 512 << 20


class Engine:
    """A unitdb-compatible message store on Spark + Parquet."""

    def __init__(self, spark: SparkSession, path: str, options: EngineOptions | None = None) -> None:
        self.spark = spark
        self.path = str(path)
        self.options = options or EngineOptions()
        self.table = MessagesTable(spark, str(Path(self.path) / "messages"))
        self.tombstones_path = str(Path(self.path) / "tombstones")
        self._seq = _SeqSource()
        self._buffer: list[Row] = []
        self._metrics: dict[str, int] = {"puts": 0, "gets": 0, "dels": 0}
        # per-op latency reservoirs (meter.go:100-115: 50-sample window)
        self._latencies: dict[str, deque] = {
            op: deque(maxlen=50) for op in ("get", "put", "del", "flush")
        }
        # finish any crashed compact() swap BEFORE first read: a crash
        # between its renames leaves a partition absent from the table
        self._recover_compact()
        # break a lease whose holder crashed past the TTL (else appends
        # would refuse until someone re-runs compact)
        lease_m = fs.mtime(self.spark, self.table.lease_path)
        if lease_m is not None and (time.time() * 1000 - lease_m) >= 3600 * 1000:
            fs.delete(self.spark, self.table.lease_path)
        if self.table.exists():
            top = self.table.read().agg(F.max("seq")).collect()[0][0]
            self._seq.advance_to(int(top or 0))

    # ------------------------------------------------------------- open
    @classmethod
    def open(cls, spark: SparkSession, path: str, **opts) -> "Engine":
        """db.go:50-210 Open(). Scheme-agnostic: mkdir goes through the
        Hadoop FS API, like every other path operation (fs.py)."""
        fs.mkdirs(spark, str(path))
        return cls(spark, path, EngineOptions(**opts))

    def destroy(self) -> None:
        fs.delete(self.spark, self.path)
        from unitdb_spark.operators.graph import clear_pair_cache

        # scoped eviction (ADVICE r11): the pair memo is process-
        # global; drop only entries minted under THIS engine's path
        # so destroying one engine can't unpersist relations another
        # live engine or the query registry still reads.
        clear_pair_cache(owner=str(self.path))

    # ------------------------------------------------------------ write
    def put(self, topic: str, payload: bytes | str, contract: int = MASTER_CONTRACT) -> int:
        """db.go:336-341 Put(): append one message under a contract."""
        return self.put_entry(Entry(topic=topic, payload=_as_bytes(payload), contract=contract))

    @property
    def _encrypt_all(self) -> bool:
        if self.options.encrypt_all is not None:
            return self.options.encrypt_all
        return self.options.encryption_key is not None

    def _validate_entry(self, entry: Entry) -> TopicSpec:
        """Write-path validation (db.go:351-360) — shared by the direct
        put path and Batch staging so errors surface BEFORE anything is
        buffered or persisted. Returns the parsed topic, so the row is
        built without parsing it again."""
        spec = parse_topic(entry.topic)
        if len(entry.payload) > MAX_PAYLOAD_BYTES:
            raise ValueError("payload exceeds 1GB")
        if entry.encryption and self.options.encryption_key is None:
            raise ValueError("Entry.encryption requires a store encryption_key")
        return spec

    def _make_row(
        self, entry: Entry, spec: TopicSpec, ts: float | None = None
    ) -> tuple[int, Row]:
        """Seq assignment + full row construction for one entry.

        A caller-supplied msg_id (NewID + WithID flow, entry.go:61-66)
        pins the row's seq to the one embedded in the id — otherwise
        delete_entry would tombstone a seq no row carries."""
        from unitdb_spark.core.model import message_id_seq

        now = ts if ts is not None else time.time()
        ttl = entry.ttl_seconds(spec)
        if entry.msg_id is not None:
            seq = message_id_seq(entry.msg_id)
            self._seq.advance_to(seq)
        else:
            seq = self._seq.next()
        row = Row(
            seq=seq,
            msg_id=entry.msg_id or message_id(seq, entry.contract, now),
            contract=entry.contract,
            topic=spec.raw,
            ts=dt.datetime.fromtimestamp(now, dt.timezone.utc).replace(tzinfo=None),
            expires_at=(
                dt.datetime.fromtimestamp(now + ttl, dt.timezone.utc).replace(tzinfo=None)
                if ttl is not None
                else None
            ),
            payload=bytes(entry.payload),
            encrypted=bool(entry.encryption or self._encrypt_all),
        )
        return seq, row

    def put_entry(self, entry: Entry, ts: float | None = None) -> int:
        """db.go:343-387 PutEntry(): validated, TTL-resolved append."""
        t0 = time.monotonic()
        spec = self._validate_entry(entry)
        seq, row = self._make_row(entry, spec, ts)
        self._buffer.append(row)
        self._metrics["puts"] += 1
        if len(self._buffer) >= self.options.flush_every:
            self.flush()
        self._latencies["put"].append(time.monotonic() - t0)
        return seq

    def put_df(self, df: DataFrame) -> None:
        """Bulk ingest path: append a DataFrame already in messages
        schema (seq, msg_id?, contract, topic, ts, expires_at, payload).
        This is the 100 TB path — no driver-side rows. The max(seq) the
        seq counter needs is captured via observe() DURING the write —
        a separate agg would re-execute the caller's whole input plan."""
        from pyspark.sql import Observation

        self.flush()
        cols = {c for c in df.columns}
        if "msg_id" not in cols:
            df = df.withColumn("msg_id", F.lit(None).cast("binary"))
        if "expires_at" not in cols:
            df = df.withColumn("expires_at", F.lit(None).cast("timestamp"))
        if "encrypted" not in cols:
            df = df.withColumn("encrypted", F.lit(self._encrypt_all))
        obs = Observation("put_df_seq")
        observed = df.select([f.name for f in MESSAGES_SCHEMA.fields]).observe(
            obs, F.max("seq").alias("max_seq")
        )
        self.table.append(self._encrypt(observed))
        self._seq.advance_to(int(obs.get["max_seq"] or 0))

    def flush(self) -> None:
        """Group commit (tiny-log writeLoop parity,
        memdb/tiny_log.go:202-301): one atomic append per flush."""
        if not self._buffer:
            return
        t0 = time.monotonic()
        df = self.spark.createDataFrame(self._buffer, MESSAGES_SCHEMA)
        self.table.append(self._encrypt(df))
        self._buffer.clear()
        self._latencies["flush"].append(time.monotonic() - t0)

    def _encrypt(self, df: DataFrame) -> DataFrame:
        """Value-codec parity (db.go:281-294, chacha20-poly1305 there,
        AES-GCM here): executors encrypt JVM-side; payloads at rest are
        ciphertext, everything else stays queryable plaintext. Only
        rows whose ``encrypted`` marker is set are touched, so a mixed
        store (per-entry WithEncryption) round-trips correctly.

        A NULL marker means the row predates the column (a store written
        when encryption_key implied encrypt-everything and no marker was
        stored) — those rows follow the store-wide setting, not False:
        treating them as plaintext would return raw ciphertext from
        get() with no error."""
        key = self.options.encryption_key
        if key is None:
            return df
        enc = F.coalesce(F.col("encrypted"), F.lit(self._encrypt_all))
        return df.withColumn(
            "payload",
            F.when(enc, F.aes_encrypt(F.col("payload"), F.lit(key), F.lit("GCM")))
            .otherwise(F.col("payload")),
        )

    def _decrypt(self, df: DataFrame) -> DataFrame:
        """Inverse of _encrypt; the NULL-marker case mirrors it (legacy
        rows decrypt under the store-wide setting)."""
        key = self.options.encryption_key
        if key is None:
            return df
        enc = F.coalesce(F.col("encrypted"), F.lit(self._encrypt_all))
        return df.withColumn(
            "payload",
            F.when(enc, F.aes_decrypt(F.col("payload"), F.lit(key), F.lit("GCM")))
            .otherwise(F.col("payload")),
        )

    # ------------------------------------------------------------- read
    def get_df(self, query: Query | str, now: float | None = None) -> DataFrame:
        """db.go:222-319 Get() as a single declarative plan; returns the
        full rows (callers project payload)."""
        from unitdb_spark.operators.get import apply_get

        self._metrics["gets"] += 1
        return apply_get(self._live_df(), query, now=now)

    def get(
        self,
        query: Query | str,
        now: float | None = None,
        max_result_bytes: int | None = _UNSET,
    ) -> list[bytes]:
        """Payloads, newest-first (the reference's [][]byte return).

        Driver-memory guard: results stream to the driver one partition
        at a time (``toLocalIterator``) with a running byte count, and
        the fetch ABORTS with ``ResultTooLarge`` once accepted payloads
        exceed ``max_result_bytes`` (default
        ``EngineOptions.max_get_result_bytes``, 512 MB; None disables)
        — so a ``limit=100000`` query over GB-sized payloads fails
        loudly part-way instead of OOMing the driver after buffering
        everything. ``get_df`` is the scale path: it never materializes
        results driver-side and has no cap."""
        cap = (
            self.options.max_get_result_bytes
            if max_result_bytes is _UNSET
            else max_result_bytes
        )
        t0 = time.monotonic()
        out: list[bytes] = []
        total = 0
        for r in self.get_df(query, now=now).select("payload").toLocalIterator():
            p = bytes(r[0]) if r[0] is not None else b""
            total += len(p)
            if cap is not None and total > cap:
                raise ResultTooLarge(
                    f"get() result passed {cap} bytes at row {len(out) + 1}; "
                    "raise max_get_result_bytes or use get_df()"
                )
            out.append(p)
        self._latencies["get"].append(time.monotonic() - t0)
        return out

    def get_many(
        self, queries: list[Query | str], now: float | None = None
    ) -> list[list[bytes]]:
        """Multi-topic relay (store/store.go:170-181) fused to ONE
        table scan: per-query newest-first payload lists, same results
        as N separate ``get`` calls."""
        from unitdb_spark.operators.get import apply_get_many

        cap = self.options.max_get_result_bytes
        t0 = time.monotonic()
        self._metrics["gets"] += len(queries)
        it = (
            apply_get_many(self._live_df(), queries, now=now)
            .select("query_id", "seq", "payload")
            .toLocalIterator()
        )
        out: list[list[tuple[int, bytes]]] = [[] for _ in queries]
        total = n = 0
        for r in it:
            p = bytes(r["payload"] or b"")
            total += len(p)
            n += 1
            if cap is not None and total > cap:
                raise ResultTooLarge(
                    f"get_many() result passed {cap} bytes at row {n}; "
                    "raise max_get_result_bytes or use apply_get_many directly"
                )
            out[r["query_id"]].append((r["seq"], p))
        self._latencies["get"].append(time.monotonic() - t0)
        return [[p for _, p in sorted(l, reverse=True)] for l in out]

    def _live_df(self) -> DataFrame:
        self.flush()
        df = self.table.read()
        tombs = self._tombstones_df()
        if tombs is not None:
            # deletes are rare → broadcast anti-join, no shuffle of the big side
            df = df.join(F.broadcast(tombs), on="seq", how="left_anti")
        return self._decrypt(df)

    # ----------------------------------------------------------- delete
    def delete(self, seq: int) -> None:
        """db.go:389-425 Delete(): tombstone by sequence."""
        if self.options.immutable:
            raise ImmutableError("delete forbidden: store is immutable")
        t0 = time.monotonic()
        self._metrics["dels"] += 1
        self.spark.createDataFrame([(int(seq),)], TOMBSTONE_SCHEMA).write.mode(
            "append"
        ).parquet(self.tombstones_path)
        self._latencies["del"].append(time.monotonic() - t0)

    def delete_entry(self, entry: Entry) -> None:
        if entry.msg_id is None:
            raise ValueError("delete requires message id")
        from unitdb_spark.core.model import message_id_seq

        self.delete(message_id_seq(entry.msg_id))

    def _tombstones_df(self) -> DataFrame | None:
        if fs.has_files(self.spark, self.tombstones_path):
            return self.spark.read.schema(TOMBSTONE_SCHEMA).parquet(self.tombstones_path)
        return None

    # ------------------------------------------------------------ batch
    def batch(self) -> "Batch":
        """batch.go:60-293: atomic multi-topic batch."""
        return Batch(self)

    def batch_fn(self, fn) -> None:
        """db.go:434-447 Batch(fn): managed batch — commit iff ``fn``
        returns without raising; any error aborts the whole batch."""
        with self.batch() as b:
            fn(b)

    # ------------------------------------------------------------ admin
    def count(self, now: float | None = None) -> int:
        """db.go:474-482 Count(): live entries (TTL + tombstones applied)."""
        from unitdb_spark.operators.get import now_column

        if not self.table.exists() and not self._buffer:
            return 0
        return self._live_df().filter(ttl_live_expr(now_column(now))).count()

    def file_size(self) -> int:
        """db.go:474-482 FileSize(): bytes on storage for this store
        (messages + tombstones; buffered rows not yet flushed don't
        count, matching the reference where only synced files do).
        One recursive content-summary listing — no data read."""
        return fs.tree_bytes(self.spark, self.path)

    def varz(self) -> dict:
        """meter.go:28-90 Varz(): op counters + per-op latency
        percentiles from a trailing 50-sample reservoir
        (metrics/timeseries.go:24-44, P50..P999 as there)."""
        out: dict = dict(self._metrics)
        for op, samples in self._latencies.items():
            if not samples:
                continue
            s = sorted(samples)

            def pct(p: float) -> float:
                return s[min(int(p * len(s)), len(s) - 1)]

            out[f"{op}_latency"] = {
                "p50": pct(0.50),
                "p75": pct(0.75),
                "p95": pct(0.95),
                "p99": pct(0.99),
                "p999": pct(0.999),
                "hmean": len(s) / sum(1.0 / x for x in s if x > 0) if any(s) else 0.0,
                "n": len(s),
            }
        return out

    def _acquire_table_lease(self, lease_ttl_s: int = 3600) -> str:
        """Take the single-writer table lease (atomic create-if-absent;
        a lease older than the TTL is presumed crashed and broken).
        Callers flush() BEFORE acquiring — appends check the lease."""
        import time as _time

        lease = self.table.lease_path
        if not fs.create_new(self.spark, lease):
            age_ms = fs.mtime(self.spark, lease)
            if age_ms is not None and (_time.time() * 1000 - age_ms) < lease_ttl_s * 1000:
                raise RuntimeError(
                    f"another maintenance job holds the lease at {lease}; "
                    "retry after it finishes (or after the 1h lease TTL)"
                )
            fs.delete(self.spark, lease)  # stale: previous holder crashed
            if not fs.create_new(self.spark, lease):
                raise RuntimeError(f"lost the race re-acquiring the lease at {lease}")
        return lease

    def purge_expired(self, now: float | None = None) -> None:
        """Background expirer parity (expiry_window.go:28-148): rewrite
        the table dropping dead rows. At scale this is the compaction /
        retention job; on Parquet we rewrite partitions.

        Single-writer (same table lease as compact/vacuum — a
        micro-batch landing between the full-table read and the swap
        would vanish with the trash dir otherwise). Crash-safe swap:
        the rewrite lands in a fresh staging dir (stale staging from a
        failed prior run is discarded first, so it can never be
        appended into twice), then live -> trash and staging -> live.
        The only loss window is between the two renames (ms); a crash
        there leaves the completed rewrite in staging for manual
        promotion rather than silently reusing seqs against old
        tombstones."""
        if not self.table.exists():
            return
        self.flush()
        lease = self._acquire_table_lease()
        try:
            now_dt = dt.datetime.fromtimestamp(now or time.time(), dt.timezone.utc).replace(tzinfo=None)
            df = self.table.read().filter(ttl_live_expr(F.lit(now_dt))).select(
                [f.name for f in MESSAGES_SCHEMA.fields]
            )
            tmp = str(Path(self.path) / ".compact")
            trash = str(Path(self.path) / ".compact-old")
            fs.delete(self.spark, tmp)  # stale staging from a crash
            fs.delete(self.spark, trash)
            # the staging table's OWN lease path is distinct, so the
            # staging append is not blocked by the lease we hold
            MessagesTable(self.spark, tmp).append(df)
            fs.rename(self.spark, self.table.path, trash)
            fs.rename(self.spark, tmp, self.table.path)
            fs.delete(self.spark, trash)
        finally:
            fs.delete(self.spark, lease)

    def vacuum(self) -> dict[str, int]:
        """Physically apply delete tombstones, then drop them — the
        free-block reclaim half of Delete (reference: deletes release
        blocks to the lease/free lists for reuse, leasing.go +
        db_internal.go:143; here tombstoned rows leave the Parquet
        files and the read path's anti-join shrinks to nothing).

        Selective like compact(): the partitions whose seq range holds
        a tombstoned seq are found by JOINING the tombstone relation
        against the broadcast partition-range aggregate — the rewrite
        cost tracks deleted data, not table size, and a MASS delete
        (GDPR-style, millions of tombstones) stays fully distributed:
        nothing serializes through the driver except the
        affected-partition list, and the per-partition rewrite is an
        anti-JOIN on seq, never a driver-built IN-list. Single-writer
        via the shared table lease;
        stage → trash → promote per partition with the same
        ``_recover_compact`` coverage; re-runnable — a crash leaves
        the tombstone set in place, so reads stay correct either way.
        Returns {partition_dir: rows_removed}.
        """
        report: dict[str, int] = {}
        self.flush()
        if not fs.has_files(self.spark, self.tombstones_path) or not self.table.exists():
            return report
        # lease FIRST, snapshot SECOND: a tombstone appended after the
        # snapshot survives (only the snapshotted files retire below),
        # and appends to the table are blocked for the whole rewrite —
        # no window where a concurrent delete() can be silently undone
        lease = self._acquire_table_lease()
        try:
            snap_files = [
                f"{self.tombstones_path}/{name}"
                for name, _sz, is_dir in fs.list_status(self.spark, self.tombstones_path)
                if not is_dir and name.endswith(".parquet")
            ]
            if not snap_files:
                return report
            tombs = self.spark.read.schema(TOMBSTONE_SCHEMA).parquet(*snap_files)
            tomb_seqs_df = tombs.select("seq").distinct()
            # affected-partition discovery is a JOIN, not a driver-side
            # intersect: a mass delete (GDPR-style) may tombstone
            # millions of seqs, which must never serialize through the
            # driver or inflate a plan IN-list. The partition-range
            # aggregate (one row per partition) is the broadcast side;
            # the only collect is the affected-partition list itself.
            ranges = (
                self.table.read()
                .groupBy("contract", "p_date")
                .agg(F.min("seq").alias("lo"), F.max("seq").alias("hi"))
            )
            affected = [
                (r["contract"], r["p_date"])
                for r in _tombstone_affected(ranges, tomb_seqs_df).collect()
            ]
            root = self.table.path
            data_schema = T.StructType([
                f for f in MessagesTable._full_schema().fields
                if f.name not in ("contract", "p_date")
            ])
            stage_root = str(Path(self.path) / ".compact-part")
            for contract, p_date in affected:
                part = f"contract={contract}/p_date={p_date}"
                ppath = f"{root}/{part}"
                pdf = self.spark.read.schema(data_schema).parquet(ppath)
                removed = pdf.join(tomb_seqs_df, "seq", "leftsemi").count()
                if not removed:
                    continue
                kept = _partition_kept(pdf, tomb_seqs_df)
                tmp = f"{stage_root}/stage/{part}"
                trash = f"{stage_root}/trash/{part}"
                fs.delete(self.spark, tmp)
                fs.delete(self.spark, trash)
                kept.write.parquet(tmp)
                fs.mkdirs(self.spark, str(Path(trash).parent))
                fs.rename(self.spark, ppath, trash)
                fs.rename(self.spark, tmp, ppath)
                fs.delete(self.spark, trash)
                report[part] = removed
            # every seq in the SNAPSHOT is now physically absent
            # (rewritten above, or never present in any partition's
            # range) — retire exactly the snapshotted files; tombstones
            # appended since the snapshot stay live for the next run
            for f in snap_files:
                fs.delete(self.spark, f)
        finally:
            fs.delete(self.spark, lease)
        return report

    def compact(
        self,
        target_file_bytes: int = 128 << 20,
        min_files: int = 4,
    ) -> dict[str, tuple[int, int]]:
        """Selective small-file compaction (free-block/defrag parity,
        leasing.go + db_internal.go:143 — there reclaiming deleted
        blocks; here bin-packing micro-batch appends).

        Streaming ingest appends one file per (contract, p_date) per
        micro-batch, so a hot partition accretes files over time. This
        rewrites ONLY partitions holding >= ``min_files`` data files,
        coalescing each to ceil(bytes / target_file_bytes) files —
        unlike ``purge_expired`` it never touches healthy partitions,
        so the job's cost tracks fragmentation, not table size (the
        property that matters at 100 TB: compaction of a day's worth
        of micro-batches reads a day, not the decade).

        Writer safety: compact is SINGLE-WRITER. It takes a lease file
        (``table.lease_path``, atomic create-if-absent) for its whole
        run; ``MessagesTable.append`` — every write path: flush,
        put_df, streaming foreachBatch — refuses loudly while the lease
        is held, so a micro-batch file can never land in a partition
        between compact's listing and its directory swap (where the old
        swap would have silently deleted it with the trash dir). A
        lease older than ``lease_ttl_s`` is presumed crashed and
        broken. Defense in depth: the partition's file list is
        re-checked right before the swap and the partition is skipped
        if it changed under us.

        Crash safety: per-partition stage → trash → promote swap, with
        ``_recover_compact()`` at engine open promoting a complete
        leftover stage (crash between the renames), restoring trash
        (incomplete stage), and clearing debris — so no crash point
        leaves a partition missing from the table. Returns
        {partition_dir: (files_before, files_after)}.
        """
        import math
        import time as _time

        report: dict[str, tuple[int, int]] = {}
        if not self.table.exists():
            return report
        self.flush()  # before the lease: flush appends, appends check the lease
        lease = self.table.lease_path
        lease_ttl_s = 3600
        if not fs.create_new(self.spark, lease):
            age_ms = fs.mtime(self.spark, lease)
            if age_ms is not None and (_time.time() * 1000 - age_ms) < lease_ttl_s * 1000:
                raise RuntimeError(
                    f"another compact() holds the lease at {lease}; "
                    "retry after it finishes (or after the 1h lease TTL)"
                )
            fs.delete(self.spark, lease)  # stale: previous compactor crashed
            if not fs.create_new(self.spark, lease):
                raise RuntimeError(f"lost the race re-acquiring the lease at {lease}")
        try:
            root = self.table.path
            for cdir, _, c_is_dir in fs.list_status(self.spark, root):
                if not c_is_dir or not cdir.startswith("contract="):
                    continue
                for ddir, _, d_is_dir in fs.list_status(self.spark, f"{root}/{cdir}"):
                    if not d_is_dir or not ddir.startswith("p_date="):
                        continue
                    part = f"{cdir}/{ddir}"
                    ppath = f"{root}/{part}"
                    files = sorted(
                        n for n, _, isd in fs.list_status(self.spark, ppath)
                        if not isd and n.endswith(".parquet")
                    )
                    if len(files) < min_files:
                        continue
                    n_out = max(1, math.ceil(fs.tree_bytes(self.spark, ppath) / target_file_bytes))
                    if n_out >= len(files):
                        continue  # already at or under the target layout
                    # explicit DATA schema (everything but the dir-encoded
                    # partition columns): schema inference from one file
                    # would silently drop columns legacy files lack — e.g.
                    # the `encrypted` marker, turning mixed-store ciphertext
                    # into "plaintext" on read
                    from unitdb_spark.table import MessagesTable as _MT

                    data_schema = T.StructType([
                        f for f in _MT._full_schema().fields
                        if f.name not in ("contract", "p_date")
                    ])
                    # sort AFTER coalesce: the merged output files must be
                    # seq-sorted end to end for row-group stats pruning —
                    # sorting before would leave concatenated sorted runs
                    df = (
                        self.spark.read.schema(data_schema).parquet(ppath)
                        .coalesce(n_out)
                        .sortWithinPartitions("seq")
                    )
                    # stage/trash OUTSIDE the table dir (dot-prefixed under
                    # the engine root, like purge_expired): a leftover
                    # '<partition>.old' dir inside the table would parse as
                    # a partition value and brick or double every read
                    stage_root = str(Path(self.path) / ".compact-part")
                    tmp = f"{stage_root}/stage/{part}"
                    trash = f"{stage_root}/trash/{part}"
                    fs.delete(self.spark, tmp)
                    fs.delete(self.spark, trash)
                    df.write.parquet(tmp)
                    # re-list before the swap: if a writer ignored the
                    # lease and appended since our listing, skip this
                    # partition rather than delete its new file
                    now_files = sorted(
                        n for n, _, isd in fs.list_status(self.spark, ppath)
                        if not isd and n.endswith(".parquet")
                    )
                    if now_files != files:
                        fs.delete(self.spark, tmp)
                        continue
                    fs.mkdirs(self.spark, str(Path(trash).parent))
                    fs.rename(self.spark, ppath, trash)
                    fs.rename(self.spark, tmp, ppath)
                    fs.delete(self.spark, trash)
                    after = len([
                        n for n, _, isd in fs.list_status(self.spark, ppath)
                        if not isd and n.endswith(".parquet")
                    ])
                    report[part] = (len(files), after)
        finally:
            fs.delete(self.spark, lease)
        return report

    def _recover_compact(self) -> None:
        """Promote/restore leftovers of a crashed ``compact()`` swap.

        Crash points and their cleanup (stage written → rename ppath→
        trash → rename stage→ppath → delete trash):

        - stage written, swap not started: partition intact → drop stage;
        - between the renames: partition MISSING, stage complete
          (``_SUCCESS`` present) → promote stage, drop trash;
        - stage incomplete (no ``_SUCCESS``) and partition missing:
          restore trash;
        - after promote, trash delete lost: partition intact → drop trash.
        """
        stage_root = str(Path(self.path) / ".compact-part")
        root = self.table.path

        def _parts(base: str):
            for cdir, _, c_is_dir in fs.list_status(self.spark, base):
                if c_is_dir and cdir.startswith("contract="):
                    for ddir, _, d_is_dir in fs.list_status(self.spark, f"{base}/{cdir}"):
                        if d_is_dir and ddir.startswith("p_date="):
                            yield f"{cdir}/{ddir}"

        for part in list(_parts(f"{stage_root}/stage")):
            stage = f"{stage_root}/stage/{part}"
            trash = f"{stage_root}/trash/{part}"
            ppath = f"{root}/{part}"
            complete = fs.exists(self.spark, f"{stage}/_SUCCESS")
            if not fs.exists(self.spark, ppath) and complete:
                fs.rename(self.spark, stage, ppath)
                fs.delete(self.spark, trash)
            else:
                if not fs.exists(self.spark, ppath) and fs.exists(self.spark, trash):
                    fs.rename(self.spark, trash, ppath)
                fs.delete(self.spark, stage)
        for part in list(_parts(f"{stage_root}/trash")):
            trash = f"{stage_root}/trash/{part}"
            ppath = f"{root}/{part}"
            if not fs.exists(self.spark, ppath):
                fs.rename(self.spark, trash, ppath)
            else:
                fs.delete(self.spark, trash)

    def new_contract(self) -> int:
        return new_contract()

    def new_id(self, contract: int = MASTER_CONTRACT) -> bytes:
        return message_id(self._seq.next(), contract)

    def sync(self) -> None:
        """db.go:452 Sync(): force-persist buffered writes (the ticker
        goroutine's job there; here one atomic append)."""
        self.flush()

    def close(self) -> None:
        """db.go:213-220 Close(): flush pending writes and drop buffers.
        The SparkSession is owned by the caller and stays open. Also
        releases this engine's slice of the graph pair-relation memo
        (operators/graph._PAIR_CACHE) so a long-lived process doesn't
        pin executor storage for fact tables it no longer queries.
        Scoped to entries minted under this engine's path (ADVICE
        r11): the memo is process-global, and closing one engine must
        not unpersist relations another live engine is still using —
        a process-wide release is the explicit
        ``clear_pair_cache()`` (no owner) call."""
        self.flush()
        self._buffer.clear()
        from unitdb_spark.operators.graph import clear_pair_cache

        clear_pair_cache(owner=str(self.path))


class Batch:
    """All-or-nothing write batch (batch.go:60-293).

    Entries buffer locally; ``write()`` stages them; ``commit()`` is a
    single atomic append; ``abort()``/exception drops everything.
    """

    def __init__(self, engine: Engine) -> None:
        self.engine = engine
        self._entries: list[tuple[Entry, TopicSpec, float | None]] = []
        self._deletes: list[int] = []
        self._default_contract: int | None = None
        self._committed = False

    def set_options(self, contract: int | None = None) -> None:
        """batch.go:29 SetOptions(): batch-wide defaults (contract)."""
        self._default_contract = contract

    def put(self, topic: str, payload: bytes | str, contract: int | None = None) -> None:
        c = contract if contract is not None else (self._default_contract or MASTER_CONTRACT)
        self.put_entry(Entry(topic=topic, payload=_as_bytes(payload), contract=c))

    def put_entry(self, entry: Entry, ts: float | None = None) -> None:
        # validate eagerly (topic AND payload) so a bad entry fails at
        # staging time, before anything could persist — abort-safe
        self._entries.append((entry, self.engine._validate_entry(entry), ts))

    def delete(self, seq: int) -> None:
        """batch.go:108 Delete(): tombstone staged until commit."""
        if self.engine.options.immutable:
            raise ImmutableError("delete forbidden: store is immutable")
        self._deletes.append(int(seq))

    def delete_entry(self, entry: Entry) -> None:
        if entry.msg_id is None:
            raise ValueError("delete requires message id")
        from unitdb_spark.core.model import message_id_seq

        self.delete(message_id_seq(entry.msg_id))

    def write(self) -> None:  # staging no-op kept for API parity
        pass

    def commit(self) -> None:
        """All-or-nothing for the entry set: every entry was validated
        at staging time; rows are built and written as ONE atomic
        append, bypassing the engine's incremental buffer entirely (no
        flush_every flush can fire mid-batch, and a failure persists
        nothing).

        Entries and tombstones are two physical tables, so a crash
        between the writes is a partial batch either way. Tombstones go
        FIRST: they target pre-existing seqs and re-applying them on a
        retried batch is idempotent, whereas the reverse order can
        surface the batch's puts while its deletes vanish."""
        eng = self.engine
        eng.flush()  # earlier direct puts are a separate commit unit
        if self._deletes:
            eng._metrics["dels"] += len(self._deletes)
            eng.spark.createDataFrame(
                [(s,) for s in self._deletes], TOMBSTONE_SCHEMA
            ).coalesce(1).write.mode("append").parquet(eng.tombstones_path)
        if self._entries:
            rows = [eng._make_row(*staged)[1] for staged in self._entries]
            df = eng.spark.createDataFrame(rows, MESSAGES_SCHEMA)
            eng.table.append(eng._encrypt(df))
            eng._metrics["puts"] += len(rows)
        self._entries.clear()
        self._deletes.clear()
        self._committed = True

    def abort(self) -> None:
        self._entries.clear()
        self._deletes.clear()

    def __enter__(self) -> "Batch":
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        if exc_type is None:
            self.commit()
        else:
            self.abort()  # fn error -> nothing persisted (db.go:427-447)
        return False


def _as_bytes(payload: bytes | str) -> bytes:
    return payload.encode("utf-8") if isinstance(payload, str) else bytes(payload)


def _tombstone_affected(ranges: DataFrame, tomb_seqs: DataFrame) -> DataFrame:
    """Partitions whose [lo, hi] seq range holds at least one
    tombstoned seq — as a JOIN with the partition-range aggregate on
    the broadcast side (one row per partition), so the tombstone
    relation can be arbitrarily large without ever touching the
    driver. Returns distinct (contract, p_date)."""
    return (
        tomb_seqs.join(
            F.broadcast(ranges),
            (tomb_seqs["seq"] >= ranges["lo"]) & (tomb_seqs["seq"] <= ranges["hi"]),
        )
        .select("contract", "p_date")
        .distinct()
    )


def _partition_kept(pdf: DataFrame, tomb_seqs: DataFrame) -> DataFrame:
    """Surviving rows of one partition under a tombstone set: an
    anti-join on seq (never a driver-built IN-list — a mass delete
    must stay distributed), seq-sorted for the rewrite."""
    return pdf.join(tomb_seqs, "seq", "left_anti").sortWithinPartitions("seq")
