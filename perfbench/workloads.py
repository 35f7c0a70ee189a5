"""The three workloads. Each is one closed-loop client on one thread.

A workload sets itself up several times (input generation and
preload) and reports the median, warms up once, then runs whole units
of work (store op cycles, stream rounds, analytics panel passes), at
least ``MIN_UNITS`` of them, until the summed operation time reaches
``--seconds``. Each op's wall time and CPU time are recorded.
Every output is checked against the benchmark's own model outside the
timed region; an op that raises or returns a wrong result counts as
failed.

The program is driven only through its public calls: ``Engine``,
``Entry``/``Query``, ``operators.get`` (through the Engine),
``streaming.pubsub`` and ``__spark_entry__.queries()``.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.model import StoreModel, fanout_deliveries, split_topic

SETUP_REPS = 3
# Every run measures at least this many whole units (store op cycles,
# stream rounds, panel passes). The first unit after warm-up still
# costs ~5% more CPU than the second, so a run that stopped after one
# unit on a slow machine would read dearer than one that made two.
MIN_UNITS = 2

ANALYTICS_PANEL = [
    "topk_per_topic",
    "events_tumbling_daily",
    "events_sliding_6h",
    "events_sessionize",
    "events_asof_click",
    "events_funnel",
    "events_dedup_minute",
    "streamed_rollup_snapshot",
]


CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_cpu_s(path: str) -> float:
    """User plus system CPU seconds from a ``/proc/.../stat`` file."""
    with open(path) as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / CLK_TCK


class JvmCpu:
    """CPU seconds the Spark JVM has used on the threads that run Java
    code, the JVM's own service threads (JIT compiler, garbage
    collector) excluded and counted apart by kind.

    Both kinds run in the background, and how much of their work lands
    in a given interval depends on timing: when the compile queue
    drains, whether heap occupancy crossed the mark threshold. On a
    4-vCPU VM either swung a whole run's CPU per op by ~10%. A service
    thread that exits keeps the last value read from it.
    """

    SERVICE = {"jit": ("C1 CompilerThre", "C2 CompilerThre"), "gc": ("GC Thread", "G1 ")}

    def __init__(self, pid: int) -> None:
        self.pid = pid
        self._kind: dict[str, str | None] = {}  # tid -> service kind, None for other threads
        self._service_s: dict[str, float] = {}  # tid -> last CPU seconds read

    def service_s(self) -> dict[str, float]:
        out = dict.fromkeys(self.SERVICE, 0.0)
        for tid, cpu in self._service_s.items():
            out[self._kind[tid]] += cpu
        return out

    def sample(self) -> float:
        task = f"/proc/{self.pid}/task"
        for tid in os.listdir(task):
            if tid not in self._kind:
                try:
                    with open(f"{task}/{tid}/comm") as fh:
                        name = fh.read()
                except OSError:
                    continue
                self._kind[tid] = next((k for k, prefixes in self.SERVICE.items()
                                        if name.startswith(prefixes)), None)
            if self._kind[tid] is not None:
                try:
                    self._service_s[tid] = _stat_cpu_s(f"{task}/{tid}/stat")
                except OSError:
                    pass
        return _stat_cpu_s(f"/proc/{self.pid}/stat") - sum(self._service_s.values())


@dataclass
class Op:
    kind: str
    ms: float
    ok: bool
    window: tuple[float, float]  # epoch ms, for attributing Spark jobs
    rows: int = 0
    cpu_ms: float = 0.0  # CPU time of this process and the JVM's Java threads


@dataclass
class Ctx:
    spark: object
    work: Path
    seed: int
    seconds: float
    size: str
    tracer: object = None
    ops: list[Op] = field(default_factory=list)
    setup_reps_s: list[float] = field(default_factory=list)
    warmup_s: float = 0.0
    digest: str = ""
    errors: list[str] = field(default_factory=list)
    clock: int = 0  # virtual-time tick, one per executed store op
    service_ms: dict[str, float] = field(default_factory=dict)  # JVM service CPU during ops
    jvm: JvmCpu | None = None

    @property
    def measured_s(self) -> float:
        return sum(o.ms for o in self.ops) / 1e3

    def run(self, kind: str, fn):
        """Time ``fn()`` as one op under its own Spark job group."""
        i = len(self.ops)
        self.spark.sparkContext.setJobGroup(f"perfbench-op-{i}", kind)
        if self.tracer is not None:
            self.tracer.op = i
        c0, s0 = self.cpu_s(), self.service_s()
        w0, t0 = time.time(), time.perf_counter()
        try:
            res, err = fn(), None
        except Exception as e:  # an op that raises counts as failed, the run goes on
            res, err = None, e
        ms = (time.perf_counter() - t0) * 1e3
        cpu_ms = (self.cpu_s() - c0) * 1e3
        for k, v in self.service_s().items():
            self.service_ms[k] = self.service_ms.get(k, 0.0) + (v - s0[k]) * 1e3
        if self.tracer is not None:
            self.tracer.op = None
        self.ops.append(Op(kind, ms, err is None, (w0 * 1e3, time.time() * 1e3), cpu_ms=cpu_ms))
        if err is not None:
            self.fail(f"{kind}: {type(err).__name__}: {str(err)[:300]}")
        return res

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process and the Spark JVM's
        Java threads."""
        return time.process_time() + (self.jvm.sample() if self.jvm is not None else 0.0)

    def service_s(self) -> dict[str, float]:
        return self.jvm.service_s() if self.jvm is not None else {}

    def fail(self, msg: str) -> None:
        if self.ops:
            self.ops[-1].ok = False
        self.errors.append(msg)
        print(f"perfbench: FAILED {msg}", file=sys.stderr)

    def setup(self, build):
        """Run ``build(rep)`` SETUP_REPS times; keep the last result."""
        out = None
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            out = build(rep)
            self.setup_reps_s.append(time.perf_counter() - t0)
        return out

    def warmup(self, fn) -> None:
        t0 = time.perf_counter()
        fn()
        self.warmup_s = time.perf_counter() - t0


def timing(name: str, samples: list[float]) -> dict:
    """``<name>_p50_ms`` and the highest of p75/p90/p95/p99 that has at
    least ten samples beyond it (nearest rank), each with its sample count."""
    if not samples:
        return {f"{name}_p50_ms": {"value": None, "unit": "ms", "n": 0}}
    s = sorted(samples)
    out = {f"{name}_p50_ms": {"value": statistics.median(s), "unit": "ms", "n": len(s)}}
    for p in (99, 95, 90, 75):
        if len(s) * (1 - p / 100) >= 10:
            out[f"{name}_p{p}_ms"] = {"value": s[math.ceil(p / 100 * len(s)) - 1], "unit": "ms", "n": len(s)}
            break
    return out


def rate(value: float, unit: str = "1/s") -> dict:
    return {"value": value, "unit": unit}


# ------------------------------------------------------------------ stores
def _open_store(ctx: Ctx, rep: int):
    from unitdb_spark import Engine

    spec = inputs.store(ctx.seed, ctx.size)
    d = ctx.work / f"store{rep}"
    d.mkdir(parents=True)
    pq.write_table(spec.table(), str(d / "preload.parquet"))
    eng = Engine.open(ctx.spark, str(d / "db"))
    eng.put_df(ctx.spark.read.parquet(str(d / "preload.parquet")))
    if len(spec.tombstones):
        with eng.batch() as b:
            for s in spec.tombstones.tolist():
                b.delete(s)
    model = StoreModel(spec.topics, spec.topic_idx, spec.seq, spec.contract,
                       spec.ts, spec.expires, spec.payload, spec.tombstones)
    return spec, eng, model


class StoreClient:
    """Executes store ops against the Engine and checks them against the model."""

    def __init__(self, ctx: Ctx, eng, model: StoreModel) -> None:
        self.ctx, self.eng, self.model = ctx, eng, model
        self.committed: list[tuple[int, str, int]] = []  # (seq, topic, contract)

    def now(self) -> float:
        return inputs.T_NOW + self.ctx.clock + 0.5

    def do(self, op: tuple, timed: bool = True) -> None:
        from unitdb_spark import Entry, Query

        ctx, eng, model = self.ctx, self.eng, self.model
        ctx.clock += 1
        now, kind = self.now(), op[0]
        run = ctx.run if timed else (lambda _k, fn: fn())
        if kind in ("get", "get_recent"):
            topic, contract = op[1:] if kind == "get" else self._recent(op[1])
            got = run("get", lambda: eng.get(Query(topic, contract=contract), now=now))
            self._check(got, [(topic, contract)], now, single=True, timed=timed)
        elif kind == "get_many":
            got = run("get_many", lambda: eng.get_many(
                [Query(t, contract=c) for t, c in op[1]], now=now))
            self._check(got, op[1], now, single=False, timed=timed)
        elif kind == "commit":
            ts0 = inputs.T_NOW + ctx.clock

            def commit():
                seqs = [eng.put_entry(Entry(topic=t, payload=p, contract=c), ts=ts0 + j * 1e-4)
                        for j, (t, c, p) in enumerate(op[1])]
                eng.flush()
                return seqs

            seqs = run("commit", commit)
            if seqs is not None:
                for s, (t, c, p), j in zip(seqs, op[1], range(len(seqs))):
                    model.put(s, t, c, ts0 + j * 1e-4, p)
                    self.committed.append((s, split_topic(t)[0], c))
                if timed:
                    ctx.ops[-1].rows = len(seqs)
        elif kind == "delete":
            pool = [s for s, _, _ in self.committed] or model.seqs().tolist()
            seq = pool[int(op[1] * len(pool))]
            run("delete", lambda: eng.delete(seq))
            model.delete(seq)
        else:
            raise ValueError(kind)

    def _recent(self, variant: str) -> tuple[str, int]:
        """Read-your-writes: a Get that must see the newest commit."""
        _, topic, contract = self.committed[-1]
        d, g, l = topic.split(".")
        return {"static": topic, "star": f"{d}.*.{l}", "tail": f"{d}.{g}...",
                "last": f"{topic}?last=1h"}[variant], contract

    def _check(self, got, queries, now: float, single: bool, timed: bool) -> None:
        if got is None:
            return
        results = [got] if single else got
        if timed:
            self.ctx.ops[-1].rows = sum(len(r) for r in results)
        for (topic, contract), res in zip(queries, results):
            want = self.model.get(topic, contract, now)
            if res != want:
                self.ctx.fail(f"get {topic!r} contract={contract}: {len(res)} rows, expected {len(want)}")
        if len(results) != len(queries):
            self.ctx.fail(f"get_many returned {len(results)} lists for {len(queries)} queries")

    def check_table(self) -> None:
        """After the run: the store's files hold exactly the model's rows."""
        t = pq.read_table(self.eng.table.path, columns=["seq", "payload"])
        seqs = t.column("seq").to_numpy()
        want = self.model.seqs()
        if len(seqs) != len(want) or len(set(seqs.tolist())) != len(seqs) or \
                set(seqs.tolist()) != set(want.tolist()):
            self.ctx.fail(f"table holds {len(seqs)} rows, model {len(want)}")
        tomb = Path(self.eng.tombstones_path)
        dead = set(pq.read_table(str(tomb)).column("seq").to_pylist()) if tomb.exists() else set()
        if dead != self.model.dead:
            self.ctx.fail(f"{len(dead)} tombstones on disk, model {len(self.model.dead)}")


def store(ctx: Ctx) -> dict:
    spec, eng, model = ctx.setup(lambda rep: _open_store(ctx, rep))
    ctx.digest = inputs.digest(spec)
    client = StoreClient(ctx, eng, model)
    ctx.warmup(lambda: [client.do(op, timed=False) for op in spec.warmup])
    for i, op in enumerate(spec.ops):
        # whole cycles only, so every run measures the same mix
        cycle, pos = divmod(i, len(inputs.STORE_CYCLE))
        if ctx.measured_s >= ctx.seconds and pos == 0 and cycle >= MIN_UNITS:
            break
        client.do(op)
    client.check_table()
    ms = lambda kind: [o.ms for o in ctx.ops if o.kind == kind]  # noqa: E731
    commits = [o for o in ctx.ops if o.kind == "commit"]
    put_rows_per_s = sum(o.rows for o in commits) / (sum(o.ms for o in commits) / 1e3)
    return {
        "op_latency_ms": statistics.median(ms("get")),
        "ops_per_s": sum(o.ok for o in ctx.ops) / ctx.measured_s,
        "rows_per_s": put_rows_per_s,
        "headline": "median Engine.get",
        "detail": {
            **timing("get", ms("get")),
            **timing("get_many", ms("get_many")),
            **timing("commit", ms("commit")),
            **timing("delete", ms("delete")),
            "put_rows_per_s": rate(put_rows_per_s),
            "space_amp": rate(eng.file_size() / model.user_bytes, "ratio"),
        },
        "layout": {"table": eng.table.path, "tombstones": eng.tombstones_path},
    }


# ------------------------------------------------------------------ stream
def _write_stream_inputs(ctx: Ctx, rep: int):
    spec = inputs.stream(ctx.seed, ctx.size)
    d = ctx.work / f"stream{rep}"
    for name, files in (("in", spec.ingest), ("fan", spec.fanout)):
        (d / name).mkdir(parents=True)
        for i, tbl in enumerate(files):
            pq.write_table(tbl, str(d / name / f"part-{i:04d}.parquet"))
    subs = ctx.spark.createDataFrame(spec.subs.to_pandas())
    subs.count()
    return spec, d, subs


class StreamClient:
    def __init__(self, ctx: Ctx, spec: inputs.Stream, src: Path, subs) -> None:
        self.ctx, self.spec, self.src, self.subs = ctx, spec, src, subs
        self.rounds = 0
        self.triggers: list[tuple[str, dict]] = []  # (query kind, progress)
        self.landed = self.delivered = self.fanout_rows = 0
        self.ingest_s = self.fanout_s = 0.0
        self.want_deliveries = fanout_deliveries(spec.fanout, spec.subs)
        self.want_payloads = sorted(p for t in spec.ingest for p in t.column("payload").to_pylist())
        self.schema = ctx.spark.read.parquet(str(src / "in")).schema
        self.last_table: str | None = None

    def _entries(self, path: Path):
        from unitdb_spark.streaming import pubsub

        raw = (self.ctx.spark.readStream.schema(self.schema)
               .option("maxFilesPerTrigger", 1).parquet(str(path)))
        return pubsub.prepare_entries(raw)

    def round(self, src_in: Path, src_fan: Path, timed: bool = True) -> None:
        from unitdb_spark.streaming import pubsub

        r = self.rounds
        self.rounds += 1
        base = self.ctx.work / f"round{r}"
        table = str(base / "table")
        run = self.ctx.run if timed else (lambda _k, fn: fn())

        def finish(q):
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            return q.recentProgress

        def ingest():
            return finish(pubsub.ingest_stream(self._entries(src_in), table, str(base / "cp-in"),
                                               trigger={"availableNow": True}))

        counts: list[int] = []

        def fanout():
            out = pubsub.fanout_once(self._entries(src_fan), self.subs)
            return finish(out.writeStream.foreachBatch(lambda df, _bid: counts.append(df.count()))
                          .option("checkpointLocation", str(base / "cp-fan"))
                          .trigger(availableNow=True).start())

        prog_in = run("ingest", ingest)
        if timed and prog_in is not None:
            self.ingest_s += self.ctx.ops[-1].ms / 1e3
            self.triggers += [("ingest", p) for p in prog_in]
        self.last_table = table
        landed = self._check_landed(table, src_in == self.src / "in") if prog_in is not None else 0
        prog_fan = run("fanout", fanout)
        if timed and prog_fan is not None:
            self.fanout_s += self.ctx.ops[-1].ms / 1e3
            self.triggers += [("fanout", p) for p in prog_fan]
            self.landed += landed
            self.delivered += sum(counts)
            self.fanout_rows += sum(t.num_rows for t in self.spec.fanout)
            self.ctx.ops[-2].rows, self.ctx.ops[-1].rows = landed, sum(counts)
            if sum(counts) != self.want_deliveries:
                self.ctx.fail(f"fan-out delivered {sum(counts)}, generator predicts {self.want_deliveries}")

    def _check_landed(self, table: str, full: bool) -> int:
        """Landed rows equal the generated ones exactly, no duplicate seq."""
        t = pq.read_table(table, columns=["seq", "payload"])
        if full:
            seqs = t.column("seq").to_numpy()
            if len(set(seqs.tolist())) != len(seqs):
                self.ctx.fail(f"{len(seqs) - len(set(seqs.tolist()))} duplicate seqs landed")
            if sorted(t.column("payload").to_pylist()) != self.want_payloads:
                self.ctx.fail(f"landed {t.num_rows} rows, generated {len(self.want_payloads)}")
        return t.num_rows


def stream_pubsub(ctx: Ctx) -> dict:
    spec, src, subs = ctx.setup(lambda rep: _write_stream_inputs(ctx, rep))
    ctx.digest = inputs.digest(spec)
    client = StreamClient(ctx, spec, src, subs)
    # warm-up: one round over a single file of each input
    warm = ctx.work / "warm"
    for name in ("in", "fan"):
        (warm / name).mkdir(parents=True)
        shutil.copy(src / name / "part-0000.parquet", warm / name / "part-0000.parquet")
    ctx.warmup(lambda: client.round(warm / "in", warm / "fan", timed=False))
    while True:
        client.round(src / "in", src / "fan")
        if (ctx.measured_s >= ctx.seconds and client.rounds > MIN_UNITS) or not ctx.ops[-1].ok:
            break
    trig_ms = {k: [p["durationMs"].get("triggerExecution", 0) for kind, p in client.triggers if kind == k]
               for k in ("ingest", "fanout")}
    wall = client.ingest_s + client.fanout_s
    return {
        "op_latency_ms": statistics.mean(statistics.median(v) for v in trig_ms.values()),
        "ops_per_s": len(client.triggers) / wall,
        "rows_per_s": (client.landed + client.delivered) / wall,
        "headline": "mean of the ingest and fan-out median trigger times",
        "detail": {
            **timing("ingest_trigger", trig_ms["ingest"]),
            **timing("fanout_trigger", trig_ms["fanout"]),
            "stream_ingest_rows_per_s": rate(client.landed / client.ingest_s),
            "fanout_deliveries_per_s": rate(client.delivered / client.fanout_s),
            "rounds": rate(client.rounds - 1, "count"),
            "landed_rows": rate(client.landed, "count"),
            "deliveries": rate(client.delivered, "count"),
        },
        "stream": client,
        "layout": {"table": client.last_table},
    }


# --------------------------------------------------------------- analytics
def _check_oracle_module(root: Path):
    import importlib.util

    spec = importlib.util.spec_from_file_location("check_oracle", root / "scripts" / "check_oracle.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_panel() -> None:
    """Fail before any run if a panel query has no query or no oracle."""
    import __spark_entry__ as entry

    registry, oracles = entry.queries(), entry.oracle_sql()
    missing = [q for q in ANALYTICS_PANEL if q not in registry or q not in oracles]
    if missing:
        raise SystemExit(f"perfbench: panel queries without a query or oracle: {missing}")


def analytics(ctx: Ctx) -> dict:
    import duckdb

    import __spark_entry__ as entry

    registry, oracles = entry.queries(), entry.oracle_sql()
    checker = _check_oracle_module(Path(__file__).resolve().parent.parent)

    def build(rep: int):
        tbl = inputs.events(ctx.seed, ctx.size)
        d = ctx.work / f"sf{rep}"
        d.mkdir(parents=True)
        pq.write_table(tbl, str(d / "events.parquet"))
        return tbl, d

    tbl, sf = ctx.setup(build)
    ctx.digest = inputs.digest(tbl)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf / 'events.parquet'}')")
    expected: dict[str, object] = {}

    def check(name: str, got) -> None:
        if name not in expected:
            expected[name] = con.execute(oracles[name]).df()
        problems = checker.compare(name, got, expected[name])
        if problems:
            ctx.fail(f"{name}: " + "; ".join(problems))

    # Warm-up: one pass over a small events table. Compiled code and
    # JIT state carry over to the measured input; the data does not.
    warm = ctx.work / "warm"
    warm.mkdir()
    pq.write_table(inputs.events(ctx.seed, "tiny"), str(warm / "events.parquet"))
    ctx.warmup(lambda: [registry[q](ctx.spark, str(warm)).toPandas() for q in ANALYTICS_PANEL])
    done = 0
    # whole passes only, so every run measures the same query mix
    while (ctx.measured_s < ctx.seconds or done % len(ANALYTICS_PANEL)
           or done < MIN_UNITS * len(ANALYTICS_PANEL)):
        name = ANALYTICS_PANEL[done % len(ANALYTICS_PANEL)]
        got = ctx.run(name, lambda: registry[name](ctx.spark, str(sf)).toPandas())
        if got is not None:
            ctx.ops[-1].rows = len(got)
            check(name, got)
        done += 1
    con.close()
    per_q = {q: [o.ms for o in ctx.ops if o.kind == q] for q in ANALYTICS_PANEL}
    return {
        "op_latency_ms": statistics.mean(statistics.median(v) for v in per_q.values()),
        "ops_per_s": sum(o.ok for o in ctx.ops) / ctx.measured_s,
        "rows_per_s": tbl.num_rows * len(ctx.ops) / ctx.measured_s,
        "headline": "mean of the panel queries' median times",
        "detail": {
            "analytics_panel_s": rate(sum(statistics.median(v) for v in per_q.values()) / 1e3, "s"),
            **{k: v for q in ANALYTICS_PANEL for k, v in timing(q, per_q[q]).items()},
            "events_rows": rate(tbl.num_rows, "count"),
        },
        "layout": {},
    }


WORKLOADS = {
    "store": store,
    "stream_pubsub": stream_pubsub,
    "analytics": analytics,
}


def layout_counts(path: str | None) -> tuple[int, int]:
    """(data files, leaf partition directories) under a table path."""
    if not path or not os.path.isdir(path):
        return 0, 0
    files = parts = 0
    for d, _dirs, names in os.walk(path):
        n = sum(1 for x in names if x.endswith(".parquet"))
        files += n
        parts += 1 if n and os.path.basename(d).startswith("p_date=") else 0
    return files, parts
