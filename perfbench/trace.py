"""Layer tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded by wrappers that this file puts around each layer's
public functions, patched where the caller looks the name up (for
example ``unitdb_spark.engine.parse_topic``); the program itself is not
changed. Spans are kept in memory and turned into per-layer metrics at
the end of the run.

The Spark layer is read from the Spark event log (uncompressed, not
rolling), whose static confs ``run.py`` passes through the environment
before the JVM starts. Every closed-loop op runs under its own job
group; jobs submitted by streaming threads carry the query's own group,
so a job is attributed by group first and otherwise by the op whose
wall-clock window holds its submission time.
"""

from __future__ import annotations

import functools
import glob
import json
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

EVENT_LOG_CONFS = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


class Tracer:
    """In-memory span recorder: [name, start, end, parent index, op id]."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self.op: int | None = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = tracer._stack()
            span = [name, time.perf_counter(), None, stack[-1] if stack else -1, tracer.op]
            with tracer._lock:
                idx = len(tracer.spans)
                tracer.spans.append(span)
            stack.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                span[2] = time.perf_counter()

        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(orig, name))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def under(self, span_name: str, child_name: str) -> int:
        """Number of measured ``child_name`` spans with a ``span_name`` ancestor."""
        n = 0
        for s in self.spans:
            if s[0] != child_name or s[4] is None:
                continue
            p = s[3]
            while p >= 0:
                if self.spans[p][0] == span_name:
                    n += 1
                    break
                p = self.spans[p][3]
        return n


def install(tracer: Tracer, spark) -> None:
    """Wrap every layer's public entry points."""
    import unitdb_spark.core.model as model
    import unitdb_spark.engine as engine
    import unitdb_spark.fs as fs
    import unitdb_spark.operators.get as get
    import unitdb_spark.streaming.commitlog as commitlog
    import unitdb_spark.streaming.pubsub as pubsub
    import unitdb_spark.table as table

    for mod in (engine, model, pubsub):
        tracer.patch(mod, "parse_topic", "core.parse_topic")
    for meth in ("put_entry", "flush", "get", "get_df", "get_many", "delete", "put_df"):
        tracer.patch(engine.Engine, meth, f"engine.{meth}")
    for meth in ("read", "append"):
        tracer.patch(table.MessagesTable, meth, f"table.{meth}")
    tracer.patch(get, "apply_get", "operators.get.apply_get")
    tracer.patch(get, "apply_get_many", "operators.get.apply_get_many")
    tracer.patch(get, "topic_match_expr", "operators.topic_match")
    for fn in ("ingest_stream", "fanout_once", "prepare_entries"):
        tracer.patch(pubsub, fn, f"streaming.{fn}")
    for meth in ("applied", "record"):
        tracer.patch(commitlog.CommitLog, meth, f"streaming.commitlog.{meth}")
    for fn in ("exists", "mkdirs", "is_dir", "delete", "create_new", "mtime", "rename",
               "has_files", "tree_bytes", "list_status", "write_text", "read_text"):
        tracer.patch(fs, fn, f"fs.{fn}")
    tracer.patch(spark, "createDataFrame", "spark.createDataFrame")


# ---------------------------------------------------------------- event log
@dataclass
class SparkStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_ms: float = 0.0
    longest_task_ms: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    records_read: int = 0
    stage_ids: set = field(default_factory=set)

    def add(self, other: "SparkStats") -> None:
        self.jobs += other.jobs
        self.stages += other.stages
        self.tasks += other.tasks
        self.task_ms += other.task_ms
        self.longest_task_ms = max(self.longest_task_ms, other.longest_task_ms)
        self.shuffle_bytes += other.shuffle_bytes
        self.spill_bytes += other.spill_bytes
        self.records_read += other.records_read


def read_event_log(log_dir: str, windows: dict[int, tuple[float, float]],
                   group_to_op: dict[str, int]) -> dict[int, SparkStats]:
    """Spark work per op id. ``windows`` maps op id -> (start, end) in
    epoch ms; ``group_to_op`` maps a job group id to its op id."""
    stage_op: dict[int, int] = {}
    per_op: dict[int, SparkStats] = defaultdict(SparkStats)
    spans = sorted((s, e, op) for op, (s, e) in windows.items())

    def op_at(ms: float) -> int | None:
        for s, e, op in spans:
            if s <= ms <= e:
                return op
        return None

    for path in glob.glob(f"{log_dir}/*"):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    op = group_to_op.get(group) if group else None
                    if op is None:
                        op = op_at(ev.get("Submission Time", 0))
                    if op is None:
                        continue
                    per_op[op].jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_op[sid] = op
                elif kind == "SparkListenerTaskEnd":
                    op = stage_op.get(ev.get("Stage ID"))
                    if op is None:
                        continue
                    st = per_op[op]
                    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    dur = float(info.get("Finish Time", 0) - info.get("Launch Time", 0))
                    st.tasks += 1
                    st.stage_ids.add(ev.get("Stage ID"))
                    st.task_ms += float(m.get("Executor Run Time", 0))
                    st.longest_task_ms = max(st.longest_task_ms, dur)
                    sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
                    st.shuffle_bytes += int(sr.get("Remote Bytes Read", 0)) + int(
                        sr.get("Local Bytes Read", 0)) + int(sw.get("Shuffle Bytes Written", 0))
                    st.spill_bytes += int(m.get("Memory Bytes Spilled", 0)) + int(m.get("Disk Bytes Spilled", 0))
                    st.records_read += int((m.get("Input Metrics") or {}).get("Records Read", 0))
    for st in per_op.values():
        st.stages = len(st.stage_ids)
    return per_op


# ------------------------------------------------------------ layer metrics
def _mean(total: float, n: int) -> float:
    return total / n if n else 0.0


def layer_metrics(ctx, res: dict, tracer: Tracer, log_dir, session_s: float, cpus: int) -> dict[str, float]:
    """Every per-layer metric of BENCHMARK.json for one traced run; a
    layer the workload does not exercise reports 0."""
    import statistics

    from perfbench.workloads import ANALYTICS_PANEL, layout_counts

    spans = [s for s in tracer.spans if s[4] is not None and s[2] is not None]
    ms = lambda s: (s[2] - s[1]) * 1e3  # noqa: E731
    named = lambda n: [s for s in spans if s[0] == n]  # noqa: E731
    idx = {id(s): i for i, s in enumerate(tracer.spans)}
    kids: dict[int, list] = defaultdict(list)
    for s in spans:
        kids[s[3]].append(s)

    m: dict[str, float] = {"session.start_s": session_s}
    puts = named("engine.put_entry")
    parses = named("core.parse_topic")
    m["core.parse_topic.calls_per_put"] = _mean(tracer.under("engine.put_entry", "core.parse_topic"), len(puts))
    m["core.parse_topic.us_per_call"] = _mean(sum(map(ms, parses)) * 1e3, len(parses))
    m["engine.put_entry.us_per_row"] = _mean(sum(map(ms, puts)) * 1e3, len(puts))
    flush_cdf = [c for f in named("engine.flush") for c in kids[idx[id(f)]]
                 if c[0] == "spark.createDataFrame"]
    m["engine.flush.create_df_ms"] = _mean(sum(map(ms, flush_cdf)), len(flush_cdf))
    gets = named("engine.get")
    fetch = [ms(g) - sum(map(ms, kids[idx[id(g)]])) for g in gets]
    m["engine.get.fetch_ms"] = _mean(sum(fetch), len(fetch))
    plans = named("operators.get.apply_get") + named("operators.get.apply_get_many")
    m["operators.get.plan_ms"] = _mean(sum(map(ms, plans)), len(plans))
    for name in ("read", "append"):
        calls = named(f"table.{name}")
        m[f"table.{name}_ms"] = _mean(sum(map(ms, calls)), len(calls))
    layout = res.get("layout", {})
    m["table.files"], m["table.partitions"] = layout_counts(layout.get("table"))
    m["engine.tombstone_files"] = layout_counts(layout.get("tombstones"))[0]
    fs_spans = [s for s in spans if s[0].startswith("fs.")]
    m["fs.calls_per_op"] = _mean(len(fs_spans), len(ctx.ops))
    m["fs.ms_per_op"] = _mean(sum(map(ms, fs_spans)), len(ctx.ops))

    # Spark runtime, per op (per trigger on the streaming workload)
    windows = {i: o.window for i, o in enumerate(ctx.ops)}
    groups = {f"perfbench-op-{i}": i for i in windows}
    per_op = read_event_log(str(log_dir), windows, groups)
    total = SparkStats()
    for st in per_op.values():
        total.add(st)
    stream = res.get("stream")
    units = len(stream.triggers) if stream is not None else len(ctx.ops)
    m["spark.jobs_per_op"] = _mean(total.jobs, units)
    m["spark.stages_per_op"] = _mean(total.stages, units)
    m["spark.tasks_per_op"] = _mean(total.tasks, units)
    m["spark.task_ms_per_op"] = _mean(total.task_ms, units)
    m["spark.longest_task_ms"] = total.longest_task_ms
    m["spark.shuffle_bytes_per_op"] = _mean(total.shuffle_bytes, units)
    m["spark.spill_bytes"] = total.spill_bytes
    m["spark.parallel_efficiency"] = _mean(total.task_ms, sum(o.ms for o in ctx.ops) * cpus)
    reads = [i for i, o in enumerate(ctx.ops) if o.kind in ("get", "get_many")]
    m["scan.rows_per_result"] = _mean(sum(per_op[i].records_read for i in reads if i in per_op),
                                      sum(ctx.ops[i].rows for i in reads))

    # streaming progress, per trigger
    trig = stream.triggers if stream is not None else []
    ingest = [p for k, p in trig if k == "ingest"]
    dur = lambda p, k: p["durationMs"].get(k, 0)  # noqa: E731
    m["streaming.triggers"] = len(trig)
    m["streaming.trigger_p50_ms"] = statistics.median([dur(p, "triggerExecution") for _, p in trig]) if trig else 0.0
    for phase in ("addBatch", "queryPlanning", "walCommit", "commitOffsets"):
        m[f"streaming.{phase}_ms"] = _mean(sum(dur(p, phase) for _, p in trig), len(trig))
    commitlog = [s for s in spans if s[0].startswith("streaming.commitlog.")]
    m["streaming.commitlog_ms"] = _mean(sum(map(ms, commitlog)), len(ingest))
    m["streaming.source_reads_per_row"] = _mean(
        sum(p["numInputRows"] for p in ingest), stream.landed if stream is not None else 0)
    m["streaming.fanout.match_evals_per_delivery"] = _mean(
        stream.fanout_rows * stream.spec.subs.num_rows, stream.delivered) if stream is not None else 0.0

    # analytics panel, per query execution
    for q in ANALYTICS_PANEL:
        runs = [i for i, o in enumerate(ctx.ops) if o.kind == q]
        m[f"analytics.{q}_s"] = statistics.median([ctx.ops[i].ms for i in runs]) / 1e3 if runs else 0.0
        m[f"analytics.{q}.jobs"] = _mean(sum(per_op[i].jobs for i in runs if i in per_op), len(runs))
        m[f"analytics.{q}.stages"] = _mean(sum(per_op[i].stages for i in runs if i in per_op), len(runs))
        m[f"analytics.{q}.task_ms"] = _mean(sum(per_op[i].task_ms for i in runs if i in per_op), len(runs))
    return m
