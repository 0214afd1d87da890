"""Traced run: spans around the engine's public functions, per-layer
self time and counts.

Wrappers are installed at run time on the attribute each caller
resolves: a class method on its class, a module function on every
module that imported it by name. Nothing in the package is edited.
Spans stay in memory until the run ends.

A span's self time is its duration minus the part of it covered by
its child spans. Children may overlap (rewrite shards run on a thread
pool), so the covered part is the union of the child intervals, not
their sum. Work on pool threads is attached to the span that submitted
it through the ``run_tasks`` wrapper; any other span that starts on a
thread with no open span is attached to the current round.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable

ROUND = "bench.round"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    round: int | None
    start: float
    end: float = 0.0
    attrs: dict[str, Any] = field(default_factory=dict)


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: Span | None = None
        self.rounds = 0

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else self._root

    def add(self, name: str, value: float = 1.0) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0.0) + value

    @contextmanager
    def span(self, name: str):
        parent = self.current()
        sp = Span(
            next(self._ids),
            name,
            parent.id if parent else None,
            self._root.round if self._root else None,
            time.perf_counter(),
        )
        st = self._stack()
        st.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(sp)

    @contextmanager
    def adopt(self, parent: Span | None):
        """Run the body on this thread as a child of ``parent``."""
        st = self._stack()
        if parent is not None:
            st.append(parent)
        try:
            yield
        finally:
            if parent is not None:
                st.pop()

    @contextmanager
    def round(self):
        """One round of the workload: the root every span hangs from."""
        sp = Span(next(self._ids), ROUND, None, self.rounds, time.perf_counter())
        self._root = sp
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._root = None
            self.rounds += 1
            with self._lock:
                self.spans.append(sp)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the union of its children's intervals
    (clipped to the span)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[int, float] = {}
    for s in spans:
        ivs = sorted(
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.id, [])
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (s.end - s.start) - covered
    return out


# ------------------------------------------------------------ wrappers


def _wrap(tracer: Tracer, fn, name: str | None, after=None):
    """Span named ``name`` (None: no span) around ``fn``; ``after(sp,
    args, kwargs, result)`` records counts at the same boundary."""

    @functools.wraps(fn)
    def wrapped(*a, **kw):
        if name is None:
            out = fn(*a, **kw)
            if after is not None:
                after(tracer.current(), a, kw, out)
            return out
        with tracer.span(name) as sp:
            out = fn(*a, **kw)
            if after is not None:
                after(sp, a, kw, out)
            return out

    return wrapped


def _arg(a, kw, pos: int, key: str):
    return a[pos] if len(a) > pos else kw.get(key)


def install(tracer: Tracer) -> Callable[[], None]:
    """Install every layer wrapper; returns the function that removes
    them again."""
    from pyspark.sql.classic.dataframe import DataFrame

    from datalakequality_spark.maintenance import clustering, compaction, lineage, merge
    from datalakequality_spark.plans import quality_gate
    from datalakequality_spark.sources import icemini
    from datalakequality_spark.streaming import ingest

    Table = icemini.IceMiniTable
    add = tracer.add

    def on_commit(sp, a, kw, snap):
        add("icemini.commit.manifests", len(snap.manifests) + len(snap.delete_manifests))

    def on_write(sp, a, kw, entries):
        add("icemini.write_data_files.files", len(entries))
        add("icemini.write_data_files.bytes", sum(e.size_bytes for e in entries))

    def on_prune(sp, a, kw, kept):
        # only calls that carry a filter can prune
        if any(_arg(a, kw, i, k) is not None for i, k in ((2, "min_n_tok"), (3, "max_n_tok"), (4, "sources"))):
            add("icemini.prune.live", len(_arg(a, kw, 1, "entries")))
            add("icemini.prune.kept", len(kept))

    def on_applicable(sp, a, kw, dels):
        if sp is not None and sp.name == "icemini.read":
            sp.attrs.setdefault("groups", set()).add(dels)

    def on_expire(sp, a, kw, out):
        add("icemini.expire_snapshots.files_deleted", len(out["deleted_data_files"]))

    def on_rewrite(sp, a, kw, out):
        add("clustering.shards", out["tasks"] + out["skipped"])

    def on_gate_batch(sp, a, kw, out):
        add("quality_gate.files_quarantined", len(out[1]))

    def on_compact_deletes(sp, a, kw, out):
        add("compaction.delete_files_before", out.get("input_delete_files", 0))
        add("compaction.delete_files_after", out.get("output_delete_files", 0))

    def on_merge(sp, a, kw, out):
        add("merge.files_rewritten", len(out["input_files"]))

    def count(name):
        return lambda sp, a, kw, out: add(name)

    def traced_run_tasks(orig):
        @functools.wraps(orig)
        def run_tasks(tasks, exec_one, max_concurrent=1):
            parent = tracer.current()

            def one(task):
                with tracer.adopt(parent):
                    return exec_one(task)

            return orig(tasks, one, max_concurrent)

        return run_tasks

    plan: list[tuple[Any, str, Callable]] = [
        (Table, "commit", lambda f: _wrap(tracer, f, "icemini.commit", on_commit)),
        (Table, "_try_claim_version", lambda f: _wrap(tracer, f, None, count("icemini.commit.attempts"))),
        (Table, "live_entries", lambda f: _wrap(tracer, f, "icemini.live_entries")),
        (Table, "snapshots", lambda f: _wrap(tracer, f, "icemini.snapshots")),
        (Table, "write_data_files", lambda f: _wrap(tracer, f, "icemini.write_data_files", on_write)),
        (Table, "write_delete_files", lambda f: _wrap(tracer, f, "icemini.write_delete_files")),
        (Table, "prune_entries", lambda f: _wrap(tracer, f, None, on_prune)),
        (Table, "_read_with_deletes", lambda f: _wrap(tracer, f, "icemini.read")),
        (Table, "expire_snapshots", lambda f: _wrap(tracer, f, "icemini.expire_snapshots", on_expire)),
        (icemini, "applicable_delete_paths", lambda f: _wrap(tracer, f, None, on_applicable)),
        (clustering, "rewrite_sorted", lambda f: _wrap(tracer, f, "clustering.rewrite_sorted", on_rewrite)),
        (DataFrame, "approxQuantile", lambda f: _wrap(tracer, f, "clustering.quantile_sample")),
        (clustering, "run_tasks", traced_run_tasks),
        (merge, "run_tasks", traced_run_tasks),
        (compaction, "gate_batch", lambda f: _wrap(tracer, f, "compaction.gate_batch", on_gate_batch)),
        (compaction, "compact_delete_files", lambda f: _wrap(tracer, f, "compaction.compact_delete_files", on_compact_deletes)),
        (quality_gate, "gate_files", lambda f: _wrap(tracer, f, "quality_gate.gate_files")),
        (quality_gate, "parquet_null_counts", lambda f: _wrap(tracer, f, "quality_gate.parquet_null_counts")),
        (quality_gate, "run_quality_gate", lambda f: _wrap(tracer, f, "quality_gate.run_quality_gate")),
        (merge, "merge_into", lambda f: _wrap(tracer, f, "merge.merge_into", on_merge)),
        (merge, "bloom_prune_candidates", lambda f: _wrap(tracer, f, "merge.bloom_prune_candidates")),
        (ingest.IceMiniUpsertSink, "__call__", lambda f: _wrap(tracer, f, "ingest.sink")),
    ]
    for m in ("write_plan", "mark_intent", "mark_done", "is_done"):
        plan.append((lineage.JobLog, m, lambda f: _wrap(tracer, f, "lineage.joblog")))
    for mod in (lineage, clustering, merge):
        plan.append((mod, "commit_landed", lambda f: _wrap(tracer, f, "lineage.commit_landed")))
    for op in OPERATORS:
        plan.append((quality_gate, op, lambda f, op=op: _wrap(tracer, f, f"operators.{op}")))

    saved = []
    for owner, attr, make in plan:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def uninstall() -> None:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)

    return uninstall


OPERATORS = (
    "profile_dataset",
    "validate_contract",
    "detect_pii",
    "detect_outliers",
    "analyze_drift_against_baseline",
    "detect_schema_changes",
    "build_autofix",
)

# spans whose total self time is reported as ``<name>.ms``; the round's
# own self time (time in no layer span) as ``bench.unattributed.ms``
SELF_TIME = (
    "icemini.commit",
    "icemini.live_entries",
    "icemini.snapshots",
    "icemini.write_data_files",
    "icemini.write_delete_files",
    "icemini.read",
    "icemini.expire_snapshots",
    "clustering.rewrite_sorted",
    "clustering.quantile_sample",
    "compaction.gate_batch",
    "compaction.compact_delete_files",
    "quality_gate.gate_files",
    "quality_gate.parquet_null_counts",
    "quality_gate.run_quality_gate",
    "merge.merge_into",
    "merge.bloom_prune_candidates",
    "lineage.joblog",
    "lineage.commit_landed",
    "ingest.sink",
    "bench.read",
    "bench.check",
    *(f"operators.{op}" for op in OPERATORS),
)
CALLS = (
    "icemini.commit",
    "icemini.live_entries",
    "icemini.write_data_files",
    "compaction.gate_batch",
    "lineage.commit_landed",
)
PER_ROUND_COUNTS = (
    "icemini.commit.attempts",
    "icemini.write_data_files.files",
    "icemini.write_data_files.bytes",
    "icemini.expire_snapshots.files_deleted",
    "clustering.shards",
    "compaction.delete_files_before",
    "compaction.delete_files_after",
    "quality_gate.files_quarantined",
    "merge.files_rewritten",
)


def _unit(name: str) -> str:
    if name.endswith((".ms", "_ms")):
        return "ms"
    if name.endswith(".s") or name == "spark.task_s":
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith(("_ratio", "precision", "recall", "occupancy")):
        return "ratio"
    return "count"


def layer_metrics(
    tracer: Tracer,
    precision: dict[str, float],
    spark: dict[str, float],
    extra: dict[str, float],
) -> dict[str, dict[str, Any]]:
    """Every per-layer metric, normalised per round (counts and self
    times are per round, ratios are over the whole run). ``precision``
    carries the two ratios only the workload can judge, ``spark`` the
    event-log figures, ``extra`` session and tracing figures."""
    rounds = max(tracer.rounds, 1)
    st = self_times(tracer.spans)
    ms: dict[str, float] = {}
    calls: dict[str, int] = {}
    groups: list[int] = []
    for s in tracer.spans:
        key = "bench.unattributed" if s.name == ROUND else s.name
        ms[key] = ms.get(key, 0.0) + st[s.id] * 1000.0
        calls[s.name] = calls.get(s.name, 0) + 1
        if s.name == "icemini.read":
            groups.append(max(1, len(s.attrs.get("groups", ()))))

    c = tracer.counts
    out: dict[str, float] = {f"{k}.ms": ms.get(k, 0.0) / rounds for k in (*SELF_TIME, "bench.unattributed")}
    out.update({f"{k}.calls": calls.get(k, 0) / rounds for k in CALLS})
    out.update({k: c.get(k, 0.0) / rounds for k in PER_ROUND_COUNTS})
    n_commits = calls.get("icemini.commit", 0)
    out["icemini.manifests_live"] = c.get("icemini.commit.manifests", 0.0) / max(n_commits, 1)
    live = c.get("icemini.prune.live", 0.0)
    out["icemini.prune.kept_ratio"] = c.get("icemini.prune.kept", 0.0) / live if live else 1.0
    out["icemini.read.delete_groups"] = sum(groups) / len(groups) if groups else 0.0
    out.update(precision)
    out.update(spark)
    out.update(extra)
    return {k: {"value": round(float(v), 6), "unit": _unit(k)} for k, v in sorted(out.items())}


# ------------------------------------------------------- spark event log


def spark_metrics(evt_dir: str, windows: list[tuple[float, float]], cores: int) -> dict[str, float]:
    """Jobs, tasks, task seconds, occupancy and shuffle bytes written
    per round, from the Spark event log. A job counts toward a round
    when it was submitted inside the round's window; a task when it
    finished inside it. Windows are epoch milliseconds."""

    def inside(t: float) -> bool:
        return any(lo <= t <= hi for lo, hi in windows)

    jobs = tasks = 0
    run_ms = shuffle = 0.0
    # Spark 4 writes one directory per application (rolling event log)
    for path in glob.glob(os.path.join(evt_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path) or "appstatus" in os.path.basename(path):
            continue
        with open(path, errors="replace") as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    jobs += inside(ev.get("Submission Time", 0))
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    if not inside((ev.get("Task Info") or {}).get("Finish Time", 0)):
                        continue
                    mx = ev.get("Task Metrics") or {}
                    tasks += 1
                    run_ms += mx.get("Executor Run Time", 0)
                    shuffle += (mx.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    rounds = max(len(windows), 1)
    wall_s = sum(hi - lo for lo, hi in windows) / 1000.0
    return {
        "spark.jobs": jobs / rounds,
        "spark.tasks": tasks / rounds,
        "spark.task_s": run_ms / 1000.0 / rounds,
        "spark.occupancy": (run_ms / 1000.0) / (wall_s * cores) if wall_s > 0 else 0.0,
        "spark.shuffle_write_bytes": shuffle / rounds,
    }


WRAPPER_COST_CALLS = 20_000


def wrapper_cost_s() -> float:
    """Measured cost of one span on this host: a wrapped no-op minus the
    bare call, per call."""
    n = WRAPPER_COST_CALLS
    t = Tracer()

    def noop():
        return None

    w = _wrap(t, noop, "x")
    t0 = time.perf_counter()
    for _ in range(n):
        noop()
    t1 = time.perf_counter()
    for _ in range(n):
        w()
    t2 = time.perf_counter()
    return max((t2 - t1) - (t1 - t0), 0.0) / n
