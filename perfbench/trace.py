"""Per-layer tracing for the benchmark's ``--trace 1`` runs.

``install`` wraps the engine's public entry points (scheduler, generation
loop, seen set, SnapTable ops, state commit, watch) at import time, from
this file only; the engine is not edited. Each wrapped call becomes a span
(name, start, end, parent, run id) kept in memory and written as JSONL when
the run ends. Every span tags its Spark jobs with ``setJobGroup`` (the
caller's group is restored on exit, including the streaming query's group
inside ``foreachBatch``), so after the run the StatusTracker gives each
span's jobs and the REST stage list gives their task CPU, GC and shuffle
bytes. A stage is charged to the first job that lists it, so a stage
reused by a later job is not counted twice.
"""

from __future__ import annotations

import functools
import json
import os
import re
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager


class Span:
    __slots__ = ("sid", "name", "parent", "start", "end", "attrs", "jobs",
                 "task_cpu_s", "gc_s", "shuffle_bytes")

    def __init__(self, sid: int, name: str, parent: int | None, start: float,
                 end: float = 0.0, attrs: dict | None = None):
        self.sid, self.name, self.parent = sid, name, parent
        self.start, self.end = start, end
        self.attrs = attrs or {}
        self.jobs: list[int] = []
        self.task_cpu_s = self.gc_s = 0.0
        self.shuffle_bytes = 0

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover
    (overlapping children are merged, children are clipped to the parent)."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(
            (max(c.start, s.start), min(c.end, s.end)) for c in kids[s.sid]
        ):
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
        out[s.sid] = s.duration - covered
    return out


def descendants(spans: list[Span]) -> dict[int, list[Span]]:
    """sid -> the span itself plus every span below it."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out: dict[int, list[Span]] = {}

    def walk(s: Span) -> list[Span]:
        if s.sid not in out:
            acc = [s]
            for c in kids[s.sid]:
                acc.extend(walk(c))
            out[s.sid] = acc
        return out[s.sid]

    for s in spans:
        walk(s)
    return out


class NullTracer:
    """The untraced run: spans cost one generator frame and record nothing."""

    enabled = False

    @contextmanager
    def span(self, name: str, **attrs):
        yield None

    def count(self, name: str, value: float = 1) -> None:
        pass


_JOB_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


class Tracer:
    enabled = True

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.bookkeeping_s = 0.0
        # one stack for the whole process: the streaming callback runs on
        # another Python thread, but only while the caller blocks in
        # awaitTermination, so the spans still nest strictly
        self._stack: list[Span] = []

    @property
    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    @contextmanager
    def span(self, name: str, **attrs):
        b0 = time.perf_counter()
        parent = self.current
        sp = Span(len(self.spans), name, parent.sid if parent else None, 0.0, attrs=attrs)
        self.spans.append(sp)
        saved = [self.sc.getLocalProperty(k) for k in _JOB_PROPS]
        self.sc.setJobGroup(self._gid(sp), name)
        self._stack.append(sp)
        self.bookkeeping_s += time.perf_counter() - b0
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            b1 = time.perf_counter()
            self._stack.pop()
            for k, v in zip(_JOB_PROPS, saved):
                self.sc.setLocalProperty(k, v)
            self.bookkeeping_s += time.perf_counter() - b1

    def count(self, name: str, value: float = 1) -> None:
        self.counters[name] += value

    def _gid(self, sp: Span) -> str:
        return f"perfbench-{self.run_id}-{sp.sid}"

    # -- after the run ------------------------------------------------------

    def resolve(self) -> list[dict]:
        """Attach job ids and stage task metrics to every span; returns the
        SQL executions (with node metrics) for layer metrics that need them."""
        tracker = self.sc.statusTracker()
        stage_first_job: dict[int, int] = {}
        for sp in self.spans:
            sp.jobs = sorted(tracker.getJobIdsForGroup(self._gid(sp)))
            for j in sp.jobs:
                info = tracker.getJobInfo(j)
                for st in (info.stageIds if info else []):
                    stage_first_job[st] = min(j, stage_first_job.get(st, j))
        stages = self._rest("stages?status=complete") or []
        per_job: dict[int, list[float]] = defaultdict(lambda: [0.0, 0.0, 0])
        for st in stages:
            j = stage_first_job.get(st["stageId"])
            if j is None:
                continue
            acc = per_job[j]
            acc[0] += st.get("executorCpuTime", 0) / 1e9
            acc[1] += st.get("jvmGcTime", 0) / 1e3
            acc[2] += st.get("shuffleReadBytes", 0) + st.get("shuffleWriteBytes", 0)
        for sp in self.spans:
            for j in sp.jobs:
                cpu, gc, sh = per_job.get(j, (0.0, 0.0, 0))
                sp.task_cpu_s += cpu
                sp.gc_s += gc
                sp.shuffle_bytes += sh
        return self._rest("sql?details=true&planDescription=false&offset=0&length=1000000") or []

    def _rest(self, path: str):
        base = self.sc.uiWebUrl
        if not base:
            return None
        url = f"{base}/api/v1/applications/{self.sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=60) as r:
            return json.load(r)

    def write_jsonl(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "run_id": self.run_id, "sid": sp.sid, "name": sp.name,
                    "parent": sp.parent, "start": sp.start, "end": sp.end,
                    "self_s": st[sp.sid], "jobs": sp.jobs,
                    "task_cpu_s": sp.task_cpu_s, "gc_s": sp.gc_s,
                    "shuffle_bytes": sp.shuffle_bytes, **sp.attrs,
                }) + "\n")


# ---------------------------------------------------------------------------
# wrapping the engine's entry points
# ---------------------------------------------------------------------------


def _record(name: str, sp: Span, kwargs: dict, out) -> None:
    """Counts taken at the boundary from what the call already returned."""
    if name == "frontier.schedule":
        sp.attrs["carried_ledger"] = kwargs.get("hist_counts") is not None
        sp.attrs["rows_out"] = getattr(out, "scheduled_count", None)
    elif name == "frontier.generation":
        for k in ("scheduled", "robots_blocked", "deduped"):
            sp.attrs[k] = out.get(k, 0)


def _wrap(tracer: Tracer, fn, spec):
    """``spec``: a span name, or a callable args -> (name, attrs) | None,
    None meaning "call through without a span"."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        got = spec(args) if callable(spec) else (spec, {})
        if got is None:
            return fn(*args, **kwargs)
        name, attrs = got
        with tracer.span(name, **attrs) as sp:
            out = fn(*args, **kwargs)
            _record(name, sp, kwargs, out)
            return out

    return wrapper


SNAPTABLE_OPS = ("merge_upsert", "merge_apply", "merge_delete", "append", "overwrite")


def install(tracer: Tracer):
    """Wrap the engine's public calls; returns a function that undoes it."""
    from npm_search_spark import frontier as FR
    from npm_search_spark import seen as SE
    from npm_search_spark import state as STT
    from npm_search_spark.streaming import watch as WA
    from npm_search_spark.tables import snaptable as ST

    patched: list[tuple[object, str, object]] = []

    def patch(owner, attr, spec):
        orig = getattr(owner, attr)
        patched.append((owner, attr, orig))
        setattr(owner, attr, _wrap(tracer, orig, spec))

    def snap_spec(op):
        def spec(args):
            table = os.path.basename(args[0].root.rstrip("/"))
            cur = tracer.current
            # merge_upsert/merge_delete delegate to merge_apply: one span
            # per op on a table, named by the outermost call
            if cur is not None and cur.attrs.get("table") == table:
                return None
            return f"snaptable.{op}.{table}", {"table": table}
        return spec

    patch(FR, "politeness_schedule", "frontier.schedule")
    patch(FR, "filter_new_urls", "frontier.filter_new_urls")
    patch(FR.Crawl, "run_generation", "frontier.generation")
    for m in ("filter_unseen", "add", "flush"):
        patch(SE.SeenSet, m, f"seen.{m}")
    for op in SNAPTABLE_OPS:
        patch(ST.SnapTable, op, snap_spec(op))
    patch(STT.StateStore, "save", "state.save")
    patch(WA.Watch, "run_available_now", "watch.run_available_now")
    patch(WA.Watch, "process_batch", "watch.process_batch")

    def undo():
        for owner, attr, orig in reversed(patched):
            setattr(owner, attr, orig)

    return undo


# ---------------------------------------------------------------------------
# per-layer metrics
# ---------------------------------------------------------------------------

_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def parse_sql_metric(value: str) -> float:
    """The total of a Spark SQL UI metric string: '5,000', or
    'total (min, med, max ...)\\n79.0 KiB (...)', or '1.3 s (...)'."""
    text = value.split("\n", 1)[1] if "\n" in value else value
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE_UNITS:
        return num * _SIZE_UNITS[unit]
    return num * {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}.get(unit, 1.0)


def python_boundary(executions: list[dict], job_ids: set[int]) -> dict[str, float]:
    """Rows and bytes crossing the MapInPandas boundary in the SQL
    executions that ran any of ``job_ids``."""
    out = {"rows_to_python": 0.0, "bytes_to_python": 0.0,
           "bytes_from_python": 0.0, "python_run_s": 0.0}
    for ex in executions:
        ran = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
        if not ran & job_ids:
            continue
        nodes = {n["nodeId"]: n for n in ex.get("nodes", [])}
        child_of = {e["toId"]: e["fromId"] for e in ex.get("edges", [])}
        for n in nodes.values():
            if not n["nodeName"].startswith("MapInPandas"):
                continue
            mets = {m["name"]: m["value"] for m in n.get("metrics", [])}
            out["bytes_to_python"] += parse_sql_metric(mets.get("data sent to Python workers", "0"))
            out["bytes_from_python"] += parse_sql_metric(
                mets.get("data returned from Python workers", "0"))
            out["python_run_s"] += parse_sql_metric(mets.get("time to run Python workers", "0"))
            child = nodes.get(child_of.get(n["nodeId"]), {})
            rows_in = {m["name"]: m["value"] for m in child.get("metrics", [])}.get(
                "number of output rows", mets.get("number of output rows", "0"))
            out["rows_to_python"] += parse_sql_metric(rows_in)
    return out


# (op, table) pairs the workloads actually run; a span of any other pair
# still lands in the JSONL trace
SNAPTABLE_BUSY = [
    "snaptable.overwrite.frontier.busy_s",
    "snaptable.merge_apply.frontier.busy_s",
    "snaptable.append.frontier.busy_s",
    "snaptable.merge_upsert.packages.busy_s",
    "snaptable.merge_delete.packages.busy_s",
    "snaptable.append.one_time_data.busy_s",
    "snaptable.append.not_found.busy_s",
    "snaptable.append.seen.busy_s",
]


def layer_metrics(tracer: Tracer, executions: list[dict], measured_s: float) -> dict[str, float]:
    """Fold the resolved spans and the workload's counters into the
    per-layer metrics. A layer the workload never ran reads 0."""
    spans = tracer.spans
    below = descendants(spans)
    selft = self_times(spans)
    by_name: dict[str, list[Span]] = defaultdict(list)
    for s in spans:
        by_name[s.name].append(s)

    def busy(name: str) -> float:
        return sum(s.duration for s in by_name[name])

    def inclusive(prefix: str, attr: str) -> float:
        """Sum of ``attr`` over the jobs of spans named ``prefix``* and all
        their descendants, each span counted once."""
        seen: set[int] = set()
        total = 0.0
        for s in spans:
            if s.name.startswith(prefix):
                for d in below[s.sid]:
                    if d.sid not in seen:
                        seen.add(d.sid)
                        total += len(d.jobs) if attr == "jobs" else getattr(d, attr)
        return total

    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    m: dict[str, float] = {}
    sched = by_name["frontier.schedule"]
    m["frontier.schedule.busy_s"] = busy("frontier.schedule")
    m["frontier.schedule.spark_jobs"] = inclusive("frontier.schedule", "jobs")
    m["frontier.schedule.rows_out"] = sum(s.attrs.get("rows_out") or 0 for s in sched)
    m["frontier.schedule.ledger_carry_ratio"] = ratio(
        sum(1 for s in sched if s.attrs.get("carried_ledger")), len(sched))

    gens = by_name["frontier.generation"]
    m["frontier.generation.self_s"] = sum(selft[s.sid] for s in gens)
    m["frontier.generation.spark_jobs"] = inclusive("frontier.generation", "jobs")
    m["frontier.generation.count"] = len(gens)
    m["frontier.filter_new_urls.busy_s"] = busy("frontier.filter_new_urls")

    for op in ("filter_unseen", "add", "flush"):
        m[f"seen.{op}.busy_s"] = busy(f"seen.{op}")
    m["seen.spark_jobs"] = inclusive("seen.", "jobs")
    # rows entering filter_unseen (scheduled minus robots-blocked) and the
    # rows it kept, from each generation's own record
    rows_in = sum(g.attrs.get("scheduled", 0) - g.attrs.get("robots_blocked", 0) for g in gens)
    m["seen.fresh_ratio"] = ratio(rows_in - sum(g.attrs.get("deduped", 0) for g in gens), rows_in)
    m["seen.table_files"] = tracer.counters["seen.table_files"]

    pkg_jobs = {
        j for s in spans if s.name.startswith("snaptable.") and s.attrs.get("table") == "packages"
        for d in below[s.sid] for j in d.jobs
    }
    for k, v in python_boundary(executions, pkg_jobs).items():
        m[f"format_pkg.{k}"] = v
    m["snaptable.merge.packages.busy_s"] = sum(
        busy(f"snaptable.{op}.packages") for op in ("merge_upsert", "merge_apply", "merge_delete"))
    for name in SNAPTABLE_BUSY:
        m[name] = busy(name[: -len(".busy_s")])
    for k in ("commits", "files_written", "bytes_written"):
        m[f"snaptable.{k}"] = tracer.counters[f"snaptable.{k}"]

    m["state.save.busy_s"] = busy("state.save")
    m["state.save.calls"] = len(by_name["state.save"])

    batches = by_name["watch.process_batch"]
    m["watch.query_overhead_s"] = busy("watch.run_available_now") - busy("watch.process_batch")
    m["watch.process_batch.self_s"] = sum(selft[s.sid] for s in batches)
    m["watch.generations_per_batch"] = ratio(
        sum(1 for b in batches for d in below[b.sid] if d.name == "frontier.generation"),
        len(batches))
    m["watch.unique_change_ratio"] = ratio(
        tracer.counters["watch.unique_ids"], tracer.counters["watch.changes"])

    for op in ("exact", "minhash", "ngram_jaccard", "text_stats"):
        m[f"pipeline.{op}.busy_s"] = busy(f"pipeline.{op}")
    m["pipeline.minhash.verified_ratio"] = ratio(
        tracer.counters["pipeline.minhash.verified"], tracer.counters["pipeline.minhash.candidates"])

    for layer in ("frontier.schedule", "frontier.generation", "seen.", "snaptable.",
                  "watch.process_batch", "pipeline."):
        key = layer.rstrip(".")
        m[f"{key}.task_cpu_s"] = inclusive(layer, "task_cpu_s")
        m[f"{key}.gc_s"] = inclusive(layer, "gc_s")
        m[f"{key}.shuffle_bytes"] = inclusive(layer, "shuffle_bytes")
    m["trace.overhead_ratio"] = ratio(tracer.bookkeeping_s, measured_s)
    return m
