"""Spans for the traced run, recorded from outside the program.

A span is opened around each call into a layer: the query as a whole,
its builder, Catalyst planning, the action, and each call of the public
functions in ``TARGETS``. Every span tags the Spark jobs launched inside
it with its own job group, so the event log attributes each job, stage
and task to the innermost span that caused it. Spans stay in memory and
are written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

import stats

PACKAGE = "amorphous_mapreduce_spark"

# (layer, module, function). Wrapped before the registry is imported, so
# the query modules' own ``from ... import`` lines bind the wrappers.
TARGETS = [
    ("sources", "sources.tables", "load_table"),
    ("plans", "plans.trace", "plan_to_json"),
    ("operators", "operators.gemm", "gemm_coordinate"),
    ("operators", "operators.gemm", "gemm_block"),
    ("operators", "operators.wordcount", "word_counts"),
]


def operator_names() -> list[str]:
    return [f"{mod.split('.')[-1]}.{fn}" for layer, mod, fn in TARGETS if layer == "operators"]


def layer_catalogue() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric a traced run prints."""
    ops = []
    for op in operator_names():
        ops += [
            (f"operators.{op}.calls", "count", "lower"),
            (f"operators.{op}.s", "s", "lower"),
            (f"operators.{op}.jobs", "count", "lower"),
        ]
    return [
        ("registry.import_s", "s", "lower"),
        ("session.start_s", "s", "lower"),
        ("sources.load_calls", "count", "lower"),
        ("sources.load_s", "s", "lower"),
        ("queries.build_s", "s", "lower"),
        ("queries.build_jobs", "count", "lower"),
        *ops,
        ("catalyst.plan_s", "s", "lower"),
        ("plans.trace_s", "s", "lower"),
        ("exec.action_s", "s", "lower"),
        ("spark.jobs", "count", "lower"),
        ("spark.stages", "count", "lower"),
        ("spark.tasks", "count", "lower"),
        ("spark.task_run_s", "s", "lower"),
        ("spark.busy_frac", "ratio", "higher"),
        ("spark.shuffle_write_mb", "MB", "lower"),
        ("spark.shuffle_read_mb", "MB", "lower"),
        ("spark.spill_mb", "MB", "lower"),
        ("spark.task_skew", "ratio", "lower"),
        ("spark.failed_tasks", "count", "lower"),
        ("cache.rdds_left", "count", "lower"),
        ("cache.mb_left", "MB", "lower"),
        ("trace.pass_s", "s", "lower"),
        ("trace.overhead_ratio", "ratio", "lower"),
        ("trace.passes", "count", "higher"),
    ]


@dataclass
class Span:
    id: int
    parent: int | None
    kind: str  # query | build | plan | action | sources | plans | operators
    name: str
    pass_no: int
    query: str
    t0: float
    t1: float = 0.0
    jobs: list[int] = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"


class Tracer:
    """Span recorder. Off until ``on`` is set; then every span also sets
    the Spark job group of the calling thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.on = False
        self.sc = None
        self.pass_no = -1
        self.query = ""

    @contextmanager
    def span(self, kind: str, name: str):
        if not self.on:
            yield None
            return
        parent = self.stack[-1].id if self.stack else None
        sp = Span(len(self.spans), parent, kind, name, self.pass_no, self.query, time.perf_counter())
        self.spans.append(sp)
        self.stack.append(sp)
        self.sc.setJobGroup(sp.group, f"{kind}:{name}")
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            self.stack.pop()
            if self.stack:
                self.sc.setJobGroup(self.stack[-1].group, "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, kind: str, label: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            # load_table(spark, sf_dir, name): name the span by the table.
            name = args[2] if kind == "sources" and len(args) > 2 else label
            with self.span(kind, name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Replace every binding of each target function in the already
        imported modules of the package with a traced wrapper."""
        for kind, mod, fn in TARGETS:
            module = importlib.import_module(f"{PACKAGE}.{mod}")
            orig = getattr(module, fn)
            label = f"{mod.split('.')[-1]}.{fn}"
            wrapper = self.wrap(kind, label, orig)
            for name, loaded in list(sys.modules.items()):
                if not name.startswith(PACKAGE) or loaded is None:
                    continue
                for attr, value in list(vars(loaded).items()):
                    if value is orig:
                        setattr(loaded, attr, wrapper)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


# --- Spark event log --------------------------------------------------------


def read_eventlog(path: str) -> tuple[dict, dict]:
    """Jobs and stages from a Spark event log.

    Returns ``jobs``: job id -> {"group", "stages"}, and ``stages``: stage
    id -> {"ran", "tasks": [(duration_ms, run_ms, shuffle_write_b,
    shuffle_read_b, spill_b, failed)]}. A stage belongs to the first job
    that lists it; later jobs that list it skip it.
    """
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {"group": props.get("spark.jobGroup.id"), "stages": []}
                for sid in ev["Stage IDs"]:
                    if sid not in stages:
                        stages[sid] = {"ran": False, "tasks": []}
                        jobs[ev["Job ID"]]["stages"].append(sid)
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in stages:
                    stages[sid]["ran"] = True
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                info = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                if sid in stages:
                    stages[sid]["tasks"].append(
                        (
                            info["Finish Time"] - info["Launch Time"],
                            m.get("Executor Run Time", 0),
                            sw.get("Shuffle Bytes Written", 0),
                            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                            m.get("Disk Bytes Spilled", 0),
                            bool(info.get("Failed")),
                        )
                    )
    return jobs, stages


def exec_counts(job_ids: list[int], jobs: dict, stages: dict) -> dict[str, float]:
    """Scheduler and task totals for a set of jobs, with the task-time skew
    (max over median task duration) of the widest stage among them."""
    out = {
        "jobs": len(job_ids),
        "stages": 0,
        "tasks": 0,
        "task_run_s": 0.0,
        "shuffle_write_mb": 0.0,
        "shuffle_read_mb": 0.0,
        "spill_mb": 0.0,
        "failed_tasks": 0,
        "task_skew": 1.0,
    }
    widest: list = []
    for jid in job_ids:
        for sid in jobs[jid]["stages"]:
            st = stages[sid]
            if not st["ran"]:
                continue
            tasks = st["tasks"]
            out["stages"] += 1
            out["tasks"] += len(tasks)
            out["task_run_s"] += sum(t[1] for t in tasks) / 1e3
            out["shuffle_write_mb"] += sum(t[2] for t in tasks) / 2**20
            out["shuffle_read_mb"] += sum(t[3] for t in tasks) / 2**20
            out["spill_mb"] += sum(t[4] for t in tasks) / 2**20
            out["failed_tasks"] += sum(t[5] for t in tasks)
            if len(tasks) > len(widest):
                widest = tasks
    if widest:
        durations = [t[0] for t in widest]
        out["task_skew"] = max(durations) / max(stats.median(durations), 1)
    return out


# --- per-layer metrics ------------------------------------------------------


def attach_jobs(spans: list[Span], jobs: dict) -> None:
    by_group = {s.group: s for s in spans}
    for jid, job in sorted(jobs.items()):
        span = by_group.get(job["group"])
        if span is not None:
            span.jobs.append(jid)


def query_layers(spans: list[Span], jobs: dict, stages: dict) -> dict[str, float]:
    """Per-layer metrics of one query, from the spans of one query run
    (the root ``query`` span first)."""
    by_id = {s.id: s for s in spans}
    children: dict[int, list[Span]] = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)

    def subtree_jobs(s: Span) -> list[int]:
        out = list(s.jobs)
        for c in children.get(s.id, []):
            out += subtree_jobs(c)
        return out

    m: dict[str, float] = {
        "sources.load_calls": 0,
        "sources.load_s": 0.0,
        "queries.build_s": 0.0,
        "queries.build_jobs": 0,
        "catalyst.plan_s": 0.0,
        "plans.trace_s": 0.0,
        "exec.action_s": 0.0,
    }
    for op in operator_names():
        m[f"operators.{op}.calls"] = 0
        m[f"operators.{op}.s"] = 0.0
        m[f"operators.{op}.jobs"] = 0
    for s in spans:
        dur = s.t1 - s.t0
        if s.kind == "sources":
            m["sources.load_calls"] += 1
            m["sources.load_s"] += dur
        elif s.kind == "build":
            kids = [(c.t0, c.t1) for c in children.get(s.id, [])]
            m["queries.build_s"] += stats.self_time((s.t0, s.t1), kids)
            m["queries.build_jobs"] += len(subtree_jobs(s))
        elif s.kind == "plan":
            m["catalyst.plan_s"] += dur
        elif s.kind == "plans":
            m["plans.trace_s"] += dur
        elif s.kind == "action":
            m["exec.action_s"] += dur
        elif s.kind == "operators":
            # Inclusive of nested operator calls; a nested call of the
            # same operator is counted once, by its outermost span.
            outer = s.parent
            nested = False
            while outer is not None:
                if by_id[outer].name == s.name:
                    nested = True
                    break
                outer = by_id[outer].parent
            m[f"operators.{s.name}.calls"] += 1
            if not nested:
                m[f"operators.{s.name}.s"] += dur
                m[f"operators.{s.name}.jobs"] += len(subtree_jobs(s))
    root = spans[0]
    ex = exec_counts(subtree_jobs(root), jobs, stages)
    for k, v in ex.items():
        m[f"spark.{k}"] = v
    m["query_s"] = root.t1 - root.t0
    return m


def pass_layers(tracer: Tracer, jobs: dict, stages: dict) -> dict[int, dict[str, dict]]:
    """pass -> query -> per-layer metrics, for every traced query run."""
    attach_jobs(tracer.spans, jobs)
    runs: dict[tuple[int, str], list[Span]] = {}
    for s in tracer.spans:
        runs.setdefault((s.pass_no, s.query), []).append(s)
    out: dict[int, dict[str, dict]] = {}
    for (p, q), spans in runs.items():
        out.setdefault(p, {})[q] = query_layers(spans, jobs, stages)
    return out
