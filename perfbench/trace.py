"""Outside-in instrumentation: call spans, Spark job/stage metrics, RSS.

Nothing here changes package code.  ``Tracer.install`` replaces the public
functions of the traced modules (and the public methods of the classes they
define) with thin wrappers, in every loaded module namespace that bound
them, and ``uninstall`` puts the originals back.  Each wrapper records one
span (name, start, end, parent, run id) and sets the Spark job description
to ``<span name>#<span id>`` while the call runs, so every job Spark submits
is attributed to the innermost span whose call ran it.  A call that only
builds a lazy plan records plan-building time; the jobs that execute that
plan land on the span of the action that runs it.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import os
import sys
import threading
import time
from dataclasses import dataclass, field
from typing import Dict, List, Optional

TRACED_MODULES = (
    "logtemplatecrawler_spark.session",
    "logtemplatecrawler_spark.operators.template_udfs",
    "logtemplatecrawler_spark.plans.template_pipeline",
    "logtemplatecrawler_spark.crawl.frontier",
    "logtemplatecrawler_spark.crawl.politeness",
    "logtemplatecrawler_spark.crawl.robots",
    "logtemplatecrawler_spark.crawl.scheduler",
    "logtemplatecrawler_spark.crawl.seen",
    "logtemplatecrawler_spark.sources.table_format",
)

# Path arguments of these table-format methods name the table they touch;
# the span name carries it ("write_delta[neg_keys]") so commit and
# neg-cache writes can be told apart.
_PATH_TAGGED = {"write_snapshot", "write_delta", "read_snapshot",
                "read_deltas", "drop_snapshot", "prune_deltas"}


@dataclass
class Span:
    id: int
    name: str
    parent: Optional[int]
    run: str
    start: float                 # wall clock, seconds (comparable with JVM ms)
    end: float = 0.0
    info: Dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def _table_tag(args) -> str:
    for a in args:
        if isinstance(a, str) and os.sep in a:
            return os.path.basename(os.path.normpath(a)).split("=")[0]
    return ""


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: List[Span] = []
        self._stack: List[Span] = []
        self._sc = None
        self._saved = []          # (namespace, attr, original)

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext

    def _describe(self, span: Optional[Span]) -> None:
        if self._sc is None:
            return
        self._sc.setLocalProperty(
            "spark.job.description",
            None if span is None else f"{span.name}#{span.id}",
        )

    def call(self, name: str, fn, args, kwargs):
        if name.split(".")[-1] in _PATH_TAGGED:
            tag = _table_tag(args)
            if tag:
                name = f"{name}[{tag}]"
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), name, parent.id if parent else None,
                    self.run_id, time.time())
        self.spans.append(span)
        self._stack.append(span)
        self._describe(span)
        try:
            out = fn(*args, **kwargs)
            if name.endswith("build_bloom"):
                span.info["built"] = out is not None
            if name.endswith("commit_round"):
                metrics = [a for a in args if isinstance(a, dict)]
                if metrics:
                    span.info["metrics"] = metrics[0]
            return out
        finally:
            span.end = time.time()
            self._stack.pop()
            self._describe(parent)

    # -- installing wrappers -------------------------------------------------
    def _wrapper(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return tracer.call(name, fn, args, kwargs)

        return traced

    def install(self) -> None:
        originals: Dict[int, object] = {}
        for modname in TRACED_MODULES:
            mod = importlib.import_module(modname)
            short = modname.rsplit(".", 1)[-1]
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_"):
                    continue
                if inspect.isclass(obj) and obj.__module__ == modname:
                    for mname, meth in list(vars(obj).items()):
                        if mname.startswith("_") or not inspect.isfunction(meth):
                            continue
                        self._saved.append((obj, mname, meth))
                        setattr(obj, mname,
                                self._wrapper(f"{obj.__name__}.{mname}", meth))
                elif callable(obj) and getattr(obj, "__module__", None) == modname:
                    originals[id(obj)] = (obj, self._wrapper(f"{short}.{attr}", obj))
        # Rebind every namespace that imported a wrapped function by name
        # (``from ...seen import build_bloom``), not only its home module.
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("logtemplatecrawler_spark"):
                continue
            for attr, obj in list(vars(mod).items()):
                hit = originals.get(id(obj))
                if hit is not None and hit[0] is obj:
                    self._saved.append((mod, attr, obj))
                    setattr(mod, attr, hit[1])

    def uninstall(self) -> None:
        for target, attr, original in reversed(self._saved):
            setattr(target, attr, original)
        self._saved.clear()
        self._describe(None)

    def named(self, suffix: str) -> List[Span]:
        return [s for s in self.spans if s.name.endswith(suffix)]

    def to_json(self) -> List[Dict]:
        return [
            {"id": s.id, "name": s.name, "parent": s.parent, "run": s.run,
             "start": s.start, "end": s.end,
             **({"built": s.info["built"]} if "built" in s.info else {})}
            for s in self.spans
        ]


# ---------------------------------------------------------------------------
# Spark status store (works with the UI off)
# ---------------------------------------------------------------------------

@dataclass
class Job:
    id: int
    description: str
    start: float
    end: float
    stages: List[Dict]


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.length())]


def read_jobs(spark, after_job_id: int = -1) -> List[Job]:
    """Every finished job with id > ``after_job_id`` and its stage metrics.
    Read right after each operation, so the store's retention limits
    (1000 jobs/stages by default) never drop a job of that operation."""
    sc = spark.sparkContext
    jvm, gw = sc._jvm, sc._gateway
    store = sc._jsc.sc().statusStore()
    stages = {}
    for st in _seq(store.stageList(
            jvm.java.util.ArrayList(), False, False,
            gw.new_array(jvm.double, 0), jvm.java.util.ArrayList())):
        if st.status().toString() == "SKIPPED":
            continue
        stages[st.stageId()] = {
            "task_s": st.executorRunTime() / 1e3,
            "cpu_s": st.executorCpuTime() / 1e9,
            "shuffle_read_b": st.shuffleReadBytes(),
            "shuffle_write_b": st.shuffleWriteBytes(),
            "spill_b": st.memoryBytesSpilled() + st.diskBytesSpilled(),
        }
    jobs = []
    for j in _seq(store.jobsList(jvm.java.util.ArrayList())):
        if j.jobId() <= after_job_id or not j.completionTime().isDefined():
            continue
        desc = j.description().get() if j.description().isDefined() else ""
        jobs.append(Job(
            j.jobId(), desc,
            j.submissionTime().get().getTime() / 1e3,
            j.completionTime().get().getTime() / 1e3,
            [stages[s] for s in _seq(j.stageIds()) if s in stages],
        ))
    return sorted(jobs, key=lambda j: j.id)


def last_job_id(spark) -> int:
    sc = spark.sparkContext
    jobs = _seq(sc._jsc.sc().statusStore().jobsList(sc._jvm.java.util.ArrayList()))
    return max((j.jobId() for j in jobs), default=-1)


def interval_union(intervals) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# ---------------------------------------------------------------------------
# Process tree: peak RSS and clean shutdown
# ---------------------------------------------------------------------------

def _children_map() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: Optional[int] = None) -> List[int]:
    pid = pid or os.getpid()
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Resident memory of one process with shared pages split between the
    processes that share them (PSS), so forked Python workers, which share
    most of their pages with their daemon, are not counted many times."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak resident memory summed over this process and all its
    descendants (driver, JVM, Python workers), sampled every ``interval``
    seconds."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_evt.is_set():
            total = sum(_pss_bytes(p) for p in [me] + descendants(me))
            self.peak = max(self.peak, total)
            self._stop_evt.wait(self.interval)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak / 2**20
