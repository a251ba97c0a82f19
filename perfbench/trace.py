"""Tracing and sampling for perfbench, all from outside the package.

- `Tracer` records spans (name, start, end, parent, run id) around calls
  into the package's public layer functions, keeps them in memory and
  writes them out as JSON lines at the end. It patches module attributes
  for the traced window only, so nothing inside the package is edited, and
  tags every span with its own Spark job group so jobs and stages can be
  attributed after the window.
- `plan_metrics` sums SQL metrics over a collected DataFrame's final AQE
  plan, query stages included.
- `RssSampler` samples the summed RSS of the benchmark's child process
  tree (driver JVM plus Python workers) from a side thread.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import sys
import threading
import time
from pathlib import Path


class Tracer:
    def __init__(self, run_id: str, sc):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []

    def span(self, name: str):
        return _Span(self, name)

    def _open(self, name: str) -> dict:
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        s = {"id": sid, "name": name, "run": self.run_id,
             "parent": parent["id"] if parent else None,
             "start": time.perf_counter(), "end": None,
             "job_group": f"pb-{self.run_id}-{sid}"}
        self.sc.setJobGroup(s["job_group"], name)
        self._stack.append(s)
        self.spans.append(s)
        return s

    def _close(self, s: dict) -> None:
        s["end"] = time.perf_counter()
        self._stack.pop()
        if self._stack:
            self.sc.setJobGroup(self._stack[-1]["job_group"],
                                self._stack[-1]["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, name: str, fn, on_result=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(s, args, kwargs, out)
                return out
        return traced

    def patch(self, module, attr: str, name: str, on_result=None) -> None:
        """Route every loaded package module's reference to `module.attr`
        through a span named `name`, until `unpatch`."""
        original = getattr(module, attr)
        wrapped = self.wrap(name, original, on_result)
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "")
            if not (mname.startswith("pdf_parse_bench_spark")
                    or mname == "__spark_entry__"):
                continue
            if getattr(mod, attr, None) is original:
                setattr(mod, attr, wrapped)
                self._patched.append((mod, attr, original))

    def unpatch(self) -> None:
        for mod, attr, original in reversed(self._patched):
            setattr(mod, attr, original)
        self._patched.clear()

    def jobs(self, s: dict) -> list[int]:
        """Spark job ids started inside span `s` or its children."""
        st = self.sc.statusTracker()
        return sorted({j for g in [s] + self.descendants(s)
                       for j in st.getJobIdsForGroup(g["job_group"])})

    def shuffle_bytes(self, s: dict) -> int:
        """Shuffle bytes written by the stages of every job in span `s`;
        a stage shared by several jobs counts once."""
        from py4j.protocol import Py4JJavaError

        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        stage_ids = set()
        for j in self.jobs(s):
            info = st.getJobInfo(j)
            if info is not None:
                stage_ids.update(int(x) for x in info.stageIds)
        total = 0
        for sid in stage_ids:
            try:
                total += int(store.lastStageAttempt(sid).shuffleWriteBytes())
            except Py4JJavaError:  # skipped stage: never ran, wrote nothing
                continue
        return total

    def parent(self, s: dict) -> dict | None:
        return next((p for p in self.spans if p["id"] == s["parent"]), None)

    def descendants(self, s: dict) -> list[dict]:
        kids = self.children(s)
        return kids + [d for c in kids for d in self.descendants(c)]

    def children(self, s: dict | None) -> list[dict]:
        sid = s["id"] if s else None
        return [c for c in self.spans if c["parent"] == sid]

    def layer_coverage(self, spans: list[dict]) -> float:
        """Share of the summed wall of `spans` covered by their outermost
        layer spans (names `layer.function`); grouping spans without a dot
        are looked into."""
        covered, todo = 0.0, [c for s in spans for c in self.children(s)]
        while todo:
            c = todo.pop()
            if "." in c["name"]:
                covered += duration(c)
            else:
                todo.extend(self.children(c))
        return covered / sum(duration(s) for s in spans)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self) -> dict:
        self.s = self.tracer._open(self.name)
        return self.s

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.s)


def duration(s: dict) -> float:
    return s["end"] - s["start"]


def _plan_nodes(p):
    yield p
    cls = p.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(p.executedPlan())
        return
    if cls.endswith("QueryStageExec"):
        yield from _plan_nodes(p.plan())
        return
    it = p.children().iterator()
    while it.hasNext():
        yield from _plan_nodes(it.next())


def plan_metrics(df) -> dict[str, int]:
    """Sum of each SQL metric over the executed plan of `df`, which must
    already have been collected through its own QueryExecution (e.g.
    `toArrow()`; `count()` plans a new one and leaves these empty)."""
    totals: dict[str, int] = {}
    for node in _plan_nodes(df._jdf.queryExecution().executedPlan()):
        m = node.metrics()
        it = m.keysIterator()
        while it.hasNext():
            k = it.next()
            totals[k] = totals.get(k, 0) + int(m.apply(k).value())
    return totals


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendant_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


RSS_INTERVAL_S = 0.1


class RssSampler:
    """Peak summed RSS (MB) of this process's descendants, sampled every
    RSS_INTERVAL_S seconds on a daemon thread between start() and stop()."""

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            kb = sum(_rss_kb(p) for p in descendant_pids(me))
            self.peak_mb = max(self.peak_mb, kb / 1024.0)
            self._stop.wait(RSS_INTERVAL_S)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        if self._thread.ident is not None:
            self._thread.join(timeout=5)
        return self.peak_mb
