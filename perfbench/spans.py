"""Span recorder and Spark status-store counter reader.

A span covers one call into a module's public function. Each span runs
under its own Spark job group, so the jobs it fires (and their stages and
tasks) can be attributed to it afterwards from the application status
store, read through the driver UI's REST API on localhost. Spans are kept
in memory and written out with the run record at exit.

Calls made inside the package are reached by wrapping the function where
the calling module looks it up (``Tracer.instrument``); the wrappers are
removed again by ``Tracer.uninstrument``.
"""

from __future__ import annotations

import functools
import json
import re
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime

COUNTERS = (
    "jobs", "stages", "tasks", "task_wait_s", "executor_run_s",
    "executor_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes",
    "python_sent_bytes", "python_recv_bytes", "failed_tasks",
)
# SQL metrics that the Python-evaluating operators publish; the REST API
# renders them as sizes ("254.7 KiB") with the total first
_PY_METRICS = {
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_recv_bytes",
}
_SIZE = re.compile(r"([0-9.]+) (B|KiB|MiB|GiB|TiB)\b")
_UNIT = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _size(text: str) -> int:
    m = _SIZE.search(text.rsplit("\n", 1)[-1])
    return int(float(m.group(1)) * _UNIT[m.group(2)]) if m else 0


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").timestamp()


class StatusStore:
    """Reads job and stage records of one application over REST."""

    def __init__(self, sc):
        self._sc = sc
        port = sc.uiWebUrl.rsplit(":", 1)[1].strip("/")
        self._base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as resp:
            return json.load(resp)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event posted so
        far, so the store holds the jobs that have returned."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def counters_by_group(self, groups: set[str]) -> dict[str, dict]:
        self.drain()
        stages = {}
        for st in self._get("/stages"):
            if st["status"] in ("COMPLETE", "FAILED"):
                stages.setdefault(st["stageId"], []).append(st)
        out = {g: dict.fromkeys(COUNTERS, 0) for g in groups}
        # a stage belongs to the first job that lists it; later jobs that
        # list it again reuse its shuffle output and skip it
        owner: dict[int, str | None] = {}
        job_group: dict[int, str | None] = {}
        for j in sorted(self._get("/jobs"), key=lambda j: j["jobId"]):
            job_group[j["jobId"]] = j.get("jobGroup")
            if j.get("jobGroup") in groups:
                out[j["jobGroup"]]["jobs"] += 1
            for sid in j["stageIds"]:
                owner.setdefault(sid, j.get("jobGroup"))
        # the SQL endpoint returns 20 executions unless asked for more
        for q in self._get("/sql?details=true&planDescription=false&offset=0&length=100000"):
            ids = q.get("successJobIds", []) + q.get("failedJobIds", [])
            grp = next((job_group.get(i) for i in ids if job_group.get(i) in groups), None)
            if grp is None:
                continue
            for node in q.get("nodes", ()):
                for m in node.get("metrics", ()):
                    if m["name"] in _PY_METRICS:
                        out[grp][_PY_METRICS[m["name"]]] += _size(m["value"])
        for sid, grp in owner.items():
            if grp not in groups:
                continue
            c = out[grp]
            for st in stages.get(sid, ()):
                c["stages"] += 1
                c["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
                c["failed_tasks"] += st["numFailedTasks"]
                sub, first = _ts(st.get("submissionTime")), _ts(st.get("firstTaskLaunchedTime"))
                if sub is not None and first is not None:
                    c["task_wait_s"] += max(0.0, first - sub)
                c["executor_run_s"] += st["executorRunTime"] / 1e3
                c["executor_cpu_s"] += st["executorCpuTime"] / 1e9
                c["gc_s"] += st["jvmGcTime"] / 1e3
                c["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                c["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
        return out


class Tracer:
    """Spans with name, start, end, parent and run id; a disabled tracer
    records nothing and sets no job groups."""

    def __init__(self, sc, run_id: str, enabled: bool):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple] = []
        self.store = StatusStore(sc) if enabled else None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans), "name": name, "run": self.run_id,
            "parent": parent["id"] if parent else None,
            "group": f"{self.run_id}/{len(self.spans)}", **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def instrument(self, module, attr: str, name: str, on_result=None) -> None:
        """Record a span around every call of ``module.attr``."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                result = orig(*args, **kwargs)
                if on_result is not None:
                    rec["result"] = on_result(result)
                return result

        setattr(module, attr, wrapper)
        self._patched.append((module, attr, orig))

    def uninstrument(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def attach_counters(self, spans: list[dict]) -> None:
        """Fill each span's own (self) counters from the status store.
        Call once per round: the store keeps only the last 1000 jobs."""
        if not spans:
            return
        by_group = self.store.counters_by_group({s["group"] for s in spans})
        for s in spans:
            s["counters"] = by_group[s["group"]]

    # -- derived views -------------------------------------------------

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def descendants(self, span: dict) -> list[dict]:
        out, todo = [], [span]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += kids
        return out

    def self_time(self, span: dict) -> float:
        dur = span["end"] - span["start"]
        return dur - sum(c["end"] - c["start"] for c in self.children(span))

    def inclusive(self, span: dict) -> dict:
        """Counters of a span plus all its descendants."""
        tot = dict(span.get("counters") or dict.fromkeys(COUNTERS, 0))
        for d in self.descendants(span):
            for k, v in (d.get("counters") or {}).items():
                tot[k] += v
        return tot

    def record(self) -> list[dict]:
        return [
            {**s, "dur_s": s["end"] - s["start"], "self_s": self.self_time(s)}
            for s in self.spans
        ]
