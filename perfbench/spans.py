"""Traced run: spans around the engine's public functions, recorded from
outside the program.

``Tracer.install`` replaces each public function in ``TARGETS`` (and the
names other engine modules imported it under) with a wrapper that records a
span: name, layer, start, end, parent span and request id. Every span also
sets its own Spark job group, so ``StatusTracker`` gives the jobs, stages,
tasks and failed tasks each span launched, and the Spark event log (enabled
for traced runs only) gives executor run time, GC, shuffle, fetch wait and
spill per span. Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import time
from contextlib import contextmanager

# (module, attribute, layer, other modules that imported the name)
TARGETS = [
    ("searchengines_spark.index.build", "build_index", "build", ["searchengines_spark.index"]),
    ("searchengines_spark.index.incremental", "append_pages", "incremental", []),
    ("searchengines_spark.index.incremental", "delete_pages", "incremental", []),
    ("searchengines_spark.index.incremental", "compact", "incremental", []),
    ("searchengines_spark.index.build", "IndexReader.__init__", "reader", []),
    ("searchengines_spark.index.build", "IndexReader.serve_blocks", "reader", []),
    ("searchengines_spark.index.build", "IndexReader.term_stats", "reader", []),
    ("searchengines_spark.index.build", "IndexReader.cold_blocks", "reader", []),
    ("searchengines_spark.query.parser", "QueryParser.parse", "parser", []),
    ("searchengines_spark.query.planner", "Planner.plan", "planner", []),
    ("searchengines_spark.query.postings", "decode_postings", "postings",
     ["searchengines_spark.query.planner"]),
    ("searchengines_spark.query.wand", "wand_topk", "wand", ["searchengines_spark.engine"]),
    # the stripe kernel wand_topk delegates to
    ("searchengines_spark.query.wand", "wand_topk_batch_local", "wand", []),
    ("searchengines_spark.engine", "Engine.search", "engine", []),
]


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._undo: list[tuple] = []
        self.request: str | None = None
        # (fn, args, kwargs) of decode_postings calls made inside a request
        # marked replay=True, re-run after the workload to count rows
        self.replays: list[tuple] = []

    # -- spans ---------------------------------------------------------------
    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        """Record one span; Spark jobs started inside it get its job group."""
        rec = {"id": len(self.spans), "name": name, "layer": layer,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "request": self.request, "start": time.perf_counter(), **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(f"span-{rec['id']}", name)
        try:
            yield rec
        except BaseException as e:
            rec["error"] = type(e).__name__
            raise
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec.update(self._job_counts(f"span-{rec['id']}"))
            parent = self._stack[-1]["id"] if self._stack else "idle"
            self.sc.setJobGroup(f"span-{parent}", "")

    def _job_counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else []):
                si = st.getStageInfo(s)
                if si is not None:
                    stages += 1
                    tasks += si.numTasks
                    failed += si.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}

    # -- wrapping ------------------------------------------------------------
    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*a, **kw):
            if (name == "decode_postings" and len(self.replays) < 8
                    and any(s.get("replay") for s in self._stack)):
                self.replays.append((fn, a, kw))
            with self.span(name, layer):
                return fn(*a, **kw)

        return traced

    def install(self) -> None:
        for mod_name, attr, layer, aliases in TARGETS:
            mod = importlib.import_module(mod_name)
            owner_name, _, fn_name = attr.rpartition(".")
            owner = getattr(mod, owner_name) if owner_name else mod
            orig = getattr(owner, fn_name)
            wrapped = self._wrap(orig, attr, layer)
            for o in [owner] + [importlib.import_module(m) for m in aliases]:
                self._undo.append((o, fn_name, getattr(o, fn_name)))
                setattr(o, fn_name, wrapped)

    def uninstall(self) -> None:
        for owner, fn_name, orig in reversed(self._undo):
            setattr(owner, fn_name, orig)
        self._undo.clear()

    # -- summaries -----------------------------------------------------------
    def self_times(self) -> dict[str, dict]:
        """Per layer: calls, total seconds and self seconds (span duration
        minus the time its child spans cover; calls on one thread nest)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict] = {}
        for s in self.spans:
            if "end" not in s:
                continue
            d = s["end"] - s["start"]
            o = out.setdefault(s["layer"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            o["calls"] += 1
            # a layer calling itself (wand_topk -> wand_topk_batch_local)
            # counts once in total_s
            p = s["parent"]
            if p is None or self.spans[p]["layer"] != s["layer"]:
                o["total_s"] += d
            o["self_s"] += d - child[s["id"]]
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def event_log_metrics(log_dir: str, spans: list[dict]) -> dict:
    """Executor run time, GC, shuffle, fetch wait and spill from the Spark
    event log, in total and per layer (a job's group names its span)."""
    layer_of = {f"span-{s['id']}": s["layer"] for s in spans}
    stage_layer: dict[int, str] = {}
    keys = ("run_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
            "fetch_wait_s", "spill_bytes", "tasks", "failed_tasks")
    per: dict[str, dict] = {}
    # Spark 4 writes rolling logs: eventlog_v2_<app>/events_<n>_<app>
    files = sorted(os.path.join(d, fn) for d, _, fns in os.walk(log_dir)
                   for fn in fns if not fn.startswith((".", "appstatus")))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_layer[sid] = layer_of.get(g, "unattributed")
                elif kind == "SparkListenerTaskEnd":
                    layer = stage_layer.get(ev.get("Stage ID"), "unattributed")
                    o = per.setdefault(layer, dict.fromkeys(keys, 0))
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    o["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    o["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    o["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                + sr.get("Local Bytes Read", 0))
                    o["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    o["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                    o["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
                    o["tasks"] += 1
                    o["failed_tasks"] += int(bool((ev.get("Task Info") or {}).get("Failed")))
    total = dict.fromkeys(keys, 0)
    for o in per.values():
        for k in keys:
            total[k] += o[k]
    return {"total": total, "per_layer": per}

