"""Span tracer that wraps the program's public functions from outside.

A span records name, start, end, parent span and operation id. While a
span is innermost, its own Spark job group is set on the SparkContext, so
``statusTracker()`` attributes every job (and the tasks of its stages) to
exactly one span. Spans stay in memory and are written out when the run
ends. Nothing is patched unless a Tracer is installed, so the untraced run
executes the program untouched.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op_id = None

    @staticmethod
    def _group_id(rec: dict) -> str:
        return f"perfbench-span-{rec['id']}"

    def _set_group(self, rec: dict | None) -> None:
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(self._group_id(rec), rec["name"])

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self.op_id,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            rec["jobs"], rec["tasks"] = self._jobs_and_tasks(self._group_id(rec))

    def _jobs_and_tasks(self, group: str) -> tuple[int, int]:
        st = self.sc.statusTracker()
        job_ids = st.getJobIdsForGroup(group)
        tasks = 0
        for jid in job_ids:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                if stage is not None:
                    tasks += stage.numCompletedTasks + stage.numFailedTasks
        return len(job_ids), tasks

    def wrap(self, name: str, fn, after=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if after is not None:
                    after(rec, out)
                return out

        return traced

    def patch_function(self, module, attr: str, name: str, after=None) -> None:
        """Replace ``module.attr`` and every ``from module import attr``
        alias held by the program's other modules."""
        orig = getattr(module, attr)
        traced = self.wrap(name, orig, after)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("currency_etl_spark") and (
                getattr(mod, attr, None) is orig
            ):
                setattr(mod, attr, traced)

    def patch_method(self, cls, attr: str, name: str) -> None:
        setattr(cls, attr, self.wrap(name, getattr(cls, attr)))

    # -- aggregation ---------------------------------------------------------
    def summary(self, setup: bool = False) -> dict[str, dict]:
        """Per span name, over the timed operations (or, with ``setup``, over
        the calls made during set-up and warm-up): calls, inclusive and self
        seconds, and inclusive Spark jobs, tasks and numeric attributes the
        wrappers attached (a span's own plus those of its descendants)."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)

        def inclusive(s: dict) -> dict[str, float]:
            out = defaultdict(float, spark_jobs=s["jobs"], spark_tasks=s["tasks"])
            for k, v in s.items():
                if k.startswith("attr_"):
                    out[k[5:]] += v
            for c in children[s["id"]]:
                for k, v in inclusive(c).items():
                    out[k] += v
            return out

        out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            if (s["op"] is None) != setup:
                continue
            dur = s["end"] - s["start"]
            # children run on the same thread, one after another, so their
            # intervals are disjoint and their sum is the covered time
            covered = sum(c["end"] - c["start"] for c in children[s["id"]])
            agg = out[s["name"]]
            agg["calls"] += 1
            agg["dur_s"] += dur
            agg["self_s"] += dur - covered
            for k, v in inclusive(s).items():
                agg[k] += v
        return {k: dict(v) for k, v in out.items()}

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
