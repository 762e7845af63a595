"""Tracing for the benchmark's traced run.

Spans are recorded in memory around each call the benchmark makes into the
engine (name, start, end, parent, op id). Each span sets a Spark job group,
so the jobs and stages in Spark's own event log attach to it; actions the
index builder issues are tagged with their engine call site. Everything is
read back from the event log after the session stops.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time
from contextlib import contextmanager

SITE_PROP = "perfbench.site"


class Tracer:
    """No-op unless ``enabled``; spans nest by call order on one thread."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name,
            "op": len(self.spans) + len(self._stack),
            "parent": self._stack[-1]["op"] if self._stack else None,
            **attrs,
        }
        rec["group"] = f"pb-{rec['op']}"
        self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def self_times(self) -> dict[str, float]:
        """Seconds per span name: span duration minus its children's."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"] - child.get(s["op"], 0.0)
        return out

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


# -------------------------------------------------- builder call sites


def _engine_stack() -> tuple[set[str], str | None]:
    """Engine functions on the caller's stack, and the innermost engine
    frame as ``file:line`` (None when the call is not from engine code)."""
    funcs: set[str] = set()
    where = None
    f = sys._getframe(2)
    while f is not None:
        if f"{os.sep}flexneuart_spark{os.sep}" in f.f_code.co_filename:
            funcs.add(f.f_code.co_name)
            if where is None:
                where = f"{os.path.basename(f.f_code.co_filename)}:{f.f_lineno}"
        f = f.f_back
    return funcs, where


def build_phase(funcs: set[str], write_path: str | None) -> str:
    """Map an engine call site to a build phase: the forward-index write, the
    postings write, the finalize (dictionary + corpus stats), or the lineage
    pass (everything else ``build_index`` runs)."""
    if "_finalize" in funcs:
        return "finalize"
    if write_path is not None:
        base = os.path.basename(str(write_path).rstrip("/"))
        if base in ("fwd", "postings"):
            return base
    return "lineage"


@contextmanager
def tag_engine_sites(sc):
    """While active, every Spark action started from engine code carries the
    property ``perfbench.site = <phase>|<file>:<line>`` into the event log."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    originals = {}

    def wrap(cls, name, path_arg):
        orig = getattr(cls, name)
        originals[(cls, name)] = orig

        def wrapper(self, *args, **kwargs):
            funcs, where = _engine_stack()
            if where is None:
                return orig(self, *args, **kwargs)
            path = (args[0] if args else kwargs.get("path")) if path_arg else None
            sc.setLocalProperty(SITE_PROP, f"{build_phase(funcs, path)}|{where}")
            try:
                return orig(self, *args, **kwargs)
            finally:
                sc.setLocalProperty(SITE_PROP, None)

        setattr(cls, name, wrapper)

    for name in ("collect", "count", "toPandas", "isEmpty"):
        wrap(DataFrame, name, False)
    wrap(DataFrameWriter, "parquet", True)
    wrap(DataFrameReader, "parquet", False)  # file listing can run a job
    try:
        yield
    finally:
        for (cls, name), orig in originals.items():
            setattr(cls, name, orig)


# -------------------------------------------------- event log


def _scope_names(stage_info: dict) -> set[str]:
    out = set()
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope:
            try:
                out.add(json.loads(scope).get("name", ""))
            except ValueError:
                pass
    return out


def _plan_metrics(node: dict, out: dict[int, tuple[str, str]]):
    for m in node.get("metrics", []):
        out[int(m["accumulatorId"])] = (node.get("nodeName", ""), m.get("name", ""))
    for c in node.get("children", []):
        _plan_metrics(c, out)


class EventLog:
    """Jobs, stages and SQL plan metrics from one application's event log."""

    def __init__(self, log_dir: str):
        files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.accum_owner: dict[int, tuple[str, str]] = {}
        with open(files[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    self.jobs[ev["Job ID"]] = {
                        "start": ev["Submission Time"] / 1e3,
                        "stages": list(ev.get("Stage IDs", [])),
                        "group": props.get("spark.jobGroup.id"),
                        "site": props.get(SITE_PROP),
                        "stream": props.get("sql.streaming.queryId"),
                    }
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in self.jobs:
                        self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    acc = {}
                    for a in si.get("Accumulables", []):
                        try:
                            acc[int(a["ID"])] = (a.get("Name", ""), float(a.get("Value", 0)))
                        except (TypeError, ValueError):
                            pass
                    self.stages[si["Stage ID"]] = {
                        "tasks": si.get("Number of Tasks", 0),
                        "ms": (si.get("Completion Time", 0) - si.get("Submission Time", 0)),
                        "scopes": _scope_names(si),
                        "acc": acc,
                    }
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _plan_metrics(ev.get("sparkPlanInfo", {}), self.accum_owner)

    def jobs_in(self, groups) -> list[dict]:
        groups = set(groups)
        return [j for j in self.jobs.values() if j["group"] in groups]

    def stages_of(self, jobs) -> list[dict]:
        """Completed stages of ``jobs`` (skipped stages never complete)."""
        ids = {s for j in jobs for s in j["stages"]}
        return [self.stages[i] for i in sorted(ids) if i in self.stages]

    @staticmethod
    def internal(stages, name: str) -> float:
        return sum(v for st in stages for n, v in st["acc"].values() if n == name)

    def sql_metric(self, stages, node_pred, metric: str) -> float:
        total = 0.0
        for st in stages:
            for aid, (_, v) in st["acc"].items():
                owner = self.accum_owner.get(aid)
                if owner and owner[1] == metric and node_pred(owner[0]):
                    total += v
        return total
