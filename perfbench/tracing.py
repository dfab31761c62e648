"""Spans and per-layer counters for the traced run.

The traced run restarts the SparkContext with the UI enabled, tags
every public call with ``setJobGroup("<pass>/<call>")`` and, once its
passes are done, reads Spark's status REST API:

- ``jobs`` and ``stages`` give the job and stage spans of each call,
  and the executor, shuffle, spill and GC counters of each stage;
- ``sql`` gives per-operator SQL metrics, including the Python-worker
  metrics of every Arrow UDF node (start, initialise and run time,
  bytes sent and returned);
- ``storage/rdd``, read after each pass, gives the size of the blocks
  that pass persisted.

Spans nest pass > call > job > stage and share the pass id. Self time
is computed with a sweep: each instant of a pass is charged to the
deepest spans open at that instant, split evenly when several
overlap, so the self times of one pass sum to its wall time.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import statistics
import time
import urllib.request
from datetime import datetime, timezone


class NullTracer:
    """Untraced runs: every hook is a no-op."""

    @contextlib.contextmanager
    def run_pass(self, pass_id):
        yield

    @contextlib.contextmanager
    def call(self, name):
        yield

    @contextlib.contextmanager
    def side_call(self, pass_id, name):
        yield

    def after_pass(self, pass_id):
        pass


class Tracer(NullTracer):
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self.passes: list[dict] = []
        self.cache_bytes: dict[str, int] = {}
        self._cur: dict | None = None

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=60) as r:
            return json.load(r)

    @contextlib.contextmanager
    def run_pass(self, pass_id):
        self._cur = {"id": pass_id, "calls": [], "t0": time.time()}
        try:
            yield
        finally:
            self._cur["t1"] = time.time()
            self.passes.append(self._cur)
            self._cur = None
            self.sc.setJobGroup("idle", "idle")

    @contextlib.contextmanager
    def call(self, name):
        c = {"name": name, "group": f"{self._cur['id']}/{name}", "t0": time.time()}
        self.sc.setJobGroup(c["group"], c["group"])
        try:
            yield
        finally:
            c["t1"] = time.time()
            self._cur["calls"].append(c)

    @contextlib.contextmanager
    def side_call(self, pass_id, name):
        self.sc.setJobGroup(f"{pass_id}~{name}", name)
        try:
            yield
        finally:
            self.sc.setJobGroup("idle", "idle")

    def after_pass(self, pass_id):
        rdds = self.get("storage/rdd")
        self.cache_bytes[pass_id] = sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds)

    # -- reading the REST API ------------------------------------------------

    def collect(self) -> dict:
        """Per-call jobs, stages and SQL executions of every pass."""
        jobs = self.get("jobs")
        stages = [s for s in self.get("stages") if s["status"] == "COMPLETE"]
        sql = self.get("sql?details=true&planDescription=false&offset=0&length=100000")
        by_group: dict[str, list] = {}
        job_group = {}
        for j in jobs:
            by_group.setdefault(j.get("jobGroup"), []).append(j)
            job_group[j["jobId"]] = j.get("jobGroup")
        listing: dict[int, list] = {}
        for j in jobs:
            for sid in j["stageIds"]:
                listing.setdefault(sid, []).append(j)
        stages_of: dict[int, list] = {}
        for s in stages:
            # a stage listed by several jobs ran in the latest one
            # submitted before it (the others skipped it)
            cands = [j for j in listing.get(s["stageId"], ())
                     if _ts(j["submissionTime"]) <= _ts(s["submissionTime"]) + 1e-3]
            if cands:
                owner = max(cands, key=lambda j: _ts(j["submissionTime"]))
                stages_of.setdefault(owner["jobId"], []).append(s)
        sql_of: dict[str, list] = {}
        for q in sql:
            ids = q.get("successJobIds", []) + q.get("failedJobIds", []) + q.get("runningJobIds", [])
            groups = {job_group.get(i) for i in ids}
            if len(groups) == 1:
                sql_of.setdefault(groups.pop(), []).append(q)
        return {"jobs": by_group, "stages": stages_of, "sql": sql_of}


def _ts(s: str) -> float:
    return datetime.strptime(s[:-3], "%Y-%m-%dT%H:%M:%S.%f").replace(tzinfo=timezone.utc).timestamp()


_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "B": 1.0, "KiB": 2.0**10,
          "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40}


def metric_value(text: str) -> float:
    """Parse a formatted SQL metric: ``'1,234'``, ``'12 ms'``,
    ``'total (min, med, max ...)\\n2.1 s (...)'`` -> seconds/bytes/count."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _UNITS.get(m.group(2) or "", 1.0)


# -- spans ---------------------------------------------------------------------


def _clamp(a, b, lo, hi):
    a, b = max(a, lo), min(b, hi)
    return (a, b) if b > a else (a, a)


def pass_spans(p: dict, rest: dict) -> list[dict]:
    """pass > call > job > stage spans of one pass, clamped to their parents."""
    spans = [{"kind": "pass", "name": p["id"], "depth": 0, "start": p["t0"], "end": p["t1"]}]
    for c in p["calls"]:
        cs, ce = _clamp(c["t0"], c["t1"], p["t0"], p["t1"])
        spans.append({"kind": "call", "name": c["name"], "depth": 1, "start": cs, "end": ce})
        for j in rest["jobs"].get(c["group"], ()):
            js, je = _clamp(_ts(j["submissionTime"]), _ts(j.get("completionTime", j["submissionTime"])), cs, ce)
            spans.append({"kind": "job", "name": f"job {j['jobId']}", "depth": 2, "start": js, "end": je})
            for s in rest["stages"].get(j["jobId"], ()):
                ss, se = _clamp(_ts(s["submissionTime"]), _ts(s["completionTime"]), js, je)
                spans.append({"kind": "stage", "name": f"stage {s['stageId']}", "depth": 3,
                              "start": ss, "end": se})
    for s in spans:
        s["pass"] = p["id"]
    return spans


def self_times(spans: list[dict]) -> None:
    """Set ``self_s`` on every span: each elementary interval goes to
    the deepest open spans, split evenly among them."""
    for s in spans:
        s["self_s"] = 0.0
    cuts = sorted({x for s in spans for x in (s["start"], s["end"])})
    for a, b in zip(cuts[:-1], cuts[1:]):
        open_ = [s for s in spans if s["start"] <= a and s["end"] >= b]
        if not open_:
            continue
        deep = max(s["depth"] for s in open_)
        top = [s for s in open_ if s["depth"] == deep]
        for s in top:
            s["self_s"] += (b - a) / len(top)


# -- SQL-metric layers ------------------------------------------------------------

PY_RUN = "time to run Python workers"
PY_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
            "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas")
# call -> (prefix of its join counters, prefix of its refine counters)
JOIN_CALLS = {"bbox_intersection_join": ("join", "refine"), "point_in_polygon_join": ("pip", "pip.refine")}
JOIN_NODES = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct")


class Plan:
    """One SQL execution's operator graph with parsed metrics."""

    def __init__(self, q: dict):
        self.nodes = {n["nodeId"]: n for n in q["nodes"]}
        self.children: dict[int, list[int]] = {}
        self.parent: dict[int, int] = {}
        for e in q["edges"]:
            self.children.setdefault(e["toId"], []).append(e["fromId"])
            self.parent[e["fromId"]] = e["toId"]
        for n in self.nodes.values():
            n["m"] = {m["name"]: metric_value(m["value"]) for m in n.get("metrics", [])}
            n["key"] = (n["nodeName"], tuple(sorted((m["name"], m["value"]) for m in n.get("metrics", []))))

    def cached(self, nid: int) -> bool:
        """True for operators of a persisted plan (under InMemoryTableScan)."""
        while nid in self.parent:
            nid = self.parent[nid]
            if self.nodes[nid]["nodeName"] == "InMemoryTableScan":
                return True
        return False

    def first_below(self, nid: int, names) -> dict | None:
        """Nearest operator below ``nid`` (breadth first) whose name starts with one of ``names``."""
        todo = list(self.children.get(nid, ()))
        while todo:
            c = todo.pop(0)
            if self.nodes[c]["nodeName"].startswith(names):
                return self.nodes[c]
            todo.extend(self.children.get(c, ()))
        return None

    def rows_in(self, nid: int) -> float:
        """Output rows of the nearest counted operator below ``nid``."""
        todo = list(self.children.get(nid, ()))
        while todo:
            c = todo.pop(0)
            m = self.nodes[c]["m"]
            if "number of output rows" in m:
                return m["number of output rows"]
            todo.extend(self.children.get(c, ()))
        return 0.0

    def tiler_stage(self, nid: int) -> str:
        """Tiler stage of a Python node from its inputs: the footprint
        explode feeds ``render``; a shuffle of rendered partials feeds
        ``compose``; a shuffle of a persisted level feeds ``overview``;
        a union of levels (or one level) feeds ``finalize``."""
        below = self.first_below(nid, ("Generate", "Exchange", "Union", "InMemoryTableScan"))
        if below is None or below["nodeName"] in ("Union", "InMemoryTableScan"):
            return "finalize"
        if below["nodeName"] == "Generate":
            return "render"
        src = self.first_below(below["nodeId"], PY_NODES + ("InMemoryTableScan",))
        return "compose" if src is not None and src["nodeName"] in PY_NODES else "overview"


def call_nodes(queries: list[dict], seen: set) -> list[tuple[Plan, dict]]:
    """Operators of a call's SQL executions. An operator of a persisted
    plan shows up in every execution that reads the cache (with zeros
    after the first) and may appear twice in one graph; it is kept once
    per pass, keyed by its name and metric texts."""
    out = []
    for q in queries:
        plan = Plan(q)
        for n in plan.nodes.values():
            if plan.cached(n["nodeId"]):
                if n["key"] in seen:
                    continue
                seen.add(n["key"])
            out.append((plan, n))
    return out


def _add(d: dict, key: str, v: float) -> None:
    d[key] = d.get(key, 0.0) + v


def pass_layers(p: dict, rest: dict, knn_rows: int) -> dict:
    """Per-layer counters of one traced pass; ``knn_rows`` is the kNN
    result size the candidate count is divided by."""
    L: dict[str, float] = {}
    seen: set = set()
    stages = [s for c in p["calls"] for j in rest["jobs"].get(c["group"], ())
              for s in rest["stages"].get(j["jobId"], ())]
    L["jvm.run_s"] = sum(s["executorRunTime"] for s in stages) / 1e3
    L["jvm.cpu_s"] = sum(s["executorCpuTime"] for s in stages) / 1e9
    L["jvm.gc_s"] = sum(s["jvmGcTime"] for s in stages) / 1e3
    L["shuffle.write_mb"] = sum(s["shuffleWriteBytes"] for s in stages) / 2**20
    L["shuffle.read_mb"] = sum(s["shuffleReadBytes"] for s in stages) / 2**20
    L["shuffle.records"] = sum(s["shuffleWriteRecords"] for s in stages)
    L["spill.mb"] = sum(s["diskBytesSpilled"] for s in stages) / 2**20
    L["fetch_wait_s"] = sum(s["shuffleFetchWaitTime"] for s in stages) / 1e3
    py_total = 0.0
    for c in p["calls"]:
        dur = c["t1"] - c["t0"]
        qs = rest["sql"].get(c["group"], [])
        nodes = call_nodes(qs, seen)
        for plan, n in nodes:
            name, m = n["nodeName"], n["m"]
            if name.startswith("Scan "):
                _add(L, "scan.rows", m.get("number of output rows", 0))
                _add(L, "scan.mb", m.get("size of files read", 0) / 2**20)
                _add(L, "scan.s", m.get("scan time", 0))
            if name in PY_NODES:
                py_total += m.get(PY_RUN, 0)
        if c["name"] in JOIN_CALLS:
            pre, refine = JOIN_CALLS[c["name"]]
            for plan, n in nodes:
                m = n["m"]
                if n["nodeName"] in JOIN_NODES:
                    _add(L, f"{pre}.candidates", m.get("number of output rows", 0))
                elif n["nodeName"] == "BroadcastExchange":
                    _add(L, f"{pre}.broadcast_mb", m.get("data size", 0) / 2**20)
                    _add(L, f"{pre}.broadcast_s", sum(
                        m.get(k, 0) for k in ("time to collect", "time to build", "time to broadcast")))
                elif n["nodeName"] in PY_NODES:
                    _add(L, f"{refine}.rows_in", plan.rows_in(n["nodeId"]))
                    _add(L, f"{refine}.rows_out", m.get("number of output rows", 0))
                    _add(L, f"{refine}.python_s", m.get(PY_RUN, 0))
                    _add(L, f"{refine}.arrow_sent_mb", m.get("data sent to Python workers", 0) / 2**20)
                    _add(L, f"{refine}.arrow_recv_mb", m.get("data returned from Python workers", 0) / 2**20)
            L[f"{pre}.s"] = dur
            L[f"{pre}.hit_ratio"] = L.get(f"{refine}.rows_out", 0) / max(1.0, L.get(f"{pre}.candidates", 0))
        if c["name"] == "knn_join":
            L["knn.s"] = dur
            L["knn.sql_executions"] = len(qs)
            cand = sum(n["m"].get("number of output rows", 0) for _, n in nodes if n["nodeName"] in JOIN_NODES)
            L["knn.candidates_per_result"] = cand / max(1, knn_rows)
        if c["name"] in ("build_pyramid", "write_tiles"):
            for plan, n in nodes:
                if n["nodeName"] in PY_NODES:
                    st = plan.tiler_stage(n["nodeId"])
                    _add(L, f"tiler.{st}.python_s", n["m"].get(PY_RUN, 0))
                    if st == "render":
                        _add(L, "tiler.partials", n["m"].get("number of output rows", 0))
    L["python_share"] = py_total / L["jvm.run_s"] if L["jvm.run_s"] else 0.0
    return L


def warmup_workers(p: dict, rest: dict) -> tuple[float, float]:
    """Python-worker start and initialise time summed over a pass."""
    boot = init = 0.0
    seen: set = set()
    for c in p["calls"]:
        for _, n in call_nodes(rest["sql"].get(c["group"], []), seen):
            if n["nodeName"] in PY_NODES:
                boot += n["m"].get("time to start Python workers", 0)
                init += n["m"].get("time to initialize Python workers", 0)
    return boot, init


def write_trace(path: str, spans: list[dict], layers: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"spans": spans, "layers": layers}, f, indent=1)


def median_layers(per_pass: list[dict]) -> dict:
    keys = {k for d in per_pass for k in d}
    return {k: statistics.median(d.get(k, 0.0) for d in per_pass) for k in keys}
