"""Spans around the benchmark's calls into the program, and the Spark event
log folded into them.

A span has a name, start, end, parent and op id. Spans are kept in memory
and written out when the run ends. While a span is open, the benchmark's
thread tags every Spark job it submits with the span id as the job
description. Jobs the program submits from its own threads carry no such
tag; they are matched to the innermost span open at their submission time,
which is unambiguous because the benchmark drives one closed-loop client.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

TAG = "tsbench-span:"


class Tracer:
    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.sc = spark.sparkContext if (spark is not None and enabled) else None
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans), "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": time.time(), "end": None, "attrs": dict(attrs),
        }
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobDescription(f"{TAG}{s['id']}")
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setJobDescription(
                    f"{TAG}{parent['id']}" if parent else None
                )

    def self_times(self) -> dict[int, float]:
        """Span id → wall minus the part of it its children cover."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, last = 0.0, s["start"]
            for a, b in sorted(kids[s["id"]]):
                a, b = max(a, last), min(b, s["end"])
                if b > a:
                    covered += b - a
                    last = b
            out[s["id"]] = s["end"] - s["start"] - covered
        return out

    def dump(self, path: str) -> None:
        st = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": st[s["id"]]}) + "\n")


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------

#: SQL metric names of the Python evaluation nodes (Spark 4.1)
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
ROWS_OUT = "number of output rows"
#: plan node that de-duplicates the LSH candidate pairs
DISTINCT_PAIRS = "HashAggregate(keys=[id_a"


class EventLog:
    """Per-job totals from an uncompressed Spark event log."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        acc_meta: dict[int, tuple] = {}
        self.tasks = defaultdict(lambda: defaultdict(float))
        self.sql = defaultdict(lambda: defaultdict(float))
        def walk(plan, above=frozenset()):
            # a node that repeats an ancestor's description is the partial
            # half of a two-phase aggregate
            desc = plan.get("simpleString", "")
            for m in plan.get("metrics", []):
                acc_meta[m["accumulatorId"]] = (
                    plan.get("nodeName", ""), desc, m["name"],
                    m.get("metricType", ""), desc in above,
                )
            for ch in plan.get("children", []):
                walk(ch, above | {desc})

        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event", "")
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jid = e["Job ID"]
                    self.jobs[jid] = {
                        "submit": e["Submission Time"] / 1000.0,
                        "desc": props.get("spark.job.description") or "",
                        "pool": props.get("spark.scheduler.pool") or "",
                        "end": None,
                    }
                    for sid in e.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif ev == "SparkListenerJobEnd":
                    if e["Job ID"] in self.jobs:
                        self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    walk(e.get("sparkPlanInfo", {}))
                elif ev.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
                    for m in e.get("sqlPlanMetrics", []):
                        acc_meta.setdefault(
                            m["accumulatorId"], ("", "", m["name"], m.get("metricType", ""), False)
                        )
                elif ev == "SparkListenerTaskEnd":
                    jid = stage_job.get(e["Stage ID"])
                    if jid is None:
                        continue
                    tm = e.get("Task Metrics") or {}
                    t = self.tasks[jid]
                    t["tasks"] += 1
                    t["run_ms"] += tm.get("Executor Run Time", 0)
                    t["cpu_ns"] += tm.get("Executor CPU Time", 0)
                    t["gc_ms"] += tm.get("JVM GC Time", 0)
                    t["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    t["peak_mem"] = max(t["peak_mem"], tm.get("Peak Execution Memory", 0))
                    sr = tm.get("Shuffle Read Metrics") or {}
                    t["sh_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    t["sh_records"] += sr.get("Total Records Read", 0)
                    t["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
                    sw = tm.get("Shuffle Write Metrics") or {}
                    t["sh_write"] += sw.get("Shuffle Bytes Written", 0)
                    im = tm.get("Input Metrics") or {}
                    t["scan_bytes"] += im.get("Bytes Read", 0)
                    t["scan_rows"] += im.get("Records Read", 0)
                    for a in (e.get("Task Info") or {}).get("Accumulables", []):
                        try:
                            upd = float(a.get("Update", 0))
                        except (TypeError, ValueError):
                            continue
                        self.sql[jid][a["ID"]] += upd
        self.acc_meta = acc_meta

    def sql_metric(self, jobs, name: str, node_has: str = "", final: bool = False) -> float:
        """Sum of a named SQL metric over ``jobs``, optionally only on plan
        nodes whose description contains ``node_has`` (and, with ``final``,
        only on the outer node of a two-phase aggregate). Timings come back
        in seconds."""
        total = 0.0
        for j in jobs:
            for acc, v in self.sql[j].items():
                meta = self.acc_meta.get(acc)
                if meta and meta[2] == name and node_has in meta[1] and not (final and meta[4]):
                    total += v * {"timing": 1e-3, "nsTiming": 1e-9}.get(meta[3], 1.0)
        return total


def attribute(tracer: Tracer, log: EventLog) -> tuple[dict[int, list], list]:
    """Span id → job ids. Tagged jobs go to their span; untagged jobs to
    the innermost span open at submission. Returns (map, unattributed)."""
    by_span: dict[int, list] = defaultdict(list)
    left = []
    spans = sorted(tracer.spans, key=lambda s: s["start"])
    for jid, j in sorted(log.jobs.items()):
        if j["desc"].startswith(TAG):
            by_span[int(j["desc"][len(TAG):].split()[0])].append(jid)
            continue
        best = None
        for s in spans:
            # event-log times have millisecond resolution
            if s["start"] - 0.002 <= j["submit"] <= s["end"] + 0.002:
                if best is None or s["start"] >= best["start"]:
                    best = s
        if best is None:
            left.append(jid)
        else:
            by_span[best["id"]].append(jid)
    return by_span, left
