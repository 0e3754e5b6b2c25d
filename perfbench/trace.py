"""Tracing for the benchmark's traced run: in-memory spans written once as
JSONL, and Spark's event log folded into per-span task and operator numbers.

A span is opened around one call the benchmark makes into a layer of the
program. While it is open the Spark local property ``perfbench.span`` names
it, so every job, stage and task Spark runs inside it can be attributed from
the event log after the session stops.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

SPAN_PROP = "perfbench.span"


class Tracer:
    """Spans kept in memory: name, id, parent, start, end, attributes."""

    def __init__(self, spark_context, trace_id: str):
        self.sc = spark_context
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1]["id"] if self._stack else None
        rec = {"trace": self.trace_id, "id": len(self.spans), "parent": parent,
               "name": name, "attrs": dict(attrs)}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setLocalProperty(SPAN_PROP, str(rec["id"]))
        rec["start"] = time.perf_counter()
        rec["start_epoch_ms"] = time.time() * 1000.0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["dur_s"] = rec["end"] - rec["start"]
            self._stack.pop()
            self.sc.setLocalProperty(SPAN_PROP, str(self._stack[-1]["id"]) if self._stack else None)

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def self_s(self, span: dict) -> float:
        """Span duration minus the part its (sequential) children cover."""
        return span["dur_s"] - sum(c["dur_s"] for c in self.children(span))

    def total(self, name: str) -> float:
        return sum(s["dur_s"] for s in self.spans if s["name"] == name)

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": self.self_s(s)}) + "\n")


def span_of(props: dict | None) -> str | None:
    return (props or {}).get(SPAN_PROP)


class EventLog:
    """Task, stage and SQL-operator numbers folded from one application's
    uncompressed, non-rolling event log, keyed by the span that ran them."""

    def __init__(self, log_dir: str):
        files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
        if len(files) != 1:  # one log per SparkContext, and a run starts one
            raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
        self.stage_span: dict[int, str] = {}
        self.tasks: dict[int, list[dict]] = {}
        self.stage_accums: dict[int, dict[int, float]] = {}
        self.metric_info: dict[int, tuple[str, str, str]] = {}  # accum id -> node, metric, type
        self.exec_nodes: dict[int, list[str]] = {}
        self.exec_span: dict[int, str] = {}
        self.driver_accums: dict[int, dict[int, float]] = {}  # execution -> accum id -> value
        with open(files[0]) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        ev = e["Event"]
        if ev == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            self.stage_span[sid] = span_of(e.get("Properties"))
        elif ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            if ex is not None and span_of(props) is not None:
                self.exec_span.setdefault(int(ex), span_of(props))
        elif ev == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            info = e["Task Info"]
            self.tasks.setdefault(e["Stage ID"], []).append({
                "dur_ms": info["Finish Time"] - info["Launch Time"],
                "run_ms": m.get("Executor Run Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
            })
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            self.stage_accums[si["Stage ID"]] = {
                a["ID"]: float(a["Value"]) for a in si.get("Accumulables", [])
                if _is_number(a.get("Value"))
            }
        elif ev.endswith("SparkListenerDriverAccumUpdates"):
            self.driver_accums.setdefault(e["executionId"], {}).update(
                {int(a): float(v) for a, v in e["accumUpdates"]})
        elif ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"):
            nodes = self.exec_nodes.setdefault(e["executionId"], [])
            if ev.endswith("Update"):
                nodes.clear()
            self._walk(e["sparkPlanInfo"], nodes)

    def _walk(self, node: dict, names: list[str]) -> None:
        names.append(node["nodeName"])
        for m in node.get("metrics", []):
            self.metric_info[m["accumulatorId"]] = (node["nodeName"], m["name"], m["metricType"])
        for c in node.get("children", []):
            self._walk(c, names)

    # -- folds ------------------------------------------------------------
    def stages(self, spans: set[str]) -> list[int]:
        return [s for s, sp in self.stage_span.items() if sp in spans and s in self.tasks]

    def task_sum(self, spans: set[str], key: str) -> float:
        return float(sum(t[key] for s in self.stages(spans) for t in self.tasks[s]))

    def n_tasks(self, spans: set[str]) -> int:
        return sum(len(self.tasks[s]) for s in self.stages(spans))

    def task_skew(self, spans: set[str]) -> float:
        """max / median task time of the busiest multi-task stage."""
        multi = [s for s in self.stages(spans) if len(self.tasks[s]) > 1]
        if not multi:
            return 1.0
        busiest = max(multi, key=lambda s: sum(t["dur_ms"] for t in self.tasks[s]))
        durs = [t["dur_ms"] for t in self.tasks[busiest]]
        return max(durs) / max(statistics.median(durs), 1.0)

    def operator_seconds(self, stage: int) -> list[tuple[str, float]]:
        """Timing SQL metrics a stage reported, as (operator: metric, seconds)."""
        out = []
        for acc, val in self.stage_accums.get(stage, {}).items():
            info = self.metric_info.get(acc)
            if info is None or info[2] not in ("timing", "nsTiming"):
                continue
            sec = val / (1e9 if info[2] == "nsTiming" else 1e3)
            out.append((f"{info[0]}: {info[1]}", sec))
        return sorted(out, key=lambda kv: -kv[1])

    def top_operators(self, spans: set[str], k: int = 5) -> list[tuple[str, float]]:
        agg: dict[str, float] = {}
        for s in self.stages(spans):
            for name, sec in self.operator_seconds(s):
                agg[name] = agg.get(name, 0.0) + sec
        return sorted(agg.items(), key=lambda kv: -kv[1])[:k]

    def per_stage_top(self, spans: set[str], k: int = 5) -> dict[int, list]:
        return {s: [(n, round(v, 4)) for n, v in self.operator_seconds(s)[:k]]
                for s in sorted(self.stages(spans))}

    def metric_sum(self, spans: set[str], node: str, metric: str) -> float:
        """Sum of one operator metric (raw units) over the spans' stages."""
        total = 0.0
        for s in self.stages(spans):
            for acc, val in self.stage_accums.get(s, {}).items():
                info = self.metric_info.get(acc)
                if info and info[0].strip() == node and info[1] == metric:
                    total += val
        return total

    def driver_metric_sum(self, spans: set[str], node: str, metric: str) -> float:
        """Sum of one driver-side operator metric (e.g. a scan's file sizes)."""
        total = 0.0
        for ex, sp in self.exec_span.items():
            if sp not in spans:
                continue
            for acc, val in self.driver_accums.get(ex, {}).items():
                info = self.metric_info.get(acc)
                if info and info[0].strip() == node and info[1] == metric:
                    total += val
        return total

    def plan_nodes(self, spans: set[str]) -> list[str]:
        return [n for ex, sp in self.exec_span.items() if sp in spans
                for n in self.exec_nodes.get(ex, [])]


def _is_number(v) -> bool:
    try:
        float(v)
        return True
    except (TypeError, ValueError):
        return False
