"""In-memory spans plus the Spark SQL metrics of every execution a span
issued, and the reducers over them (self time, medians).

A span wraps one call into the program under test. When the span closes,
every SQL execution Spark started while it was open becomes a child span
carrying that execution's SQL metrics, read from the session's SQL status
store (it is populated with the UI off). Nothing here runs inside the
program: spans are taken from the benchmark's side of each call.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from contextlib import contextmanager

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40, "PiB": 1 << 50}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_TOKEN = re.compile(r"(-?\d+(?:,\d{3})+(?:\.\d+)?|-?\d+(?:\.\d+)?)"
                    r"(?: ?([A-Za-z]+))?")


def parse_metric(text: str) -> dict:
    """One SQL metric as Spark formats it -> {total, min, med, max} (those
    present) in base units: bytes, seconds, or a plain count. The last
    line reads "total", "total (min, med, max (stage s: task t))" or, for
    averages, "(min, med, max (stage s: task t))"."""
    line = text.strip().splitlines()[-1].split("(stage")[0]
    tokens = _TOKEN.findall(line)
    keys = {1: ("total",), 3: ("min", "med", "max"),
            4: ("total", "min", "med", "max")}.get(len(tokens))
    if keys is None:
        raise ValueError(f"unparsed SQL metric value {text!r}")
    return {k: float(num.replace(",", ""))
            * (_SIZE.get(unit) or _TIME.get(unit) or 1)
            for k, (num, unit) in zip(keys, tokens)}


def interval_union(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: dict, children: list[dict]) -> float:
    """A span's duration minus the part of it its children cover."""
    lo, hi = span["start"], span["end"]
    covered = [(max(c["start"], lo), min(c["end"], hi)) for c in children]
    return (hi - lo) - interval_union([iv for iv in covered
                                       if iv[1] > iv[0]])


def median(values) -> float:
    return statistics.median(list(values))


class SqlStore:
    """Reads finished SQL executions from the session's status store."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self._tracker = spark.sparkContext.statusTracker()

    def mark(self) -> int:
        """Number of executions recorded so far (ids are dense)."""
        return int(self._store.executionsCount())

    def executions_since(self, mark: int) -> list[dict]:
        n = self.mark() - mark
        if n <= 0:
            return []
        # the store is fed from the listener bus, which can still hold an
        # execution's end event after the action returned
        deadline = time.monotonic() + 10.0
        while True:
            execs = list(self._conv.asJava(
                self._store.executionsList(mark, n)))
            if (all(e.completionTime().isDefined() for e in execs)
                    or time.monotonic() > deadline):
                break
            time.sleep(0.05)
        out = []
        for e in execs:
            done = e.completionTime()
            start = e.submissionTime() / 1000.0
            end = done.get().getTime() / 1000.0 if done.isDefined() else start
            values = self._store.executionMetrics(e.executionId())
            metrics: dict[str, dict] = {}
            seen = set()
            for pm in self._conv.asJava(e.metrics()):
                acc = pm.accumulatorId()
                v = values.get(acc)
                # AQE re-plans list one accumulator under several nodes
                if acc in seen or not v.isDefined():
                    continue
                seen.add(acc)
                parsed = parse_metric(v.get())
                agg = metrics.setdefault(pm.name(), {})
                for k, x in parsed.items():
                    agg[k] = (agg.get(k, 0.0) + x if k == "total"
                              else max(agg.get(k, 0.0), x))
            stages = sorted(int(s) for s in self._conv.asJava(e.stages()))
            tasks = 0
            for sid in stages:
                info = self._tracker.getStageInfo(sid)
                tasks += info.numTasks if info is not None else 0
            out.append({"execution_id": int(e.executionId()),
                        "description": str(e.description())[:120],
                        "plan_writes": _written_path(
                            str(e.physicalPlanDescription())),
                        "start": start, "end": end, "stages": stages,
                        "tasks": tasks, "metrics": metrics})
        return out


def _written_path(plan: str) -> str | None:
    # formatted plans name the write command's output path first among
    # its arguments
    m = re.search(r"InsertIntoHadoopFsRelationCommand\n(?:.*\n)*?"
                  r"Arguments: ([^,\s]+)", plan)
    return m.group(1) if m else None


class Tracer:
    """Spans kept in memory and written out once, when the run ends.

    ``enabled=False`` makes :meth:`span` a plain timer: the untraced runs
    pay for a few clock reads per call and nothing else."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sql: SqlStore | None = None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._trace = 0

    def attach(self, spark) -> None:
        """Read SQL executions from this session from now on."""
        self.sql = SqlStore(spark)

    def new_trace(self) -> None:
        """Later spans share a fresh trace id (one per pass/batch)."""
        self._trace += 1

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "start": time.time(), "end": None,
               "trace": self._trace, "attrs": attrs,
               "parent": self._stack[-1] if self._stack else None}
        if not self.enabled:
            t0 = time.perf_counter()
            yield rec
            rec["wall"] = time.perf_counter() - t0
            return
        rec["id"] = len(self.spans)
        self.spans.append(rec)
        self._stack.append(rec["id"])
        mark = self.sql.mark() if self.sql else None
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["wall"]
            self._stack.pop()
            if mark is not None:
                for ex in self.sql.executions_since(mark):
                    if any(s.get("execution_id") == ex["execution_id"]
                           for s in self.spans):
                        continue  # already attached to an inner span
                    self.spans.append({
                        "id": len(self.spans), "name": "sql",
                        "parent": rec["id"], "trace": rec["trace"],
                        **ex})

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def sql_under(self, span_id: int) -> list[dict]:
        """Every SQL execution below a span, at any depth."""
        out = []
        for c in self.children(span_id):
            if c["name"] == "sql":
                out.append(c)
            else:
                out.extend(self.sql_under(c["id"]))
        return out

    def self_times(self) -> dict[str, float]:
        """Self time summed per span name (SQL executions excluded: their
        time is what the calls above them do not own)."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["name"] == "sql":
                continue
            t = self_time(s, self.children(s["id"]))
            out[s["name"]] = out.get(s["name"], 0.0) + t
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_time_s": self.self_times(),
                       **extra}, fh, indent=1, default=str)


def metric_sum(execs: list[dict], name: str) -> float:
    """Total of one SQL metric over executions (0 where absent)."""
    return sum(e["metrics"].get(name, {}).get("total", 0.0) for e in execs)
