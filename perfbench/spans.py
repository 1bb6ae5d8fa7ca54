"""Spans, Spark counters and host readings for one benchmark run.

Spans are recorded from the benchmark's side: ``Tracer.wrap`` replaces
a public function in an engine module with a wrapper that opens a span
around each call (name, start, end, parent, run id). Spans stay in
memory and are written out once, when the run ends.

With ``deep`` on (the traced run), every span that starts a new job
group tags its Spark jobs, so job, stage and task counts, stage
intervals, executor CPU/GC and shuffle bytes can be read back from the
UI REST API at the end of the run. Codegen compiles come from
``CodegenMetrics``, planning phases from
``queryExecution().tracker()``, GC from the JVM's collector beans.
"""

from __future__ import annotations

import functools
import json
import os
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone


class Tracer:
    def __init__(self, run_id: str, deep: bool):
        self.run_id = run_id
        self.deep = deep
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None
        self._groups = 0

    def attach(self, spark) -> None:
        """Start reading Spark-side counters from this session."""
        self._sc = spark.sparkContext
        if self.deep:
            from pyspark.sql.classic.dataframe import DataFrame

            collect = DataFrame.collect
            tracer = self

            @functools.wraps(collect)
            def traced_collect(df):
                rows = collect(df)
                tracer._add_plan_ms(df)
                return rows

            DataFrame.collect = traced_collect

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str, group: bool = False, probe: bool | None = None):
        """Record one span; ``group`` gives its Spark jobs their own job
        group (deep mode) so they can be attributed to it, ``probe``
        (default: ``group``) reads codegen and GC counters around it."""
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
        }
        self.spans.append(sp)
        self._stack.append(sp["id"])
        deep = self.deep and self._sc is not None
        probe = deep and (group if probe is None else probe)
        # The span's interval includes its own probe calls, so tracing
        # cost shows in the span that pays it, not in its parent.
        sp["epoch_start"] = time.time()
        sp["start"] = time.perf_counter()
        if deep and group:
            self._groups += 1
            sp["group"] = f"pb-{self._groups}"
            self._sc.setJobGroup(sp["group"], name)
        if probe:
            cg0, cgms0, gc0 = self._codegen() + (self._gc_ms(),)
        try:
            yield sp
        finally:
            if probe:
                cg1, cgms1 = self._codegen()
                sp["compiles"] = cg1 - cg0
                sp["compile_ms"] = cgms1 - cgms0
                sp["gc_ms"] = self._gc_ms() - gc0
            self._stack.pop()
            if deep and group:
                self._sc.setJobGroup(self._outer_group() or "pb-0", "benchmark")
            sp["end"] = time.perf_counter()
            sp["epoch_end"] = time.time()

    def _outer_group(self) -> str | None:
        for sid in reversed(self._stack):
            if "group" in self.spans[sid]:
                return self.spans[sid]["group"]
        return None

    def wrap(self, module, attr: str, name: str, group: bool = False, on_call=None):
        """Replace ``module.attr`` with a span-recording wrapper.
        ``on_call(args, result, span)`` may record the call's I/O."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, group=group) as sp:
                out = fn(*args, **kwargs)
            if on_call is not None:
                on_call(args, out, sp)
            return out

        setattr(module, attr, wrapper)

    # -- Spark counters ------------------------------------------------
    def _codegen(self) -> tuple[int, int]:
        """(compiles so far, their summed compile ms)."""
        jvm = self._sc._jvm
        if not hasattr(self, "_compile_hist"):
            self._compile_hist = (
                jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
            )
        h = self._compile_hist
        return int(h.getCount()), int(
            jvm.java.util.Arrays.stream(h.getSnapshot().getValues()).sum()
        )

    def _gc_ms(self) -> int:
        if not hasattr(self, "_gc_beans"):
            self._gc_beans = list(
                self._sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
            )
        return sum(int(b.getCollectionTime()) for b in self._gc_beans)

    def _add_plan_ms(self, df) -> None:
        if not self._stack:
            return
        phases = df._jdf.queryExecution().tracker().phases()
        ms = sum(
            phases.apply(k).durationMs()
            for k in ("analysis", "optimization", "planning")
            if phases.contains(k)
        )
        for sid in self._stack:
            self.spans[sid]["plan_ms"] = self.spans[sid].get("plan_ms", 0.0) + ms

    def codegen_saturated(self) -> bool:
        """The compile-time histogram keeps 1028 samples; past that the
        per-span compile_ms deltas are no longer exact."""
        return self._codegen()[0] > 1028

    def collect_stages(self, timeout_s: float = 30.0) -> None:
        """Attach each grouped span's jobs and stages (from the UI REST
        API) once the listener has seen every job finish."""
        if not self.deep:
            return
        tracker = self._sc.statusTracker()
        groups = {sp["group"]: sp for sp in self.spans if "group" in sp}
        want = {
            j for g in groups for j in tracker.getJobIdsForGroup(g)
        }
        base = f"{self._sc.uiWebUrl}/api/v1/applications/{self._sc.applicationId}"
        deadline = time.time() + timeout_s
        while True:
            jobs = _get(base + "/jobs")
            stages = _get(base + "/stages")
            done = {j["jobId"] for j in jobs if j["status"] in ("SUCCEEDED", "FAILED")}
            pending = any(s["status"] in ("ACTIVE", "PENDING") for s in stages)
            if (want <= done and not pending) or time.time() > deadline:
                break
            time.sleep(0.25)
        by_stage = {}
        for s in stages:
            by_stage.setdefault(s["stageId"], s)
        for sp in groups.values():
            mine = [j for j in jobs if j.get("jobGroup") == sp["group"]]
            ids = sorted({sid for j in mine for sid in j["stageIds"]})
            st = [by_stage[i] for i in ids if i in by_stage]
            done_st = [s for s in st if s["status"] == "COMPLETE"]
            sp["stage_list"] = [
                {k: s.get(k) for k in ("stageId", "status", "numTasks", "submissionTime",
                                       "completionTime", "executorRunTime", "executorCpuTime")}
                for s in st
            ]
            sp["job_list"] = [
                {k: j.get(k) for k in ("jobId", "submissionTime", "completionTime", "stageIds")}
                for j in mine
            ]
            sp["jobs"] = len(mine)
            sp["stages"] = len(done_st)
            sp["skipped_stages"] = len(st) - len(done_st)
            sp["tasks"] = sum(s["numTasks"] for s in done_st)
            sp["exec_run_ms"] = sum(s["executorRunTime"] for s in done_st)
            sp["exec_cpu_ms"] = sum(s["executorCpuTime"] for s in done_st) / 1e6
            sp["stage_gc_ms"] = sum(s["jvmGcTime"] for s in done_st)
            sp["shuffle_bytes"] = sum(s["shuffleWriteBytes"] for s in done_st)
            ivs = [
                (max(_ms(s["submissionTime"]), sp["epoch_start"] * 1e3),
                 min(_ms(s["completionTime"]), sp["epoch_end"] * 1e3))
                for s in done_st
                if "submissionTime" in s and "completionTime" in s
            ]
            wall = (sp["end"] - sp["start"]) * 1e3
            sp["stage_ms"] = _union(ivs)
            sp["driver_ms"] = wall - sp["stage_ms"]
            heavy = max(done_st, key=lambda s: s["executorRunTime"], default=None)
            if heavy is not None and "completionTime" in heavy:
                sp["map_stage_ms"] = _ms(heavy["completionTime"]) - _ms(heavy["submissionTime"])
                sp["map_cpu_ms"] = heavy["executorCpuTime"] / 1e6
            else:
                sp["map_stage_ms"] = sp["map_cpu_ms"] = 0.0

    # -- output --------------------------------------------------------
    def self_times(self) -> None:
        """Set each span's ``self_s``: its time not covered by child spans."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                kids.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
        for sp in self.spans:
            sp["self_s"] = (sp["end"] - sp["start"]) - _union(kids.get(sp["id"], []))

    def self_by_layer(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for sp in self.spans:
            out[sp["name"]] = out.get(sp["name"], 0.0) + sp["self_s"]
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                {"run": self.run_id, "spans": self.spans, "self_s": self.self_by_layer(), **extra},
                fh,
                default=str,
            )


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def _ms(stamp: str) -> float:
    """UI REST timestamp ('2026-01-01T00:00:00.123GMT') -> epoch ms."""
    dt = datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp() * 1e3


def _union(ivs) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in ivs if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- host ---------------------------------------------------------------
def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])
    return 100.0 * d[7] / total if total > 0 and len(d) > 7 else 0.0


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def descendants(root_pid: int) -> set[int]:
    """Every live process below ``root_pid`` in the process tree."""
    parent = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    out, frontier = set(), [root_pid]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in out:
                out.add(c)
                frontier.append(c)
    return out


def peak_rss_mb(root_pid: int) -> float:
    """Sum of VmHWM over ``root_pid`` and all its descendants (the
    driver JVM, the Python daemon and its workers)."""
    kb = 0
    for p in descendants(root_pid) | {root_pid}:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0
