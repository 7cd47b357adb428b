"""Outside-in measurement: spans around the benchmark's own calls, a py4j
round-trip counter, Spark event-log folding and ``/proc`` readers.

Nothing here reaches into kgpipe. Spans wrap the benchmark's calls into
kgpipe's public functions; the py4j counter wraps the gateway client of
this process; stage metrics come from the event log Spark writes when
the traced run enables it.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Spans:
    """In-memory span recorder: (name, start, end, parent, run id), kept
    until the run ends and then written out as JSON lines. With a
    ``counter``, each span also records the py4j round trips made while
    it was open (from any thread)."""

    def __init__(self, run_id: str, counter: "Py4jCounter | None" = None):
        self.run_id = run_id
        self.counter = counter
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.records)
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self.records[self._stack[-1]]["name"] if self._stack else None,
            "run_id": self.run_id,
        }
        c0 = self.counter.count if self.counter else 0
        self.records.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            rec["py4j"] = (self.counter.count - c0) if self.counter else 0

    def total(self, name: str) -> float:
        return sum(r["end"] - r["start"] for r in self.records if r["name"] == name)

    def last(self, name: str) -> dict | None:
        found = [r for r in self.records if r["name"] == name and r["end"] is not None]
        return found[-1] if found else None

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.records:
                fh.write(json.dumps(rec) + "\n")


# ---------------------------------------------------------------------------
# py4j round trips
# ---------------------------------------------------------------------------

class Py4jCounter:
    """Counts ``send_command`` calls on this process's gateway client:
    one per driver→JVM round trip, from any thread."""

    def __init__(self, spark):
        self.count = 0
        self._client = spark.sparkContext._gateway._gateway_client
        original = self._client.send_command

        def counted(*args, **kwargs):
            self.count += 1
            return original(*args, **kwargs)

        self._client.send_command = counted

    def remove(self) -> None:
        """Put the client's own ``send_command`` back."""
        del self._client.send_command


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

class EventLog:
    """Jobs and stage totals folded from one application's event log.

    ``jobs``: job id → {id, start, end, group, call_site, execution, stages}
    ``stages``: stage id → {cpu_s, gc_s, shuffle_write}
    ``scopes``: stage id → names of the plan operators its RDDs came from
    ``plans``: SQL execution id → physical plan text
    """

    def __init__(self, log_dir: str):
        files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.scopes: dict[int, set] = {}
        self.plans: dict[int, str] = {}
        for path in files:
            with open(path) as fh:
                for line in fh:
                    if line.startswith('{"Event"'):
                        self._fold(json.loads(line))

    def _fold(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            execution = props.get("spark.sql.execution.id")
            self.jobs[ev["Job ID"]] = {
                "id": ev["Job ID"],
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
                "group": props.get("spark.jobGroup.id"),
                "call_site": props.get("callSite.short") or "",
                "execution": int(execution) if execution is not None else None,
                "stages": ev["Stage IDs"],
            }
        elif kind == "SparkListenerJobEnd":
            self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            self.scopes[info["Stage ID"]] = {
                json.loads(r["Scope"])["name"] if r.get("Scope") else r.get("Name", "")
                for r in info.get("RDD Info", [])
            }
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            acc = {a["Name"]: a.get("Value") for a in info.get("Accumulables", [])}

            def num(key: str) -> float:
                try:
                    return float(acc.get(key) or 0)
                except (TypeError, ValueError):
                    return 0.0

            self.stages[info["Stage ID"]] = {
                "cpu_s": num("internal.metrics.executorCpuTime") / 1e9,
                "gc_s": num("internal.metrics.jvmGCTime") / 1e3,
                "shuffle_write": num("internal.metrics.shuffle.write.bytesWritten"),
            }
        elif kind.endswith("SQLExecutionStart"):
            self.plans[int(ev["executionId"])] = ev.get("physicalPlanDescription") or ""

    def select(self, pred) -> list[dict]:
        return [j for j in self.jobs.values() if pred(j)]

    def text(self, job: dict) -> str:
        """Physical plan of the job's SQL execution plus the operator
        scopes of its stages: what the job computed, for attribution."""
        plan = self.plans.get(job["execution"], "") if job["execution"] is not None else ""
        names = set().union(*(self.scopes.get(s, set()) for s in job["stages"]))
        return plan + "\n" + " ".join(sorted(names))

    @staticmethod
    def wall(jobs: list[dict]) -> float:
        """Union of the jobs' [start, end] intervals, in seconds."""
        spans = sorted((j["start"], j["end"]) for j in jobs if j["end"] is not None)
        total, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total

    def stage_sum(self, jobs: list[dict], key: str) -> float:
        """Sum of a stage metric over the stages these jobs ran; a stage
        shared by several jobs counts once."""
        seen: set[int] = set()
        for j in jobs:
            seen.update(j["stages"])
        return sum(self.stages[s][key] for s in seen if s in self.stages)


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------

def _children(pid: int) -> list[int]:
    out = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as fh:
                out.extend(int(x) for x in fh.read().split())
        except OSError:
            pass
    return out


def process_tree(root: int | None = None) -> list[int]:
    """This process and every live descendant (the JVM, its Python
    worker daemon and workers)."""
    todo, seen = [root or os.getpid()], []
    while todo:
        pid = todo.pop()
        if pid not in seen:
            seen.append(pid)
            todo.extend(_children(pid))
    return seen


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over the given processes."""
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def _proc_cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime of one process, in clock ticks."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        return sum(int(x) for x in fields[11:15])
    except (OSError, IndexError, ValueError):
        return 0


def _host_ticks() -> tuple[int, int]:
    """(busy, steal) clock ticks of the whole host since boot. Busy is
    user + nice + system + irq + softirq; steal is time the hypervisor
    gave this machine's CPUs to someone else."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = vals
    return user + nice + system + irq + softirq, steal


class Contention:
    """Load average at start, the CPU seconds spent during the run by
    processes outside this benchmark's process tree, and the CPU seconds
    the hypervisor took away (steal)."""

    def __init__(self):
        self.load_1m = os.getloadavg()[0]
        self._host0 = _host_ticks()
        self._own0 = sum(_proc_cpu_ticks(p) for p in process_tree())
        self._t0 = time.time()

    def finish(self) -> dict:
        own = sum(_proc_cpu_ticks(p) for p in process_tree()) - self._own0
        busy, steal = (a - b for a, b in zip(_host_ticks(), self._host0))
        return {
            "load_1m_start": round(self.load_1m, 2),
            "foreign_cpu_s": max(busy - own, 0) / _CLK_TCK,
            "steal_s": steal / _CLK_TCK,
            "elapsed_s": time.time() - self._t0,
            "cpus": os.cpu_count(),
        }
