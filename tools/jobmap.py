"""Where a traced run's time went, job by job, from its Spark event log.

Usage: python tools/jobmap.py <event-log dir>

The directory is the one a traced perfbench run writes
(``perfbench/_work/eventlog/<workload>``); the spans it writes next to
it (``<dir>.spans.jsonl``) are read when present. For every job the map
prints its start offset from the first span or job, its wall time, job
group and call site (and its job description, when one is set, in
brackets), and under it each stage the job ran: task count,
summed task run time and how many of its tasks run Python (a UDF or an
Arrow/pandas evaluation that the stage computes rather than reads from
a cache). Stages a job skipped (their output was already there) are not
listed. A summary per top-level span closes the map: jobs, Python
stages and Python tasks started inside it.

The event log is folded by perfbench's own ``probes.EventLog``; this
tool only adds the per-stage name, task count, run time and Python
tasks.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"))

from probes import EventLog  # noqa: E402

#: plan operator scopes whose RDDs run Python workers
PYTHON_SCOPES = ("Python", "InPandas", "InArrow")


class StageLog(EventLog):
    """``EventLog`` plus, per completed stage, ``name`` (Spark's call
    site of the stage), ``tasks``, ``run_s`` (the summed executor run
    time of its tasks) and ``python_tasks``.

    A stage runs Python where one of its RDDs comes from a Python
    operator and is not read from a cache: the walk down a stage's RDD
    lineage stops at a persisted RDD (a persist or localCheckpoint) that
    an earlier stage reached and nobody unpersisted since, because that
    stage computed it. Each Python operator the stage computes runs one
    task per partition of its RDDs, so ``python_tasks`` is the sum of
    their partition counts, at most the stage's task count (a union
    stage runs Python in the tasks of its Python branches only)."""

    def __init__(self, log_dir: str):
        #: rdd id -> (operator scope id, scope name, parent ids, persisted, partitions)
        self._rdds: dict[int, tuple] = {}
        self._submitted: dict[int, tuple[str, set]] = {}
        self._cached: set[int] = set()
        super().__init__(log_dir)

    def _fold(self, ev: dict) -> None:
        super()._fold(ev)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            self.jobs[ev["Job ID"]]["description"] = props.get("spark.job.description")
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            for r in info.get("RDD Info", []):
                scope = json.loads(r["Scope"]) if r.get("Scope") else {"id": None, "name": r.get("Name", "")}
                level = r.get("Storage Level", {})
                self._rdds[r["RDD ID"]] = (
                    scope["id"], scope["name"], r.get("Parent IDs", []),
                    level.get("Use Memory", False) or level.get("Use Disk", False),
                    r.get("Number of Partitions", 0),
                )
            ids = {r["RDD ID"] for r in info.get("RDD Info", [])}
            self._submitted[info["Stage ID"]] = (info.get("Stage Name", ""), self._computed(ids))
        elif kind == "SparkListenerUnpersistRDD":
            self._cached.discard(ev["RDD ID"])
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            run_ms = next((a.get("Value") for a in info.get("Accumulables", [])
                           if a["Name"] == "internal.metrics.executorRunTime"), 0)
            name, computed = self._submitted.get(sid, ("", set()))
            partitions: dict = {}
            for r in computed:
                scope_id, scope, _parents, _persisted, n = self._rdds[r]
                if any(p in scope for p in PYTHON_SCOPES):
                    partitions[scope_id] = max(partitions.get(scope_id, 0), n)
            self.stages[sid].update(
                name=name,
                tasks=info["Number of Tasks"],
                run_s=float(run_ms or 0) / 1e3,
                python_tasks=min(sum(partitions.values()), info["Number of Tasks"]),
            )

    def _computed(self, ids: set) -> set:
        """The stage's RDDs it computes rather than reads from a cache;
        marks the persisted ones among them as cached from now on."""
        parents = {p for r in ids for p in self._rdds[r][2]}
        todo, computed = [r for r in ids if r not in parents], set()
        while todo:
            r = todo.pop()
            if r in computed or r not in ids or r in self._cached:
                continue
            computed.add(r)
            todo.extend(self._rdds[r][2])
        self._cached |= {r for r in computed if self._rdds[r][3]}
        return computed


def read_spans(log_dir: str) -> list[dict]:
    path = log_dir.rstrip("/") + ".spans.jsonl"
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _ran(ev: StageLog, job: dict) -> list[int]:
    return [s for s in job["stages"] if "tasks" in ev.stages.get(s, {})]


def main(log_dir: str) -> None:
    ev = StageLog(log_dir)
    spans = [s for s in read_spans(log_dir) if s["end"] is not None]
    jobs = sorted(ev.jobs.values(), key=lambda j: j["start"])
    if not jobs:
        sys.exit(f"no jobs in the event log under {log_dir}")
    t0 = min([j["start"] for j in jobs] + [s["start"] for s in spans])

    print(f"{'job':>5} {'start_s':>8} {'wall_s':>7}  group / call site [description]")
    for j in jobs:
        wall = j["end"] - j["start"] if j["end"] is not None else float("nan")
        ran = _ran(ev, j)
        # pyspark sets no call site on some jobs; the last stage's name is Spark's own
        site = j["call_site"] or (ev.stages[ran[-1]]["name"] if ran else "")
        desc = f" [{j['description']}]" if j["description"] else ""
        print(f"{j['id']:>5} {j['start'] - t0:>8.2f} {wall:>7.2f}  {j['group'] or '-'} / {site}{desc}")
        for sid in ran:
            st = ev.stages[sid]
            py = f"  python tasks {st['python_tasks']}" if st["python_tasks"] else ""
            print(f"{'':>5} {'stage':>8} {sid:>7}  tasks {st['tasks']:>4}  run {st['run_s']:7.2f} s{py}")

    print()
    print(f"{'span':<32} {'start_s':>8} {'wall_s':>7} {'jobs':>5} {'py_stages':>9} {'py_tasks':>8}")
    for sp in (s for s in spans if s["parent"] is None):
        inside = [j for j in jobs if sp["start"] <= j["start"] <= sp["end"]]
        # a stage shared by several jobs counts once
        stages = {sid for j in inside for sid in _ran(ev, j)}
        py = [ev.stages[sid]["python_tasks"] for sid in stages if ev.stages[sid]["python_tasks"]]
        print(f"{sp['name']:<32} {sp['start'] - t0:>8.2f} {sp['end'] - sp['start']:>7.2f} {len(inside):>5}"
              f" {len(py):>9} {sum(py):>8}")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__.split("\n\n")[1])
    main(sys.argv[1])
