"""tools/jobmap.py: Python tasks per stage, folded from an event log."""

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import jobmap  # noqa: E402

_MEMORY = {"Use Disk": True, "Use Memory": True}
_NONE = {"Use Disk": False, "Use Memory": False}


def _rdd(rid, scope_id, name, parents, level=_NONE, partitions=2):
    return {
        "RDD ID": rid, "Name": "MapPartitionsRDD", "Parent IDs": parents,
        "Scope": json.dumps({"id": scope_id, "name": name}),
        "Storage Level": level, "Number of Partitions": partitions,
    }


def _stage(sid, rdds, tasks=2):
    info = {"Stage ID": sid, "Stage Name": f"count at stage{sid}", "Number of Tasks": tasks,
            "RDD Info": rdds,
            "Accumulables": [{"Name": "internal.metrics.executorRunTime", "Value": 1500}]}
    return [{"Event": "SparkListenerStageSubmitted", "Stage Info": info},
            {"Event": "SparkListenerStageCompleted", "Stage Info": info}]


def test_python_tasks_skip_cached_reads(tmp_path, capsys):
    """A stage that reads a checkpoint an earlier stage computed runs no
    Python; after the checkpoint is unpersisted, the next stage over it
    runs the Python operator again. A union stage counts only the tasks
    of its Python branch."""
    scan = _rdd(0, "1", "Scan", [])
    udf = [_rdd(1, "2", "ArrowEvalPython", [0]), _rdd(2, "2", "ArrowEvalPython", [1])]
    checkpoint = _rdd(3, "3", "AdaptiveSparkPlan", [2], level=_MEMORY)

    def reader(rid):
        return _rdd(rid, "4", "WholeStageCodegen (1)", [3])

    union = [_rdd(7, "5", "Scan", [], partitions=8), _rdd(8, "6", "Union", [4, 7], partitions=10)]
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1, 2, 3], "Properties": {"spark.jobGroup.id": "g"}},
        *_stage(0, [scan, *udf, checkpoint, reader(4)]),
        *_stage(1, [scan, *udf, checkpoint, reader(5)]),
        {"Event": "SparkListenerUnpersistRDD", "RDD ID": 3},
        *_stage(2, [scan, *udf, checkpoint, reader(6)]),
        {"Event": "SparkListenerUnpersistRDD", "RDD ID": 3},
        *_stage(3, [scan, *udf, checkpoint, reader(4), *union], tasks=10),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
    ]
    log = tmp_path / "eventlog"
    log.mkdir()
    (log / "events_1_local-1").write_text("".join(json.dumps(e) + "\n" for e in events))

    stages = jobmap.StageLog(str(log)).stages
    assert [stages[s]["python_tasks"] for s in range(4)] == [2, 0, 2, 2]
    assert stages[3]["tasks"] == 10 and stages[0]["run_s"] == 1.5

    jobmap.main(str(log))
    out = capsys.readouterr().out
    assert "g / count at stage3" in out
    assert "python tasks 2" in out
