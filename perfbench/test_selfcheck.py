"""Self-check of the benchmark at tiny inputs.

    python3 -m pytest perfbench/test_selfcheck.py -q

* every metric BENCHMARK.json names is printed, with its unit, by a run
  of each workload (end-to-end metrics untraced, per-layer metrics
  traced);
* the output checks reject a tampered output: a triple set with one
  triple dropped, and an operator result with one row changed;
* outside a checkout (only BENCHMARK.json and this directory present)
  the command fails without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


#: the benchmark command with the operator tables swapped for the sf0.001
#: ones; each run is its own process, as the benchmark is always run
TINY = (
    f"import sys; sys.path[:0] = {[HERE, ROOT]!r}; import inputs, run; "
    "inputs.OPS_TABLES = inputs.OPS_TABLES_TINY; sys.exit(run.main(sys.argv[1:]))"
)

#: per workload, the prefixes of the per-layer metrics of the layers it
#: runs, and the metrics among them that may legitimately read 0
LAYERS_RUN = {
    "warehouse_incremental": (
        ("session.", "parse.", "canon.", "pipeline.", "triples.", "checkpoint.", "materialize."),
        {"parse.gc_s"},
    ),
    "ops_suite": (("session.", "ops."), {"ops.gc_s"}),
}


def _last_record() -> dict:
    with open(os.path.join(run.WORK, "runs", "runs.jsonl")) as fh:
        return json.loads(fh.readlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_every_metric_is_printed_with_its_unit(workload, trace):
    proc = subprocess.run(
        [sys.executable, "-c", TINY, "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    wanted = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        if not trace:
            assert got["value"] > 0
    if trace:
        prefixes, may_be_zero = LAYERS_RUN[workload]
        for name, got in result["metrics"].items():
            if name.startswith(prefixes) and name not in may_be_zero:
                assert got["value"] > 0, name
        for name in ("trace.wall_s", "trace.untraced_wall_s"):
            assert result["metrics"][name]["value"] > 0, name
    if trace and workload == "warehouse_incremental":
        found = _last_record()["attribution"]
        terms, hz = set(found["parse.terms_barrier"]), set(found["parse.hz_barrier"])
        assert terms and hz and not terms & hz
        for layer in ("canon.mapping_job", "pipeline.triples_job", "materialize.write_jobs"):
            assert found[layer], layer
            assert not set(found[layer]) & (terms | hz), layer


def test_triple_check_rejects_a_dropped_triple():
    from kgpipe.golden import golden_triples

    import inputs
    import oracle

    run._isolate_environment()
    s = run.Session(None)
    try:
        work = os.path.join(run.WORK, "selfcheck")
        golden = oracle.golden_digest(s.spark, work, seed=3, scale=1)
        rows = sorted(golden_triples(inputs.regenerate_corpus(seed=3, scale=1)))
        schema = "subj string, pred string, obj string"
        intact = oracle.digest(s.spark.createDataFrame(rows, schema))
        tampered = oracle.digest(s.spark.createDataFrame(rows[1:], schema))
        assert oracle.digest_matches(intact, golden)
        assert not oracle.digest_matches(tampered, golden)
    finally:
        s.close()


def test_operator_check_rejects_a_changed_row():
    from kgpipe.queries import all_oracles

    import inputs
    import oracle

    con = oracle.duck_conn(inputs.OPS_TABLES_TINY)
    try:
        cols, rows = oracle.duck_rows(con, all_oracles()["tpch_q1_pricing"])
    finally:
        con.close()
    assert len(rows) > 1
    shuffled = [tuple(reversed(r)) for r in reversed(rows)]
    assert oracle.rows_match(cols, rows, list(reversed(cols)), shuffled)
    first = list(rows[0])
    first[-1] = first[-1] + 1
    assert not oracle.rows_match(cols, [tuple(first)] + rows[1:], cols, rows)
    assert not oracle.rows_match(cols, rows[1:], cols, rows)


def test_fails_without_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("_work", "__pycache__"))
    workload = BENCH["workloads"][0]["name"]
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
