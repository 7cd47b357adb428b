# -*- coding: utf-8 -*-
"""Fixed driver cost per frame: operator tables resolve their schema once
per session, and small driver-built frames are JVM-local relations."""

import shutil
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from kgpipe import checkpoint, plans, queries
from kgpipe.canon import canonical_mapping
from kgpipe.queries import QUERIES
from kgpipe.schemas import CHECKPOINTS_SCHEMA, RUN_METRICS_SCHEMA

SF_DIR = "/root/testdata/sf0.001"


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_rebuilt_operator_launches_no_schema_job(spark):
    # the first build may infer (one job per table); a rebuild in the same
    # session reads the cached schemas and launches nothing
    build = lambda: QUERIES["dim_join_counts"](spark, SF_DIR)  # noqa: E731
    _jobs(spark, "schema-cache-first", build)
    df, n = _jobs(spark, "schema-cache-second", build)
    assert n == 0
    plans.assert_broadcast_join(df)
    assert {r.r_name for r in df.collect()}


def test_rewritten_table_is_inferred_again(spark, tmp_path):
    shutil.copy(f"{SF_DIR}/region.parquet", tmp_path / "region.parquet")
    before = queries._t(spark, str(tmp_path), "region")
    assert "r_extra" not in before.columns
    table = pq.read_table(tmp_path / "region.parquet")
    table = table.append_column("r_extra", pa.array(range(table.num_rows), pa.int64()))
    pq.write_table(table, tmp_path / "region.parquet")
    after = queries._t(spark, str(tmp_path), "region")
    assert after.columns == before.columns + ["r_extra"]
    assert after.count() == table.num_rows


def test_self_join_reads_resolve_apart(spark):
    # the cache holds schemas, not frames: each read is a new relation
    a = queries._t(spark, SF_DIR, "nation").alias("a")
    b = queries._t(spark, SF_DIR, "nation").alias("b")
    pairs = a.join(b, a.n_regionkey == b.n_regionkey).where(a.n_nationkey < b.n_nationkey)
    assert pairs.count() > 0


class _Capture:
    """Warehouse-table stand-in that keeps what is appended to it."""

    def __init__(self, schema):
        self.schema = schema
        self.frames = []

    def append(self, df):
        self.frames.append(df)


def _assert_local(df):
    plan = plans.physical_plan(df)
    assert "ExistingRDD" not in plan and "LocalTableScan" in plan, plan


def test_commit_rows_are_local_relations(spark):
    class Wh:
        run_metrics = _Capture(RUN_METRICS_SCHEMA)
        checkpoints = _Capture(CHECKPOINTS_SCHEMA)

    checkpoint._metrics_row(Wh, spark, "r", 3, 10, 9, 1, 2, "completed", 1.5)
    (metrics,) = Wh.run_metrics.frames
    _assert_local(metrics)
    m = metrics.collect()[0]
    assert (m.batch_idx, m.end, m.processed, m.fail, m.missing_detail_pages) == (3, 4, 10, 1, 2)
    assert (m.insert_rate_per_sec, m.error_rate) == (6.0, 0.1)

    at = datetime(2026, 1, 2, 3, 4, 5, 678901, tzinfo=timezone.utc)
    row = {
        "run_id": "r", "partition_key": "r-bucket-0", "status": "done",
        "rows_in": 7, "nodes_out": 5, "edges_out": 11, "lineage": "{}",
        "committed_at": at,
    }
    checkpoint._append_row(Wh.checkpoints, spark, row)
    (ck,) = Wh.checkpoints.frames
    _assert_local(ck)
    got = ck.collect()[0].asDict()
    committed = got.pop("committed_at")
    assert committed.replace(tzinfo=timezone.utc) == at  # UTC session zone
    assert got == {k: v for k, v in row.items() if k != "committed_at"}


def test_driver_election_is_a_local_relation(spark):
    edges = spark.createDataFrame(
        [(1, 2, "b", "a"), (2, 3, "a", "c")],
        "src_id long, dst_id long, src_name string, dst_name string",
    )
    mapping = canonical_mapping(edges)
    _assert_local(mapping)
    assert sorted(tuple(r) for r in mapping.collect()) == [(1, 2, "a"), (2, 2, "a"), (3, 2, "a")]
