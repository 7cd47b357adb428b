# -*- coding: utf-8 -*-
"""Checkpointed runner: resume, replay idempotence, metrics vocabulary
(SURVEY.md §2.9 T1-T8, test plan §5 item 4)."""

import pytest
from pyspark.sql import functions as F

from kgpipe.checkpoint import finalize, pending_units, run_incremental
from kgpipe.corpus import corpus_to_dataframes
from kgpipe.materialize import SnapshotTable, Warehouse
from kgpipe.pipeline import build_graph
from kgpipe.schemas import NODES_SCHEMA


@pytest.fixture()
def frames(spark, small_corpus):
    return corpus_to_dataframes(spark, small_corpus)


def _triples(wh, spark):
    _, t = finalize(wh, spark)
    return {(r.subj, r.pred, r.obj) for r in t.collect()}


@pytest.mark.slow
def test_incremental_equals_single_shot(spark, small_corpus, frames, tmp_path):
    cdf, sdf = frames
    wh = run_incremental(spark, cdf, sdf, str(tmp_path / "wh"), n_buckets=3)
    single = build_graph(spark, cdf, sdf)
    t_incr = _triples(wh, spark)
    t_single = {(r.subj, r.pred, r.obj) for r in single.triples.collect()}
    assert t_incr == t_single
    # every bucket checkpointed done, metrics vocabulary intact
    assert pending_units(wh, spark, 3) == []
    m = wh.run_metrics.read(spark)
    assert m.count() == 3
    reasons = [r.termination_reason for r in m.orderBy("batch_idx").collect()]
    assert reasons == ["batch_completed", "batch_completed", "all_done"]
    row = m.first()
    assert row.processed == row.success + row.missing_detail_pages
    # resume watermark equivalent (A3): max(end) over metrics
    assert m.agg(F.max("end")).first()[0] == 3


@pytest.mark.slow
def test_incremental_equals_single_shot_with_malformed_pages(
    spark, frames, tmp_path
):
    """The incremental runner's global hanzi dimension must apply the
    SAME validity gate as the single-shot pipeline — on a corpus with a
    corrupt zidian page the two must still emit identical triples (the
    path-codepoint dimension of round 1 silently diverged here)."""
    cdf, sdf = frames
    bad_path = cdf.where(F.col("path").startswith("zidian/")).select("path").first().path
    corrupt = cdf.withColumn(
        "content",
        F.when(F.col("path") == bad_path, F.lit("<div>truncated")).otherwise(
            F.col("content")
        ),
    )
    wh = run_incremental(spark, corrupt, sdf, str(tmp_path / "whmal"), n_buckets=3)
    single = build_graph(spark, corrupt, sdf)
    assert _triples(wh, spark) == {
        (r.subj, r.pred, r.obj) for r in single.triples.collect()
    }
    # the corrupted page must be recorded, not silently dropped
    assert wh.errors.read(spark).where(F.col("key") == bad_path).count() == 1


@pytest.mark.slow
def test_resumed_bucket_records_its_errors_once(spark, frames, tmp_path):
    """A bucket interrupted after its commit re-runs on resume; its
    failed page must still have exactly one errors row."""
    cdf, sdf = frames
    bad_path = cdf.where(F.col("path").startswith("zidian/")).select("path").first().path
    corrupt = cdf.withColumn(
        "content",
        F.when(F.col("path") == bad_path, F.lit("<div>truncated")).otherwise(
            F.col("content")
        ),
    )
    root = str(tmp_path / "wh")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_incremental(spark, corrupt, sdf, root, n_buckets=1, fail_buckets={0})
    wh = run_incremental(spark, corrupt, sdf, root, n_buckets=1)
    assert pending_units(wh, spark, 1) == []
    assert wh.errors.read(spark).where(F.col("key") == bad_path).count() == 1


@pytest.mark.slow
def test_crash_resume_converges(spark, frames, tmp_path):
    cdf, sdf = frames
    root = str(tmp_path / "wh_crash")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_incremental(spark, cdf, sdf, root, n_buckets=3, fail_buckets={1})
    wh_partial = Warehouse(root)
    # bucket 0 committed, bucket 1 data written but NOT checkpointed
    assert sorted(pending_units(wh_partial, spark, 3)) == [1, 2]
    # resume: re-runs bucket 1 (replay over existing data) + bucket 2
    wh = run_incremental(spark, cdf, sdf, root, n_buckets=3)
    assert pending_units(wh, spark, 3) == []
    # converged state identical to a clean run
    clean = run_incremental(spark, cdf, sdf, str(tmp_path / "wh_clean"), n_buckets=3)
    assert _triples(wh, spark) == _triples(clean, spark)
    assert wh.nodes.read(spark).count() == clean.nodes.read(spark).count()
    assert wh.edges.read(spark).count() == clean.edges.read(spark).count()


@pytest.mark.slow
def test_failed_concurrent_commit_orphans_nothing(spark, frames, monkeypatch, tmp_path):
    """When one of a unit's concurrent table commits fails, the run
    raises that error only after the other commits finished: no job of
    the caller's group is still running, no checkpoint row is written,
    and a re-run converges to an uninterrupted run's nodes and edges."""
    cdf, sdf = frames
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def broken(self, *args, **kwargs):
        raise RuntimeError("injected commit failure")

    root = str(tmp_path / "wh")
    with monkeypatch.context() as patch:
        patch.setattr(SnapshotTable, "insert_ignore", broken)
        sc.setJobGroup("commit-group", "a failing commit")
        try:
            with pytest.raises(RuntimeError, match="injected commit failure"):
                run_incremental(spark, cdf, sdf, root, n_buckets=1)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            assert tracker.getJobIdsForGroup("commit-group")
            running = set(tracker.getActiveJobsIds())
            assert running & set(tracker.getJobIdsForGroup("commit-group")) == set()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    wh = Warehouse(root)
    assert wh.checkpoints.current_version() is None
    assert wh.nodes.current_version() == 1  # the nodes merge did commit

    wh = run_incremental(spark, cdf, sdf, root, n_buckets=1)
    clean = run_incremental(spark, cdf, sdf, str(tmp_path / "clean"), n_buckets=1)
    for table in ("nodes", "edges"):
        rows = [
            sorted(tuple(r) for r in getattr(w, table).read(spark).drop("updated_at").collect())
            for w in (wh, clean)
        ]
        assert rows[0] == rows[1], table


@pytest.mark.slow
def test_commit_jobs_are_described(spark, frames, monkeypatch, tmp_path):
    """Each table commit of a unit runs under its own job description,
    on top of the caller's properties, so an event log tells the nodes
    merge's jobs from the edges and errors inserts'."""
    cdf, sdf = frames
    bad_path = cdf.where(F.col("path").startswith("zidian/")).select("path").first().path
    corrupt = cdf.withColumn(
        "content",
        F.when(F.col("path") == bad_path, F.lit("<div>truncated")).otherwise(
            F.col("content")
        ),
    )
    sc = spark.sparkContext
    seen = []

    def recording(method):
        def run(self, *args, **kwargs):
            seen.append(
                (self.name, sc.getLocalProperty("spark.job.description"),
                 sc.getLocalProperty("spark.jobGroup.id"))
            )
            return method(self, *args, **kwargs)

        return run

    for name in ("merge_best", "insert_ignore"):
        monkeypatch.setattr(SnapshotTable, name, recording(getattr(SnapshotTable, name)))
    sc.setJobGroup("described-group", "a described run")
    try:
        run_incremental(spark, corrupt, sdf, str(tmp_path / "wh"), n_buckets=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sorted(seen) == [
        ("edges", "kgpipe commit edges", "described-group"),
        ("errors", "kgpipe commit errors", "described-group"),
        ("nodes", "kgpipe commit nodes", "described-group"),
    ]


@pytest.mark.slow
def test_rerun_is_noop(spark, frames, tmp_path):
    cdf, sdf = frames
    root = str(tmp_path / "wh2")
    wh = run_incremental(spark, cdf, sdf, root, n_buckets=2)
    v_nodes = wh.nodes.current_version()
    wh2 = run_incremental(spark, cdf, sdf, root, n_buckets=2)
    assert wh2.nodes.current_version() == v_nodes  # nothing pending → no commits


def test_snapshot_isolation_and_truncate(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"), NODES_SCHEMA)
    assert t.read(spark).count() == 0 and t.current_version() is None
    df = spark.createDataFrame(
        [(1, "Idiom", "a", None, None, True, "r", None)], NODES_SCHEMA
    )
    v1 = t.append(df)
    assert v1 == 1 and t.read(spark).count() == 1
    t.append(df.withColumn("node_id", F.lit(2)))
    assert t.read(spark).count() == 2
    # old snapshot still readable (reader isolation)
    assert t.read(spark, version=1).count() == 1
    t.truncate(spark)
    assert t.read(spark).count() == 0


@pytest.mark.slow
def test_run_scoped_checkpoints_and_bucket_mismatch(spark, frames, tmp_path):
    """Resume is scoped to (run_id, n_buckets): another run_id is a fresh
    sweep; a different n_buckets for a recorded run fails loudly instead
    of silently skipping bucket indices under the wrong modulus."""
    cdf, sdf = frames
    root = str(tmp_path / "whrs")
    run_incremental(spark, cdf, sdf, root, run_id="run-1", n_buckets=2)
    wh = Warehouse(root)
    assert pending_units(wh, spark, 2, run_id="run-1") == []
    assert pending_units(wh, spark, 2, run_id="run-2") == [0, 1]
    with pytest.raises(ValueError, match="n_buckets"):
        pending_units(wh, spark, 4, run_id="run-1")


@pytest.mark.slow
def test_retry_errors_converges(spark, small_corpus, tmp_path):
    """T10 (reference retry_errors.py:79-128): corrupt page → errors row;
    retry via the runner's prepare_retry/finish_retry flow. Each retry
    gets a UNIQUE run_id (so its buckets actually reprocess — a constant
    suffix would see the previous retry's checkpoints and no-op), and the
    errors worklist is rewritten only AFTER the retry completes, so a
    still-failing page keeps its row and a mid-retry crash loses nothing."""
    from kgpipe.checkpoint import pending_units
    from kgpipe.runner import finish_retry, prepare_retry

    cdf, sdf = corpus_to_dataframes(spark, small_corpus)
    bad_path = cdf.where(F.col("path").startswith("zidian/")).select("path").first().path
    corrupt = cdf.withColumn(
        "content",
        F.when(F.col("path") == bad_path, F.lit("<<<not html")).otherwise(
            F.col("content")
        ),
    )
    root = str(tmp_path / "whretry")
    wh = run_incremental(spark, corrupt, sdf, root, run_id="run-1", n_buckets=2)
    errs = wh.errors.read(spark)
    assert errs.where(F.col("key") == bad_path).count() == 1

    # retry 1: the page is STILL corrupt — it must re-record itself and
    # stay on the worklist (truncate-before-run would have lost it)
    # a FOREIGN error row (another writer sharing the warehouse, e.g. a
    # stream run, recording a key outside this retry's worklist) must
    # survive every finish_retry rewrite — the round-3 collapse-to-run_id
    # behavior silently dropped it from the worklist
    foreign = spark.createDataFrame(
        [("stream-7", "zidian", "zidian/never-crawled", "boom")],
        "run_id string, partition_key string, key string, error string",
    )
    wh.errors.append(foreign)

    retry_corpus, retry_id = prepare_retry(spark, wh, corrupt, "run-1")
    assert retry_id == "run-1-retry-1"
    wh = run_incremental(spark, retry_corpus, sdf, root, run_id=retry_id, n_buckets=2)
    finish_retry(spark, wh, retry_id, retry_corpus)
    assert wh.errors.read(spark).where(F.col("key") == bad_path).count() == 1
    assert (
        wh.errors.read(spark).where(F.col("key") == "zidian/never-crawled").count() == 1
    )

    # retry 2: page fixed; the fresh counter run_id means every bucket is
    # genuinely pending again. The foreign key is on the worklist but
    # absent from the corpus — not retried, so it must still survive.
    retry_corpus, retry_id = prepare_retry(spark, wh, cdf, "run-1")
    assert retry_id == "run-1-retry-2"
    assert pending_units(wh, spark, 2, run_id=retry_id) == [0, 1]
    wh = run_incremental(spark, retry_corpus, sdf, root, run_id=retry_id, n_buckets=2)
    finish_retry(spark, wh, retry_id, retry_corpus)
    remaining = wh.errors.read(spark)
    assert remaining.count() == 1  # only the foreign (never-retried) row
    assert remaining.first().key == "zidian/never-crawled"

    def node_set(w):
        return {
            (r.entity_type, r.name, r.crawled)
            for r in w.nodes.read(spark).select("entity_type", "name", "crawled").collect()
        }

    clean = run_incremental(
        spark, cdf, sdf, str(tmp_path / "whclean"), run_id="run-1", n_buckets=2
    )
    assert node_set(wh) == node_set(clean)


@pytest.mark.slow
def test_termination_vocabulary_reachable(spark, frames, tmp_path):
    """T7/T8: every reference termination_reason value (README.md:50-56)
    must be reachable from a corpus-quality signal."""
    cdf, sdf = frames

    # blocked_ip: every record in the unit fails (all-corrupt zidian)
    zid = cdf.where(F.col("path").startswith("zidian/")).withColumn(
        "content", F.lit("<<<not html")
    )
    wh = run_incremental(
        spark, zid, sdf.where(F.lit(False)), str(tmp_path / "whb"), n_buckets=1
    )
    assert [r.termination_reason for r in wh.run_metrics.read(spark).collect()] == [
        "blocked_ip"
    ]

    # network_outage: seeds pending but no pages arrived
    wh = run_incremental(
        spark, cdf.where(F.lit(False)), sdf, str(tmp_path / "whn"), n_buckets=1
    )
    assert [r.termination_reason for r in wh.run_metrics.read(spark).collect()] == [
        "network_outage"
    ]

    # manual_exit: the SIGINT analogue records a metrics row, then aborts
    with pytest.raises(RuntimeError, match="injected failure"):
        run_incremental(spark, cdf, sdf, str(tmp_path / "whm"), n_buckets=2,
                        fail_buckets={0})
    reasons = [
        r.termination_reason
        for r in Warehouse(str(tmp_path / "whm")).run_metrics.read(spark).collect()
    ]
    assert reasons == ["manual_exit"]


@pytest.mark.slow
def test_sweep_gap_accounting(spark, frames, tmp_path):
    """S7: codepoints in the sweep range with no zidian page are counted
    as missing (reference hanyuguoxue.py:1146-1242) — plant a hole and
    assert the tally."""
    cdf, sdf = frames
    cps = sorted(
        int(r[0])
        for r in cdf.where(F.col("path").startswith("zidian/"))
        .select(F.regexp_extract("path", r"zi-(\d+)", 1).cast("long"))
        .collect()
    )
    lo, hi = cps[0], cps[-1]
    # plant a hole: drop one page from the middle of the range
    hole = cps[len(cps) // 2]
    holed = cdf.where(
        ~(
            F.col("path").startswith("zidian/")
            & (F.regexp_extract("path", r"zi-(\d+)", 1).cast("long") == hole)
        )
    )
    expected = (hi - lo + 1) - (len(set(cps)) - 1)
    wh = run_incremental(
        spark, holed, sdf, str(tmp_path / "whsweep"), n_buckets=2,
        sweep_range=(lo, hi),
    )
    row = (
        wh.run_metrics.read(spark)
        .where(F.col("termination_reason") == "sweep_completed")
        .first()
    )
    assert row is not None and row.missing_detail_pages == expected
    assert row.missing_detail_pages >= 1

    # --sweep on a run whose buckets are ALL already checkpointed must
    # still run the gap accounting (previously silently skipped when
    # nothing was pending)
    wh = run_incremental(
        spark, holed, sdf, str(tmp_path / "whsweep"), n_buckets=2,
        sweep_range=(lo, hi),
    )
    sweep_rows = (
        wh.run_metrics.read(spark)
        .where(F.col("termination_reason") == "sweep_completed")
        .collect()
    )
    assert len(sweep_rows) == 2
    assert all(r.missing_detail_pages == expected for r in sweep_rows)


def test_insert_ignore_commits_are_o_delta(spark, tmp_path):
    """The scale contract for the edges sink: bytes physically written per
    commit must track the DELTA size, not the table size (manifest reuse
    of existing files — an O(table) copy-on-write would grow linearly)."""
    from kgpipe.schemas import EDGES_SCHEMA

    t = SnapshotTable(
        str(tmp_path / "edges"), EDGES_SCHEMA,
        bucket_keys=["src_id", "dst_id", "rel_type"], n_buckets=8,
    )
    batch_rows = 500
    deltas = []
    for i in range(5):
        rows = [
            (i * batch_rows + j, j, "synonym", f"s{i}-{j}", f"d{j}", None, "r")
            for j in range(batch_rows)
        ]
        v = t.insert_ignore(
            spark.createDataFrame(rows, EDGES_SCHEMA),
            keys=["src_id", "dst_id", "rel_type"],
            order_by=["src_name"],
        )
        deltas.append(t.commit_delta_bytes(v))
    assert t.read(spark).count() == 5 * batch_rows
    # equal-size disjoint batches → commit write volume must stay flat
    # (2x headroom for parquet metadata variance), not grow ~5x
    assert max(deltas) <= 2 * min(deltas), deltas
    # replaying a batch adds (near-)zero data files
    v = t.insert_ignore(
        spark.createDataFrame(
            [(0 * batch_rows + j, j, "synonym", f"s0-{j}", f"d{j}", None, "r")
             for j in range(batch_rows)],
            EDGES_SCHEMA,
        ),
        keys=["src_id", "dst_id", "rel_type"],
        order_by=["src_name"],
    )
    assert t.read(spark).count() == 5 * batch_rows
    assert t.commit_delta_bytes(v) < min(deltas) / 2


def test_merge_best_rewrites_only_colliding_buckets(spark, tmp_path):
    """nodes-sink scale contract: a merge touching few keys must carry the
    untouched buckets over by reference, not rewrite the table."""
    from kgpipe.schemas import NODES_SCHEMA

    t = SnapshotTable(
        str(tmp_path / "nodes"), NODES_SCHEMA, bucket_keys=["node_id"], n_buckets=8
    )
    base = [(j, "Hanzi", f"n{j}", None, None, False, "r", None) for j in range(2000)]
    t.merge_best(
        spark.createDataFrame(base, NODES_SCHEMA),
        keys=["node_id"],
        priority=[F.col("crawled").desc(), F.col("url").asc_nulls_last()],
    )
    full_write = t.commit_delta_bytes(1)
    # upsert ONE key → at most 1/8 of the buckets rewritten
    v = t.merge_best(
        spark.createDataFrame(
            [(7, "Hanzi", "n7", "zidian/7", "{}", True, "r", None)], NODES_SCHEMA
        ),
        keys=["node_id"],
        priority=[F.col("crawled").desc(), F.col("url").asc_nulls_last()],
    )
    assert t.commit_delta_bytes(v) < full_write / 2
    assert t.read(spark).count() == 2000
    assert t.read(spark).where("node_id = 7").first().crawled is True


def test_compact_and_expire_snapshots(spark, tmp_path):
    """Maintenance ops: compaction caps file-count growth without
    changing table contents; snapshot expiry deletes unreferenced data
    files while retained versions stay readable (time travel)."""
    from kgpipe.schemas import EDGES_SCHEMA

    t = SnapshotTable(
        str(tmp_path / "tc"), EDGES_SCHEMA,
        bucket_keys=["src_id", "dst_id", "rel_type"], n_buckets=4,
    )
    for i in range(4):
        rows = [(i * 100 + j, j, "synonym", f"s{i}", f"d{j}", None, "r") for j in range(50)]
        t.insert_ignore(
            spark.createDataFrame(rows, EDGES_SCHEMA),
            keys=["src_id", "dst_id", "rel_type"], order_by=["src_name"],
        )
    before = {(r.src_id, r.dst_id) for r in t.read(spark).collect()}
    files_before = len(t.manifest())
    v = t.compact(spark)
    assert len(t.manifest(v)) < files_before
    assert {(r.src_id, r.dst_id) for r in t.read(spark).collect()} == before

    removed = t.expire_snapshots(keep_last=1)
    assert removed > 0
    assert {(r.src_id, r.dst_id) for r in t.read(spark).collect()} == before
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        t.manifest(1)


def test_merge_best_order_independent(spark, tmp_path):
    crawled = spark.createDataFrame(
        [(1, "Idiom", "a", "chengyu/a", "{}", True, "r", None)], NODES_SCHEMA
    )
    stub = spark.createDataFrame(
        [(1, "Idiom", "a", None, None, False, "r", None)], NODES_SCHEMA
    )
    prio = [F.col("crawled").desc(), F.col("url").asc_nulls_last()]
    t1 = SnapshotTable(str(tmp_path / "o1"), NODES_SCHEMA)
    t1.merge_best(crawled, ["node_id"], prio)
    t1.merge_best(stub, ["node_id"], prio)
    t2 = SnapshotTable(str(tmp_path / "o2"), NODES_SCHEMA)
    t2.merge_best(stub, ["node_id"], prio)
    t2.merge_best(crawled, ["node_id"], prio)
    r1, r2 = t1.read(spark).first(), t2.read(spark).first()
    assert r1.crawled and r2.crawled and r1.url == r2.url == "chengyu/a"


def test_merge_elections_match_the_window(spark, tmp_path):
    """merge_best and merge_upsert elect through dedup_first on ascending
    derived keys; over a current table and an incoming batch they keep
    the row a row_number() window over the same order ranks first, for
    every direction and NULLS placement, on boolean and integer terms.
    A DESC term on a column that has no negation is refused."""
    schema = "k int, b boolean, v int, tag string"
    table_schema = spark.createDataFrame([], schema).schema
    current = [(k, b, v, "cur") for k, (b, v) in enumerate([(True, 1), (None, 0), (False, None)])]
    incoming = [
        (k, b, v, "new")
        for k, (b, v) in enumerate([(False, 2), (True, None), (None, 1), (True, 3)])
    ] + [(3, False, 0, "new2")]

    def keep(order_sql, rows):
        spark.createDataFrame(rows, schema).createOrReplaceTempView("both")
        return sorted(tuple(r)[:4] for r in spark.sql(
            f"SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY k ORDER BY {order_sql}) "
            "AS _rn FROM both) WHERE _rn = 1"
        ).collect())

    cases = [
        (F.col(c).desc_nulls_first() if d == "DESC" and n == "FIRST" else
         F.col(c).desc_nulls_last() if d == "DESC" else
         F.col(c).asc_nulls_first() if n == "FIRST" else F.col(c).asc_nulls_last(),
         f"{c} {d} NULLS {n}")
        for c in ("b", "v") for d in ("ASC", "DESC") for n in ("FIRST", "LAST")
    ]
    for i, (prio, order_sql) in enumerate(cases):
        t = SnapshotTable(str(tmp_path / f"best{i}"), table_schema, ["k"], 4)
        t.merge_best(spark.createDataFrame(current, schema), ["k"], [prio, "tag"])
        t.merge_best(spark.createDataFrame(incoming, schema), ["k"], [prio, "tag"])
        got = sorted(tuple(r) for r in t.read(spark).collect())
        assert got == keep(f"{order_sql}, tag", current + incoming), order_sql

    t = SnapshotTable(str(tmp_path / "upsert"), table_schema, ["k"], 4)
    t.merge_upsert(spark.createDataFrame(current, schema), ["k"], ["tag"])
    t.merge_upsert(spark.createDataFrame(incoming, schema), ["k"], ["tag"])
    got = sorted(tuple(r) for r in t.read(spark).collect())
    assert got == keep("tag", incoming)  # every current key is replaced
    with pytest.raises(ValueError, match="DESC order needs a boolean or numeric column"):
        t.merge_best(spark.createDataFrame(incoming, schema), ["k"], [F.col("tag").desc()])


def test_iceberg_sql_migration_contract(spark, tmp_path):
    """VERDICT r4 item 7: the 1:1 Iceberg correspondence is executable
    evidence — each operation emits its equivalent Iceberg Spark-SQL
    statement into sql_log, golden-tested verbatim so a deployment can
    replay the contract against a real catalog."""
    from pyspark.sql import functions as F

    from kgpipe.schemas import NODES_SCHEMA

    t = SnapshotTable(
        str(tmp_path / "nodes"), NODES_SCHEMA, bucket_keys=["node_id"], n_buckets=16
    )
    row = [(1, "Hanzi", "王", None, "{}", True, "run-1", None)]
    df = spark.createDataFrame(row, NODES_SCHEMA)
    t.append(df)
    t.merge_best(
        df,
        keys=["node_id"],
        priority=[F.col("crawled").desc(), F.col("url").asc_nulls_last()],
    )
    t.merge_upsert(df, keys=["node_id"], order_by=["name"])
    t.insert_ignore(df, keys=["node_id"], order_by=["name"])
    t.compact(spark)
    t.expire_snapshots(keep_last=1)
    t.truncate(spark)
    assert t.sql_log == [
        "CREATE TABLE IF NOT EXISTS nodes (node_id bigint, entity_type string, "
        "name string, url string, properties string, crawled boolean, "
        "run_id string, updated_at timestamp) USING iceberg "
        "PARTITIONED BY (bucket(16, node_id))",
        "INSERT INTO nodes SELECT * FROM incoming_batch",
        "MERGE INTO nodes t USING (SELECT * FROM (SELECT src.*, row_number() "
        "OVER (PARTITION BY node_id ORDER BY crawled DESC NULLS LAST, "
        "url ASC NULLS LAST) AS _rn FROM incoming_batch src) WHERE _rn = 1) s "
        "ON t.node_id = s.node_id "
        "WHEN MATCHED AND ((((s.crawled IS NOT NULL AND t.crawled IS NULL) "
        "OR s.crawled > t.crawled)) OR (s.crawled <=> t.crawled AND "
        "((s.url IS NOT NULL AND t.url IS NULL) OR s.url < t.url))) "
        "THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        "MERGE INTO nodes t USING (SELECT * FROM (SELECT src.*, row_number() "
        "OVER (PARTITION BY node_id ORDER BY name ASC NULLS LAST) AS _rn "
        "FROM incoming_batch src) WHERE _rn = 1) s ON t.node_id = s.node_id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        "MERGE INTO nodes t USING (SELECT * FROM (SELECT src.*, row_number() "
        "OVER (PARTITION BY node_id ORDER BY name ASC NULLS LAST) AS _rn "
        "FROM incoming_batch src) WHERE _rn = 1) s ON t.node_id = s.node_id "
        "WHEN NOT MATCHED THEN INSERT *",
        "CALL system.rewrite_data_files(table => 'nodes')",
        "CALL system.expire_snapshots(table => 'nodes', retain_last => 1)",
        "TRUNCATE TABLE nodes",
    ]


def test_beats_pred_matches_window_election(spark):
    """ADVICE r5 (medium): the emitted MERGE predicate must elect the
    same winner as the local window election when a priority value is
    NULL — e.g. a crawled row with a url must beat a stub whose url is
    NULL under url ASC NULLS LAST. Exhaustively compares the SQL
    predicate against the row_number() election over every (s, t) value
    pair in {NULL, 0, 1} for all four direction × nulls combinations."""
    from kgpipe.materialize import _beats_pred, _order_terms

    specs = {
        ("ASC", "LAST"): F.col("v").asc_nulls_last(),
        ("ASC", "FIRST"): F.col("v").asc_nulls_first(),
        ("DESC", "LAST"): F.col("v").desc_nulls_last(),
        ("DESC", "FIRST"): F.col("v").desc_nulls_first(),
    }
    vals = [None, 0, 1]
    for (d, n), col in specs.items():
        terms = _order_terms([col])
        assert terms == [("v", d, n)]
        pred = _beats_pred(terms)
        for sv in vals:
            for tv in vals:
                s_lit = "CAST(NULL AS INT)" if sv is None else str(sv)
                t_lit = "CAST(NULL AS INT)" if tv is None else str(tv)
                got = spark.sql(
                    f"SELECT coalesce({pred}, false) AS beats FROM "
                    f"(SELECT {s_lit} AS v) s CROSS JOIN (SELECT {t_lit} AS v) t"
                ).first().beats
                order = sorted(
                    [("s", sv), ("t", tv)],
                    key=lambda kv: (
                        (kv[1] is None) if n == "LAST" else (kv[1] is not None),
                        (-kv[1] if d == "DESC" else kv[1]) if kv[1] is not None else 0,
                        kv[0],  # tie → s does NOT strictly beat t
                    ),
                )
                expected = order[0][0] == "s" and sv != tv
                assert got == expected, (d, n, sv, tv, got, expected)


def test_merge_best_null_priority_replay_consistent(spark, tmp_path):
    """The ADVICE scenario end-to-end: current row has url NULL (stub),
    incoming crawled row has a url — the local merge must keep the
    crawled row AND the emitted MERGE predicate must say 'update'."""
    from kgpipe.materialize import _beats_pred, _order_terms

    prio = [F.col("crawled").desc(), F.col("url").asc_nulls_last()]
    t = SnapshotTable(str(tmp_path / "n"), NODES_SCHEMA)
    stub = spark.createDataFrame(
        [(1, "Idiom", "a", None, None, True, "r", None)], NODES_SCHEMA
    )
    crawled = spark.createDataFrame(
        [(1, "Idiom", "a", "chengyu/a", "{}", True, "r", None)], NODES_SCHEMA
    )
    t.merge_best(stub, ["node_id"], prio)
    t.merge_best(crawled, ["node_id"], prio)
    assert t.read(spark).first().url == "chengyu/a"
    pred = _beats_pred(_order_terms(prio))
    beats = spark.sql(
        f"SELECT coalesce({pred}, false) AS b FROM "
        "(SELECT true AS crawled, 'chengyu/a' AS url) s CROSS JOIN "
        "(SELECT true AS crawled, CAST(NULL AS STRING) AS url) t"
    ).first().b
    assert beats is True


def _bucket_by_key(spark, keys, n_buckets):
    """The runner's bucket of each key: a term page path buckets on its
    normalized slug, a zidian path on itself, a seed name normalized."""
    from kgpipe.checkpoint import bucket_of
    from kgpipe.link import normalize_title

    k = F.col("k")
    key = F.when(
        k.rlike("^(chengyu|cidian)/"), normalize_title(F.element_at(F.split(k, "/"), 2))
    ).otherwise(F.when(k.startswith("zidian/"), k).otherwise(normalize_title(k)))
    df = spark.createDataFrame([(x,) for x in keys], "k string")
    return {r.k: r.b for r in df.select("k", bucket_of(key, n_buckets).alias("b")).collect()}


@pytest.mark.slow
def test_run_parses_each_page_once(spark, frames, parse_log, tmp_path):
    """One incremental run feeds every page through its parse UDF exactly
    once: the composed-of dimension and every bucket read one staging."""
    cdf, sdf = frames
    run_incremental(spark, cdf, sdf, str(tmp_path / "wh"), n_buckets=3)
    pages = [r.path for r in cdf.select("path").collect()]
    assert parse_log() == {p: 1 for p in pages}


@pytest.mark.slow
def test_resume_parses_only_pending_term_pages(spark, frames, parse_log, tmp_path):
    """A resume parses every zidian page once (the dimension is global)
    and, of the term pages, only the pending buckets' — once each."""
    cdf, sdf = frames
    root = str(tmp_path / "wh")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_incremental(spark, cdf, sdf, root, n_buckets=3, fail_buckets={1})
    assert pending_units(Warehouse(root), spark, 3) == [1, 2]
    bucket = _bucket_by_key(spark, [r.path for r in cdf.select("path").collect()], 3)
    # the done bucket 0 holds term pages, which the resume must skip
    assert any(b == 0 for p, b in bucket.items() if not p.startswith("zidian/"))
    before = parse_log()
    run_incremental(spark, cdf, sdf, root, n_buckets=3)
    expected = {p: 1 for p, b in bucket.items() if p.startswith("zidian/") or b in (1, 2)}
    assert parse_log() - before == expected


@pytest.mark.slow
def test_run_releases_its_pins(spark, frames, tmp_path):
    """run_incremental leaves no cached block behind — neither its
    staging nor a bucket's frames — on return and on an injected
    failure."""
    from kgpipe.session import persistent_rdd_ids

    cdf, sdf = frames
    sc = spark.sparkContext
    entry = persistent_rdd_ids(sc)
    run_incremental(spark, cdf, sdf, str(tmp_path / "wh"), n_buckets=3)
    assert persistent_rdd_ids(sc) <= entry
    with pytest.raises(RuntimeError, match="injected failure"):
        run_incremental(spark, cdf, sdf, str(tmp_path / "whf"), n_buckets=3, fail_buckets={1})
    assert persistent_rdd_ids(sc) <= entry


@pytest.mark.slow
def test_seed_links_to_page_in_another_bucket(spark, small_corpus, tmp_path):
    """A chengyu page whose path slug differs from its <h1> title can
    hash to another bucket than its seed. The runner links the seed
    anyway, like the single-shot pipeline: same triples, same missing
    seeds."""
    from kgpipe.schemas import CORPUS_SCHEMA, SEED_SCHEMA

    # a page whose <h1> equals its slug, so its seed links in the fixture
    page = next(
        r for r in small_corpus.rows
        if r["path"].startswith("chengyu/") and f"<h1>{r['path'][8:]}</h1>" in r["content"]
    )
    name = page["path"][8:]
    candidates = [f"chengyu/{name}-{i}" for i in range(20)]
    bucket = _bucket_by_key(spark, [name, *candidates], 3)
    path = next(c for c in candidates if bucket[c] != bucket[name])
    assert bucket[path] != bucket[name]  # page and seed bucket apart
    rows = [{**r, "path": path} if r is page else r for r in small_corpus.rows]
    cdf = spark.createDataFrame(rows, CORPUS_SCHEMA)
    sdf = spark.createDataFrame(small_corpus.seeds, SEED_SCHEMA)

    wh = run_incremental(spark, cdf, sdf, str(tmp_path / "wh"), n_buckets=3)
    single = build_graph(spark, cdf, sdf)
    assert _triples(wh, spark) == {(r.subj, r.pred, r.obj) for r in single.triples.collect()}
    missing = wh.run_metrics.read(spark).agg(F.sum("missing_detail_pages")).first()[0]
    assert missing == single.missing.count()


def test_insert_ignore_dedup_matches_sql_window(spark):
    """insert_ignore dedups its batch with a min-over-struct aggregate;
    its MERGE statement (sql_log) keeps the row_number() window. Over
    batches with duplicate keys and NULL or tied order_by values, the
    aggregate must elect a row the window ranks first, the window's own
    row wherever the ordering leaves no tie, and the same rows at 1 and
    8 input partitions."""
    import random

    from kgpipe.materialize import _dedup_source_sql, _order_terms
    from kgpipe.triples import dedup_first

    keys, order_by = ["k1", "k2"], ["o"]
    schema = "k1 int, k2 string, o int, p string, q long"
    sql = f"SELECT * FROM {_dedup_source_sql(keys, _order_terms(order_by))}"

    def rows_of(df):
        return sorted((tuple(r) for r in df.collect()), key=repr)

    rng = random.Random(7)
    for trial in range(8):
        tie_free = trial % 2 == 0
        rows = []
        for k1 in range(3):
            for k2 in ("a", "b", None):
                # tie-free batches: distinct order values per key, one NULL at most
                values = rng.sample([None, 0, 1, 2, 3], rng.randint(1, 4)) if tie_free else [
                    rng.choice([None, None, 0, 1]) for _ in range(rng.randint(1, 5))
                ]
                rows += [
                    (k1, k2, o, rng.choice([None, "x", "y"]), rng.randrange(3))
                    for o in values
                ]
        batch = spark.createDataFrame(rows, schema)
        batch.createOrReplaceTempView("incoming_batch")
        window = {(r.k1, r.k2): tuple(r) for r in spark.sql(sql).drop("_rn").collect()}
        agg = rows_of(dedup_first(batch.repartition(1), keys, order_by))
        assert agg == rows_of(dedup_first(batch.repartition(8), keys, order_by))
        assert len(agg) == len(window) and {r[:2] for r in agg} == set(window)
        for r in agg:
            assert r in rows
            group = [x for x in rows if x[:2] == r[:2]]
            assert r[2] == window[r[:2]][2]  # both rank the same order value first
            if sum(x[2] == r[2] for x in group) == 1:
                assert r == window[r[:2]]
        if tie_free:
            assert agg == sorted(window.values(), key=repr)


#: the checkpoint rows (bucket, rows_in, nodes_out, edges_out) and the
#: run_metrics rows (batch_idx, processed, success, fail, missing,
#: termination_reason) of run_incremental(n_buckets=3) on small_corpus
SMALL_CORPUS_CHECKPOINTS = [(0, 22, 79, 104), (1, 20, 89, 109), (2, 26, 95, 126)]
SMALL_CORPUS_METRICS = [
    (0, 18, 16, 0, 2, "batch_completed"),
    (1, 12, 12, 0, 0, "batch_completed"),
    (2, 21, 19, 0, 2, "all_done"),
]


def _unit_rows(wh, spark):
    import json

    checkpoints = sorted(
        (json.loads(r.lineage)["bucket"], r.rows_in, r.nodes_out, r.edges_out)
        for r in wh.checkpoints.read(spark).collect()
    )
    metrics = sorted(
        (r.batch_idx, r.processed, r.success, r.fail, r.missing_detail_pages,
         r.termination_reason)
        for r in wh.run_metrics.read(spark).collect()
    )
    return checkpoints, metrics


@pytest.mark.slow
def test_commits_write_one_file_per_table_bucket(spark, frames, tmp_path):
    """Each commit to nodes and edges adds at most one data file per
    table bucket, and folding the unit counts into the per-run tally
    and the merges' observations keeps every checkpoint and metrics
    row."""
    cdf, sdf = frames
    wh = run_incremental(spark, cdf, sdf, str(tmp_path / "wh"), n_buckets=3)
    for table in (wh.nodes, wh.edges):
        seen: set = set()
        for v in range(1, table.current_version() + 1):
            files = {e["path"] for e in table.manifest(v)}
            assert len(files - seen) <= table.n_buckets, (table.name, v, len(files - seen))
            seen |= files
    assert _unit_rows(wh, spark) == (SMALL_CORPUS_CHECKPOINTS, SMALL_CORPUS_METRICS)


@pytest.mark.slow
def test_resume_keeps_unit_counts(spark, frames, tmp_path):
    """A resume re-runs the interrupted bucket against a non-empty table,
    where each merge reads its observed frame twice: the counts must
    still be the clean run's."""
    cdf, sdf = frames
    root = str(tmp_path / "wh")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_incremental(spark, cdf, sdf, root, n_buckets=3, fail_buckets={1})
    wh = run_incremental(spark, cdf, sdf, root, n_buckets=3)
    checkpoints, metrics = _unit_rows(wh, spark)
    assert checkpoints == SMALL_CORPUS_CHECKPOINTS
    interrupted = (1, 12, 12, 0, 0, "manual_exit")
    assert metrics == sorted(SMALL_CORPUS_METRICS + [interrupted])
