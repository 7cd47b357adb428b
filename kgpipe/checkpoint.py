"""Checkpointed, resumable runner (SURVEY.md §2.9 T1-T8, §3.1).

The reference's incremental-batch machinery — 1000-item chunks
(batch_crawl.py:48,398-424), resume from max(end) of the metrics CSV
(:85-102), the pending.json two-phase intent log (:117-216), per-batch
metrics rows (:342-366) — maps onto:

  * partition unit   = bucket = pmod(xxhash64(normalized key),
    n_buckets) of seeds and pages (the Spark analogue of a seed chunk);
    each unit builds its graph from its slice of the run's one staging
    (pipeline.stage_pages), where a seed links to its page even when
    the two hash to different buckets;
  * resume           = anti-join of pending units against the
    checkpoints table (status='done') — replaces the CSV watermark;
  * pending.json     = unnecessary: each unit commits nodes/edges/
    errors (``commit_unit``, shared with the stream; the three are
    independent snapshot tables, so they commit concurrently and all
    finish before it returns), then metrics and checkpoint, through
    atomic snapshot commits, and the merge operations are idempotent,
    so an interrupted unit simply re-runs (T3's replay-idempotence
    without row-level intent logging);
  * metrics          = one run_metrics row per unit in the reference's
    exact column vocabulary incl. termination_reason values
    (README.md:50-56). The input counts of every unit come from one
    per-run tally job, the output counts from observations on the
    merges' own jobs — no count job per unit.
"""

from __future__ import annotations

import json
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timezone
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from kgpipe.link import normalize_title
from kgpipe.materialize import Warehouse
from kgpipe.pipeline import (
    GraphResult,
    Staged,
    canonicalize_edges,
    graph_from_staged,
    stage_pages,
    triples_view,
)
from kgpipe.session import (
    free_cached_since,
    local_frame,
    persistent_rdd_ids,
    with_callers_properties,
)


def bucket_of(col, n_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def pending_units(
    wh: Warehouse, spark: SparkSession, n_buckets: int, run_id: str | None = None
) -> list[int]:
    """Resume watermark (A3/S15): units not yet checkpointed done.

    Checkpoints are scoped to a run: only rows of THIS run_id count as
    done (a new run_id is a fresh sweep over the same warehouse — the
    idempotent merges make that safe), and a recorded n_buckets that
    differs from the requested one fails loudly — silently reusing
    bucket indices under a different modulus would skip rows forever.
    """
    if wh.checkpoints.current_version() is None:  # nothing ever committed
        return list(range(n_buckets))
    rows = wh.checkpoints.read(spark).where(F.col("status") == "done")
    if run_id is not None:
        rows = rows.where(F.col("run_id") == run_id)
    done = set()
    for r in rows.collect():
        lineage = json.loads(r.lineage)
        if lineage.get("n_buckets") != n_buckets:
            raise ValueError(
                f"checkpoint {r.partition_key} was written with "
                f"n_buckets={lineage.get('n_buckets')}, resume requested "
                f"n_buckets={n_buckets}; re-bucketing an existing run is "
                f"not resumable — use a new run_id"
            )
        done.add(int(lineage["bucket"]))
    return [b for b in range(n_buckets) if b not in done]


def sweep_gaps(spark: SparkSession, present, lo: int, hi: int) -> int:
    """S7 range-driven gap accounting: how many keys in [lo, hi] have NO
    row in ``present`` (one integer column). The reference's codepoint
    loop tallies characters whose detail page never materialized
    (/root/reference/hanzi/hanyuguoxue.py:1146-1242); the Spark
    restatement is an anti-join of the expected universe against the
    observed keys — one shuffle on a dense uniform key."""
    universe = spark.range(lo, hi + 1).select(F.col("id").alias("_k"))
    observed = present.toDF("_k").distinct()
    return universe.join(observed, "_k", "left_anti").count()


#: composed-of dimension rows beyond which the runner switches the
#: dimension join from broadcast to the content-salted shuffle join.
#: The full CJK character universe (~90k) broadcasts comfortably; the
#: threshold exists for dimension tables that outgrow that budget.
SALTED_DIM_THRESHOLD = 2_000_000


def _append_row(table, spark: SparkSession, row: dict) -> None:
    """Append one driver-built row to a warehouse table, as a
    ``LocalRelation`` (no Python task in the commit job)."""
    table.append(local_frame(spark, [tuple(row[f.name] for f in table.schema)], table.schema))


def _metrics_row(
    wh: Warehouse,
    spark: SparkSession,
    run_id: str,
    batch_idx: int,
    processed: int,
    success: int,
    fail: int,
    missing: int,
    reason: str,
    elapsed: float,
) -> None:
    row = {
        "run_id": run_id,
        "batch_idx": batch_idx,
        "start": batch_idx,
        "end": batch_idx + 1,
        "processed": processed,
        "success": success,
        "fail": fail,
        "missing_detail_pages": missing,
        "termination_reason": reason,
        "elapsed_seconds": elapsed,
        "insert_rate_per_sec": round(success / elapsed, 3) if elapsed > 0 else 0.0,
        "error_rate": round(fail / processed, 4) if processed > 0 else 0.0,
        "timestamp": datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S"),
    }
    _append_row(wh.run_metrics, spark, row)


def commit_unit(wh: Warehouse, g: GraphResult, fail: int) -> tuple[int, int]:
    """The one idempotent upsert of a unit of work (T3), shared by the
    runner's buckets and the stream's micro-batches: nodes by
    order-independent priority (a crawled record beats a stub whichever
    unit commits first), edges INSERT IGNORE, and — only when the unit
    has ``fail`` > 0 failed pages — errors INSERT IGNORE on (run_id,
    key), so a replayed unit records each failed page once.

    The table commits run concurrently, one thread each, under the
    caller's Spark local properties (their jobs carry the caller's job
    group) and a job description naming the table (``kgpipe commit
    nodes``, ``edges`` or ``errors``). That is safe because each commit
    reads only the unit's graph and writes only its own snapshot table,
    and no commit's outcome depends on another's. Every thread is joined
    before this returns or raises, so no commit job outlives it; a failed commit
    raises here after the others have finished (committed or failed),
    and since the caller writes its checkpoint only after this returns,
    the unit re-runs and the idempotent commits converge.

    Returns (nodes_out, edges_out): the rows handed to the two merges,
    counted by Observations on the merges' own jobs — no count job.
    """
    nodes_obs, edges_obs = Observation(), Observation()
    commits = {
        "nodes": lambda: wh.nodes.merge_best(
            g.nodes.observe(nodes_obs, F.count(F.lit(1)).alias("n")),
            keys=["node_id"],
            priority=[F.col("crawled").desc(), F.col("url").asc_nulls_last()],
        ),
        "edges": lambda: wh.edges.insert_ignore(
            g.edges.observe(edges_obs, F.count(F.lit(1)).alias("n")),
            keys=["src_id", "dst_id", "rel_type"], order_by=["src_name"],
        ),
    }
    if fail > 0:
        commits["errors"] = lambda: wh.errors.insert_ignore(
            g.errors, keys=["run_id", "key"], order_by=["error"]
        )
    sc = g.triples.sparkSession.sparkContext

    def described(table, commit):
        def run():
            sc.setLocalProperty("spark.job.description", f"kgpipe commit {table}")
            return commit()

        return with_callers_properties(sc, run)

    with ThreadPoolExecutor(len(commits), thread_name_prefix="kg-commit") as pool:
        futures = [pool.submit(described(t, c)) for t, c in commits.items()]
    # leaving the block joined every thread: raise the first commit's error
    for f in futures:
        f.result()
    return nodes_obs.get["n"], edges_obs.get["n"]


def run_incremental(
    spark: SparkSession,
    corpus: DataFrame,
    seeds: DataFrame,
    warehouse_root: str,
    run_id: str = "run-1",
    n_buckets: int = 4,
    fail_buckets: set[int] | None = None,
    sweep_range: tuple[int, int] | None = None,
    full_properties: bool = False,
) -> Warehouse:
    """Process pending buckets one commit at a time; re-entrant.

    ``fail_buckets`` injects an interrupt after processing (before the
    checkpoint commit) — the stand-in for the reference's SIGINT path: a
    ``manual_exit`` metrics row is recorded (batch_crawl.py:329-340),
    then the run aborts; the replay-idempotence tests prove the
    interrupted unit re-runs to an identical result.

    ``sweep_range`` enables S7 gap accounting: after the last unit, the
    codepoint universe [lo, hi] is anti-joined against the observed
    zidian pages and the gap count recorded as a final metrics row
    (the reference's per-codepoint failure tally,
    hanyuguoxue.py:1146-1242).
    """
    wh = Warehouse(warehouse_root)
    sc = spark.sparkContext
    # pages bucket on the normalized title key of their slug (zidian
    # pages, which no seed names, on the path), seeds on that of their name
    is_term_page = F.col("path").startswith("chengyu/") | F.col("path").startswith("cidian/")
    page_key = F.when(
        is_term_page, normalize_title(F.element_at(F.split(F.col("path"), "/"), 2))
    ).otherwise(F.col("path"))
    page_bucket = bucket_of(page_key, n_buckets)
    seed_bucket = bucket_of(normalize_title(F.col("name")), n_buckets)

    pending = pending_units(wh, spark, n_buckets, run_id=run_id)
    # the run's pins (staging, each bucket's frames) go on any exit
    keep_rdds = persistent_rdd_ids(sc)
    try:
        if pending:
            # ONE staging per run: all zidian pages — the composed-of
            # dimension is global, a word in one bucket must still link
            # characters whose zidian page lives in another — plus the
            # pending buckets' term pages, each parsed once. Every bucket
            # slices it, so a seed links to its page in any bucket.
            staged = stage_pages(
                corpus.where(~is_term_page | page_bucket.isin(pending)), seeds,
                full_properties=full_properties,
            )
            hanzi_dim = staged.characters()
            # one job counts every bucket's inputs, keyed (bucket, kind):
            # corpus rows, seeds, seeds without a page, failed zidian
            # pages; and, under bucket -1, the run's composed-of dimension
            tally = reduce(DataFrame.unionByName, (
                df.select(b.alias("b"), F.lit(kind).alias("kind"))
                for df, b, kind in (
                    (corpus, page_bucket, "rows_in"),
                    (staged.seeds, seed_bucket, "processed"),
                    (staged.missing, seed_bucket, "missing"),
                    (staged.failed_pages(), page_bucket, "fail"),
                    (hanzi_dim, F.lit(-1), "dim"),
                )
            ))
            counts = {(r.b, r.kind): r["count"] for r in tally.groupBy("b", "kind").count().collect()}
            composed_mode = (
                "salted" if counts.get((-1, "dim"), 0) > SALTED_DIM_THRESHOLD else "broadcast"
            )
            keep_staged = persistent_rdd_ids(sc)
        for bucket in pending:
            t0 = time.time()
            in_page, in_seed = page_bucket == bucket, seed_bucket == bucket
            g = graph_from_staged(
                Staged(
                    *(f.where(in_page) for f in staged[:3]),  # terms, hz, hz_valid
                    *(f.where(in_seed) for f in staged[3:]),  # seeds, missing
                ),
                # the tally materialized both checkpoints: no barrier
                run_id=run_id, cache=False, hanzi_dim=hanzi_dim,
                composed_mode=composed_mode, full_properties=full_properties,
            )
            rows_in, processed, missing, fail = (
                counts.get((bucket, kind), 0) for kind in ("rows_in", "processed", "missing", "fail")
            )
            success = processed - missing

            # data first, checkpoint last: a crash between the two only
            # means the unit re-runs, and commit_unit, the one commit of a
            # unit, is idempotent (T3)
            nodes_out, edges_out = commit_unit(wh, g, fail)

            elapsed = round(time.time() - t0, 3)

            if fail_buckets and bucket in fail_buckets:
                # SIGINT analogue (batch_crawl.py:329-340): record the
                # interruption, leave the unit un-checkpointed, abort
                _metrics_row(
                    wh, spark, run_id, bucket, processed, success, fail, missing,
                    "manual_exit", elapsed,
                )
                raise RuntimeError(f"injected failure before checkpoint of bucket {bucket}")

            # T7/T8 termination vocabulary (reference README.md:50-56),
            # mapped onto corpus-quality signals:
            #   blocked_ip      — every record in the unit failed (the batch
            #                     crawler's systematic-failure exit,
            #                     batch_crawl.py:288)
            #   network_outage  — seeds pending but no pages arrived at all
            #                     (batch_crawl.py:115)
            #   all_done        — last pending unit (batch_crawl.py:336)
            #   batch_completed — normal mid-run unit
            if fail > 0 and success == 0:
                reason = "blocked_ip"
            elif rows_in == 0 and processed > 0:
                reason = "network_outage"
            elif bucket == pending[-1]:
                reason = "all_done"
            else:
                reason = "batch_completed"

            _metrics_row(
                wh, spark, run_id, bucket, processed, success, fail, missing,
                reason, elapsed,
            )
            checkpoint_row = {
                "run_id": run_id,
                "partition_key": f"{run_id}-bucket-{bucket}",
                "status": "done",
                "rows_in": rows_in,
                "nodes_out": nodes_out,
                "edges_out": edges_out,
                "lineage": json.dumps(
                    {
                        "bucket": bucket,
                        "n_buckets": n_buckets,
                        "nodes_version": wh.nodes.current_version(),
                        "edges_version": wh.edges.current_version(),
                    }
                ),
                "committed_at": datetime.now(timezone.utc),
            }
            _append_row(wh.checkpoints, spark, checkpoint_row)
            # the bucket's own blocks go; the staging stays for the next
            free_cached_since(sc, keep_staged)

        if sweep_range is not None:
            # S7: codepoints in the sweep range with no zidian page at all
            # are failures the per-bucket loop never sees. Runs regardless
            # of whether any bucket was pending — a --sweep invocation on
            # an already-checkpointed run must still record its gap
            # accounting.
            t0 = time.time()
            lo, hi = sweep_range
            observed = corpus.where(F.col("path").startswith("zidian/")).select(
                F.regexp_extract("path", r"zi-(\d+)", 1).cast("long")
            )
            gaps = sweep_gaps(spark, observed, lo, hi)
            _metrics_row(
                wh, spark, run_id, n_buckets, hi - lo + 1, hi - lo + 1 - gaps, 0,
                gaps, "sweep_completed", round(time.time() - t0, 3),
            )
    finally:
        free_cached_since(sc, keep_rdds)

    return wh


def finalize(wh: Warehouse, spark: SparkSession):
    """Global post-merge view: canonical edges + name-level triples from
    the accumulated edges table (canonicalization must see the whole
    variant graph, so it cannot run per bucket)."""
    edges_canonical = canonicalize_edges(wh.edges.read(spark))
    return edges_canonical, triples_view(edges_canonical)
