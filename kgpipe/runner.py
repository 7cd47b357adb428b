"""spark-submit entry point (north_star packaging contract).

    spark-submit --py-files kgpipe.zip -m ... kgpipe/runner.py \\
        --corpus /data/corpus_parquet --seeds /data/seeds_parquet \\
        --warehouse /data/kg_warehouse --run-id run-1 --buckets 64

or locally: ``python -m kgpipe.runner --demo`` runs the synthetic corpus
end-to-end and prints the metrics table.

The run is resumable: re-invoking with the same warehouse skips
checkpointed buckets (SURVEY.md T2); ``--retry-errors`` re-drives pages
recorded in the errors table (T10, retry_errors.py:79-128).
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import functions as F


def prepare_retry(spark, wh, corpus_df, base_run_id: str):
    """T10 retry setup: restrict the corpus to the failed keys and mint a
    UNIQUE retry run_id (counter over prior retry sweeps recorded in the
    checkpoints table). A constant suffix would find every bucket of a
    second retry already checkpointed done and silently reprocess
    nothing. Returns (restricted_corpus, retry_run_id). The errors table
    is NOT touched here — the worklist must survive a mid-retry crash."""
    failed_keys = wh.errors.read(spark).select(F.col("key").alias("path")).distinct()
    restricted = corpus_df.join(F.broadcast(failed_keys), "path", "left_semi")
    prior_retries = (
        wh.checkpoints.read(spark)
        .where(F.col("run_id").startswith(f"{base_run_id}-retry-"))
        .select("run_id")
        .distinct()
        .count()
    )
    return restricted, f"{base_run_id}-retry-{prior_retries + 1}"


def finish_retry(spark, wh, retry_run_id: str, retried_corpus) -> None:
    """After a retry completes: drop the RETRIED keys that resolved, keep
    everything else. Kept rows = rows whose key was NOT in this retry's
    worklist (errors recorded by other writers sharing the warehouse —
    e.g. a concurrent stream run — or failed keys absent from the retry
    corpus) plus rows this retry re-recorded (pages that still fail).
    Collapsing the whole table to the retry's run_id (the previous
    behavior) silently discarded those foreign rows from the worklist.
    A crash before this point leaves the full worklist intact."""
    retried_keys = retried_corpus.select(F.col("path").alias("key")).distinct()
    errors = wh.errors.read(spark)
    kept_foreign = errors.join(retried_keys, "key", "left_anti").where(
        F.col("run_id") != retry_run_id
    )
    still_failing = errors.where(F.col("run_id") == retry_run_id)
    wh.errors.overwrite(kept_foreign.unionByName(still_failing))


def main() -> None:
    ap = argparse.ArgumentParser(description="kgpipe KG-construction runner")
    ap.add_argument("--corpus", help="parquet dir with corpus(repo,path,commit,lang,content)")
    ap.add_argument("--seeds", help="parquet dir with seed_entities(name,entity_type)")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--run-id", default="run-1")
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--master", default=None)
    ap.add_argument("--demo", action="store_true", help="use the synthetic corpus")
    ap.add_argument("--retry-errors", action="store_true")
    ap.add_argument(
        "--compact",
        action="store_true",
        help="after the run: rewrite nodes/edges into compacted files and "
        "expire all but the last 2 snapshots (Iceberg rewrite_data_files "
        "+ expire_snapshots)",
    )
    ap.add_argument(
        "--full-sections",
        action="store_true",
        help="S9/S10/S11 full fidelity: materialize ALL seven zidian "
        "sections into Hanzi node properties (the reference's "
        "per-character blobs, hanyuguoxue.py:1411-1439) AND the complete "
        "idiom/word records (explanation/source/usage/..., "
        "chengyu_mysql.py:162-221) into term node properties; default "
        "keeps the pruned hot path",
    )
    ap.add_argument(
        "--sweep",
        default=None,
        help="codepoint range LO-HI (hex ok, e.g. 0x4E00-0x9FFF) for S7 "
        "gap accounting: count range members with no zidian page",
    )
    args = ap.parse_args()

    from kgpipe.checkpoint import finalize, run_incremental
    from kgpipe.session import get_spark

    spark = get_spark(app_name=f"kgpipe-{args.run_id}", master=args.master)

    if args.demo:
        from kgpipe.corpus import corpus_to_dataframes, generate_corpus

        corpus_df, seeds_df = corpus_to_dataframes(spark, generate_corpus())
    else:
        corpus_df = spark.read.parquet(args.corpus)
        seeds_df = spark.read.parquet(args.seeds)

    run_id = args.run_id
    if args.retry_errors:
        # T10 (retry_errors.py:79-128): re-drive only the failed keys
        # under a FRESH, unique run_id — checkpoints are run-scoped, so
        # the retry sweep re-processes every bucket over the restricted
        # corpus and the idempotent merges fold corrected records in
        from kgpipe.materialize import Warehouse

        corpus_df, run_id = prepare_retry(
            spark, Warehouse(args.warehouse), corpus_df, run_id
        )

    sweep_range = None
    if args.sweep:
        lo, hi = (int(x, 0) for x in args.sweep.split("-"))
        sweep_range = (lo, hi)

    wh = run_incremental(
        spark,
        corpus_df,
        seeds_df,
        args.warehouse,
        run_id=run_id,
        n_buckets=args.buckets,
        sweep_range=sweep_range,
        full_properties=args.full_sections,
    )
    if args.retry_errors:
        finish_retry(spark, wh, run_id, corpus_df)

    if args.compact:
        for table in (wh.nodes, wh.edges):
            table.compact(spark)
            table.expire_snapshots(keep_last=2)

    edges_canonical, triples = finalize(wh, spark)

    summary = {
        "nodes": wh.nodes.read(spark).count(),
        "edges": wh.edges.read(spark).count(),
        "canonical_edges": edges_canonical.count(),
        "triples": triples.count(),
        "errors": wh.errors.read(spark).count(),
    }
    print(json.dumps(summary))
    print("--- run_metrics ---")
    for row in wh.run_metrics.read(spark).orderBy("batch_idx").collect():
        print(json.dumps(row.asDict(), default=str))
    spark.stop()


if __name__ == "__main__":
    main()
