"""Structured Streaming: the crawler-as-a-stream restatement.

The reference is a long-running incremental batch job (SURVEY.md §2.9);
its streaming-ish semantics (fixed-size chunks, resume, replay-safe
writes) map onto one full-graph stream, ``run_graph_stream``:

  * file-source corpus directory  = arriving crawl batches (T1),
  * checkpointLocation            = resume watermark (T2),
  * dropDuplicates on path        = pending-set replay protection (T3),
  * foreachBatch commit           = the bucket runner's staging, graph
                                    step and unit commit
                                    (``checkpoint.commit_unit``), applied
                                    to each micro-batch (S9-S11).

Stateless work (parse, explode, project) runs in the micro-batch;
stateful merge happens in the unit commit against the snapshot tables,
which keeps the streaming state store empty and the sink idempotent
(replayed micro-batches re-merge to the same result).

Two stream operators stand beside it: ``streaming_windowed_metrics``
(event-time windowed counters under a watermark) and
``streaming_stateful_dedup`` (first occurrence per key across
micro-batches, held in the state store).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgpipe import schemas
from kgpipe.checkpoint import commit_unit
from kgpipe.materialize import SnapshotTable, Warehouse
from kgpipe.pipeline import graph_from_staged, stage_pages
from kgpipe.schemas import CORPUS_SCHEMA
from kgpipe.session import free_cached_since, persistent_rdd_ids


def streaming_windowed_metrics(
    events_stream: DataFrame,
    window: str = "10 minutes",
    watermark: str = "20 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """A1/A2 restated for streams: per-(event-time window, event_type)
    counters with late-data tolerance.

    The reference emits one metrics row per completed batch
    (batch_crawl.py:342-366) — wall-clock-batch bucketing. The streaming
    restatement buckets by EVENT time: a watermark bounds how late a row
    may arrive and lets the state store finalize (and evict) windows —
    without it, windowed state grows forever. The aggregation itself is
    the same map-side-combining hash count as the batch path, so a
    replayed micro-batch converges to identical totals.
    """
    return (
        events_stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("processed"),
            F.count(F.when(F.col("value") > 50, 1)).alias("success"),
            F.count(F.when(F.col("value") <= 50, 1)).alias("fail"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "processed",
            "success",
            "fail",
        )
    )


def streaming_stateful_dedup(
    df: DataFrame, key_cols: list[str], order_col: str
) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): emit only the
    FIRST occurrence of each key across micro-batches — the streaming
    form of INSERT IGNORE, holding the seen-set in the state store
    instead of re-reading the sink table per batch.

    State is one flag per distinct key, partitioned by the groupBy hash —
    the same footprint Structured Streaming's own dropDuplicates keeps,
    but with an explicit deterministic within-batch winner (min
    ``order_col``), matching the batch dedup's first-writer-wins
    formalization (kgpipe.triples.dedup_first). Arrow-batched
    (FlatMapGroupsInPandasWithState) — no row-at-a-time Python.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = df.schema

    def first_writer(key, pdfs, state: GroupState):
        if state.exists:
            return
        best: pd.DataFrame | None = None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            cand = pdf.sort_values(order_col, kind="mergesort").iloc[:1]
            if best is None or cand.iloc[0][order_col] < best.iloc[0][order_col]:
                best = cand
        if best is not None:
            state.update((1,))
            yield best

    return df.groupBy(*[F.col(c) for c in key_cols]).applyInPandasWithState(
        first_writer,
        outputStructType=out_schema,
        stateStructType="seen long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_graph_stream(
    spark: SparkSession,
    source_dir: str,
    seeds: DataFrame,
    warehouse_root: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 8,
    full_properties: bool = False,
) -> None:
    """Full-graph streaming ingest: every edge family.

    Each micro-batch IS the batch pipeline applied to the arriving pages
    (build_graph's parse and graph steps) followed by the bucket runner's
    unit commit (``checkpoint.commit_unit``) — streaming mode and
    incremental mode are the one code path driven by different arrival
    orders. Spark's ``checkpointLocation`` is the stream's resume state.

    composed-of semantics match the reference's INSERT-time behavior
    (chengyu_mysql.py:197-221: a term links only characters already in
    the DB): the dimension for a micro-batch is the dedicated hanzi_dim
    table — seeded once from the warehouse's crawled Hanzi nodes when it
    is empty but nodes exist (a warehouse populated by the batch runner,
    or by a stream run that predates hanzi_dim) — UNION the valid
    characters of the batch's staging, which the graph step reads too,
    so each page is parsed once per micro-batch. A term page that
    arrives before its characters misses those edges exactly as the
    reference's crawler does; re-driving the term (retry / new run)
    picks them up.

    Drain → finalize contract: the per-batch merges record RAW edges;
    global variant-cluster canonicalization needs the COMPLETE edge set
    (pipeline.canonicalize_edges — clusters can span micro-batches), so a
    drained stream is finished exactly like the batch runner: call
    ``kgpipe.checkpoint.finalize(wh, spark)`` after ``awaitTermination``
    returns. A variant chain split across micro-batches canonicalizes
    identically to the batch pipeline (tested:
    test_full_graph_stream_matches_batch isolates a chain head in its own
    micro-batch).
    """
    wh = Warehouse(warehouse_root)
    # Incremental composed-of dimension: a dedicated append-only snapshot
    # table of crawled Hanzi names. Re-reading the full nodes table per
    # micro-batch (the previous design) makes ingest cost grow
    # O(batches × nodes-table) — a quadratic read at stream scale. The
    # dim table holds ONE narrow column and only ever grows by the
    # batch's new characters, so the per-batch read stays O(|alphabet|),
    # independent of how many term/stub nodes accumulate.
    hanzi_dim_table = SnapshotTable(
        os.path.join(warehouse_root, "hanzi_dim"), schemas.HANZI_DIM_SCHEMA
    )
    # one-time backfill: a warehouse that predates hanzi_dim (batch-runner
    # populated, or streamed before the dim table existed) has crawled
    # Hanzi nodes but an empty dim — without seeding, term pages arriving
    # after those characters would PERMANENTLY miss composed-of edges.
    # One O(nodes) read, only when the dim is empty; thereafter the
    # per-batch dim read stays O(|alphabet|).
    if hanzi_dim_table.read(spark).first() is None:
        crawled_hanzi = (
            wh.nodes.read(spark)
            .where((F.col("entity_type") == "Hanzi") & F.col("crawled"))
            .select("name")
            .distinct()
        )
        if crawled_hanzi.first() is not None:
            hanzi_dim_table.append(crawled_hanzi)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # per-batch cache hygiene: the staging and the graph step pin
        # localCheckpoint/persist blocks; release them on any exit or a
        # long stream grows the block store unboundedly (same as the
        # bucket runner)
        keep_rdds = persistent_rdd_ids(spark.sparkContext)
        try:
            staged = stage_pages(
                batch_df.dropDuplicates(["path"]), seeds,
                full_properties=full_properties,
            )
            known = hanzi_dim_table.read(spark)
            batch_chars = staged.characters().distinct()
            g = graph_from_staged(
                staged, run_id=f"stream-{batch_id}",
                hanzi_dim=known.unionByName(batch_chars).distinct(),
                full_properties=full_properties,
            )
            commit_unit(wh, g, g.errors.count())
            # append only the batch's genuinely-new characters (idempotent
            # on micro-batch replay) — the dim commit is O(batch), not
            # O(table)
            hanzi_dim_table.append(batch_chars.join(known, "name", "left_anti"))
        finally:
            free_cached_since(spark.sparkContext, keep_rdds)

    (
        spark.readStream.schema(CORPUS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )

