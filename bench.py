"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <float>,
   "kg_triples": N, "kg_triples_per_sec": R, "cores": C}

The KG flagship runs over a bench-scaled deterministic corpus (the
triple-throughput number the baseline protocol tracks); the remaining
headliners exercise the heaviest relational / dedup / similarity
operators at the given scale factor.

Each query is forced with a full-column hash-reduce (computes every
output column, transfers one row back) so Catalyst cannot silently prune
benchmarked work, and timing excludes session startup.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

HEADLINE = [
    "tpch_q1_pricing",
    "tpch_q3_revenue",
    "dim_join_counts",
    "window_dedup_latest",
    "window_topn_per_group",
    "edge_canonicalize_pairs",
    "dedup_exact",
    "dedup_minhash_lsh",
    "simhash32",
    "text_quality_score",
    "doc_fingerprint",
    "ann_cosine_topk",
]

BENCH_CORPUS = dict(
    n_hanzi=60,
    n_words=120,
    n_idioms=80,
    seed=42,
    scale=int(os.environ.get("KGPIPE_BENCH_SCALE", "1600")),
)


def _cached_corpus(spark):
    """Generate the bench corpus once, persist as parquet, reuse across
    bench processes (generation is driver-side Python — not what we
    measure — and a parquet scan is the realistic input path anyway)."""
    import json as _json

    from kgpipe.corpus import corpus_to_dataframes, generate_corpus

    root = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_out")
    tag = "-".join(f"{k}{v}" for k, v in sorted(BENCH_CORPUS.items()))
    cdir = os.path.join(root, f"corpus-{tag}")
    meta = os.path.join(cdir, "meta.json")
    if not os.path.exists(meta):
        corpus = generate_corpus(**BENCH_CORPUS)
        cdf, sdf = corpus_to_dataframes(spark, corpus)
        cdf.repartition(64).write.mode("overwrite").parquet(os.path.join(cdir, "corpus"))
        sdf.repartition(4).write.mode("overwrite").parquet(os.path.join(cdir, "seeds"))
        with open(meta, "w") as fh:
            _json.dump({"rows": len(corpus.rows), "seeds": len(corpus.seeds)}, fh)
    return (
        spark.read.parquet(os.path.join(cdir, "corpus")),
        spark.read.parquet(os.path.join(cdir, "seeds")),
    )


def _force(df) -> int:
    """Execute the full plan: hash every column of every row, reduce to one
    value. Returns the row count (piggybacked on the same job)."""
    out = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*df.columns), F.lit(1_000_000_007))).alias("h"),
    ).collect()[0]
    return out["n"]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 32))
    sf_match = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(sf_match.group(1)) if sf_match else -1.0

    from kgpipe.corpus import corpus_to_dataframes, generate_corpus
    from kgpipe.pipeline import build_graph
    from kgpipe.queries import QUERIES
    from kgpipe.session import get_spark
    from perfbench.probes import Contention

    # host-load discipline (BENCH.md round-5 reconciliation): a busy host
    # silently corrupts local[N] numbers by +-55%, so every artifact
    # records the load average plus the CPU time taken by other processes
    # and by the hypervisor (steal) over the run — drift questions close
    # by reading the artifact instead of re-running
    contention = Contention()

    spark = get_spark(app_name="kgpipe-bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}

    # flagship: KG pipeline over the bench corpus. One warmup round first —
    # python-worker spawn + whole-stage-codegen compilation are per-process
    # one-time costs that a long-lived cluster amortizes away; the timed
    # round still executes the complete pipeline (parse → link → edges →
    # CC → canonicalize → dedup) from the cached input.
    cdf, sdf = _cached_corpus(spark)
    cdf = cdf.repartition(max(cpus, 32)).persist()
    cdf.count()  # materialize input outside the timed window
    # full-size warmup round: python-worker spawn, whole-stage-codegen
    # compilation, JVM heap growth and C2 JIT are per-process one-time
    # costs that a long-lived cluster amortizes; the timed round executes
    # the complete identical pipeline (parse → link → edges → CC →
    # canonicalize → dedup) from the cached input.
    from kgpipe.session import free_cached_since as _free_cached
    from kgpipe.session import persistent_rdd_ids as _persistent_rdd_ids

    # each round's localCheckpoints/persists are released synchronously
    # before the next round — the async ContextCleaner lets them survive
    # INTO the next timed round (heap pressure + GC churn made successive
    # rounds 2x slower: 97.6s -> 197.5s measured)
    sc = spark.sparkContext
    input_rdds = _persistent_rdd_ids(sc)
    _force(build_graph(spark, cdf, sdf).triples)
    import gc

    gc.collect()
    _free_cached(sc, input_rdds)
    time.sleep(1)

    # best-of-2 timed rounds: steady-state throughput (one-off events —
    # context-cleaner bursts, GC major collections — otherwise add ±30%
    # run-to-run noise to a single sample); each round starts from a clean
    # block store (input cache excepted)
    kg_rounds = []
    kg_phases = []  # (build_sec, triples_sec) per round: where the wall goes
    for _ in range(2):
        t0 = time.time()
        g = build_graph(spark, cdf, sdf)
        t1 = time.time()
        n_triples = _force(g.triples)
        t2 = time.time()
        kg_rounds.append(round(t2 - t0, 3))
        kg_phases.append([round(t1 - t0, 3), round(t2 - t1, 3)])
        gc.collect()
        _free_cached(sc, input_rdds)
    kg_sec = min(kg_rounds)
    timings["kg_pipeline"] = kg_sec

    # one warmup pass over the headline suite (python-worker spawn, codegen
    # compilation, file-index caching are per-process one-time costs a
    # long-lived cluster amortizes), then the timed pass measures steady
    # state — BENCH.md showed a 6x cold/warm spread without this
    for name in HEADLINE:
        _force(QUERIES[name](spark, sf_dir))
    gc.collect()
    # pay the JVM GC debt accumulated by the kg rounds + warmup OUTSIDE
    # the timed windows: the first allocation-heavy query after them
    # (dedup_minhash_lsh, ~8 md5 allocations per shingle) otherwise
    # absorbs a full-GC pause that belongs to earlier phases — observed
    # as a bimodal 2s/15-33s artifact value for that one query
    sc._jvm.System.gc()
    # best-of-2 per headline query, same steady-state discipline as the
    # kg rounds: even after the explicit System.gc() a deferred full-GC
    # pause can land inside ONE timed query (observed: dedup_minhash_lsh
    # 42.9s vs its usual 2-5s in an otherwise-quiet run whose kg rounds
    # were the fastest on record — the faster rounds left MORE
    # unreclaimed debt, not less). A one-off pause cannot hit the same
    # query in both passes.
    raw_timings: dict[str, list[float]] = {}
    for name in HEADLINE:
        fn = QUERIES[name]
        runs = []
        for _ in range(2):
            # pay outstanding GC debt OUTSIDE every timed window, not
            # just once before the loop: round 6 showed a single up-front
            # System.gc() is insufficient — a deferred full-GC pause from
            # the kg rounds landed inside ONE timed query (42.9s on
            # dedup_minhash_lsh, the allocation-heaviest headline). With
            # per-leg collection plus the round-7 minhash allocation cut
            # (1 md5/shingle + bigint mixing instead of 8 md5 + 8
            # concats), the pressure A/B spread is <2x across 5 runs.
            sc._jvm.System.gc()
            t0 = time.time()
            _force(fn(spark, sf_dir))
            runs.append(round(time.time() - t0, 3))
        raw_timings[name] = runs
        timings[name] = min(runs)

    total = round(sum(timings.values()), 3)
    load_end = round(os.getloadavg()[0], 2)
    host = contention.finish()
    result = {
        "metric": "headline_suite_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "kg_triples": n_triples,
        "kg_triples_per_sec": round(n_triples / kg_sec, 1) if kg_sec > 0 else None,
        "cores": cpus,
        "load_1m_start": host["load_1m_start"],
        "foreign_cpu_s": round(host["foreign_cpu_s"], 2),
        "steal_s": round(host["steal_s"], 2),
        "load_1m_end": load_end,
        # protocol provenance (round-6 ADVICE): every timed number above
        # is min-of-N with the raw passes recorded, so cross-round
        # comparisons can tell which protocol produced each figure
        "runs_per_query": 2,
        "kg_rounds": kg_rounds,
        # per-round [build_graph (parse barriers + overlapped mapping),
        # fused triples job] — the two phases future perf work targets
        "kg_phase_split": kg_phases,
        "raw_timings": raw_timings,
        "term_slice_chromed": _bench_term_parse_chromed(),
        "zidian_parse": _bench_zidian_parse(),
    }
    spark.stop()
    print(json.dumps(result))


def _bench_zidian_parse() -> dict:
    """Driver-side (no Spark) cost of the pipeline's pruned zidian parse
    (``PIPELINE_HANZI_SECTIONS``) on the bench corpus's zidian pages,
    bare and in the chrome=True mode: µs per page, best of 3, and the
    share of pages that take the card cut (``cut_taken``; the others
    build the DOM over the full page). Zidian pages do not grow with
    ``scale``, so this is the same page set at every scale."""
    from kgpipe.corpus import generate_corpus
    from kgpipe.parse.hanzi import _cut_cards, parse_hanzi_html
    from kgpipe.pipeline import PIPELINE_HANZI_SECTIONS as sections

    out = {}
    for shape, chrome in (("bare", False), ("chromed", True)):
        corpus = generate_corpus(
            n_hanzi=BENCH_CORPUS["n_hanzi"], n_words=0, n_idioms=0,
            seed=BENCH_CORPUS["seed"], chrome=chrome,
        )
        pages = [(r["path"], r["content"]) for r in corpus.rows if r["path"].startswith("zidian/")]
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            for p, html in pages:
                parse_hanzi_html(html, p, sections=sections)
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        out[shape] = {
            "us_per_page": round(best / len(pages) * 1e6, 1),
            "cut_taken": round(sum(_cut_cards(h, sections) is not None for _, h in pages) / len(pages), 3),
            "pages": len(pages),
            "avg_page_bytes": sum(len(h) for _, h in pages) // len(pages),
        }
    return out


def _bench_term_parse_chromed() -> dict:
    """Driver-side (no Spark) A/B of the term pages' two parse paths on
    the chrome=True corpus mode, the live-site page shape: the guarded
    flat scan (``fast_on``, the hot path) against the DOM parse
    (``fast_off``), in µs per page at the hot fields, plus the share of
    pages the flat scan accepts (``fast_accept``). The bench corpus
    itself stays bare so the flagship numbers remain comparable across
    rounds. Pure Python and deterministic, but not immune to host
    contention: on a shared 4-vCPU VM, back-to-back best-of-N runs of
    the same page set differed by up to 1.7x."""
    from kgpipe.corpus import generate_corpus
    from kgpipe.parse.chengyu import HOT_FIELDS as CY_HOT
    from kgpipe.parse.chengyu import parse_chengyu_html
    from kgpipe.parse.ciyu import HOT_FIELDS as CI_HOT
    from kgpipe.parse.ciyu import parse_ciyu_html
    from kgpipe.parse.fastterm import fast_hot_chengyu, fast_hot_ciyu

    chromed = generate_corpus(n_hanzi=10, n_words=40, n_idioms=30, seed=42, chrome=True)
    fams = {
        "chengyu": (parse_chengyu_html, CY_HOT, fast_hot_chengyu),
        "cidian": (parse_ciyu_html, CI_HOT, fast_hot_ciyu),
    }
    out = {}
    for fam, (fn, hot, fast_hot) in fams.items():
        pages = [
            (r["path"], r["content"])
            for r in chromed.rows
            if r["path"].startswith(fam + "/")
        ]
        us = {}
        for key, fast in (("fast_on", True), ("fast_off", False)):
            best = None
            for _ in range(3):
                t0 = time.perf_counter()
                for p, html in pages:
                    fn(html, p, fields=hot, fast=fast)
                dt = time.perf_counter() - t0
                best = dt if best is None or dt < best else best
            us[key] = round(best / len(pages) * 1e6, 1)
        out[fam] = {
            **us,
            "fast_accept": round(sum(fast_hot(h) is not None for _, h in pages) / len(pages), 3),
            "speedup": round(us["fast_off"] / us["fast_on"], 2),
            "avg_page_bytes": sum(len(h) for _, h in pages) // len(pages),
        }
    return out


if __name__ == "__main__":
    main()
