#!/usr/bin/env python3
"""kgpipe benchmark: named workloads, verified outputs, one JSON result.

Run from the repository root:

    python3 perfbench/run.py --workload warehouse_incremental --seed 42 --seconds 10 --trace 0

The workloads, their metrics and the reasoning behind them are listed in
``BENCHMARK.json`` and ``perfbench/NOTES.md``. Load shape: one closed-loop
client. This single process runs one workload iteration at a time on
``local[<cpus>]`` and starts the next only after the previous one is
verified.

``--trace 0`` prints the end-to-end metrics: iteration wall time,
output rows per second, set-up time and peak resident memory.
``--trace 1`` runs the workload's iteration untraced and then traced
(spans, py4j counter, Spark event log) in place of the timed phase and
prints the per-layer metrics instead.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The exit code is 0
only when every operation succeeded and every output matched its oracle.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
sys.path[:0] = [HERE, ROOT]

#: the corpus scale and bucket count of warehouse_incremental
WAREHOUSE_SCALE = 1
WAREHOUSE_BUCKETS = 1


def _isolate_environment() -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the benchmark's work directory."""
    tmp = os.path.join(WORK, "tmp")
    # one benchmark process at a time: what an earlier run left is garbage
    for d in (tmp, os.path.join(WORK, "spark-local"), os.path.join(WORK, "warehouse")):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    # a bounded driver heap: the host's memory is shared
    os.environ.setdefault("KGPIPE_DRIVER_MEM", "3g")
    import tempfile

    tempfile.tempdir = None


def spark_conf(event_dir: str | None) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
        })
    return conf


# ---------------------------------------------------------------------------
# run-state helpers
# ---------------------------------------------------------------------------

class Session:
    """The SparkSession plus the cache baseline every iteration returns to."""

    def __init__(self, event_dir: str | None):
        from kgpipe.session import get_spark

        self.spark = get_spark(app_name="kgpipe-perfbench", extra_conf=spark_conf(event_dir))
        self.spark.sparkContext.setLogLevel("ERROR")
        self.sc = self.spark.sparkContext
        self.keep: set = set()

    def pin_inputs(self) -> None:
        from kgpipe.session import persistent_rdd_ids

        self.keep = persistent_rdd_ids(self.sc)

    def release(self) -> None:
        """Return to the post-set-up state: drop every cached RDD an
        iteration created, then collect Python and JVM garbage, all
        outside any timed window."""
        from kgpipe.session import free_cached_since

        free_cached_since(self.sc, self.keep)
        gc.collect()
        self.sc._jvm.System.gc()

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def close(self) -> None:
        """Stop the session, then the driver JVM, and wait for it to exit
        (the JVM exits when its stdin closes)."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None and getattr(gateway, "proc", None) is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=120)
            SparkContext._gateway = SparkContext._jvm = None


class Outcome:
    """Operations attempted and failed in one run, with the reasons."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, attempted: int, failed: int, why: str | None = None) -> None:
        self.attempted += attempted
        self.failed += failed
        if failed and why:
            self.errors.append(why)


class _NullSpan:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


def _null_span(_name):
    return _NullSpan()


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

class WarehouseWorkload:
    """checkpoint.run_incremental into a fresh warehouse, then finalize
    with the triples forced. No warm-up: each iteration is one cold
    incremental round, which is what a scheduled runner process pays.
    Every forced triple digest is checked against the golden set after
    the timed phase."""

    kind = "warehouse"
    min_iters = 1
    n_buckets = WAREHOUSE_BUCKETS

    def __init__(self, seed: int):
        self.seed, self.scale = seed, WAREHOUSE_SCALE
        self.corpus = None
        self.digests: list[tuple[int, int]] = []
        self.n_iter = 0
        self.last = None  # (warehouse root, Warehouse) of the latest iteration

    def prepare(self) -> dict:
        import inputs

        self.dir, self.corpus = inputs.make_corpus(os.path.join(WORK, "inputs"), self.seed, self.scale)
        self.meta = inputs.meta_of(self.dir)
        return self.meta

    def load(self, s: Session) -> None:
        cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        self.cdf = s.spark.read.parquet(os.path.join(self.dir, "corpus.parquet"))
        self.cdf = self.cdf.repartition(max(2 * cpus, 8)).persist()
        self.sdf = s.spark.read.parquet(os.path.join(self.dir, "seeds.parquet")).persist()
        self.cdf.count()
        self.sdf.count()

    def warm_up(self, s: Session) -> None:
        pass

    def kg_iterate(self, s: Session, spans=None) -> int:
        """build_graph over the corpus, then the triples forced: the
        pipeline part of a bucket, which the traced run splits into
        layers."""
        from kgpipe.pipeline import build_graph

        from oracle import digest

        span = spans.span if spans else _null_span
        s.group("pb-build")
        with span("pipeline.build_graph"):
            g = build_graph(s.spark, self.cdf, self.sdf)
        s.group("pb-triples")
        with span("pipeline.triples_force"):
            d = digest(g.triples)
        self.digests.append(d)
        return d[0]

    def iterate(self, s: Session, out: Outcome, spans=None) -> int:
        from kgpipe.checkpoint import finalize, run_incremental

        from oracle import digest

        span = spans.span if spans else _null_span
        if self.last:  # every iteration starts from an empty warehouse
            shutil.rmtree(self.last[0], ignore_errors=True)
        root = os.path.join(WORK, "warehouse", f"it{self.n_iter}")
        self.n_iter += 1
        s.group("pb-buckets")
        try:
            with span("checkpoint.run_incremental"):
                wh = run_incremental(s.spark, self.cdf, self.sdf, root, n_buckets=self.n_buckets)
        except Exception as exc:  # noqa: BLE001 -- a failed run is counted, not fatal
            out.record(self.n_buckets + 1, self.n_buckets + 1, f"run_incremental: {exc!r}")
            return 0
        self.last = (root, wh)
        out.record(self.n_buckets, 0)
        s.group("pb-finalize")
        with span("checkpoint.finalize"):
            _ec, triples = finalize(wh, s.spark)
            d = digest(triples)
        self.digests.append(d)
        return d[0]

    def wall(self, walls: list[float]) -> float:
        return statistics.median(walls)

    def oracle(self, s: Session, out: Outcome) -> None:
        """Check every forced triple set against the golden digest for
        (seed, scale), cached per pair."""
        from oracle import digest_matches, golden_digest

        golden = golden_digest(s.spark, os.path.join(WORK, "inputs"), self.seed, self.scale, self.corpus)
        for d in self.digests:
            out.record(1, 0 if digest_matches(d, golden) else 1, f"triples digest {d} != golden {golden}")


class OpsWorkload:
    """The twelve headline operators, each forced once per pass, in a
    seed-permuted order, over the repository's test tables. The warm-up
    pass collects every result and takes its digest; the rows are
    checked against DuckDB after the timed phase, and every timed pass
    must reproduce the warm-up digests, so every timed output is held
    to the oracle."""

    kind = "ops"
    min_iters = 8  # the JIT is still warming up over the first five passes

    def __init__(self, seed: int):
        from bench import HEADLINE

        self.seed = seed
        self.names = list(HEADLINE)
        self.order = list(HEADLINE)
        random.Random(seed).shuffle(self.order)
        self.op_walls: dict[str, list[float]] = {n: [] for n in HEADLINE}

    def prepare(self) -> dict:
        import inputs

        self.dir = inputs.OPS_TABLES
        self.meta = inputs.ops_meta(self.dir)
        return self.meta

    def load(self, s: Session) -> None:
        from kgpipe.queries import QUERIES

        self.queries = {n: QUERIES[n] for n in self.names}

    def warm_up(self, s: Session) -> None:
        from oracle import digest

        self.collected, self.expected = {}, {}
        for name in self.order:
            df = self.queries[name](s.spark, self.dir)
            self.collected[name] = (df.columns, [tuple(r) for r in df.collect()])
            self.expected[name] = digest(df)

    def iterate(self, s: Session, out: Outcome, spans=None) -> int:
        from oracle import digest

        span = spans.span if spans else _null_span
        rows = 0
        for name in self.order:
            s.group(f"pb-ops-{name}")
            t0 = time.perf_counter()
            try:
                with span(f"ops.{name}"):
                    d = digest(self.queries[name](s.spark, self.dir))
            except Exception as exc:  # noqa: BLE001 -- a failed operator is counted
                out.record(1, 1, f"{name}: {exc!r}")
                continue
            self.op_walls[name].append(time.perf_counter() - t0)
            want = self.expected[name]
            out.record(1, 0 if d == want else 1, f"{name}: digest {d} != verified warm-up digest {want}")
            rows += d[0]
        return rows

    def wall(self, walls: list[float]) -> float:
        """Sum over the operators of each one's fastest timed pass (the
        whole-pass times in ``walls`` are not used). The passes of one
        run differ with hypervisor steal and the JIT still warming; the
        fastest pass is the steadiest figure across runs (bench.py
        reports best-of-2 for the same reason)."""
        return sum(min(v) for v in self.op_walls.values() if v)

    def oracle(self, s: Session, out: Outcome) -> None:
        """Compare every collected warm-up result with its DuckDB oracle
        SQL, as the contract checker does, and check that the digest the
        timed passes are held to covers the same number of rows."""
        from kgpipe.queries import all_oracles

        from oracle import duck_conn, duck_rows, rows_match

        oracles = all_oracles()
        con = duck_conn(self.dir)
        try:
            for name, (cols, rows) in self.collected.items():
                dcols, drows = duck_rows(con, oracles[name])
                ok = rows_match(cols, rows, dcols, drows) and self.expected[name][0] == len(rows)
                out.record(1, 0 if ok else 1, f"{name}: rows differ from the DuckDB oracle")
        finally:
            con.close()


WORKLOADS = {"warehouse_incremental": WarehouseWorkload, "ops_suite": OpsWorkload}


# ---------------------------------------------------------------------------
# driver
# ---------------------------------------------------------------------------

def timed_iterations(w, s: Session, out: Outcome, seconds: float):
    """Closed loop: iterate until ``seconds`` have passed and at least
    ``w.min_iters`` iterations ran. Returns per-iteration (wall, rows)."""
    samples = []
    deadline = time.time() + seconds
    while len(samples) < w.min_iters or time.time() < deadline:
        s.release()
        t0 = time.perf_counter()
        rows = w.iterate(s, out)
        samples.append((time.perf_counter() - t0, rows))
    return samples


def run(args, t_start: float) -> dict:
    from probes import Contention, peak_rss_mb, process_tree

    contention = Contention()
    w = WORKLOADS[args.workload](args.seed)
    t0 = time.time()
    input_meta = w.prepare()
    prep_s = time.time() - t0

    event_dir = None
    if args.trace:
        event_dir = os.path.join(WORK, "eventlog", args.workload)
        shutil.rmtree(event_dir, ignore_errors=True)
        os.makedirs(event_dir)

    # ---- set-up: session, cached input, the workload's warm-up ----------
    t_setup = time.time()
    s = Session(event_dir)
    get_spark_s = time.time() - t_setup
    t0 = time.time()
    w.load(s)
    s.pin_inputs()
    input_load_s = time.time() - t0
    t0 = time.time()
    w.warm_up(s)
    warm_s = time.time() - t0
    # start to ready, less input generation
    setup_s = (t_setup - t_start - prep_s) + get_spark_s + input_load_s + warm_s

    out = Outcome()
    walls, rows, attribution = [], 0, {}
    if args.trace:
        # the traced iteration replaces the timed phase; end-to-end
        # figures come only from untraced runs
        from layers import finish_trace, trace_iterations

        spans, metrics = trace_iterations(w, s, out, get_spark_s, input_load_s)
        w.oracle(s, out)
    else:
        samples = timed_iterations(w, s, out, args.seconds)
        walls = [x for x, _ in samples]
        wall_s = w.wall(walls)
        rows = statistics.median(r for _, r in samples)
        host_rss = peak_rss_mb(process_tree())
        w.oracle(s, out)  # outside every timed window
        metrics = {
            "wall_s": (wall_s, "s"),
            "output_rows_per_s": (rows / wall_s, "rows/s"),
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (host_rss, "MB"),
        }
    host = contention.finish()  # before stop: the Python workers are still alive
    s.close()  # also completes the event log
    if args.trace:
        metrics, attribution, problems = finish_trace(w, spans, metrics, event_dir, host)
        for why in problems:
            out.record(1, 1, why)

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "input": input_meta,
        "iterations_s": [round(x, 4) for x in walls],
        "operator_s": {k: [round(x, 4) for x in v] for k, v in getattr(w, "op_walls", {}).items()},
        "output_rows": rows,
        "setup": {"get_spark_s": get_spark_s, "input_load_s": input_load_s, "warmup_s": warm_s},
        "host": host,
        "attribution": attribution,
        "errors": out.errors[:20],
        "metrics": {k: v for k, (v, _u) in metrics.items()},
    }
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    with open(os.path.join(WORK, "runs", "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")
    for err in out.errors[:20]:
        print(err, file=sys.stderr)
    print(json.dumps({k: record[k] for k in ("workload", "iterations_s", "setup", "host")}),
          file=sys.stderr)
    return {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _isolate_environment()
    import kgpipe  # noqa: F401 -- fails here, before any output, outside a checkout

    result = run(args, t_start)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
