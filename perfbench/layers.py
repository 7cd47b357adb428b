"""Per-layer metrics of the traced run.

In place of the timed phase, the traced run runs the workload's
iteration once untraced and then once with spans around the benchmark's
calls into kgpipe and the py4j counter on; the Spark event log is on
for the whole session. The difference of the two wall times is the
tracing overhead. Jobs are attributed to layers from the outside: by
the time window of a span, by the job group the benchmark set on its
own thread, by the call site Spark recorded, or by the physical plan of
the job's SQL execution (the parse barriers run on threads that do not
inherit the benchmark's job group).

Every metric in ``PER_LAYER`` is printed for every workload; a layer a
workload does not run reads 0 there. A layer a workload does run must
read more than 0 (``REQUIRED``); an attribution that finds no jobs is
counted as a failed operation.
"""

from __future__ import annotations

import os
import statistics
import time

from bench import HEADLINE
from probes import EventLog, Py4jCounter, Spans

#: name -> unit, in the order BENCHMARK.json lists them
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.input_load_s": "s",
    "parse.sample_pages": "count",
    "parse.fast_accept_ratio.chengyu": "ratio",
    "parse.fast_accept_ratio.cidian": "ratio",
    "parse.us_per_page.chengyu": "us",
    "parse.us_per_page.cidian": "us",
    "parse.us_per_page.zidian": "us",
    "parse.terms_barrier_s": "s",
    "parse.hz_barrier_s": "s",
    "parse.task_cpu_s": "s",
    "parse.gc_s": "s",
    "canon.mapping_job_s": "s",
    "pipeline.build_graph_s": "s",
    "pipeline.py4j_calls": "count",
    "pipeline.spark_jobs": "count",
    "pipeline.triples_plan_s": "s",
    "pipeline.triples_job_s": "s",
    "pipeline.triples_task_cpu_s": "s",
    "triples.shuffle_write_bytes": "bytes",
    "checkpoint.buckets": "count",
    "checkpoint.bucket_s.median": "s",
    "checkpoint.bucket_s.max": "s",
    "checkpoint.spark_jobs_per_bucket": "count",
    "checkpoint.py4j_calls_per_bucket": "count",
    "checkpoint.finalize_s": "s",
    "materialize.commits": "count",
    "materialize.bytes_written": "bytes",
    "materialize.live_bytes": "bytes",
    "materialize.write_amplification": "ratio",
    "materialize.write_jobs_s": "s",
    "materialize.stored_bytes_per_input_byte": "ratio",
    **{f"ops.{name}_s": "s" for name in HEADLINE},
    "ops.task_cpu_s": "s",
    "ops.gc_s": "s",
    "ops.shuffle_bytes": "bytes",
    "trace.wall_s": "s",
    "trace.untraced_wall_s": "s",
    "trace.overhead_s": "s",
    "host.load_1m_start": "load",
    "host.foreign_cpu_s": "s",
    "host.steal_s": "s",
}

#: per workload kind, the metrics of the layers it runs; each must read > 0
REQUIRED = {
    "warehouse": [
        k for k in PER_LAYER
        if k.split(".")[0] in ("session", "parse", "canon", "pipeline", "triples", "checkpoint",
                               "materialize", "trace")
        and k not in ("parse.gc_s", "trace.overhead_s")
    ],
    "ops": [
        k for k in PER_LAYER
        if k.split(".")[0] in ("session", "ops", "trace") and k not in ("ops.gc_s", "trace.overhead_s")
    ],
}

_WRITE_NODES = ("InsertIntoHadoopFsRelationCommand", "WriteFiles")


def trace_iterations(w, s, out, get_spark_s: float, input_load_s: float) -> tuple[Spans, dict]:
    """Run the workload's iteration untraced and traced, in the order
    untraced, traced, traced, untraced, so that JIT warm-up and other
    drift weigh on both alike. Returns the spans and the metrics known
    before the event log is complete (the session must stop for that).

    ``ops``: each iteration is one pass over the twelve operators, timed
    as the sum of the per-operator times. ``warehouse``: first one
    traced incremental round, cold like the untraced runs' round, for
    the checkpoint and materialize layers; then the iterations are
    build_graph plus the forced triples, for the pipeline layers. The
    event-log and span figures are per traced iteration."""
    m: dict[str, float] = {k: 0.0 for k in PER_LAYER}
    m["session.get_spark_s"] = get_spark_s
    m["session.input_load_s"] = input_load_s
    spans = Spans(run_id=f"{w.kind}-{os.getpid()}")

    if w.kind == "warehouse":
        spans.counter = Py4jCounter(s.spark)
        s.release()
        if w.iterate(s, out, spans):
            m.update(_warehouse_tables(w, s))
        spans.counter.remove()
        spans.counter = None

    walls: dict[bool, list[float]] = {False: [], True: []}
    for traced in (False, True, True, False):
        s.release()
        if traced:
            spans.counter = Py4jCounter(s.spark)
        t0 = time.perf_counter()
        if w.kind == "ops":
            w.iterate(s, out, spans if traced else None)
            walls[traced].append(sum(v[-1] for v in w.op_walls.values() if v))
        else:
            w.kg_iterate(s, spans if traced else None)
            walls[traced].append(time.perf_counter() - t0)
        if traced:
            spans.counter.remove()
            spans.counter = None
    m["trace.untraced_wall_s"] = statistics.mean(walls[False])
    m["trace.wall_s"] = statistics.mean(walls[True])
    m["trace.overhead_s"] = m["trace.wall_s"] - m["trace.untraced_wall_s"]
    if w.kind == "ops":
        for name in HEADLINE:
            m[f"ops.{name}_s"] = spans.total(f"ops.{name}") / len(walls[True])
    else:
        m.update(parser_sample(w.dir))
    return spans, m


def finish_trace(w, spans: Spans, m: dict, event_dir: str, host: dict):
    """Fold the finished event log into the metrics and write the spans
    out. Call after the session has stopped. Returns (metrics with
    units, the job ids attributed to each layer, attribution problems)."""
    ev = EventLog(event_dir)
    attribution: dict[str, list[int]] = {}
    if w.kind == "warehouse":
        m.update(_fold_kg(ev, spans, attribution))
        m.update(_fold_warehouse(ev, spans, w, attribution))
    else:
        m.update(_fold_ops(ev, spans, attribution))
    m["host.load_1m_start"] = host["load_1m_start"]
    m["host.foreign_cpu_s"] = host["foreign_cpu_s"]
    m["host.steal_s"] = host["steal_s"]
    spans.write(event_dir + ".spans.jsonl")
    problems = [f"layer metric {k} reads {m[k]}: no work attributed to it"
                for k in REQUIRED[w.kind] if not m[k] > 0]
    terms, hz = attribution.get("parse.terms_barrier", []), attribution.get("parse.hz_barrier", [])
    if set(terms) & set(hz):
        problems.append(f"the terms and hanzi barriers share jobs {sorted(set(terms) & set(hz))}")
    return {k: (m[k], PER_LAYER[k]) for k in PER_LAYER}, attribution, problems


def _in_window(ev: EventLog, start: float, end: float) -> list[dict]:
    return ev.select(lambda j: start <= j["start"] <= end)


def _plan_has(ev: EventLog, job: dict, *needles: str) -> bool:
    text = ev.text(job)
    return any(n in text for n in needles)


def _ids(jobs: list[dict]) -> list[int]:
    return sorted(j["id"] for j in jobs)


def _parse_barriers(ev: EventLog, jobs: list[dict]) -> tuple[list, list]:
    """(terms, hz) barrier jobs of one build_graph. A barrier is a SQL
    execution, outside the canonical-mapping collect and the triples
    force, that runs a parse UDF; the terms barrier is the one over the
    chengyu ∪ cidian union. Every job of such an execution counts."""
    by_exec: dict = {}
    for j in jobs:
        if "canon.py" in j["call_site"] or j["group"] == "pb-triples":
            continue
        by_exec.setdefault(j["execution"], []).append(j)
    terms, hz = [], []
    for execution, ejobs in by_exec.items():
        if execution is None or not any(_plan_has(ev, j, "ArrowEvalPython") for j in ejobs):
            continue
        is_terms = any(_plan_has(ev, j, "chengyu/", "Union") for j in ejobs)
        (terms if is_terms else hz).extend(ejobs)
    return terms, hz


def _fold_kg(ev: EventLog, spans: Spans, attribution: dict) -> dict:
    build = spans.last("pipeline.build_graph")
    force = spans.last("pipeline.triples_force")
    if not (build and force):
        return {}
    jobs = _in_window(ev, build["start"], force["end"])
    terms, hz = _parse_barriers(ev, jobs)
    canon = [j for j in jobs if "canon.py" in j["call_site"]]
    trip = [j for j in jobs if j["group"] == "pb-triples"]
    parse = terms + hz
    attribution.update({
        "parse.terms_barrier": _ids(terms),
        "parse.hz_barrier": _ids(hz),
        "canon.mapping_job": _ids(canon),
        "pipeline.triples_job": _ids(trip),
    })
    return {
        "parse.terms_barrier_s": ev.wall(terms),
        "parse.hz_barrier_s": ev.wall(hz),
        "parse.task_cpu_s": ev.stage_sum(parse, "cpu_s"),
        "parse.gc_s": ev.stage_sum(parse, "gc_s"),
        "canon.mapping_job_s": ev.wall(canon),
        "pipeline.build_graph_s": build["end"] - build["start"],
        "pipeline.py4j_calls": build["py4j"],
        "pipeline.spark_jobs": len(jobs),
        "pipeline.triples_plan_s": (min(j["start"] for j in trip) - force["start"]) if trip else 0.0,
        "pipeline.triples_job_s": ev.wall(trip),
        "pipeline.triples_task_cpu_s": ev.stage_sum(trip, "cpu_s"),
        "triples.shuffle_write_bytes": ev.stage_sum(trip, "shuffle_write"),
    }


def _fold_warehouse(ev: EventLog, spans: Spans, w, attribution: dict) -> dict:
    run = spans.last("checkpoint.run_incremental")
    fin = spans.last("checkpoint.finalize")
    if not (run and fin):
        return {}
    jobs = _in_window(ev, run["start"], run["end"])
    writes = [j for j in _in_window(ev, run["start"], fin["end"]) if _plan_has(ev, j, *_WRITE_NODES)]
    n = w.n_buckets
    attribution["materialize.write_jobs"] = _ids(writes)
    return {
        "checkpoint.spark_jobs_per_bucket": len(jobs) / n,
        "checkpoint.py4j_calls_per_bucket": run["py4j"] / n,
        "checkpoint.finalize_s": spans.total("checkpoint.finalize"),
        "materialize.write_jobs_s": ev.wall(writes),
    }


def _warehouse_tables(w, s) -> dict:
    """Bucket times from the runner's own run_metrics table, and the
    snapshot tables' commit and byte accounting; read before the session
    stops."""
    _root, wh = w.last
    elapsed = [r["elapsed_seconds"] for r in wh.run_metrics.read(s.spark).collect()]
    tables = [wh.nodes, wh.edges, wh.run_metrics, wh.checkpoints, wh.errors]
    commits = sum(t.current_version() or 0 for t in tables)
    written = live = 0
    for t in (wh.nodes, wh.edges):
        cur = t.current_version() or 0
        written += sum(t.commit_delta_bytes(v) for v in range(1, cur + 1))
        live += sum(os.path.getsize(e["path"]) for e in t.manifest(cur)) if cur else 0
    return {
        "checkpoint.buckets": len(elapsed),
        "checkpoint.bucket_s.median": statistics.median(elapsed) if elapsed else 0.0,
        "checkpoint.bucket_s.max": max(elapsed, default=0.0),
        "materialize.commits": commits,
        "materialize.bytes_written": written,
        "materialize.live_bytes": live,
        "materialize.write_amplification": written / live if live else 0.0,
        "materialize.stored_bytes_per_input_byte": live / w.meta["content_bytes"],
    }


def _fold_ops(ev: EventLog, spans: Spans, attribution: dict) -> dict:
    if not spans.records:
        return {}
    # the traced passes run back to back, so this window holds them only
    jobs = _in_window(ev, spans.records[0]["start"], spans.records[-1]["end"])
    attribution["ops"] = _ids(jobs)
    passes = len(spans.records) / len(HEADLINE)
    return {
        "ops.task_cpu_s": ev.stage_sum(jobs, "cpu_s") / passes,
        "ops.gc_s": ev.stage_sum(jobs, "gc_s") / passes,
        "ops.shuffle_bytes": ev.stage_sum(jobs, "shuffle_write") / passes,
    }


def parser_sample(corpus_dir: str, per_family: int = 40, passes: int = 3) -> dict:
    """Driver-side, single-threaded parser cost on a fixed page sample:
    the first ``per_family`` pages of each family by path. The parsers
    get the field and section projection build_graph uses."""
    import pyarrow.parquet as pq

    from kgpipe.parse.chengyu import HOT_FIELDS as CHENGYU_HOT
    from kgpipe.parse.chengyu import parse_chengyu_html
    from kgpipe.parse.ciyu import HOT_FIELDS as CIYU_HOT
    from kgpipe.parse.ciyu import parse_ciyu_html
    from kgpipe.parse.fastterm import fast_hot_chengyu, fast_hot_ciyu
    from kgpipe.parse.hanzi import parse_hanzi_html
    from kgpipe.pipeline import PIPELINE_HANZI_SECTIONS

    table = pq.read_table(os.path.join(corpus_dir, "corpus.parquet"), columns=["path", "content"])
    pages = sorted(zip(table.column("path").to_pylist(), table.column("content").to_pylist()))

    def sample(prefix: str) -> list:
        return [(p, c) for p, c in pages if p.startswith(prefix)][:per_family]

    fams = {
        "chengyu": (sample("chengyu/"), lambda p, c: parse_chengyu_html(c, p, fields=CHENGYU_HOT)),
        "cidian": (sample("cidian/"), lambda p, c: parse_ciyu_html(c, p, fields=CIYU_HOT)),
        "zidian": (sample("zidian/"), lambda p, c: parse_hanzi_html(c, p, sections=PIPELINE_HANZI_SECTIONS)),
    }
    out = {"parse.sample_pages": min(len(v[0]) for v in fams.values())}
    for fam, (sample_pages, fn) in fams.items():
        per_pass = []
        for _ in range(passes):
            t0 = time.perf_counter()
            for p, c in sample_pages:
                fn(p, c)
            per_pass.append((time.perf_counter() - t0) / max(len(sample_pages), 1))
        out[f"parse.us_per_page.{fam}"] = statistics.median(per_pass) * 1e6
    for fam, fast in (("chengyu", fast_hot_chengyu), ("cidian", fast_hot_ciyu)):
        sample_pages = fams[fam][0]
        hits = sum(fast(c) is not None for _p, c in sample_pages)
        out[f"parse.fast_accept_ratio.{fam}"] = hits / max(len(sample_pages), 1)
    return out
