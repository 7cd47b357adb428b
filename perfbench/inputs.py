"""Benchmark inputs.

* The dictionary-page corpus of ``warehouse_incremental`` comes from
  ``kgpipe.corpus.generate_corpus`` (bare pages). It is written once per
  (seed, scale) as parquet under the benchmark's work directory, so that
  a timed run reads it the way a warehouse job would. The same seed
  writes the same bytes.
* The operator tables of ``ops_suite`` are not generated: they are the
  repository's sf0.01 test tables (and sf0.001 for the self-check),
  committed under ``perfbench/data/``. The seed only permutes the order
  in which the operators run.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))

#: the corpus shape of bench.py's flagship; only ``scale`` varies
CORPUS_SHAPE = dict(n_hanzi=60, n_words=120, n_idioms=80)

#: the operator tables the timed runs read, and the tiny ones of the self-check
OPS_TABLES = os.path.join(HERE, "data", "sf0.01")
OPS_TABLES_TINY = os.path.join(HERE, "data", "sf0.001")


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_meta.json"))


def _seal(path: str, meta: dict) -> dict:
    with open(os.path.join(path, "_meta.json"), "w") as fh:
        json.dump(meta, fh)
    return meta


def meta_of(path: str) -> dict:
    with open(os.path.join(path, "_meta.json")) as fh:
        return json.load(fh)


def make_corpus(root: str, seed: int, scale: int):
    """Write the bare corpus and its seeds as parquet; returns (dir,
    Corpus or None). The Corpus object is returned only when it was
    generated in this call, so the golden oracle can reuse it."""
    path = os.path.join(root, f"corpus-s{seed}-x{scale}")
    if _done(path):
        return path, None
    corpus = regenerate_corpus(seed, scale)
    os.makedirs(path, exist_ok=True)
    rows = corpus.rows
    pq.write_table(
        pa.table({k: [r[k] for r in rows] for k in ("repo", "path", "commit", "lang", "content")}),
        os.path.join(path, "corpus.parquet"),
    )
    pq.write_table(
        pa.table({k: [s[k] for s in corpus.seeds] for k in ("name", "entity_type")}),
        os.path.join(path, "seeds.parquet"),
    )
    _seal(path, {
        "pages": len(rows),
        "content_bytes": sum(len(r["content"].encode("utf-8")) for r in rows),
        "seeds": len(corpus.seeds),
    })
    return path, corpus


def regenerate_corpus(seed: int, scale: int):
    """The bare corpus object for (seed, scale), rebuilt in memory."""
    from kgpipe.corpus import generate_corpus

    return generate_corpus(**CORPUS_SHAPE, seed=seed, scale=scale)


def ops_meta(path: str) -> dict:
    """Row count and bytes of each operator table."""
    tables = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    return {
        "rows": {f[: -len(".parquet")]: pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                 for f in tables},
        "bytes": sum(os.path.getsize(os.path.join(path, f)) for f in tables),
    }
