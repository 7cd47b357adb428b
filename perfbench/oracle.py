"""Output checks that do not trust the program under test.

* Triple sets are compared by an order-independent digest: the row count
  and the sum of a 64-bit row hash taken modulo a prime. The expected
  digest comes from ``kgpipe.golden.golden_triples``, the serial-Python
  oracle, and is cached per (seed, scale) because the oracle is slow at
  large scales.
* Operator results are compared with the DuckDB oracle SQL of each
  query, using the repository's contract checker
  (``tools/check_contract.py``): its DuckDB views and its
  order-insensitive row normalization.
"""

from __future__ import annotations

import json
import os

from tools.check_contract import duck_conn, normalize  # noqa: F401 -- duck_conn is re-exported


def digest(df) -> tuple[int, int]:
    """Force every column of every row of ``df`` in one job, with the
    expression of ``bench._force``; return its (count, hash sum).
    ``bench._force`` itself returns only the count, and the check needs
    the hash."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*df.columns), F.lit(1_000_000_007))).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def golden_digest(spark, work: str, seed: int, scale: int, corpus=None) -> dict:
    """Digest of the golden triple set for the bare corpus at (seed,
    scale). The golden rows are hashed by the same Spark expression as
    the output, so the two digests agree exactly when the sets do."""
    path = os.path.join(work, "golden", f"triples-s{seed}-x{scale}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    from kgpipe.golden import golden_triples

    from inputs import regenerate_corpus

    if corpus is None:
        corpus = regenerate_corpus(seed, scale)
    rows = sorted(golden_triples(corpus))
    gdf = spark.createDataFrame(rows, "subj string, pred string, obj string")
    n, h = digest(gdf)
    out = {"n": n, "h": h}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as fh:
        json.dump(out, fh)
    os.replace(path + ".tmp", path)
    return out


def digest_matches(observed: tuple[int, int], golden: dict) -> bool:
    return observed == (golden["n"], golden["h"])


def rows_match(spark_cols, spark_rows, duck_cols, duck_rows) -> bool:
    """The contract checker's comparison: the same column names, and the
    same rows once normalized."""
    if sorted(spark_cols) != sorted(duck_cols):
        return False
    return normalize(spark_rows, spark_cols) == normalize(duck_rows, duck_cols)


def duck_rows(con, sql: str):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()
