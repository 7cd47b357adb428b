"""Snapshot-committed tables: Iceberg-semantics storage on plain parquet.

The sandbox has no Iceberg runtime jar, so this module provides the same
*transactional contract* the pipeline needs — atomic snapshot commits,
readers never see partial writes, idempotent upsert-merge, O(delta)
commit cost — using a file-manifest + pointer-swap protocol on the local
filesystem (exactly Iceberg's design, minus the Avro encoding):

    <table>/data/c*/…/part-*.parquet      immutable data files
    <table>/snapshots/v<N>.json           manifest: the file list of
                                          snapshot N (+ bucket tags)
    <table>/_CURRENT                      pointer file → "v<N>"

A commit writes only the NEW data files, then writes an immutable
manifest listing old surviving files + new files, then atomically
replaces ``_CURRENT`` (os.replace is atomic on POSIX). Readers resolve
the pointer once and read an immutable file list — Iceberg's reader
isolation. A crash before the pointer swap leaves unreferenced data
files (harmless orphans), never a partial table.

Commit cost is O(delta), not O(table):

  * ``append``        — writes the new rows, reuses every old file;
  * ``insert_ignore`` — dedups the incoming batch, anti-joins it against
    the CURRENT KEYS of the colliding hash-buckets only (column-pruned
    scan), writes just the surviving delta; existing files untouched;
  * ``merge_best`` / ``merge_upsert`` — hash-bucketed tables rewrite
    only the buckets the incoming batch collides with; files of
    untouched buckets carry over by reference.

Layout: a hash-bucketed table's write is clustered by its table bucket
(``kb``) before ``partitionBy("kb")`` — Iceberg's hash distribution
mode — so one commit adds at most one data file per bucket (AQE may
still split a skewed bucket). Against an empty table the merges skip
their merge work: no bucket-membership collect, no current-key scan,
no anti-join. When no current file collides (an empty table, or no
colliding bucket), ``merge_best``/``merge_upsert`` elect over the
incoming rows alone, with no union against an empty scan: the election
(``triples.dedup_first``, as in ``insert_ignore``) keeps the incoming
frame's key partitioning and adds no exchange.

On a real deployment every call here maps 1:1 onto an Iceberg operation:
``merge_best/merge_upsert`` → ``MERGE INTO`` (with the same
bucket-partition pruning), ``append`` → append snapshot, ``read`` →
catalog table read. That mapping is EXECUTABLE EVIDENCE, not prose:
every operation appends its equivalent Iceberg Spark-SQL statement to
``self.sql_log`` (see ``iceberg_sql`` / ``iceberg_ddl``), golden-tested
statement-for-statement — the migration contract a deployment replays
against a real catalog.

Upsert semantics mirror the reference sinks: ``INSERT ... ON DUPLICATE
KEY UPDATE`` (/root/reference/chengyu/chengyu_mysql.py:162-180) and
``INSERT IGNORE`` (:217,239-241), made deterministic by an explicit
priority ordering instead of DB arrival order.
"""

from __future__ import annotations

import json
import os
import re
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, NumericType, StructType

from kgpipe.triples import dedup_first


def _render_sort_expr(c) -> str:
    """SQL string of a Column sort expression. Classic Spark exposes the
    JVM expression via the private ``_jc`` handle; Spark Connect has no
    JVM handle, so fall back to the Column repr, which prints the same
    expression text (``Column<'crawled DESC NULLS LAST'>``)."""
    try:
        return c._jc.toString()  # type: ignore[union-attr]
    except AttributeError:  # Spark Connect Column
        s = str(c)
        m = re.fullmatch(r"Column<'(.*)'>", s, re.DOTALL)
        return m.group(1) if m else s


def _order_terms(order) -> list[tuple[str, str, str]]:
    """Normalize an ordering spec (strings and/or Column sort expressions)
    to [(column, 'ASC'|'DESC', 'FIRST'|'LAST'), ...] for SQL rendering. A
    bare string means the operations' default ASC NULLS LAST (they wrap
    strings in ``asc_nulls_last``); a Column keeps its own NULLS
    qualifier, defaulting to Spark's sort defaults when unqualified
    (ASC → NULLS FIRST, DESC → NULLS LAST)."""
    terms = []
    for c in order:
        if isinstance(c, str):
            terms.append((c, "ASC", "LAST"))
            continue
        parts = _render_sort_expr(c).split()
        direction = "DESC" if "DESC" in parts else "ASC"
        if "NULLS" in parts:
            nulls = parts[parts.index("NULLS") + 1]
        else:
            nulls = "FIRST" if direction == "ASC" else "LAST"
        terms.append((parts[0], direction, nulls))
    return terms


def _order_sql(terms: list[tuple[str, str, str]]) -> str:
    return ", ".join(f"{c} {d} NULLS {n}" for c, d, n in terms)


def _beats_pred(terms: list[tuple[str, str, str]]) -> str:
    """Lexicographic 'incoming sorts strictly before current' predicate
    over the priority terms, with null-safe equality (<=>) on the prefix
    — the MERGE-side form of the winner election. Each term is
    null-aware so the predicate elects the same winner as the local
    election when a priority value is NULL: under NULLS LAST a
    non-null incoming value beats a NULL current one (the
    crawled-beats-stub url tiebreak), under NULLS FIRST the mirror."""
    clauses = []
    for i, (col, d, nulls) in enumerate(terms):
        eq_prefix = [f"s.{c} <=> t.{c}" for c, _, _ in terms[:i]]
        op = ">" if d == "DESC" else "<"
        if nulls == "LAST":
            null_beats = f"(s.{col} IS NOT NULL AND t.{col} IS NULL)"
        else:
            null_beats = f"(s.{col} IS NULL AND t.{col} IS NOT NULL)"
        clauses.append(
            " AND ".join(eq_prefix + [f"({null_beats} OR s.{col} {op} t.{col})"])
        )
    return " OR ".join(f"({c})" for c in clauses)


def _ascending(df: DataFrame, terms: list[tuple[str, str, str]]) -> list[Column]:
    """The ordering ``terms`` over ``df`` as keys whose ascending NULLS
    LAST order is the same, the order ``dedup_first`` elects by. A DESC
    term becomes its negation (``NOT c`` on a boolean column, ``-c`` on
    a numeric one); a NULLS FIRST term is led by ``c IS NOT NULL``."""
    keys = []
    for c, direction, nulls in terms:
        key = F.col(c)
        if nulls == "FIRST":
            keys.append(key.isNotNull())
        if direction == "DESC":
            kind = df.schema[c].dataType
            if isinstance(kind, BooleanType):
                key = ~key
            elif isinstance(kind, NumericType):
                key = -key
            else:
                raise ValueError(
                    f"DESC order needs a boolean or numeric column; {c} is {kind.simpleString()}"
                )
        keys.append(key)
    return keys


def _dedup_source_sql(keys: list[str], terms: list[tuple[str, str]]) -> str:
    return (
        "(SELECT * FROM (SELECT src.*, row_number() OVER ("
        f"PARTITION BY {', '.join(keys)} ORDER BY {_order_sql(terms)}"
        ") AS _rn FROM incoming_batch src) WHERE _rn = 1) s"
    )


class SnapshotTable:
    """One snapshot-committed table.

    ``bucket_keys`` enables hash-bucketed data layout (``n_buckets``
    buckets on xxhash64 of the keys): merges rewrite only colliding
    buckets and key-membership scans prune to colliding buckets. Tables
    written only via ``append`` (logs/metrics) skip bucketing.
    """

    def __init__(
        self,
        path: str,
        schema: StructType,
        bucket_keys: list[str] | None = None,
        n_buckets: int = 16,
    ):
        self.path = path
        self.schema = schema
        self.bucket_keys = bucket_keys
        self.n_buckets = n_buckets
        self.name = os.path.basename(path.rstrip("/"))
        #: the Iceberg migration contract: every operation appends its
        #: equivalent Iceberg Spark-SQL statement here (golden-tested).
        #: 'incoming_batch' stands for the operation's input DataFrame
        #: registered as a temp view; bounded by the number of commits.
        self.sql_log: list[str] = [self.iceberg_ddl()]
        os.makedirs(os.path.join(path, "snapshots"), exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        self._check_meta()

    # -- Iceberg-equivalence emission ---------------------------------------
    def iceberg_ddl(self) -> str:
        """CREATE TABLE with the SAME bucket layout: the manifest
        protocol's xxhash64 buckets correspond to Iceberg's bucket()
        partition transform, which is what makes the per-bucket merge
        pruning carry over.

        Iceberg's bucket transform is single-column, so a composite-key
        layout maps to bucketing on the LEADING key — merge pruning
        carries over on that key (the composite xxhash64 here prunes on
        the full tuple; the Iceberg side trades that for spec
        compliance)."""
        cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in self.schema)
        ddl = f"CREATE TABLE IF NOT EXISTS {self.name} ({cols}) USING iceberg"
        if self.bucket_keys:
            ddl += f" PARTITIONED BY (bucket({self.n_buckets}, {self.bucket_keys[0]}))"
        return ddl

    # -- table meta (bucket layout must be consistent across writers) -----
    def _check_meta(self) -> None:
        meta_path = os.path.join(self.path, "_META.json")
        meta = {"bucket_keys": self.bucket_keys, "n_buckets": self.n_buckets}
        if os.path.exists(meta_path):
            with open(meta_path) as fh:
                existing = json.load(fh)
            if existing != meta:
                raise ValueError(
                    f"table {self.path} was created with layout {existing}, "
                    f"reopened with {meta} — bucket layout is immutable"
                )
        else:
            tmp = meta_path + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(meta, fh)
            os.replace(tmp, meta_path)

    # -- snapshot protocol ------------------------------------------------
    @property
    def _pointer(self) -> str:
        return os.path.join(self.path, "_CURRENT")

    def current_version(self) -> int | None:
        try:
            with open(self._pointer) as fh:
                return int(fh.read().strip().lstrip("v"))
        except (FileNotFoundError, ValueError):
            return None

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.path, "snapshots", f"v{version}.json")

    def manifest(self, version: int | None = None) -> list[dict]:
        """File list of a snapshot: [{"path": ..., "kb": int|None}, ...]."""
        version = version if version is not None else self.current_version()
        if version is None:
            return []
        with open(self._manifest_path(version)) as fh:
            return json.load(fh)["files"]

    def _commit(self, entries: list[dict]) -> int:
        new_version = (self.current_version() or 0) + 1
        mpath = self._manifest_path(new_version)
        tmp = mpath + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"files": entries}, fh)
        os.replace(tmp, mpath)
        ptmp = self._pointer + ".tmp"
        with open(ptmp, "w") as fh:
            fh.write(f"v{new_version}")
        os.replace(ptmp, self._pointer)  # atomic commit point
        return new_version

    # -- data files ---------------------------------------------------------
    def _bucket_col(self):
        return F.pmod(
            F.xxhash64(*[F.col(k) for k in self.bucket_keys]), F.lit(self.n_buckets)
        ).cast("int")

    def _write_data(self, df: DataFrame) -> list[dict]:
        """Write a new immutable data directory; return its file entries.
        Bucketed tables partition by the key hash so future merges can
        prune to colliding buckets."""
        target = os.path.join(self.path, "data", f"c{uuid.uuid4().hex[:12]}")
        if self.bucket_keys:
            # clustered by kb: one file per table bucket, not one per
            # (task, bucket) pair
            (
                df.withColumn("kb", self._bucket_col())
                .hint("rebalance", "kb")
                .write.partitionBy("kb")
                .parquet(target)
            )
        else:
            df.write.parquet(target)
        entries = []
        for root, _dirs, files in os.walk(target):
            for name in sorted(files):
                if not name.endswith(".parquet") or name.startswith((".", "_")):
                    continue
                kb = None
                base = os.path.basename(root)
                if base.startswith("kb="):
                    kb = int(base[3:])
                entries.append({"path": os.path.join(root, name), "kb": kb})
        return entries

    def _read_files(self, spark: SparkSession, entries: list[dict]) -> DataFrame:
        if not entries:
            # zero partitions: a job over it launches no task
            return spark.createDataFrame(spark.sparkContext.emptyRDD(), self.schema)
        return spark.read.schema(self.schema).parquet(*[e["path"] for e in entries])

    # -- operations ---------------------------------------------------------
    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Current table (or any retained snapshot — reader isolation)."""
        return self._read_files(spark, self.manifest(version))

    def append(self, df: DataFrame) -> int:
        self.sql_log.append(
            f"INSERT INTO {self.name} SELECT * FROM incoming_batch"
        )
        return self._commit(self.manifest() + self._write_data(df))

    def _affected(self, incoming: DataFrame) -> tuple[list[dict], list[dict]]:
        """Split current files into (colliding-bucket, untouched-bucket)
        by the incoming batch's bucket membership (one tiny collect of at
        most n_buckets values; none when the table is empty)."""
        current = self.manifest()
        if not self.bucket_keys or not current:
            return current, []
        hit = {
            r.kb
            for r in incoming.select(self._bucket_col().alias("kb")).distinct().collect()
        }
        touched = [e for e in current if e["kb"] in hit]
        untouched = [e for e in current if e["kb"] not in hit]
        return touched, untouched

    def insert_ignore(self, df: DataFrame, keys: list[str], order_by: list) -> int:
        """INSERT IGNORE, O(delta): existing rows win, so existing FILES
        are untouched; the incoming batch is deduped within itself
        (deterministic ``order_by`` winner), anti-joined against the
        current keys of its colliding buckets only (column-pruned scan),
        and the surviving delta appended as new files."""
        terms = _order_terms(order_by)
        on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
        self.sql_log.append(
            f"MERGE INTO {self.name} t USING {_dedup_source_sql(keys, terms)} "
            f"ON {on} WHEN NOT MATCHED THEN INSERT *"
        )
        incoming = dedup_first(df, keys, order_by)
        touched, untouched = self._affected(incoming)
        delta = incoming
        if touched:
            current_keys = self._read_files(df.sparkSession, touched).select(*keys)
            delta = incoming.join(current_keys, keys, "left_anti")
        return self._commit(touched + untouched + self._write_data(delta))

    def _merge_rewrite(
        self, df: DataFrame, keys: list[str], terms: list[tuple[str, str, str]]
    ) -> int:
        """Shared partitioned-rewrite merge: union incoming with the rows
        of colliding buckets only, elect one winner per key by ``terms``
        (``_gen`` is 0 on a current row, 1 on an incoming one) through
        ``dedup_first``, rewrite those buckets; untouched buckets carry
        over by reference. When no current file collides, the election
        runs over the incoming rows alone, so an incoming frame already
        partitioned by ``keys`` is elected without another exchange."""
        touched, untouched = self._affected(df)
        rows = df.withColumn("_gen", F.lit(1))
        if touched:
            current = self._read_files(df.sparkSession, touched).withColumn("_gen", F.lit(0))
            rows = current.unionByName(rows)
        order = _ascending(rows, terms)
        names = [f"_o{i}" for i in range(len(order))]
        ranked = rows.select("*", *[o.alias(n) for o, n in zip(order, names)])
        merged = dedup_first(ranked, keys, names).drop("_gen", *names)
        return self._commit(untouched + self._write_data(merged))

    def merge_best(self, df: DataFrame, keys: list[str], priority: list) -> int:
        """Order-independent merge: the winner per key is decided by the
        ``priority`` column expressions alone (not arrival order), so any
        interleaving of partial runs converges to the same table. Used for
        nodes, where a crawled record must beat a mention-minted stub no
        matter which bucket commits first (INSERT IGNORE + ON DUP KEY
        UPDATE combined semantics, chengyu_mysql.py:162-221)."""
        terms = _order_terms(priority)
        on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
        self.sql_log.append(
            f"MERGE INTO {self.name} t USING {_dedup_source_sql(keys, terms)} "
            f"ON {on} WHEN MATCHED AND ({_beats_pred(terms)}) THEN UPDATE SET * "
            f"WHEN NOT MATCHED THEN INSERT *"
        )
        return self._merge_rewrite(df, keys, terms)

    def merge_upsert(self, df: DataFrame, keys: list[str], order_by: list) -> int:
        """MERGE INTO: new rows win over existing rows on key collision,
        ties broken by the deterministic ``order_by`` columns. Replay-safe:
        merging the same df twice is a no-op."""
        terms = _order_terms(order_by)
        on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
        self.sql_log.append(
            f"MERGE INTO {self.name} t USING {_dedup_source_sql(keys, terms)} "
            f"ON {on} WHEN MATCHED THEN UPDATE SET * "
            f"WHEN NOT MATCHED THEN INSERT *"
        )
        return self._merge_rewrite(df, keys, [("_gen", "DESC", "LAST")] + terms)

    def overwrite(self, df: DataFrame) -> int:
        self.sql_log.append(
            f"INSERT OVERWRITE {self.name} SELECT * FROM incoming_batch"
        )
        return self._commit(self._write_data(df))

    def truncate(self, spark: SparkSession) -> int:
        """S17 admin operation (clear_crawled_data.py:34-83)."""
        self.sql_log.append(f"TRUNCATE TABLE {self.name}")
        return self._commit([])

    # -- maintenance (Iceberg rewrite_data_files / expire_snapshots) ---------
    def compact(self, spark: SparkSession) -> int:
        """Rewrite the current table into one data directory (per bucket
        when bucketed) and commit a manifest referencing only the new
        files. O(delta) commits trade write amplification for file-count
        growth — a periodic compaction (Iceberg's rewrite_data_files)
        caps reader-side file listing and footer overhead. Old snapshots
        remain readable until expired."""
        self.sql_log.append(
            f"CALL system.rewrite_data_files(table => '{self.name}')"
        )
        current = self.read(spark)
        return self._commit(self._write_data(current))

    def expire_snapshots(self, keep_last: int = 1) -> int:
        """Drop manifests older than the last ``keep_last`` versions and
        delete data files no retained manifest references (Iceberg's
        expire_snapshots). Returns the number of data files deleted.
        Time travel remains available for retained versions."""
        self.sql_log.append(
            f"CALL system.expire_snapshots(table => '{self.name}', "
            f"retain_last => {keep_last})"
        )
        current = self.current_version()
        if current is None:
            return 0
        cutoff = max(current - keep_last + 1, 1)
        retained: set[str] = set()
        for v in range(cutoff, current + 1):
            retained.update(e["path"] for e in self.manifest(v))
        removed = 0
        for v in range(1, cutoff):
            mpath = self._manifest_path(v)
            if not os.path.exists(mpath):
                continue
            for e in self.manifest(v):
                if e["path"] not in retained and os.path.exists(e["path"]):
                    os.remove(e["path"])
                    removed += 1
            os.remove(mpath)
        return removed

    # -- introspection (tests / ops) ----------------------------------------
    def commit_delta_bytes(self, version: int) -> int:
        """Bytes of NEW data files introduced by snapshot ``version`` —
        the physical write cost of that commit."""
        before = {e["path"] for e in self.manifest(version - 1)} if version > 1 else set()
        return sum(
            os.path.getsize(e["path"])
            for e in self.manifest(version)
            if e["path"] not in before
        )


class Warehouse:
    """The five output tables of the rebuilt engine (SURVEY.md §1.1).

    nodes and edges are hash-bucketed on their merge keys so the
    incremental runner's per-unit commits rewrite at most the colliding
    buckets (nodes) or only append the new-key delta (edges)."""

    def __init__(self, root: str):
        from kgpipe import schemas

        self.root = root
        self.nodes = SnapshotTable(
            os.path.join(root, "nodes"), schemas.NODES_SCHEMA,
            bucket_keys=["node_id"], n_buckets=16,
        )
        self.edges = SnapshotTable(
            os.path.join(root, "edges"), schemas.EDGES_SCHEMA,
            bucket_keys=["src_id", "dst_id", "rel_type"], n_buckets=16,
        )
        self.run_metrics = SnapshotTable(
            os.path.join(root, "run_metrics"), schemas.RUN_METRICS_SCHEMA
        )
        self.checkpoints = SnapshotTable(
            os.path.join(root, "checkpoints"), schemas.CHECKPOINTS_SCHEMA
        )
        self.errors = SnapshotTable(os.path.join(root, "errors"), schemas.ERRORS_SCHEMA)
