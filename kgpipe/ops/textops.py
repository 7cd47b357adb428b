"""Text dedup / analysis operators over a ``documents(doc_id, text, lang,
source, n_chars)`` table — native Spark SQL expressions (JVM-side,
whole-stage-codegen'd) except TWO deliberate Arrow-vectorized passes
(guide §4.2): the MinHash signature computation and the content
fingerprint both run in ``mapInArrow`` handing whole batches to
hashlib/numpy/re — each measured ≥2x the JVM formulation it replaced,
which tests/test_ops.py keeps as its equality oracle.
No row-at-a-time Python anywhere (plan-asserted).

Determinism: every operator is a pure function of its input — hashes are
md5/sha2 (not JVM-partitioning-dependent), survivors are elected by
explicit deterministic ordering, floats are rounded at fixed precision.
This is what makes each operator oracle-checkable against DuckDB running
the equivalent ANSI SQL.

Scale notes per operator are in the docstrings; the common theme: shuffle
keys are hashes (uniform), candidate generation prunes the O(n²) pair
space before any pairwise work, and skewed buckets are bounded by
construction (band tables salt naturally via the band index).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Fan out a narrow input that has fewer splits than the cluster has
    cores (e.g. one small unsplittable parquet file / one row group) so
    per-row compute-heavy operators are not serialized on one task.

    The repartition moves only the RAW input rows — far cheaper than the
    shuffles it replaces downstream. At warehouse scale input files
    vastly exceed cores, so the cheap ``inputFiles`` count short-circuits
    without touching ``df.rdd`` (materializing the Python RDD forces a
    full driver-side analysis of the plan); the RDD-partition check runs
    only for few-file / in-memory inputs, where the plan is trivial.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if len(df.inputFiles()) >= target:
        return df  # enough file splits — no-op, no plan materialization
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _fanout_barrier(df: DataFrame, reliable: bool = False) -> DataFrame:
    """Pin a fan-out intermediate so concurrent consumers never recompute
    its lineage. Both forms write the pinned blocks at the first
    consuming action, but construction is job-free only when ``df``'s
    plan has no exchange: ``Dataset.checkpoint`` executes the adaptive
    plan at construction, which runs one job per shuffle or broadcast
    stage below the barrier (``dedup_minhash_lsh``: the
    ``ensure_parallelism`` repartition, one job per build; a narrow
    plan: none).

    ``reliable=False`` (default): ``localCheckpoint`` — executor-local,
    non-replicated blocks. Fastest, but an executor loss mid-job loses
    them with NO recompute path (lineage is truncated): the job fails
    and must restart.

    ``reliable=True``: ``checkpoint`` — the intermediate is written to
    the SparkContext checkpoint directory (HDFS/object store on a real
    cluster), so executor loss recomputes from the checkpoint files and
    the job survives. Costs one distributed write+read round-trip; the
    fault-tolerant choice for a 100 TB run that cannot afford a restart.
    Requires ``spark.sparkContext.setCheckpointDir(...)`` — raised
    eagerly here (cheap driver check) rather than failing mid-job.
    """
    if not reliable:
        return df.localCheckpoint(eager=False)
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        raise ValueError(
            "reliable=True needs a checkpoint directory: call "
            "spark.sparkContext.setCheckpointDir('<durable path>') first"
        )
    return df.checkpoint(eager=False)


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def dedup_exact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup by content hash; survivor = min doc_id per hash.

    One shuffle on md5(text) (uniform key → no skew); at 100 TB this is a
    single hash-aggregate pass with map-side partial aggregation.
    Returns (doc_id, content_hash, dup_count) for survivors.
    """
    return (
        docs.select(F.col("doc_id"), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select("doc_id", "content_hash", "dup_count")
    )


# ---------------------------------------------------------------------------
# shingling + MinHash LSH near-dup
# ---------------------------------------------------------------------------

def shingles(docs: DataFrame, k: int = 5, text_col: str = "text") -> DataFrame:
    """Distinct character k-shingles per document — native explode over a
    position sequence (no UDF)."""
    return docs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(char_length({text_col}) - {k - 1}, 1)),"
                f" i -> substring({text_col}, i, {k}))"
            )
        ).alias("shingle"),
    ).distinct()


#: universal-hash family over a single md5 base (round 7, VERDICT task 2):
#: base(s) = first 8 hex digits of md5(s) as a bigint (one digest + one
#: substring per shingle), h_j(s) = ((base % P) * A_j + B_j) % P — the
#: per-seed mixing is pure 64-bit arithmetic, replacing round-6's
#: md5(concat(seed, shingle)) per seed per shingle (8 digests + 8
#: concats/shingle, the allocation storm behind the 42.9s deferred-GC
#: pause BENCH.md pinned on this query). P = 2^31-1 keeps every product
#: under 2^62, in range for BOTH engines (DuckDB raises on BIGINT
#: overflow; Spark would silently wrap). Constants: arbitrary fixed odd
#: multipliers / offsets below P, mirrored verbatim in the oracle SQL.
MINHASH_P = 2_147_483_647
MINHASH_A = (
    1_926_246_167,
    1_609_587_929,
    1_500_450_271,
    1_203_918_281,
    941_083_981,
    899_809_343,
    824_633_789,
    741_103_597,
)
MINHASH_B = (
    784_923_401,
    581_869_302,
    417_304_705,
    324_610_043,
    257_985_371,
    196_314_165,
    112_429_301,
    84_029_117,
)

#: SQL for base(s) over a shingle expression — Spark dialect (with
#: ``_minhash_mix``, the SQL form of the family the test oracle builds on)
_MINHASH_BASE = "CAST(conv(substring(md5({s}), 1, 8), 16, 10) AS BIGINT) % {p}"


def _minhash_mix(j: int, base_sql: str) -> str:
    return f"(({base_sql}) * {MINHASH_A[j]}L + {MINHASH_B[j]}L) % {MINHASH_P}L"


def _banded_wide(
    docs: DataFrame,
    k: int = 5,
    num_hashes: int = 8,
    bands: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Row-local banded MinHash, wide layout: (doc_id, bh0..bh{bands-1})
    with ZERO shuffle — one row per document, one column per band hash.

    Round 8: computed in a ``mapInArrow`` pass (guide §4.2 — hand whole
    batches to native code): md5 via hashlib (C), the per-seed
    multiply-add-mod mixing and the running minima via one numpy
    broadcast per document. The JVM expression formulation
    (``_banded_wide_expr`` in tests/test_ops.py) computes the identical
    family but pays interpreted higher-order-lambda evaluation with boxed
    arithmetic per shingle — A/B at sf1.0 (50k docs, ~15M shingles,
    local[32]): 3.4s expr vs 1.7s arrow under load, 1.9s vs ~1.0s quiet.
    The test keeps it as the equality oracle (byte-identical output) and
    it documents the hash family in SQL form.

    Hash identity (both paths, mirrored by the DuckDB oracle):
    base(s) = int64 of the first 4 md5 bytes of the UTF-8 shingle
    (== first 8 hex digits) mod P; h_j = (base * A_j + B_j) mod P;
    band hash = md5(concat_ws('|', decimal renderings of the band's
    signature members)). NULL text yields an all-NULL signature whose
    concat_ws collapses to '' — every band hash md5('') — in both
    paths. Python slicing and Spark substring both index code
    points, and hashlib md5 consumes the same UTF-8 bytes Spark hashes.
    """
    import pyarrow as pa  # worker-side import is free; driver needs it anyway
    import numpy as np

    docs = ensure_parallelism(docs)
    rows_per_band = num_hashes // bands
    A = np.array(MINHASH_A[:num_hashes], dtype=np.int64)
    B = np.array(MINHASH_B[:num_hashes], dtype=np.int64)
    P = MINHASH_P

    def compute(batches):
        import hashlib

        md5 = hashlib.md5
        for batch in batches:
            doc_ids = batch.column("doc_id")
            texts = batch.column(text_col).to_pylist()
            out_bh: list = [[] for _ in range(bands)]
            for t in texts:
                if t is None:
                    # expr-path parity: a NULL text yields an all-NULL
                    # signature, concat_ws skips NULL members, so every
                    # band hash is md5 of the empty string
                    null_bh = md5(b"").hexdigest()
                    for b in range(bands):
                        out_bh[b].append(null_bh)
                    continue
                npos = max(len(t) - (k - 1), 1)
                bases = (
                    np.frombuffer(
                        b"".join(
                            md5(t[i : i + k].encode("utf-8")).digest()[:4]
                            for i in range(npos)
                        ),
                        dtype=">u4",
                    ).astype(np.int64)
                    % P
                )
                mins = ((bases[:, None] * A + B) % P).min(axis=0)
                for b in range(bands):
                    s = "|".join(
                        str(mins[b * rows_per_band + r]) for r in range(rows_per_band)
                    )
                    out_bh[b].append(md5(s.encode()).hexdigest())
            yield pa.RecordBatch.from_arrays(
                [doc_ids] + [pa.array(out_bh[b], type=pa.string()) for b in range(bands)],
                ["doc_id"] + [f"bh{b}" for b in range(bands)],
            )

    id_type = docs.schema["doc_id"].dataType.simpleString()
    schema = f"doc_id {id_type}, " + ", ".join(f"bh{b} string" for b in range(bands))
    return docs.select("doc_id", text_col).mapInArrow(compute, schema)


def minhash_banded(
    docs: DataFrame,
    k: int = 5,
    num_hashes: int = 8,
    bands: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Row-local banded MinHash: (doc_id, band, bh) with ZERO shuffle —
    the long-layout view of ``_banded_wide`` (one explode, still
    row-local)."""
    wide = _banded_wide(docs, k=k, num_hashes=num_hashes, bands=bands, text_col=text_col)
    return _band_rows(wide, bands).select("doc_id", "band", "bh")


def _band_rows(wide: DataFrame, bands: int) -> DataFrame:
    """One row per (document, band) of a wide banded table: its columns
    plus (band, bh) — one generator, still row-local."""
    rows = ", ".join(f"named_struct('band', {b}, 'bh', bh{b})" for b in range(bands))
    return wide.selectExpr("*", f"inline(array({rows}))")


def band_pairs_exactly_once(wide: DataFrame, bands: int = 4) -> DataFrame:
    """Candidate pairs from the wide banded table, each pair emitted
    EXACTLY once — no distinct pass (round 8, guide §2.4/§2.3).

    The former shape (long banded table → self-join → ``.distinct()``)
    re-found the same pair in every band where it collides and paid a
    full extra shuffle + aggregation over the entire candidate-pair set
    to collapse the duplicates (58M pairs at sf1.0 — by far the largest
    exchange of the query). Here every row carries ALL band hashes, so
    the join keeps a pair only in its FIRST matching band (band b
    requires bh0..bh{b-1} to differ): per-pair emission is unique by
    construction and the distinct exchange disappears.

    Set equality with the old formulation: pair (a,b) shares band b iff
    bh_b(a) = bh_b(b); the predicate keeps exactly the minimal such b,
    which exists iff the pair shares ≥1 band — the same pair set, one
    row each. Precondition (same as every operator over ``documents``):
    doc_id is the table's key. The retired ``.distinct()`` additionally
    masked duplicate doc_id input rows; this path, like the oracle,
    treats duplicate ids as distinct documents that happen to collide.

    The predicate is one SQL string: as Column calls it cost one py4j
    round trip per comparison, most of this builder's driver time.
    """
    banded = _band_rows(wide, bands)
    a, b = banded.alias("a"), banded.alias("b")
    # min-band predicate: this band is the FIRST where the pair collides
    minband = " OR ".join(
        "(" + " AND ".join([f"a.band = {bx}"] + [f"a.bh{e} <> b.bh{e}" for e in range(bx)]) + ")"
        for bx in range(bands)
    )
    cond = f"a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id AND ({minband})"
    return a.join(b, F.expr(cond)).selectExpr("a.doc_id AS doc_a", "b.doc_id AS doc_b")


def dedup_minhash_lsh(
    docs: DataFrame, k: int = 5, num_hashes: int = 8, bands: int = 4
) -> DataFrame:
    """Full MinHash+LSH near-dup candidate table (row-local signatures —
    no shuffle before the band-bucket join; exactly-once pair emission —
    no distinct shuffle after it).

    The ``_fanout_barrier`` pins the (tiny: one row per document) wide
    signature table so the self-join's two sides read it instead of each
    re-running the shingle/md5 signature pass — guide §5 (persist reused
    intermediates) + §3.3 (truncate the plan feeding both join inputs).
    A/B at sf1.0 (50k docs, 58.2M pairs, local[32], noop sink, fresh
    plan per leg): old shape 9.5–13.1s → this shape 3.3s.
    """
    wide = _fanout_barrier(_banded_wide(docs, k=k, num_hashes=num_hashes, bands=bands))
    return band_pairs_exactly_once(wide, bands=bands)


def dedup_clusters(
    docs: DataFrame, k: int = 5, num_hashes: int = 8, bands: int = 4
) -> DataFrame:
    """End-to-end near-duplicate resolution: every document assigned to a
    duplicate cluster with a deterministic survivor.

    Pipeline: row-local MinHash banding → LSH candidate pairs →
    connected components over the pair graph (transitive closure: A≈B,
    B≈C ⇒ one cluster even when A,C never share a band) → cluster id =
    min doc_id of the component; documents in no pair are their own
    singleton cluster. ``is_survivor`` marks the kept copy.

    Scale: pairs are LSH-pruned (never all-pairs); the CC loop shuffles
    only the pair graph (tiny vs the corpus — duplicate clusters, not
    documents); the final assignment is one broadcast-sized left join
    per run at sandbox scale and a standard shuffle join at warehouse
    scale. Returns (doc_id, cluster_id, is_survivor).
    """
    from kgpipe.canon import connected_components

    pairs = dedup_minhash_lsh(docs, k=k, num_hashes=num_hashes, bands=bands)
    sc = docs.sparkSession.sparkContext
    comp = connected_components(
        pairs, src="doc_a", dst="doc_b", num_partitions=sc.defaultParallelism
    )
    cluster = F.coalesce(F.col("component_id"), F.col("doc_id"))
    return (
        docs.select("doc_id")
        .join(comp.withColumnRenamed("node_id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            cluster.alias("cluster_id"),
            (cluster == F.col("doc_id")).alias("is_survivor"),
        )
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (verification stage for LSH candidates)
# ---------------------------------------------------------------------------

def ngram_jaccard(docs: DataFrame, pairs: DataFrame, k: int = 5) -> DataFrame:
    """Exact Jaccard over char k-shingles for the given candidate pairs.

    Documents are pruned to the PAIR PARTICIPANTS (doc_a ∪ doc_b, semi-
    join) BEFORE shingling: the LSH stage prunes pairs precisely so that
    verification touches few documents — shingling the whole corpus and
    joining afterwards would make the |corpus|×|text| shingle explode the
    dominant cost at scale and defeat that pruning. After the semi-join,
    shingle-set sizes and the intersection join scale with the candidate
    set, not the corpus.

    |A∩B| via a join of the two shingle sets; |A∪B| = |A|+|B|-|A∩B|.
    Ratio of two integers rounded at 4 dp — deterministic.
    """
    participants = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = shingles(docs.join(participants, "doc_id", "left_semi"), k=k)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        pairs.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 4).alias(
                "jaccard"
            ),
        )
    )


# ---------------------------------------------------------------------------
# duplicated n-gram spans (exact substring dedup) + within-doc repetition
# ---------------------------------------------------------------------------

def _word_ngram_hashes(text_col: str, n: int) -> str:
    """SQL expression: array of md5 hashes of the space-joined word
    n-grams of ``text_col`` (1-based positions); empty array when the
    document has fewer than n tokens. Guarded with CASE because Spark's
    sequence(1, 0) yields a DESCENDING [1, 0], not an empty sequence."""
    toks = f"filter(split(trim({text_col}), '\\\\s+'), t -> char_length(t) > 0)"
    return (
        f"CASE WHEN size({toks}) < {n} THEN array() "
        f"ELSE transform(sequence(1, size({toks}) - {n - 1}), "
        f"i -> md5(array_join(slice({toks}, i, {n}), ' '))) END"
    )


def duplicate_ngram_spans(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    reliable: bool = False,
) -> DataFrame:
    """Exact substring-duplication detection (the hashed-n-gram form of
    Lee et al. 2022 "Deduplicating Training Data Makes Language Models
    Better"): word n-grams occurring in ≥ ``min_docs`` DISTINCT
    documents, emitted as per-document spans (doc_id, start, gram_hash,
    n_docs) so a downstream pass can cut the duplicated ranges.

    Scale shape: the FULL corpus is n-gram-exploded exactly once — into a
    materialized per-(doc, gram) DISTINCT projection (``array_distinct``
    keeps the per-doc dedup row-local, so no extra shuffle) that feeds
    both the duplicated-gram aggregation and the participant-doc lookup;
    the POSITIONAL explode (the expensive pass the round-3 review flagged
    as running twice) then reruns only over documents that own ≥ 1
    duplicated gram — the ``ngram_jaccard`` participant-pruning pattern.
    On a typical corpus duplicated grams are rare, so the second pass
    touches a small fraction of the data. One hash-agg on the uniform md5
    gram key, one join against the (much smaller) duplicated-gram set —
    never all-pairs, never a suffix array. The materialized doc-gram
    projection is the same size class as the shingle table LSH already
    builds; it is released by the ContextCleaner once the result frame is
    garbage-collected.

    The barrier (``_fanout_barrier``) writes its blocks at the first
    consuming action, after which both the duplicated-gram aggregation
    and the participant lookup read them; construction runs one job per
    exchange in ``docs``'s plan (none for a plain table scan). The default
    is executor-local blocks (fast, lost on executor failure — the job
    restarts); ``reliable=True`` swaps in a reliable checkpoint of the
    (doc_id, gram_hash) projection so a 100 TB run survives executor
    loss (see ``_fanout_barrier``).
    """
    gram_arr = _word_ngram_hashes(text_col, n)
    doc_grams = _fanout_barrier(
        docs.select(
            "doc_id",
            F.explode(F.array_distinct(F.expr(gram_arr))).alias("gram_hash"),
        ),
        reliable=reliable,
    )
    # per-(doc, gram) rows are distinct by construction, so a plain count
    # IS countDistinct(doc_id) — no second dedup pass
    dup = (
        doc_grams.groupBy("gram_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
    )
    participants = doc_grams.join(dup, "gram_hash", "left_semi").select("doc_id").distinct()
    spans = (
        docs.join(participants, "doc_id", "left_semi")
        .select(
            "doc_id",
            F.posexplode(F.expr(gram_arr)).alias("_p", "gram_hash"),
        )
        .select("doc_id", (F.col("_p") + 1).alias("start"), "gram_hash")
    )
    return spans.join(dup, "gram_hash").select("doc_id", "start", "gram_hash", "n_docs")


def remove_duplicate_spans(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    keep_first: bool = False,
    reliable: bool = False,
) -> DataFrame:
    """The OUTPUT stage of exact substring dedup (Lee et al. 2022): cut
    duplicated word-n-gram ranges out of documents. A token is removed
    iff it falls inside some span [start, start+n-1] reported by
    ``duplicate_ngram_spans``; the survivors re-join into the cleaned
    text. Returns (doc_id, n_tokens, removed_tokens, cleaned_text) for
    EVERY document (documents without duplicated spans pass through
    unmodified).

    ``keep_first=False`` (default) removes the duplicated range from ALL
    owners — the conservative contamination-removal policy.
    ``keep_first=True`` is the paper's dedup semantics: the occurrence in
    the lowest doc_id containing each gram survives (one copy of the
    content is preserved corpus-wide); only the other owners are cut.
    The keeper election is one extra hash-agg over the (small)
    duplicated-span table — the corpus-side cost is identical.

    Scale shape: the span table (small — only duplicated grams) is
    aggregated to one start-list per affected document and joined back on
    the uniform doc_id key; the cut itself is a single row-local
    higher-order-function projection (transform + exists + filter), zero
    extra shuffle beyond the span aggregation. Engine-portable: pure
    integer position arithmetic + the same tokenizer the span detector
    used.
    """
    spans = duplicate_ngram_spans(
        docs, n=n, min_docs=min_docs, text_col=text_col, reliable=reliable
    )
    if keep_first:
        keeper = spans.groupBy("gram_hash").agg(F.min("doc_id").alias("_keeper"))
        spans = spans.join(keeper, "gram_hash").where(
            F.col("doc_id") != F.col("_keeper")
        )
    starts = spans.groupBy("doc_id").agg(F.collect_set("start").alias("_starts"))
    toks_expr = f"filter(split(trim({text_col}), '\\\\s+'), t -> char_length(t) > 0)"
    joined = docs.join(starts, "doc_id", "left")
    toks = F.expr(toks_expr)
    starts_arr = F.coalesce(F.col("_starts"), F.expr("array()").cast("array<int>"))
    indexed = F.transform(
        toks, lambda t, i: F.struct(t.alias("t"), (i + F.lit(1)).alias("p"))
    )
    kept = F.transform(
        F.filter(
            indexed,
            lambda x: ~F.exists(
                starts_arr,
                lambda s: (x["p"] >= s) & (x["p"] <= s + F.lit(n - 1)),
            ),
        ),
        lambda x: x["t"],
    )
    return joined.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        (F.size(toks) - F.size(kept)).alias("removed_tokens"),
        F.array_join(kept, " ").alias("cleaned_text"),
    )


#: probe documents above this count stop being broadcast by default —
#: ~100k probe docs × a few hundred distinct grams each is the point
#: where the exploded gram table threatens the executor broadcast budget.
CONTAMINATION_BROADCAST_MAX_PROBES = 100_000


def ngram_contamination(
    docs: DataFrame,
    probes: DataFrame,
    n: int = 8,
    text_col: str = "text",
    probe_id_col: str = "doc_id",
    broadcast_probes: bool | None = None,
    broadcast_max_probes: int = CONTAMINATION_BROADCAST_MAX_PROBES,
    exclude_self_pairs: bool = True,
) -> DataFrame:
    """Benchmark decontamination: find corpus documents that share any
    word n-gram with a PROBE set (eval/benchmark documents) — the
    standard leakage check run before training. Returns
    (doc_id, probe_id, shared_grams) for every contaminated
    (corpus doc, probe doc) pair.

    Scale shape: the probe set is small by definition (benchmarks), so
    its distinct gram table broadcasts; the corpus side is one row-local
    distinct-gram projection (``array_distinct`` before the explode — no
    per-doc dedup shuffle) joined against the broadcast, then one
    hash-agg on the (doc, probe) pair. The corpus is never self-joined
    and never shuffled on anything but the output pair key.

    ``broadcast_probes=None`` (default) DERIVES the strategy from the
    probe side: at most ``broadcast_max_probes`` probe documents →
    broadcast the gram table; above it, fall back to a plain shuffle
    join and let AQE pick — so an unexpectedly huge probe set cannot OOM
    an executor by default. CONTRACT NOTE: deriving runs one bounded
    eager job at declaration time — a ``LIMIT broadcast_max_probes+1``
    count over the zero-column-pruned probe scan, so its cost is capped
    by the threshold, not the probe-table size, and it runs once per
    call, not per action. Pass True/False to force either path (no job
    at declaration — the fully lazy contract the other operators keep).

    ``exclude_self_pairs=True`` (default) drops pairs with
    doc_id == probe_id — correct when probes are DRAWN FROM THE CORPUS
    (the common leave-the-benchmark-out setup). When the probe set is an
    external table with its own id space, pass False: a coincidental id
    collision would otherwise silently suppress a genuine contamination
    pair.
    """
    gram_expr = _word_ngram_hashes(text_col, n)
    probe_grams = probes.select(
        F.col(probe_id_col).alias("probe_id"),
        F.explode(F.array_distinct(F.expr(gram_expr))).alias("gram_hash"),
    )
    corpus_grams = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.expr(gram_expr))).alias("gram_hash"),
    )
    if broadcast_probes is None:
        # bounded derivation job: LIMIT caps the scan at threshold+1 rows
        # (zero columns read), so a huge probe table costs the same to
        # classify as a small one
        broadcast_probes = (
            probes.limit(broadcast_max_probes + 1).count() <= broadcast_max_probes
        )
    probe_side = F.broadcast(probe_grams) if broadcast_probes else probe_grams
    joined = corpus_grams.join(probe_side, "gram_hash")
    if exclude_self_pairs:
        joined = joined.where(F.col("doc_id") != F.col("probe_id"))
    return joined.groupBy("doc_id", "probe_id").agg(
        F.count(F.lit(1)).alias("shared_grams")
    )


def token_vocabulary(
    docs: DataFrame,
    k: int = 100,
    text_col: str = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """Corpus-wide vocabulary induction: the top-``k`` tokens by document
    frequency and total count — the counting pass a BPE/tokenizer-
    training pipeline runs first. Deterministic ordering: count desc,
    then token asc. Tokens default to whitespace splitting;
    ``tokens_col`` names a pre-tokenized ``array<string>`` column (a
    real tokenizer's output computed once upstream) to count instead.

    One explode → one hash-agg with map-side partial aggregation on the
    token key → global top-k (TakeOrderedAndProject, no full sort). Head
    tokens are the textbook skewed key, which is exactly where partial
    aggregation collapses the skew before the shuffle: each map task
    emits one row per distinct token regardless of its frequency.
    """
    tok_arr = (
        F.col(tokens_col)
        if tokens_col is not None
        else F.expr(
            f"filter(split(trim({text_col}), '\\\\s+'), t -> char_length(t) > 0)"
        )
    )
    toks = docs.select("doc_id", F.explode(tok_arr).alias("token"))
    return (
        toks.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("total_count"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.col("total_count").desc(), F.col("token").asc())
        .limit(k)
    )


def stratified_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    thresholds: tuple = (("train", "cc"), ("val", "e6")),
    default: str = "test",
) -> DataFrame:
    """Deterministic hash-stratified dataset split (train/val/test): the
    first md5 byte of the id, as two hex chars, compares against string
    thresholds ('cc' → ~79.7% train, 'e6' → next ~10.2% val, rest test).

    Pure row-local projection — no shuffle, no RNG, no positional
    dependence: a document keeps its split forever as the corpus grows
    or repartitions (the property a ``rand()``- or row-number-based
    split lacks), and the assignment is identical on any engine that
    agrees on md5 + string comparison. Returns (id, bucket, split).

    Thresholds are sorted ascending by boundary before the when-chain is
    built (the chain only yields the documented fractions in that order
    — a caller passing (('val','e6'),('train','cc')) would otherwise
    silently get the first threshold capturing everything below it);
    duplicate boundaries are rejected because the later band would be
    empty, which is never what the caller meant.
    """
    thresholds = sorted(thresholds, key=lambda nt: nt[1])
    bounds = [th for _, th in thresholds]
    if len(set(bounds)) != len(bounds):
        raise ValueError(f"duplicate split boundaries: {bounds}")
    h = F.substring(F.md5(F.col(id_col).cast("string")), 1, 2)
    split = None
    for name, th in thresholds:
        cond = h < F.lit(th)
        split = (
            F.when(cond, F.lit(name))
            if split is None
            else split.when(cond, F.lit(name))
        )
    split = split.otherwise(F.lit(default))
    return docs.select(F.col(id_col), h.alias("bucket"), split.alias("split"))


def repetition_stats(
    docs: DataFrame, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """Within-document repetition (the Gopher/MassiveText quality
    signal): total word n-grams, distinct n-grams, and repetition ratio
    = 1 − distinct/total (0 = no repetition, → 1 for degenerate loops).
    Fully row-local — zero shuffle, codegen'd."""
    arr = F.expr(_word_ngram_hashes(text_col, n))
    staged = docs.select(
        "doc_id",
        F.size(arr).alias("total_ngrams"),
        F.size(F.array_distinct(arr)).alias("distinct_ngrams"),
    )
    ratio = F.when(F.col("total_ngrams") == 0, F.lit(0.0)).otherwise(
        F.round(
            F.lit(1.0) - F.col("distinct_ngrams") / F.col("total_ngrams"), 4
        )
    )
    return staged.select(
        "doc_id", "total_ngrams", "distinct_ngrams", ratio.alias("repetition_ratio")
    )


# ---------------------------------------------------------------------------
# end-to-end corpus cleaning (the training-data filter product)
# ---------------------------------------------------------------------------

def clean_corpus(
    docs: DataFrame,
    min_quality: float = 0.3,
    max_repetition: float = 0.5,
    rep_n: int = 3,
    k: int = 5,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """End-to-end training-data filter: composes quality scoring,
    within-document repetition, and near-dup cluster survivorship into
    one per-document decision — (doc_id, quality, repetition_ratio,
    is_survivor, keep). A document is kept iff it clears the quality
    floor, the repetition ceiling, AND is the deterministic survivor of
    its near-duplicate cluster.

    Scale shape: TWO corpus scans, not three — the quality and repetition
    signals are both row-local, so they are computed in one fused
    projection pass sharing the tokenize (``_quality_staged`` with
    ``rep_n``); the second scan is the LSH banding inside
    ``dedup_clusters`` (never all-pairs). The signal frame and the
    cluster frame meet on the uniform doc_id key; at warehouse scale both
    sides co-partition on doc_id so the composition is one co-located
    join, and each scan prunes to the columns it reads.
    """
    staged = _quality_staged(docs, "text", rep_n=rep_n)
    signals = staged.selectExpr(
        "doc_id",
        f"{_quality_cols()['quality']} AS quality",
        "CASE WHEN _total_ngrams = 0 THEN 0.0D"
        " ELSE round(1.0D - _distinct_ngrams / _total_ngrams, 4) END AS repetition_ratio",
    )
    c = dedup_clusters(docs, k=k, num_hashes=num_hashes, bands=bands).select(
        "doc_id", "is_survivor"
    )
    keep = (
        (F.col("quality") >= min_quality)
        & (F.col("repetition_ratio") <= max_repetition)
        & F.col("is_survivor")
    )
    return signals.join(c, "doc_id").select(
        "doc_id", "quality", "repetition_ratio", "is_survivor", keep.alias("keep")
    )


def prepare_training_corpus(
    docs: DataFrame,
    min_quality: float = 0.3,
    max_repetition: float = 0.5,
    rep_n: int = 3,
    k: int = 5,
    num_hashes: int = 8,
    bands: int = 4,
    span_n: int = 8,
    span_min_docs: int = 2,
    text_col: str = "text",
    decisions: DataFrame | None = None,
    reliable: bool = False,
) -> DataFrame:
    """The full corpus-preparation product, end to end: (1) filter by
    quality floor, repetition ceiling and near-dup cluster survivorship
    (``clean_corpus``); (2) cut exact duplicated n-gram spans AMONG THE
    SURVIVORS with the keep-first policy (``remove_duplicate_spans`` —
    run after document-level dedup so only residual cross-doc substring
    duplication is cut, and one copy of each survives); (3) assign the
    deterministic hash-stratified train/val/test split. Returns
    (doc_id, split, n_tokens, removed_tokens, cleaned_text) — the frame
    a tokenize-and-train pipeline consumes directly.

    Scale shape: composes stages that are each scan-minimal (two text
    scans for the filter, one for the span cut over the pruned survivor
    set, a row-local split projection); every join key is the uniform
    doc_id, so at warehouse scale the composition co-partitions into one
    join tree with no new shuffle patterns beyond its parts.

    The composition fans out — the survivor set feeds the span detector,
    the span cut AND the split — so the expensive filter lineage
    (fused quality/repetition scan + LSH banding + CC + decision
    semi-join) is pinned behind TWO barriers and evaluates exactly
    once: ``keep_ids`` (the doc_id column of the keep decisions — all
    the split needs, so the split never re-scans the corpus) and
    ``kept`` (the surviving documents with text, read by the span
    detector's gram projection, the positional re-explode, and the cut
    join). The barriers write their blocks at the first consuming
    action, but constructing them runs the filter lineage's shuffle and
    broadcast stages as jobs — one per exchange (see
    ``_fanout_barrier``). ``reliable=True`` makes them (and the span
    detector's) reliable checkpoints so executor loss recomputes instead
    of failing the job — the restart-intolerant 100 TB configuration.

    ``decisions``: pass an already-computed ``clean_corpus`` frame
    (same filter params) to reuse it instead of re-deriving — the
    natural composition when a pipeline inspects the keep decisions AND
    prepares the corpus in one run. The filter kwargs are ignored then.
    """
    if decisions is None:
        decisions = clean_corpus(
            docs,
            min_quality=min_quality,
            max_repetition=max_repetition,
            rep_n=rep_n,
            k=k,
            num_hashes=num_hashes,
            bands=bands,
        )
    keep_ids = _fanout_barrier(
        decisions.where(F.col("keep")).select("doc_id"), reliable=reliable
    )
    kept = _fanout_barrier(
        docs.join(keep_ids, "doc_id", "left_semi"), reliable=reliable
    )
    cut = remove_duplicate_spans(
        kept, n=span_n, min_docs=span_min_docs, text_col=text_col,
        keep_first=True, reliable=reliable,
    )
    split = stratified_split(keep_ids).select("doc_id", "split")
    return cut.join(split, "doc_id").select(
        "doc_id", "split", "n_tokens", "removed_tokens", "cleaned_text"
    )


# ---------------------------------------------------------------------------
# sequence packing / PII scrub / source-mixture sampling
# ---------------------------------------------------------------------------

def pack_sequences(
    docs: DataFrame,
    seq_len: int = 2048,
    n_buckets: int = 1024,
    text_col: str = "text",
    n_tokens_col: str | None = None,
) -> DataFrame:
    """Concat-then-chunk sequence packing — the GPT-style training
    layout: documents are concatenated into a token stream and cut into
    fixed ``seq_len``-token training sequences (documents may span a
    boundary). Returns per document: its pack bucket, its token offset
    in the bucket's stream, and the first/last sequence index it lands
    in — the manifest a sequence-building job shards by (bucket,
    seq_no).

    Deterministic AND scale-safe: a global concatenation order would
    need a full sort, so the stream is split into ``n_buckets``
    independent streams by the leading md5 byte pair of the id (the
    ``stratified_split`` trick — growth- and partitioning-invariant),
    and each bucket packs in doc_id order. The only shuffle is the
    window over the uniform bucket key; per-bucket sort state is
    |corpus|/n_buckets. Token counts default to whitespace tokens;
    ``n_tokens_col`` names a pre-tokenized count column (a real BPE
    count computed once upstream) to use instead — the tokenizer hook
    shared with ``token_vocabulary`` / ``corpus_source_stats``.
    Returns (doc_id, bucket, n_tokens, tok_offset, start_seq, end_seq).
    """
    if n_tokens_col is not None:
        toks = F.col(n_tokens_col).cast("int")
    else:
        toks = F.size(
            F.filter(
                F.split(F.trim(F.col(text_col)), "\\s+"), lambda t: F.length(t) > 0
            )
        )
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
            "long"
        ),
        F.lit(n_buckets),
    ).cast("int")
    staged = docs.select("doc_id", bucket.alias("bucket"), toks.alias("n_tokens"))
    w = Window.partitionBy("bucket").orderBy("doc_id")
    offset = (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("long")
    start_seq = F.floor(offset / seq_len).cast("long")
    end_seq = F.floor(
        (offset + F.greatest(F.col("n_tokens") - 1, F.lit(0))) / seq_len
    ).cast("long")
    return staged.select(
        "doc_id", "bucket", "n_tokens", offset.alias("tok_offset"),
        start_seq.alias("start_seq"), end_seq.alias("end_seq"),
    )


#: (pattern, replacement) redaction rules — the regex subset shared by
#: Java (Spark) and RE2 (DuckDB/Go) so the operator is oracle-checkable
#: and engine-portable (no lookaround; ASCII \b in both engines). Order
#: matters: emails before phones (digits in local parts), IPs before
#: phones (shared digit runs), the '+'-anchored phone form before the
#: unanchored ones.
#:
#: Phone rules (VERDICT r5: the old any-9-char-digit-run rule redacted
#: ISBNs, space-separated dates and long IDs) require a phone SHAPE, so
#: every match carries >=7 digits by construction and is boundary-
#: anchored — digits embedded in hex ids or 16+-digit runs never match:
#:   1. +cc with 2-4 separator-joined groups  (+44 7700 900123)
#:   2. three/four groups of 3-4 digits       (555-123-4567, 010 1234 5678)
#:      — a date like 2026-08-17 or 2026 08 17 12 00 has a 2-digit
#:      group in every 3-group window, so it survives
#:   3. a contiguous 7-15 digit run           (13912345678) — 16+ digits
#:      (credit-card-length ids, timestamps beyond 15) survive via \b
PII_RULES: tuple = (
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>"),
    ("\\+\\d{1,3}(?:[\\- ]?\\d{2,6}){2,4}\\b", "<PHONE>"),
    # parenthesized NANP form "(555) 123-4567" (round 7, VERDICT r6 #6)
    ("\\(\\d{3}\\) ?\\d{3}[\\- ]\\d{4}\\b", "<PHONE>"),
    ("\\b\\d{3,4}(?:[\\- ]\\d{3,4}){2,3}\\b", "<PHONE>"),
    ("\\+?\\b\\d{7,15}\\b", "<PHONE>"),
)

#: precision-biased variant: drops the bare 7-15 digit rule, whose
#: recall (separator-free numbers like "call 5551234567") costs
#: precision on digit-bearing non-phones (order ids, 8-digit dates like
#: 20260817). The DEFAULT rule set keeps it — a pre-training scrub
#: prefers recall at the trust boundary — and callers opt into
#: precision via ``pii_scrub(rules=PII_RULES_PRECISE)``.
PII_RULES_PRECISE: tuple = PII_RULES[:-1]


def pii_scrub(
    docs: DataFrame, text_col: str = "text", rules: tuple = PII_RULES
) -> DataFrame:
    """PII redaction over the corpus: emails, IPv4 addresses and
    phone-like digit runs replaced by typed placeholder tokens, with a
    per-document redaction count — the pre-training scrub pass run
    before any corpus leaves the trust boundary.

    Fully row-local (zero shuffle, whole-stage-codegen'd regex chain);
    rules are applied sequentially in ``rules`` order and each rule
    counts its matches on the text AS ALREADY SCRUBBED by the earlier
    rules — n_redactions is exactly the number of replacements
    performed, with overlapping matches resolved deterministically by
    rule order. The default rule set is recall-biased (the bare 7-15
    digit run redacts); ``rules=PII_RULES_PRECISE`` trades that recall
    for precision on digit-bearing non-phones. Returns (doc_id,
    scrubbed_text, n_redactions).
    """
    scrubbed = F.col(text_col)
    n_red = F.lit(0)
    for pat, repl in rules:
        n_red = n_red + F.size(F.regexp_extract_all(scrubbed, F.lit(pat), F.lit(0)))
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    return docs.select(
        "doc_id", scrubbed.alias("scrubbed_text"), n_red.cast("int").alias("n_redactions")
    )


def weighted_sample(
    docs: DataFrame,
    rates: dict,
    source_col: str = "source",
    id_col: str = "doc_id",
    default_rate: float = 1.0,
) -> DataFrame:
    """Deterministic per-source downsampling to target rates — the
    domain-mixture knob of a training-data pipeline (e.g. keep 100% of
    books, 30% of common-crawl). A document is kept iff its id-hash
    uniform u(id) < rate(source); like ``stratified_split`` the decision
    is a pure row-local function of the id, so it is reproducible at any
    parallelism, stable as the corpus grows, and consistent across
    engines that agree on md5.

    u(id) = first 8 md5 hex chars / 16^8 — uniform on [0,1) with 32 bits
    of resolution. ``rates`` is a small source→rate dict rendered into a
    when-chain (no join at all — the mixture table is bounded by the
    source vocabulary). Returns the kept rows of ``docs`` unchanged.
    """
    u = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast(
        "double"
    ) / F.lit(float(16 ** 8))
    rate = None
    for src, r in sorted(rates.items()):
        cond = F.col(source_col) == src
        rate = F.when(cond, F.lit(float(r))) if rate is None else rate.when(
            cond, F.lit(float(r))
        )
    rate = F.lit(float(default_rate)) if rate is None else rate.otherwise(
        F.lit(float(default_rate))
    )
    return docs.where(u < rate)


def corpus_source_stats(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    n_tokens_col: str | None = None,
) -> DataFrame:
    """Per-source dataset-card aggregates: document count, total tokens,
    exact mean document length (chars, 2 dp) and distinct languages —
    the summary table every corpus release ships with. One hash-agg with
    map-side partial aggregation on the bounded source key; the token
    count is a row-local projection fused into the same scan (or read
    from ``n_tokens_col``, a pre-tokenized count computed once upstream
    — the tokenizer hook shared with ``pack_sequences``). Returns
    (source, n_docs, total_tokens, mean_chars, n_langs)."""
    if n_tokens_col is not None:
        toks = F.col(n_tokens_col).cast("long")
    else:
        toks = F.size(
            F.filter(F.split(F.trim(F.col(text_col)), "\\s+"), lambda t: F.length(t) > 0)
        )
    return (
        docs.select(
            F.col(source_col).alias("source"),
            toks.alias("_toks"),
            F.char_length(F.col(text_col)).alias("_chars"),
            "lang",
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_toks").alias("total_tokens"),
            F.round(F.avg("_chars"), 2).alias("mean_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32


def simhash(docs: DataFrame, text_col: str = "text", bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash over whitespace tokens — fully row-local, ZERO shuffle.

    Token hash = first 8 hex chars of md5 (32 bits, engine-portable);
    bit_i contributes +1/−1 by token; simhash bit_i = majority sign.
    All arithmetic on integers → bit-exact across engines.

    One ``aggregate`` expression per row: a single pass over the token
    array maintaining the per-bit ±1 sums, with the bit-majority
    reconstruction in the ``finish`` lambda. Replaces the former
    explode + groupBy(doc_id) (a full-width shuffle of every token hash);
    documents with no tokens are excluded, matching the aggregation
    semantics (and the DuckDB oracle, which stays unchanged).
    """
    # token-less docs are excluded (aggregation semantics / oracle parity)
    # by a CHEAP pre-filter — filtering on the computed simhash instead
    # would be pushed below the fan-out exchange by Catalyst and evaluate
    # the whole aggregate twice (once per side of the shuffle). A trimmed
    # non-empty string always yields ≥1 non-empty token, so the predicates
    # are equivalent.
    docs = ensure_parallelism(
        docs.where(F.trim(F.col(text_col)) != "")
    )
    hashes_expr = (
        f"transform(filter(split(trim({text_col}), '\\\\s+'), t -> char_length(t) > 0), "
        "t -> CAST(conv(substring(md5(t), 1, 8), 16, 10) AS LONG))"
    )
    bit_deltas = (
        "transform(sequence(0, {n}), i -> "
        "CASE WHEN (h >> i) & 1 = 1 THEN 1L ELSE -1L END)".format(n=bits - 1)
    )
    merge = f"(acc, h) -> zip_with(acc, {bit_deltas}, (a, d) -> a + d)"
    powers = "array(" + ", ".join(f"{2 ** i}L" for i in range(bits)) + ")"
    finish = (
        f"sums -> aggregate(zip_with(sums, {powers}, "
        "(s, p) -> CASE WHEN s > 0 THEN p ELSE 0L END), 0L, (a, v) -> a + v)"
    )
    sim = F.expr(
        f"aggregate({hashes_expr}, "
        f"array_repeat(0L, {bits}), "
        f"{merge}, "
        f"{finish})"
    )
    return docs.select("doc_id", sim.alias("simhash"))


# ---------------------------------------------------------------------------
# language id / quality / tokens / fingerprint
# ---------------------------------------------------------------------------

_EN_STOPWORDS = "the,of,and,to,in,a,is,that,it,for,on,with,as,was,at,by,an,be,this,are"


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """N-gram-free heuristic language id: CJK character share vs an
    English stopword share over whitespace tokens."""
    # single-split input fan-out (see _quality_staged): 2.15s → 0.54s at
    # sf1.0; no-op when the source already has ≥cores splits
    docs = ensure_parallelism(docs)
    total_chars = F.char_length(F.col(text_col))
    cjk_chars = total_chars - F.char_length(
        F.regexp_replace(F.col(text_col), "[\\u4e00-\\u9fff]", "")
    )
    toks = F.split(F.trim(F.col(text_col)), "\\s+")
    stop_arr = F.split(F.lit(_EN_STOPWORDS), ",")
    stop_hits = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, F.lower(t))))
    n_toks = F.size(toks)
    return docs.select(
        "doc_id",
        F.when(cjk_chars * 2 > total_chars, F.lit("zh"))
        .when((n_toks > 0) & (stop_hits * 5 >= n_toks), F.lit("en"))
        .otherwise(F.lit("other"))
        .alias("lang_pred"),
    )


def _quality_staged(docs: DataFrame, text_col: str, rep_n: int | None):
    """Shared staging for quality (and, when ``rep_n`` is given, the
    within-doc repetition counts) — ONE corpus scan, one projection pass.

    The token split and stopword scan are projected ONCE in a staging
    select and the features derive from the scalar counts; Catalyst's
    CollapseProject keeps the staging projection because a non-trivial
    alias referenced more than once is not inlined — so the text is
    tokenized exactly once per row. Folding the repetition n-gram counts
    into the SAME projection (``clean_corpus``) removes what used to be a
    second full corpus scan: both signals are row-local, so they share
    the scan for free.
    """
    # fan a narrow single-split input out to cluster parallelism: the
    # documents table at bench scale is one parquet row group, so the
    # whole per-row feature computation otherwise runs in ONE task
    # (measured: quality 1.88s single-task → 0.67s fanned at sf1.0;
    # no-op at warehouse scale where splits ≫ cores). Adopted here and in
    # language_id only — fingerprint/token_counts/dedup_exact measured
    # SLOWER fanned (their per-row regex work is too small to amortize
    # the shuffle + per-task-cold codegen, A/B in OPTIMIZATION_r08.md).
    docs = ensure_parallelism(docs)
    text = F.col(text_col)
    # stopword hits as ONE codegen'd regex pass over the raw text instead
    # of a per-token higher-order filter (lower() + linear array_contains
    # per token, interpreted — the single largest term of the quality
    # scan: +1.25s of 2.5s at sf1.0). Equivalence to
    # size(filter(_toks, t -> array_contains(stops, lower(t)))): every
    # non-empty token of split(trim(text), '\s+') is a maximal \S+ run of
    # text, and the lookarounds force a match to cover a full run; (?i)
    # (ASCII case fold, no UNICODE_CASE) agrees with lower() on the
    # all-ASCII stopword alphabet. Verified equal on the corpus plus
    # 3000 randomized whitespace/case-adversarial docs.
    stop_re = "(?i)(?<![^\\s])(?:" + _EN_STOPWORDS.replace(",", "|") + ")(?![^\\s])"
    stage1 = [
        F.char_length(text).alias("_n_chars"),
        (
            F.char_length(text)
            - F.char_length(F.regexp_replace(text, "[\\.,;:!?'\"()]", ""))
        ).alias("_n_punct"),
        F.split(F.trim(text), "\\s+").alias("_toks"),
        F.regexp_count(text, F.lit(stop_re)).alias("_stop_hits"),
        F.char_length(F.regexp_replace(text, "\\s+", "")).alias("_solid_chars"),
    ]
    if rep_n is not None:
        arr = F.expr(_word_ngram_hashes(text_col, rep_n))
        stage1 += [
            F.size(arr).alias("_total_ngrams"),
            F.size(F.array_distinct(arr)).alias("_distinct_ngrams"),
        ]
    tokenized = docs.select("doc_id", *stage1)
    stage2 = ["_n_chars", "_n_punct", "size(_toks) AS _n_toks", "_stop_hits", "_solid_chars"]
    if rep_n is not None:
        stage2 += ["_total_ngrams", "_distinct_ngrams"]
    return tokenized.selectExpr("doc_id", *stage2)


def _quality_cols() -> dict[str, str]:
    """The quality ratios and score as SQL over ``_quality_staged``'s
    columns — integer-ratio arithmetic, double literals, 4 dp. One
    string per column instead of a Column call per operator and literal
    (this builder's py4j round trips)."""
    punct_ratio = "round(_n_punct / greatest(_n_chars, 1), 4)"
    stop_ratio = "round(_stop_hits / greatest(_n_toks, 1), 4)"
    mean_tok = "round(_solid_chars / greatest(_n_toks, 1), 4)"
    score = (
        f"round(least(_n_toks / 100.0D, 1.0D) * 0.4D + {stop_ratio} * 0.4D"
        f" + (1.0D - least({punct_ratio} * 5, 1.0D)) * 0.2D, 4)"
    )
    return {
        "punct_ratio": punct_ratio,
        "stopword_ratio": stop_ratio,
        "mean_token_len": mean_tok,
        "quality": score,
    }


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword / mean-token-length features and a
    composite score — integer-ratio arithmetic rounded at 4 dp, one
    corpus scan (see ``_quality_staged``)."""
    staged = _quality_staged(docs, text_col, rep_n=None)
    return staged.selectExpr(
        "doc_id",
        "_n_chars AS n_chars_measured",
        "_n_toks AS n_tokens",
        *(f"{sql} AS {name}" for name, sql in _quality_cols().items()),
    )


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + BPE-ish subword proxy (alnum runs + punct)."""
    text = F.col(text_col)
    ws = F.size(F.filter(F.split(F.trim(text), "\\s+"), lambda t: F.length(t) > 0))
    words = F.size(
        F.filter(F.split(text, "[^A-Za-z0-9\\u4e00-\\u9fff]+"), lambda t: F.length(t) > 0)
    )
    return docs.select(
        "doc_id", ws.alias("ws_tokens"), words.alias("word_tokens")
    )


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Normalized content fingerprint: lowercase, strip non-alnum
    (unicode letters kept), md5. The canonical near-dup key for
    formatting-only variants.

    Arrow-vectorized (guide §4.2): Python ``str.lower`` + a compiled
    ``re`` strip + hashlib md5 per batch. The JVM expression
    (``_fingerprint_expr`` in tests/test_ops.py) ANTI-SCALES with task
    parallelism on this workload — measured at 500k docs, local[32]:
    15.0s single-task, 23.8s across 32 tasks, 1.6s via this path — and
    it serializes on a single task for single-row-group inputs.
    Equivalence is pinned by ``test_fingerprint_arrow_equals_expr``:
    Python lower/re agree with
    JVM lower/Java-regex on the explicit `[^a-z0-9\\u4e00-\\u9fff]`
    class (verified over a 65k-code-point sweep including İ/ı/K/ß and
    supplementary-plane chars; both engines apply full Unicode case
    mapping). NULL text stays NULL.
    """
    import pyarrow as pa

    docs = ensure_parallelism(docs)

    def compute(batches):
        import hashlib
        import re

        sub = re.compile(r"[^a-z0-9一-鿿]").sub
        md5 = hashlib.md5
        for batch in batches:
            ids = batch.column("doc_id")
            texts = batch.column(text_col).to_pylist()
            fps = [
                None
                if t is None
                else md5(sub("", t.lower()).encode("utf-8")).hexdigest()
                for t in texts
            ]
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(fps, type=pa.string())], ["doc_id", "fingerprint"]
            )

    id_type = docs.schema["doc_id"].dataType.simpleString()
    return docs.select("doc_id", text_col).mapInArrow(
        compute, f"doc_id {id_type}, fingerprint string"
    )
