"""Similarity search over an ``embeddings(vec_id, embedding array<float>,
label)`` table.

Brute-force cosine top-k is the exactness baseline (one pass, native
``aggregate``/``zip_with`` — JVM-side, no Python); the LSH-bucketed
variant is the 100 TB path: deterministic random-hyperplane signatures
shrink the candidate set from O(n) per query to one bucket, turning
all-pairs search into a bucket-local join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot(a: str, b: str) -> str:
    """SQL dot product of two array expressions, summed left to right in
    double precision."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " 0D, (acc, v) -> acc + v)"
    )


def _norm(a: str) -> str:
    return f"sqrt(aggregate({a}, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"


def _cos(a: str, b: str, digits: int) -> str:
    return f"round({_dot(a, b)} / ({_norm(a)} * {_norm(b)}), {digits})"


def _vec(v) -> str:
    """A driver-side vector as ONE SQL ``array<double>`` literal.

    ``F.lit(list)`` and ``F.array(*[F.lit(x) ...])`` both cost one py4j
    round trip per element at build time (a 64-coordinate vector is
    over a hundred calls); this string costs none until the expression
    holding it is parsed, once, on the JVM. ``repr`` of a Python float
    round-trips exactly, so the literal is the same double; NaN and the
    infinities have no literal form and go through a cast."""
    import math

    def lit(x: float) -> str:
        x = float(x)
        return f"{x!r}D" if math.isfinite(x) else f"CAST('{x}' AS DOUBLE)"

    return "array(" + ", ".join(lit(x) for x in v) + ")"


def l2_norms(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return emb.selectExpr("vec_id", f"round({_norm(f'`{vec_col}`')}, 4) AS l2_norm")


def cosine_topk(
    emb: DataFrame, query_vec: list[float], k: int = 10, vec_col: str = "embedding"
) -> DataFrame:
    """Exact top-k by cosine similarity against a literal query vector.

    The query is an array literal (``_vec``; folded by Catalyst) and the
    whole similarity is one SQL expression, so building the frame is a
    handful of py4j calls whatever the dimension. Ranking is a single
    global top-k (TakeOrderedAndProject — no full sort). Similarity
    rounded at 4 dp; ties broken by vec_id for engine-portable
    determinism.
    """
    sim = _cos(f"`{vec_col}`", _vec(query_vec), 4)
    return (
        emb.selectExpr("vec_id", f"{sim} AS cosine")
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def _plane(p: int, dim: int) -> str:
    """Pseudo-random ±1 hyperplane p as one SQL array literal (``_vec``):
    coordinate c is +1 iff the first hex digit of md5("p|c") ≥ '8' — no
    RNG state, identical on any cluster and portable to the DuckDB
    oracle (queries._lsh_bucket_sql applies the same rule).

    The coordinates are hashed driver-side and emitted as one literal
    instead of dim CASE expressions per plane: the signature expression
    is O(planes) plan nodes, not O(planes×dim) — at production dims
    (768+) and the 24-plane ceiling the per-coordinate form is ~18k
    expression nodes per projection, which blows up driver
    plan-build/codegen; the literal form stays trivial."""
    import hashlib

    return _vec(
        1.0 if hashlib.md5(f"{p}|{c}".encode()).hexdigest()[0] >= "8" else -1.0
        for c in range(dim)
    )


def derive_n_planes(
    n_rows: int,
    target_bucket: int = 1024,
    min_planes: int = 8,
    max_planes: int = 24,
) -> int:
    """Size-aware LSH plane count: the smallest ``p`` with an EXPECTED
    bucket population ``n_rows / 2**p`` at or under ``target_bucket``,
    clamped to ``[min_planes, max_planes]``.

    Why this exists: a FIXED plane count gives a fixed bucket space, so
    per-bucket population grows linearly with the corpus and the
    per-bucket quadratic pair join grows as (n/2**p)² — a scale-killer at
    10^9+ vectors. Growing p with log2(n) keeps every bucket's pair work
    bounded by ~target_bucket² regardless of corpus size. The clamp
    bounds both ends: min keeps recall sane on tiny corpora (fewer
    planes = coarser buckets = more candidates, never fewer), and max=24
    (16.7M buckets) covers ~1.7×10^10 vectors at the default target
    while keeping the signature expression a bounded-size codegen unit.
    """
    import math

    if n_rows <= 0:
        return min_planes
    raw = math.ceil(math.log2(max(n_rows / target_bucket, 1.0)))
    return min(max(raw, min_planes), max_planes)


def hyperplane_bucket(vec_col: str = "embedding", n_planes: int = 8, dim: int = 32):
    """Column expression: deterministic random-hyperplane LSH bucket
    (bit p = sign of dot with plane p) — a pure per-row projection, so
    adding the bucket to any frame costs zero shuffle."""
    return F.expr(
        " + ".join(
            f"CASE WHEN {_dot(f'`{vec_col}`', _plane(p, dim))} >= 0 THEN 1 ELSE 0 END * {2 ** p}"
            for p in range(n_planes)
        )
    )


def cosine_near_dup(
    emb: DataFrame,
    threshold: float = 0.95,
    block_col: str | None = None,
    vec_col: str = "embedding",
    n_planes: int | None = None,
    dim: int | None = None,
    target_bucket: int = 1024,
    min_planes: int = 8,
    max_planes: int = 24,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs.

    Candidate generation blocks on ``block_col`` when given (an existing
    cluster/label column); by DEFAULT it blocks on the deterministic
    random-hyperplane LSH bucket — computed as a zero-shuffle projection
    (``hyperplane_bucket``) — the key that exists on ANY embedding
    corpus. The default plane count is SIZE-AWARE (``derive_n_planes``):
    it grows with log2(corpus size) so expected bucket population stays
    at or under ``target_bucket`` and the per-bucket quadratic pair join
    stays bounded as the corpus grows — a fixed plane count would make
    per-bucket pair work grow as (n/2**p)². Pass ``n_planes`` explicitly
    to pin the bucket space (reproducible outputs across differently
    sized corpora, e.g. the correctness oracle).

    Deriving the default costs one metadata-cheap aggregate job
    (count + first vector, combined); passing both ``n_planes`` and
    ``dim`` skips it entirely. An empty input returns an empty result
    frame. The cosine is computed only for candidates. Returns
    (vec_a, vec_b, cosine) with vec_a < vec_b and cosine ≥ threshold
    (rounded 4 dp).
    """
    if block_col is None:
        if dim is None or n_planes is None:
            probe = emb.agg(
                F.count(F.lit(1)).alias("n"), F.first(F.col(vec_col)).alias("v")
            ).first()
            if probe.n == 0:
                # empty corpus: no pairs; derive the output types from the
                # input frame instead of firing more jobs
                return emb.select(
                    F.col("vec_id").alias("vec_a"),
                    F.col("vec_id").alias("vec_b"),
                    F.lit(0.0).alias("cosine"),
                ).where(F.lit(False))
            if dim is None:
                dim = len(probe.v)
            if n_planes is None:
                n_planes = derive_n_planes(
                    probe.n, target_bucket, min_planes, max_planes
                )
        emb = emb.withColumn(
            "_block", hyperplane_bucket(vec_col, n_planes=n_planes, dim=dim)
        )
        block_col = "_block"
    a = emb.select(
        F.col(block_col).alias("_b"), F.col("vec_id").alias("vec_a"),
        F.col(vec_col).alias("_va"),
    )
    b = emb.select(
        F.col(block_col).alias("_b"), F.col("vec_id").alias("vec_b"),
        F.col(vec_col).alias("_vb"),
    )
    pairs = a.join(b, "_b").where(F.col("vec_a") < F.col("vec_b"))
    return (
        pairs.selectExpr("vec_a", "vec_b", f"{_cos('_va', '_vb', 4)} AS cosine")
        .where(F.col("cosine") >= threshold)
    )


def hyperplane_signatures(
    emb: DataFrame, n_planes: int = 8, vec_col: str = "embedding", dim: int = 32
) -> DataFrame:
    """(vec_id, bucket) frame over ``hyperplane_bucket`` — see there."""
    return emb.select(
        "vec_id", hyperplane_bucket(vec_col, n_planes=n_planes, dim=dim).alias("bucket")
    )


def ivf_assign(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest
    centroid (max cosine, 6-dp rounded for engine-portable argmax; ties
    break to the lowest centroid id). ``centroids`` is a small in-plan
    literal list — at scale it comes from an offline k-means; here the
    deterministic stand-in is the first-k vectors.

    One narrow projection — no shuffle, no UDF. At 100 TB the assignment
    column becomes the partition key of the vector table, so a probe
    reads only n_probe partitions.
    """
    # struct comparison: sim first, then -cid so ties pick lowest id
    scored = ", ".join(
        f"named_struct('sim', {_cos(f'`{vec_col}`', _vec(cvec), 6)}, 'negid', {-cid})"
        for cid, cvec in centroids
    )
    return emb.selectExpr(
        "vec_id", f"`{vec_col}`", f"-(array_max(array({scored})).negid) AS centroid_id"
    )


def _pycos(a: list[float], b: list[float]) -> float:
    import math

    d = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return round(d / (na * nb), 6) if na > 0 and nb > 0 else 0.0


def train_ivf_centroids(
    emb: DataFrame,
    k: int = 8,
    sample_size: int = 256,
    iters: int = 4,
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic sampled k-means for IVF coarse quantization — the
    trained replacement for the first-k-vectors stand-in, which gives no
    cell-balance guarantee on clustered real corpora (cell skew is the
    IVF failure mode: one hot cell turns the probe back into a scan).

    Sample = the ``sample_size`` vectors with the smallest
    md5(vec_id-as-string) — a deterministic, arrival-order-free uniform
    sample, fetched with one narrow TakeOrdered (bounded driver data; no
    RNG state, identical on any cluster). Init = the first ``k`` sample
    vectors in that md5 order. Lloyd iterations run driver-side on the
    bounded sample in pure Python with a FIXED member order, and each
    centroid coordinate is rounded at 6 dp per iteration, so the result
    is a pure function of the data. Assignment ties break to the lowest
    centroid id, matching ``ivf_assign``. Empty cells keep their previous
    centroid. Returns [(cid, vec)] with cid = 0..k-1.

    At 100 TB the sample fetch is a top-``sample_size`` over a narrow
    (hash, id, vec) projection and the k-means touches only the sample —
    training cost is independent of corpus size.
    """
    rows = (
        emb.select("vec_id", vec_col)
        .withColumn("_h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("_h", "vec_id")
        .limit(sample_size)
        .collect()
    )
    sample = [[float(x) for x in r[vec_col]] for r in rows]
    if not sample:
        return []
    k = min(k, len(sample))
    cents = [list(v) for v in sample[:k]]
    for _ in range(iters):
        members: list[list[list[float]]] = [[] for _ in range(k)]
        for vec in sample:  # fixed order: the md5 sample order
            best = max(range(k), key=lambda c: (_pycos(vec, cents[c]), -c))
            members[best].append(vec)
        for c in range(k):
            if not members[c]:
                continue  # empty cell: keep the previous centroid
            dim = len(members[c][0])
            n = len(members[c])
            cents[c] = [
                round(sum(vec[i] for vec in members[c]) / n, 6) for i in range(dim)
            ]
    return [(c, cents[c]) for c in range(k)]


def _ivf_probe_topk(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    query_vec: list[float],
    k: int,
    n_probe: int,
    vec_col: str,
) -> DataFrame:
    """Shared IVF probe: pick the ``n_probe`` cells nearest the query
    driver-side (tiny centroid list), assign + prune corpus-side."""
    probe = sorted(centroids, key=lambda c: (-_pycos(query_vec, c[1]), c[0]))[:n_probe]
    probe_ids = [cid for cid, _ in probe]
    assigned = ivf_assign(emb, centroids, vec_col=vec_col)
    candidates = assigned.where(F.col("centroid_id").isin(probe_ids))
    return cosine_topk(candidates, query_vec, k=k, vec_col=vec_col)


def ann_ivf_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 2,
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF ANN: coarse-quantize the corpus, probe only the ``n_probe``
    centroid cells nearest the query, exact cosine top-k within them.

    ``centroids`` defaults to the first ``n_centroids`` vectors by vec_id
    — the deterministic stand-in the SQL oracle can replicate (the plan
    shape is identical either way). Production path: pass
    ``train_ivf_centroids(emb)`` (or call ``ann_ivf_trained_topk``) —
    trained cells balance populations on clustered corpora, which the
    first-k stand-in cannot guarantee. Probe-cell selection happens
    driver-side on the tiny centroid list; the corpus-side work is one
    narrow assignment pass + a pruned top-k.
    """
    if centroids is None:
        rows = (
            emb.where(F.col("vec_id") < n_centroids)
            .select("vec_id", vec_col)
            .collect()
        )
        centroids = sorted((r.vec_id, [float(x) for x in r[vec_col]]) for r in rows)
    return _ivf_probe_topk(emb, centroids, query_vec, k, n_probe, vec_col)


def ann_ivf_trained_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 2,
    sample_size: int = 256,
    iters: int = 4,
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN over TRAINED centroids (``train_ivf_centroids``) — the
    recommended scale path. Gated by the recall + cell-balance pytest
    (test_ivf_trained_centroids) rather than a SQL oracle: iterative
    float k-means is not engine-portable SQL, and the probe/assignment
    plan it shares with ``ann_ivf_topk`` is already oracle-proven there.
    """
    cents = train_ivf_centroids(
        emb, k=n_centroids, sample_size=sample_size, iters=iters, vec_col=vec_col
    )
    return _ivf_probe_topk(emb, cents, query_vec, k, n_probe, vec_col)


def ann_lsh_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    vec_col: str = "embedding",
    probe_radius: int = 2,
) -> DataFrame:
    """Multi-probe LSH ANN: restrict the cosine scan to buckets within
    Hamming distance ``probe_radius`` of the query's bucket.

    Single-bucket probing (radius 0) has poor recall — a vector one
    narrow hyperplane margin away lands in a sibling bucket — so the
    standard multi-probe scheme scans the C(n_planes, ≤r) neighboring
    buckets too: at radius 2 with 8 planes that is 37 of 256 buckets
    (~14% of a uniform corpus) for a measured recall@10 of 0.3-0.5 on
    the structure-free synthetic testdata (BENCH.md §ANN recall; real
    embedding corpora cluster, which is what LSH exploits). At scale the
    signature table is partitioned by bucket, so the probe reads those
    partitions instead of a full scan.
    """
    dim = len(query_vec)
    sigs = hyperplane_signatures(emb, n_planes=n_planes, vec_col=vec_col, dim=dim)
    one = emb.sparkSession.createDataFrame([(0, query_vec)], "vec_id long, embedding array<float>")
    q_bucket = hyperplane_signatures(one, n_planes=n_planes, dim=dim).first().bucket
    probe = F.bit_count(F.col("bucket").bitwiseXOR(F.lit(q_bucket))) <= probe_radius
    candidates = emb.join(
        F.broadcast(sigs.where(probe).select("vec_id")), "vec_id"
    )
    return cosine_topk(candidates, query_vec, k=k, vec_col=vec_col)
