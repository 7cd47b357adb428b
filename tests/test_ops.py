# -*- coding: utf-8 -*-
"""Training-data operators: dedup family semantics, similarity search,
multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from kgpipe.ops import textops, vectorops
from kgpipe.ops.multimodal import (
    MEDIA_SCHEMA,
    image_metadata,
    sample_video_frames,
    synthetic_media,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the cat sat on the mat", "en"),
        (2, "the cat sat on the mat", "en"),  # exact dup of 1
        (3, "the cat sat on the big mat", "en"),  # near dup
        (4, "völlig anderes dokument über etwas", "de"),
        (5, "一个中文文档的内容在这里", "zh"),
        (6, "", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_dedup_exact(docs):
    out = {r.doc_id: r.dup_count for r in textops.dedup_exact(docs).collect()}
    assert out[1] == 2  # doc 2 collapsed into 1 (min doc_id survives)
    assert 2 not in out
    assert out[3] == 1


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {(r.doc_a, r.doc_b) for r in textops.dedup_minhash_lsh(docs).collect()}
    assert (1, 2) in pairs  # identical docs always collide
    # unrelated docs should not collide on every band
    assert (1, 4) not in pairs and (1, 5) not in pairs


def _banded_wide_expr(docs, k=5, num_hashes=8, bands=4, text_col="text"):
    """JVM-expression formulation of ``textops._banded_wide`` — same
    family, same output: the equality oracle for the arrow path.

    The signature is a pure per-row function, so it is computed in a
    single ``aggregate`` expression — one pass over the document's
    shingles maintaining the running per-seed minimum, with the banding
    done in the ``finish`` lambda of the same expression (nothing is
    evaluated twice, nothing leaves the row).

    Hash identity: the bigint family of ``textops.MINHASH_*`` (one md5
    base per shingle, arithmetic per seed), band hash =
    md5(concat_ws('|', decimal renderings of the band's signature
    members)); the DuckDB oracle computes the same family with its own
    hex-literal cast.
    """
    rows_per_band = num_hashes // bands
    shingle_expr = (
        f"transform(sequence(1, greatest(char_length({text_col}) - {k - 1}, 1)),"
        f" i -> substring({text_col}, i, {k}))"
    )
    # one md5 base per shingle, computed BEFORE the aggregate so the
    # merge lambda is pure 64-bit multiply-add-mod; least() skips NULLs,
    # so the NULL-seeded accumulator adopts the first hash and min()
    # thereafter
    base_expr = (
        f"transform({shingle_expr}, "
        f"s -> {textops._MINHASH_BASE.format(s='s', p=textops.MINHASH_P)})"
    )
    mixes = ", ".join(textops._minhash_mix(j, "h") for j in range(num_hashes))
    merge = f"(acc, h) -> zip_with(acc, array({mixes}), (a, x) -> least(a, x))"
    band_fields = ", ".join(
        "'bh{b}', md5(concat_ws('|', {members}))".format(
            b=b,
            members=", ".join(
                f"CAST(sig[{b * rows_per_band + r}] AS STRING)"
                for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    wide = F.expr(
        f"aggregate({base_expr}, "
        f"array_repeat(CAST(NULL AS BIGINT), {num_hashes}), "
        f"{merge}, "
        f"sig -> named_struct({band_fields}))"
    )
    return docs.select("doc_id", wide.alias("_w")).select("doc_id", "_w.*")


def test_minhash_arrow_signatures_equal_expr(spark):
    """The mapInArrow signature path (hashlib/numpy) must be
    byte-identical to the JVM expression formulation — the in-repo
    equality oracle for the round-8 swap, over adversarial shapes:
    empty/whitespace text, shorter-than-k text, NULL text, CJK,
    supplementary-plane code points, repeated shingles."""
    rows = [
        (1, "hello world hello world common text"),
        (2, ""),
        (3, "    "),
        (4, "ab"),
        (5, None),
        (6, "汉字测试汉字测试汉字"),
        (7, "emoji \U0001F600\U0001F601 mixed 文本 body"),
        (8, "aaaaaaaaaaaaaaaaaaaaaa"),
        (9, "hello world hello world common text"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    arrow = sorted(map(tuple, textops._banded_wide(d).collect()))
    expr = sorted(map(tuple, _banded_wide_expr(d).collect()))
    assert arrow == expr


def test_ngram_jaccard(docs, spark):
    pairs = spark.createDataFrame([(1, 2), (1, 3), (1, 4)], "doc_a long, doc_b long")
    j = {(r.doc_a, r.doc_b): r.jaccard for r in textops.ngram_jaccard(docs, pairs).collect()}
    assert j[(1, 2)] == 1.0
    assert 0.3 < j[(1, 3)] < 1.0
    assert (1, 4) not in j or j[(1, 4)] < 0.1


def test_ngram_jaccard_prunes_to_pair_participants(docs, spark):
    """The shingle explode must touch only pair PARTICIPANTS: the plan
    semi-joins docs against the pair endpoints BEFORE shingling. Without
    it the corpus-wide |corpus|×|text| explode would defeat the LSH
    pruning at scale."""
    from kgpipe import plans

    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    out = textops.ngram_jaccard(docs, pairs)
    assert "LeftSemi" in plans.physical_plan(out)
    j = {(r.doc_a, r.doc_b): r.jaccard for r in out.collect()}
    assert j == {(1, 2): 1.0}


def test_simhash_similarity_structure(docs):
    out = {r.doc_id: r.simhash for r in textops.simhash(docs).collect()}
    assert out[1] == out[2]  # identical text → identical simhash

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(out[1], out[3]) < hamming(out[1], out[4])


def test_duplicate_ngram_spans(spark):
    """Cross-document duplicated word n-grams come back as per-doc spans
    with the sharing-document count; unshared grams are dropped."""
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y a b c"), (3, "p q r s t")],
        "doc_id long, text string",
    )
    out = textops.duplicate_ngram_spans(docs, n=3, min_docs=2).collect()
    spans = {(r.doc_id, r.start): r.n_docs for r in out}
    assert spans == {(1, 1): 2, (2, 3): 2}  # the shared "a b c"


def test_remove_duplicate_spans(spark):
    """Lee et al. output stage: the duplicated 8-token run is cut from
    BOTH owners; unique documents pass through untouched."""
    shared = "one two three four five six seven eight"
    rows = [
        (1, f"intro {shared} tail1"),
        (2, f"{shared} other words here"),
        (3, "totally unique content with no duplicate runs at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in textops.remove_duplicate_spans(docs, n=8, min_docs=2).collect()
    }
    assert out[1].n_tokens == 10 and out[1].removed_tokens == 8
    assert out[1].cleaned_text == "intro tail1"
    assert out[2].removed_tokens == 8 and out[2].cleaned_text == "other words here"
    assert out[3].removed_tokens == 0
    assert out[3].cleaned_text == rows[2][1]


def test_stratified_split_stable_and_proportioned(spark):
    """Hash-stratified split: fractions near the thresholds, and — the
    property rand()/row_number splits lack — a document's assignment is
    invariant under corpus growth and repartitioning."""
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    out = textops.stratified_split(docs)
    n = docs.count()
    frac = {
        r.split: r["count"] / n
        for r in out.groupBy("split").count().collect()
    }
    assert 0.72 <= frac["train"] <= 0.88
    assert 0.05 <= frac["val"] <= 0.16
    assert 0.05 <= frac["test"] <= 0.16
    base = {r.doc_id: r.split for r in out.collect()}
    grown = docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    ).repartition(7)
    regrown = {
        r.doc_id: r.split
        for r in textops.stratified_split(grown).collect()
        if r.doc_id < 1_000_000
    }
    assert regrown == base


def test_remove_duplicate_spans_keep_first(spark):
    """keep_first=True is the Lee et al. policy: the lowest-doc_id owner
    of each duplicated gram keeps its occurrence; the others are cut."""
    shared = "one two three four five six seven eight"
    rows = [
        (1, f"intro {shared} tail1"),
        (2, f"{shared} other words here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in textops.remove_duplicate_spans(
            docs, n=8, min_docs=2, keep_first=True
        ).collect()
    }
    assert out[1].removed_tokens == 0  # keeper: one copy survives
    assert out[1].cleaned_text == rows[0][1]
    assert out[2].removed_tokens == 8 and out[2].cleaned_text == "other words here"


def test_prepare_training_corpus_composition(spark):
    """The end-to-end prep product = exactly the clean_corpus survivors,
    span-cut and split-assigned."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = textops.prepare_training_corpus(docs).collect()
    kept = {r.doc_id for r in textops.clean_corpus(docs).collect() if r.keep}
    assert {r.doc_id for r in rows} == kept and len(rows) > 0
    assert all(r.split in ("train", "val", "test") for r in rows)
    assert all(0 <= r.removed_tokens <= r.n_tokens for r in rows)


def test_ngram_contamination(spark):
    """Decontamination: a corpus doc embedding a probe's 8-gram is
    flagged against that probe; clean docs and self-pairs are not."""
    bench = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, f"prefix {bench} suffix words"),
        (2, "entirely clean document with no benchmark overlap at all"),
        (100, bench),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    probes = docs.where(F.col("doc_id") == 100)
    out = {
        (r.doc_id, r.probe_id): r.shared_grams
        for r in textops.ngram_contamination(docs, probes, n=8).collect()
    }
    assert out == {(1, 100): 1}  # doc 1 leaks exactly the one shared 8-gram


def test_token_vocabulary(spark):
    docs = spark.createDataFrame(
        [(1, "b a a"), (2, "a b"), (3, "c")], "doc_id long, text string"
    )
    out = textops.token_vocabulary(docs, k=2).collect()
    assert [(r.token, r.total_count, r.doc_freq) for r in out] == [
        ("a", 3, 2),
        ("b", 2, 2),  # tie-break on count then token asc is deterministic
    ]


def test_pretokenized_column_hook(spark):
    """The tokenizer hook (VERDICT r5 item 7): a real tokenizer's output
    computed once upstream flows through vocab induction, packing and
    source cards — no whitespace re-splitting anywhere on that path."""
    docs = spark.createDataFrame(
        [
            (1, "b a a", "web", "en", ["b##", "aa"]),
            (2, "a b", "web", "en", ["aa", "aa"]),
            (3, "c", "books", "fr", ["c##"]),
        ],
        "doc_id long, text string, source string, lang string, toks array<string>",
    )
    # vocab counts the supplied arrays, not the whitespace tokens
    vocab = textops.token_vocabulary(docs, k=1, tokens_col="toks").collect()
    assert [(r.token, r.total_count, r.doc_freq) for r in vocab] == [("aa", 3, 2)]

    # packing consumes the supplied count; bucketing/offsets unchanged
    staged = docs.withColumn("bpe_n", F.size("toks"))
    via_col = textops.pack_sequences(
        staged, seq_len=4, n_buckets=2, n_tokens_col="bpe_n"
    ).collect()
    assert {r.doc_id: r.n_tokens for r in via_col} == {1: 2, 2: 2, 3: 1}
    # default path on a text column with the same token counts agrees
    default = textops.pack_sequences(
        docs.withColumn("text", F.array_join("toks", " ")), seq_len=4, n_buckets=2
    ).collect()
    assert sorted(map(tuple, via_col)) == sorted(map(tuple, default))

    # source cards sum the supplied count
    stats = {
        r.source: r
        for r in textops.corpus_source_stats(staged, n_tokens_col="bpe_n").collect()
    }
    assert stats["web"].total_tokens == 4 and stats["books"].total_tokens == 1
    assert stats["web"].n_docs == 2 and stats["web"].n_langs == 1


def test_repetition_stats(spark):
    docs = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "a b c d"), (3, "a")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textops.repetition_stats(docs, n=3).collect()}
    # 3-grams of doc 1: "a b a","b a b","a b a","b a b" → 4 total, 2 distinct
    assert (out[1].total_ngrams, out[1].distinct_ngrams, out[1].repetition_ratio) == (4, 2, 0.5)
    assert out[2].repetition_ratio == 0.0
    assert (out[3].total_ngrams, out[3].repetition_ratio) == (0, 0.0)


def test_clean_corpus_decisions(docs):
    """The composed filter agrees with its own stage columns, and known
    cases land right: the exact duplicate (doc 2) is not a survivor so
    never kept; the empty doc fails the quality floor."""
    out = {r.doc_id: r for r in textops.clean_corpus(docs).collect()}
    assert len(out) == 6
    for r in out.values():
        assert r.keep == (
            r.quality >= 0.3 and r.repetition_ratio <= 0.5 and r.is_survivor
        )
    assert out[2].is_survivor is False and out[2].keep is False  # exact dup of 1
    assert out[6].keep is False  # empty text → quality floor


def test_language_id(docs):
    out = {r.doc_id: r.lang_pred for r in textops.language_id(docs).collect()}
    assert out[1] == "en" and out[5] == "zh" and out[4] == "other"


def test_quality_and_tokens(docs):
    q = {r.doc_id: r for r in textops.quality_score(docs).collect()}
    assert q[1].n_tokens == 6
    assert q[1].stopword_ratio == 0.5  # the, on, the
    t = {r.doc_id: r for r in textops.token_counts(docs).collect()}
    assert t[1].ws_tokens == 6 and t[1].word_tokens == 6


def test_fingerprint_ignores_formatting(spark):
    d = spark.createDataFrame(
        [(1, "Hello, World!"), (2, "hello world"), (3, "HELLO-WORLD")],
        "doc_id long, text string",
    )
    fps = {r.doc_id: r.fingerprint for r in textops.fingerprint(d).collect()}
    assert fps[1] == fps[2] == fps[3]


def _fingerprint_expr(docs, text_col="text"):
    """JVM expression formulation of ``textops.fingerprint`` — the
    equality oracle for the arrow path."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9\\u4e00-\\u9fff]", "")
    return docs.select("doc_id", F.md5(norm).alias("fingerprint"))


def test_fingerprint_arrow_equals_expr(spark):
    """The arrow fingerprint path must be byte-identical to the JVM
    expression it replaced — swept over every BMP code point (in 64-char
    chunks), case-mapping traps (İ ı K ß), supplementary-plane chars,
    NULL and empty text."""
    chars = [chr(c) for c in
             list(range(0x20, 0xD800)) + list(range(0xE000, 0x10000))
             + list(range(0x1F600, 0x1F650))]
    rows = [(i, "".join(chars[i * 64:(i + 1) * 64]) + " Mixed TEXT 123 汉字 İıKß")
            for i in range(len(chars) // 64)]
    rows += [(900001, None), (900002, ""), (900003, "   ")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    arrow = sorted(map(tuple, textops.fingerprint(d).collect()))
    expr = sorted(map(tuple, _fingerprint_expr(d).collect()))
    assert arrow == expr


@pytest.fixture(scope="module")
def emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [-1.0, 0.0, 0.0, 0.0]),
        (4, [0.7, 0.7, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk(emb):
    out = vectorops.cosine_topk(emb, [1.0, 0.0, 0.0, 0.0], k=3).collect()
    assert [r.vec_id for r in out] == [0, 1, 4]
    assert out[0].cosine == 1.0


def test_ann_lsh_contains_exact_top1(emb):
    out = vectorops.ann_lsh_topk(emb, [1.0, 0.0, 0.0, 0.0], k=3, n_planes=4).collect()
    assert out and out[0].vec_id == 0  # query itself lives in its own bucket


def test_ann_recall_vs_brute_force(spark):
    """Retrieval-QUALITY gate: the SQL oracles prove the ANN algorithms
    are deterministic, not that they retrieve well — this asserts
    recall@10 vs exact brute force on the real testdata plus a
    candidate-set reduction floor, catching a silently bad bucketing the
    self-consistent oracle can't (measured table in BENCH.md §ANN
    recall). The synthetic embeddings are structure-free, so these floors
    are the no-locality worst case; clustered real corpora do better."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    n = emb.count()
    q = [float(x) for x in emb.where(F.col("vec_id") == 0).first().embedding]
    exact = {r.vec_id for r in vectorops.cosine_topk(emb, q, k=10).collect()}

    ivf = {r.vec_id for r in vectorops.ann_ivf_topk(emb, q, k=10).collect()}
    assert len(exact & ivf) / 10 >= 0.9

    lsh = {r.vec_id for r in vectorops.ann_lsh_topk(emb, q, k=10).collect()}
    assert len(exact & lsh) / 10 >= 0.3  # radius-0 probing scores 0.1 here
    sigs = vectorops.hyperplane_signatures(emb, n_planes=8, dim=64)
    qb = sigs.where(F.col("vec_id") == 0).first().bucket
    cand = sigs.where(
        F.bit_count(F.col("bucket").bitwiseXOR(F.lit(qb))) <= 2
    ).count()
    assert cand <= n / 4  # the probe reads a small fraction of the corpus


def test_cosine_near_dup_lsh_blocking_superset(spark, emb):
    """Default (LSH-bucketed) blocking must find every high-cosine pair
    that shares a bucket — and each reported pair must genuinely share
    one (the blocking is the candidate generator, the cosine the gate)."""
    found = {
        (r.vec_a, r.vec_b)
        for r in vectorops.cosine_near_dup(emb, threshold=0.9, n_planes=4).collect()
    }
    sigs = {
        r.vec_id: r.bucket
        for r in vectorops.hyperplane_signatures(emb, n_planes=4, dim=4).collect()
    }
    rows = {r.vec_id: [float(x) for x in r.embedding] for r in emb.collect()}

    import math

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return round(
            d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))),
            4,
        )

    expected = {
        (a, b)
        for a in rows
        for b in rows
        if a < b and sigs[a] == sigs[b] and cos(rows[a], rows[b]) >= 0.9
    }
    assert found == expected and (0, 1) in found


def test_derive_n_planes_size_aware():
    from kgpipe.ops.vectorops import derive_n_planes

    assert derive_n_planes(500) == 8  # below target: floor keeps recall sane
    assert derive_n_planes(0) == 8  # degenerate input: floor
    assert derive_n_planes(2_000_000) == 11  # ceil(log2(2e6/1024))
    assert derive_n_planes(10**10) == 24  # clamp: bounded codegen/bucket space
    # the invariant the fixed-8-plane default lacked: expected bucket
    # population n/2^p stays ≤ target until the clamp ceiling
    for n in (10**4, 10**6, 10**8, 2 * 10**9):
        p = derive_n_planes(n)
        assert n / 2**p <= 1024 or p == 24


def test_lsh_bucket_population_tracks_target(spark):
    """Scale property of the size-aware default: growing the corpus 4x
    raises the derived plane count so bucket population stays at the
    target instead of growing linearly (which would make the per-bucket
    quadratic pair join the scale bottleneck)."""
    import numpy as np

    from kgpipe.ops.vectorops import derive_n_planes, hyperplane_signatures

    rng = np.random.default_rng(7)

    def mk(n):
        rows = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(n)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    target = 64
    stats = {}
    for n in (512, 2048):
        p = derive_n_planes(n, target_bucket=target, min_planes=1, max_planes=24)
        sig = hyperplane_signatures(mk(n), n_planes=p, dim=16)
        mx = sig.groupBy("bucket").count().agg(F.max("count")).first()[0]
        stats[n] = (p, mx)
    assert stats[2048][0] > stats[512][0]  # planes grow with n
    for n, (p, mx) in stats.items():
        assert n / 2**p <= target  # expected population bounded by target
        assert mx <= 6 * target  # realized skew stays the same order


def test_ivf_trained_centroids(spark):
    """Trained sampled k-means vs the first-k stand-in, on a CLUSTERED
    corpus with adversarial arrival order (the first 8 vectors all come
    from one cluster — exactly the case where first-k centroids give no
    cell-balance or recall guarantee). Trained centroids must (a) be a
    deterministic pure function of the data, (b) dedicate a centroid to
    every true cluster, (c) beat the stand-in's recall at equal probe
    budget."""
    import numpy as np

    from kgpipe.ops.vectorops import train_ivf_centroids

    rng = np.random.default_rng(3)
    centers = rng.standard_normal((4, 16)) * 5.0
    rows = []
    for i in range(8):  # adversarial: first 8 ids in cluster 0
        rows.append((i, [float(x) for x in centers[0] + rng.standard_normal(16) * 0.1]))
    for i in range(8, 800):
        c = int(rng.integers(0, 4))
        rows.append((i, [float(x) for x in centers[c] + rng.standard_normal(16) * 0.1]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    ct = train_ivf_centroids(emb, k=8)
    assert ct == train_ivf_centroids(emb, k=8)  # deterministic

    # every true cluster owns at least one trained centroid
    import math

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))
        )

    for center in centers:
        assert max(cos(center, vec) for _, vec in ct) >= 0.99

    firstk = sorted(
        (r.vec_id, [float(x) for x in r.embedding])
        for r in emb.where(F.col("vec_id") < 8).collect()
    )
    q = [float(x) for x in centers[3]]  # query in a cluster first-k never saw
    exact = {r.vec_id for r in vectorops.cosine_topk(emb, q, k=10).collect()}
    rec = {}
    for tag, cents in (("firstk", firstk), ("trained", ct)):
        got = {
            r.vec_id
            for r in vectorops.ann_ivf_topk(
                emb, q, k=10, n_probe=2, centroids=cents
            ).collect()
        }
        rec[tag] = len(exact & got) / 10
    assert rec["trained"] >= 0.9
    assert rec["trained"] >= rec["firstk"]


def test_cosine_near_dup_empty_input(spark):
    """Empty corpus on the default (size-derived) path returns an empty
    pair frame instead of raising on the dim probe."""
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = vectorops.cosine_near_dup(empty, threshold=0.5)
    assert out.columns == ["vec_a", "vec_b", "cosine"]
    assert out.count() == 0


def test_l2_norms(emb):
    out = {r.vec_id: r.l2_norm for r in vectorops.l2_norms(emb).collect()}
    assert out[0] == 1.0 and out[3] == 1.0


def test_dedup_clusters_assignment(docs):
    out = {
        r.doc_id: (r.cluster_id, r.is_survivor)
        for r in textops.dedup_clusters(docs).collect()
    }
    assert len(out) == 6  # every document assigned
    # exact duplicates 1/2 share every band → one cluster, min id survives
    assert out[1] == (1, True) and out[2] == (1, False)
    # near-dup 3 joins the cluster via shared bands (high shingle overlap)
    assert out[3] == (1, False)
    # unrelated docs are their own singleton survivors
    assert out[4] == (4, True) and out[5] == (5, True)


def test_dedup_clusters_transitive(spark):
    """A≈B and B≈C must land in ONE cluster even if A and C never share
    a band — the CC closure, not just pairwise candidates."""
    a = "alpha beta gamma delta epsilon zeta eta theta"
    c = "iota kappa lambda mu nu xi omicron pi"
    b = a[: len(a) // 2] + " " + c[len(c) // 2 :]  # half of each
    docs = spark.createDataFrame(
        [(10, a), (20, b), (30, c)], "doc_id long, text string"
    )
    pairs = {
        (r.doc_a, r.doc_b) for r in textops.dedup_minhash_lsh(docs).collect()
    }
    clusters = {
        r.doc_id: r.cluster_id for r in textops.dedup_clusters(docs).collect()
    }
    if pairs >= {(10, 20), (20, 30)} and (10, 30) not in pairs:
        # the interesting case: transitivity must bridge the gap
        assert clusters == {10: 10, 20: 10, 30: 10}
    # in every case cluster ids are the component minimum
    for doc, cl in clusters.items():
        assert cl <= doc


def test_multimodal_image_meta(spark):
    media = synthetic_media(spark, 30)
    meta = image_metadata(media).collect()
    assert len(meta) == len([r for r in media.collect() if r.kind == "image"])
    assert all(len(m.sha256) == 64 and m.width > 0 and m.height > 0 for m in meta)
    # deterministic: same payload → same fake dimensions
    again = {m.media_id: (m.width, m.height) for m in image_metadata(media).collect()}
    assert all((m.width, m.height) == again[m.media_id] for m in meta)


def _png_bytes(width: int, height: int) -> bytearray:
    """Minimal real PNG prefix: signature + IHDR chunk (length/type/
    width/height/bit-depth..., CRC left zeroed — the header parser never
    reads past the dimension fields)."""
    return bytearray(
        b"\x89PNG\r\n\x1a\n"
        + (13).to_bytes(4, "big")
        + b"IHDR"
        + width.to_bytes(4, "big")
        + height.to_bytes(4, "big")
        + bytes([8, 6, 0, 0, 0])
        + b"\x00\x00\x00\x00"
    )


def test_multimodal_png_ihdr_true_dimensions(spark):
    """PNG payloads report their TRUE dimensions codec-free (pure-Python
    IHDR parse — VERDICT r5 item 6); non-PNG bytes keep the
    deterministic stub; truncated PNGs fall back rather than erroring."""
    from kgpipe.ops.multimodal import parse_png_ihdr

    assert parse_png_ihdr(bytes(_png_bytes(640, 480))) == (640, 480)
    assert parse_png_ihdr(bytes(_png_bytes(1, 1))[:20]) is None  # truncated
    assert parse_png_ihdr(b"not a png at all, definitely") is None

    rows = [
        (1, "image", _png_bytes(640, 480), "image/png"),
        (2, "image", _png_bytes(99999, 3), "image/png"),
        (3, "image", bytearray(b"jpeg-ish opaque bytes"), "image/jpeg"),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    meta = {m.media_id: m for m in image_metadata(media).collect()}
    assert (meta[1].width, meta[1].height, meta[1].format) == (640, 480, "png")
    assert (meta[2].width, meta[2].height) == (99999, 3)
    assert 64 <= meta[3].width < 128  # stub fake for the non-PNG
    # strict: PNG still parses (real metadata), non-PNG raises
    png_only = spark.createDataFrame(rows[:2], MEDIA_SCHEMA)
    strict_meta = {m.media_id: m for m in image_metadata(png_only, strict=True).collect()}
    assert strict_meta[1].width == 640


def test_multimodal_gif_webp_true_dimensions(spark):
    """GIF logical-screen-descriptor and WebP VP8/VP8L/VP8X headers
    parse codec-free like PNG/JPEG (round 7) - through the real
    mapInPandas operator; malformed variants fall back to the stub."""
    from kgpipe.ops.multimodal import parse_gif_lsd, parse_webp_header

    gif = b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little") + b"\x00" * 6
    assert parse_gif_lsd(gif) == (320, 200)
    assert parse_gif_lsd(b"GIF89") is None
    assert parse_gif_lsd(b"NOTGIF" + b"\x00" * 10) is None

    def riff(chunk, body):
        return b"RIFF" + (len(body) + 8).to_bytes(4, "little") + b"WEBP" + chunk + \
            (len(body)).to_bytes(4, "little") + body

    vp8 = riff(b"VP8 ", b"\x00\x00\x00" + b"\x9d\x01\x2a"
               + (640).to_bytes(2, "little") + (360).to_bytes(2, "little") + b"\x00" * 8)
    assert parse_webp_header(vp8) == (640, 360)
    bits = (512 - 1) | ((288 - 1) << 14)
    vp8l = riff(b"VP8L", b"\x2f" + bits.to_bytes(4, "little") + b"\x00" * 8)
    assert parse_webp_header(vp8l) == (512, 288)
    vp8x = riff(b"VP8X", b"\x00" * 4 + (1023).to_bytes(3, "little") + (767).to_bytes(3, "little") + b"\x00" * 4)
    assert parse_webp_header(vp8x) == (1024, 768)
    assert parse_webp_header(riff(b"ICCP", b"\x00" * 16)) is None
    assert parse_webp_header(b"RIFFxxxxNOPE" + b"\x00" * 20) is None

    rows = [
        (1, "image", bytearray(gif), "image/gif"),
        (2, "image", bytearray(vp8l), "image/webp"),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    meta = {m.media_id: m for m in image_metadata(media).collect()}
    assert (meta[1].width, meta[1].height, meta[1].format) == (320, 200, "gif")
    assert (meta[2].width, meta[2].height, meta[2].format) == (512, 288, "webp")


def test_multimodal_strict_raises(spark):
    # n=25 so a STUB image row (i=24) is present: the real-PNG (i%9==0),
    # real-JPEG (i%9==3), real-GIF (i=6) and real-WebP (i=15) rows all
    # parse codec-free even under strict
    media = synthetic_media(spark, 25)
    with pytest.raises(Exception, match="NotImplementedError|image decode"):
        image_metadata(media, strict=True).collect()


def test_multimodal_jpeg_sof_true_dimensions(spark):
    """JPEG payloads report their TRUE dimensions codec-free (pure-
    Python SOF marker-segment walk - VERDICT r6 task 4): baseline SOF0,
    progressive SOF2, fill bytes and restart markers skipped; truncated
    streams, SOS-before-SOF and non-JPEG bytes fall back to the stub
    rather than erroring - all through the real mapInPandas operator."""
    from kgpipe.ops.multimodal import jpeg_fixture_bytes, parse_jpeg_sof

    base = jpeg_fixture_bytes(640, 480)
    prog = jpeg_fixture_bytes(1920, 1080, progressive=True)
    assert parse_jpeg_sof(base) == (640, 480)
    assert parse_jpeg_sof(prog) == (1920, 1080)
    # fill bytes before a marker are legal (B.1.1.2)
    filled = b"\xff\xd8\xff\xff\xff" + base[2:]
    assert parse_jpeg_sof(filled) == (640, 480)
    assert parse_jpeg_sof(base[:8]) is None           # truncated mid-segment
    assert parse_jpeg_sof(b"\xff\xd8\xff\xda\x00\x04ab") is None  # SOS first
    assert parse_jpeg_sof(b"GIF89a not a jpeg") is None
    assert parse_jpeg_sof(b"") is None
    # SOF whose DECLARED length is too short to hold the dimension fields
    # must not read "dimensions" from the following segment's bytes
    short_sof = b"\xff\xd8\xff\xc0\x00\x04\x08" + b"\x12\x34\x56\x78\xff\xd9"
    assert parse_jpeg_sof(short_sof) is None

    rows = [
        (1, "image", bytearray(base), "image/jpeg"),
        (2, "image", bytearray(prog), "image/jpeg"),
        (3, "image", bytearray(b"opaque webp-ish bytes"), "image/webp"),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    meta = {m.media_id: m for m in image_metadata(media).collect()}
    assert (meta[1].width, meta[1].height, meta[1].format) == (640, 480, "jpeg")
    assert (meta[2].width, meta[2].height, meta[2].format) == (1920, 1080, "jpeg")
    assert 64 <= meta[3].width < 128  # stub fake for the non-JPEG
    # strict: JPEG still parses (real metadata), stub-only would raise
    jpeg_only = spark.createDataFrame(rows[:2], MEDIA_SCHEMA)
    strict_meta = {m.media_id: m for m in image_metadata(jpeg_only, strict=True).collect()}
    assert strict_meta[2].width == 1920


def test_multimodal_mp4_tkhd_true_dimensions(spark):
    """MP4 payloads report their TRUE dimensions codec-free (pure-
    Python ISOBMFF box walk — VERDICT r6 'what's missing' #2 closed for
    the video modality): moov→trak→tkhd for both tkhd versions, the
    zero-dimension audio track skipped, 16.16 fixed-point words read;
    truncated boxes, missing ftyp and garbage fall back to the stub
    rather than erroring — all through the real mapInPandas operator."""
    from kgpipe.ops.multimodal import (
        mp4_fixture_bytes,
        parse_mp4_tkhd,
        video_metadata,
    )

    v0 = mp4_fixture_bytes(1280, 720)
    v1 = mp4_fixture_bytes(3840, 2160, version=1)
    assert parse_mp4_tkhd(v0) == (1280, 720)
    assert parse_mp4_tkhd(v1) == (3840, 2160)
    assert parse_mp4_tkhd(v0[:20]) is None            # truncated after ftyp
    assert parse_mp4_tkhd(v0[:60]) is None            # truncated inside moov
    assert parse_mp4_tkhd(b"\x00\x00\x00\x08mdat") is None  # no ftyp
    assert parse_mp4_tkhd(b"GIF89a not a video") is None
    assert parse_mp4_tkhd(b"") is None

    rows = [
        (1, "video", bytearray(v0), "video/mp4"),
        (2, "video", bytearray(v1), "video/mp4"),
        (3, "video", bytearray(b"opaque webm-ish bytes"), "video/webm"),
        (4, "image", bytearray(b"not a video row"), "image/png"),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    meta = {m.media_id: m for m in video_metadata(media).collect()}
    assert set(meta) == {1, 2, 3}  # image rows excluded
    assert (meta[1].width, meta[1].height, meta[1].format) == (1280, 720, "mp4")
    assert (meta[2].width, meta[2].height, meta[2].format) == (3840, 2160, "mp4")
    assert 128 <= meta[3].width < 256  # stub fake for the non-MP4
    # strict: MP4 still parses (real metadata); stub-only raises
    mp4_only = spark.createDataFrame(rows[:2], MEDIA_SCHEMA)
    strict_meta = {m.media_id: m for m in video_metadata(mp4_only, strict=True).collect()}
    assert strict_meta[2].width == 3840
    with pytest.raises(Exception, match="NotImplementedError|video decode"):
        video_metadata(media, strict=True).collect()


def test_multimodal_wav_true_metadata(spark):
    """WAV payloads report their TRUE sample rate / channels / bits /
    duration codec-free (pure-Python RIFF chunk walk — completes the
    modality family: every kind in the media table now has a metadata
    operator with at least one real header parser): canonical fmt+data
    chunks, odd-size chunk padding honored; truncated/garbage payloads
    fall back to the stub — all through the real mapInPandas operator."""
    from kgpipe.ops.multimodal import (
        audio_metadata,
        parse_wav_fmt,
        wav_fixture_bytes,
    )

    wav = wav_fixture_bytes(16000, 2, 8000)  # 8000 frames @16kHz = 500ms
    assert parse_wav_fmt(wav) == (16000, 2, 16, 500)
    mono8k = wav_fixture_bytes(8000, 1, 400)
    assert parse_wav_fmt(mono8k) == (8000, 1, 16, 50)
    assert parse_wav_fmt(wav[:20]) is None            # truncated in fmt
    assert parse_wav_fmt(b"RIFF\x04\x00\x00\x00WAVE") is None  # no chunks
    assert parse_wav_fmt(b"OggS not a wav") is None
    assert parse_wav_fmt(b"") is None
    # corrupt header: huge declared data size over a tiny byte_rate pushes
    # duration_ms past int32 — must fall back to the stub, not blow up the
    # Arrow conversion against AUDIO_META_SCHEMA's IntegerType
    evil = bytearray(wav_fixture_bytes(16000, 2, 8000))
    di = evil.find(b"data")
    evil[di + 4 : di + 8] = (0xFFFFFFFF).to_bytes(4, "little")
    bi = evil.find(b"fmt ") + 8 + 8
    evil[bi : bi + 4] = (1).to_bytes(4, "little")  # byte_rate = 1
    assert parse_wav_fmt(bytes(evil)) is None
    # sample_rate is a raw uint32 field: >= 2**31 must also stub, not
    # overflow AUDIO_META_SCHEMA's IntegerType in the Arrow conversion
    evil2 = bytearray(wav_fixture_bytes(16000, 2, 8000))
    si = evil2.find(b"fmt ") + 8 + 4
    evil2[si : si + 4] = (0xFFFFFFFF).to_bytes(4, "little")
    assert parse_wav_fmt(bytes(evil2)) is None

    rows = [
        (1, "audio", bytearray(wav), "audio/wav"),
        (2, "audio", bytearray(mono8k), "audio/wav"),
        (3, "audio", bytearray(b"opaque mp3-ish bytes"), "audio/mpeg"),
        (4, "video", bytearray(b"not an audio row"), "video/mp4"),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    meta = {m.media_id: m for m in audio_metadata(media).collect()}
    assert set(meta) == {1, 2, 3}  # video rows excluded
    assert (meta[1].sample_rate, meta[1].channels, meta[1].duration_ms, meta[1].format) == (
        16000, 2, 500, "wav",
    )
    assert (meta[2].sample_rate, meta[2].channels) == (8000, 1)
    assert meta[3].format in ("wav", "mp3", "flac")  # deterministic stub
    # strict: WAV still parses (real metadata); stub-only raises
    wav_only = spark.createDataFrame(rows[:2], MEDIA_SCHEMA)
    strict_meta = {m.media_id: m for m in audio_metadata(wav_only, strict=True).collect()}
    assert strict_meta[1].duration_ms == 500
    with pytest.raises(Exception, match="NotImplementedError|audio decode"):
        audio_metadata(media, strict=True).collect()


def test_multimodal_injected_codec(spark):
    """Dependency-injected codecs: a deployment with PIL/ffmpeg wires its
    decoder in via the ``decode`` parameter — the operator plumbing
    (schema, batching, shipping the callable to executors) must use it
    instead of the stub."""
    import hashlib

    media = synthetic_media(spark, 12)

    def fake_image_codec(data: bytes):
        return (len(data), 7, "fake")

    meta = image_metadata(media, decode=fake_image_codec).collect()
    assert meta and all(m.height == 7 and m.format == "fake" for m in meta)
    assert all(m.width == m.n_bytes for m in meta)

    def fake_video_codec(data: bytes, every_n: int):
        return [b"frame0", b"frame1"]

    frames = sample_video_frames(media, decode=fake_video_codec).collect()
    expect = {hashlib.sha256(b"frame0").hexdigest(), hashlib.sha256(b"frame1").hexdigest()}
    assert frames and {f.frame_sha256 for f in frames} == expect
    by_media = {}
    for f in frames:
        by_media.setdefault(f.media_id, []).append(f.frame_idx)
    assert all(sorted(v) == [0, 1] for v in by_media.values())


def test_multimodal_strict_and_decode_mutually_exclusive(spark):
    """strict=True is the no-codec contract; silently ignoring it when a
    decode callable is injected made the contract ambiguous (round-3
    ADVICE) — now it raises."""
    from kgpipe.ops.multimodal import sample_video_frames as svf

    media = synthetic_media(spark, 3)
    with pytest.raises(ValueError, match="strict"):
        image_metadata(media, strict=True, decode=lambda b: (1, 1, "png"))
    with pytest.raises(ValueError, match="strict"):
        svf(media, strict=True, decode=lambda b, n: [b])


def test_multimodal_pil_autodetect_wiring(monkeypatch):
    """pil_image_decoder wires PIL in as the default image codec when it
    imports (a stand-in PIL is injected — this container ships none):
    valid images decode through it, undecodable bytes fall back to the
    deterministic stub so synthetic/corrupt payloads stay total."""
    import sys
    import types

    from kgpipe.ops import multimodal as mm

    class _Im:
        width, height, format = 3, 4, "PNG"

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    img_mod = types.ModuleType("PIL.Image")

    def _open(buf):
        if buf.getvalue() == b"good":
            return _Im()
        raise OSError("cannot identify image file")

    img_mod.open = _open
    pil = types.ModuleType("PIL")
    pil.Image = img_mod
    monkeypatch.setitem(sys.modules, "PIL", pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", img_mod)

    dec = mm.pil_image_decoder()
    assert dec is not None
    assert dec(b"good") == (3, 4, "png")
    assert dec(b"not-an-image") == mm._decode_image_stub(b"not-an-image", strict=False)


def test_multimodal_pil_autodetect_real(spark):
    """Runs only where a real PIL exists (skipped in this container):
    image_metadata's default path must decode a real PNG via PIL."""
    pytest.importorskip("PIL")
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (5, 9)).save(buf, format="PNG")
    media = spark.createDataFrame(
        [(0, "image", bytearray(buf.getvalue()), "image/png")], MEDIA_SCHEMA
    )
    row = image_metadata(media).first()
    assert (row.width, row.height, row.format) == (5, 9, "png")


def test_multimodal_frame_sampling(spark):
    media = synthetic_media(spark, 30)
    frames = sample_video_frames(media).collect()
    assert len(frames) > 0
    by_media = {}
    for f in frames:
        by_media.setdefault(f.media_id, []).append(f.frame_idx)
    for idxs in by_media.values():
        assert sorted(idxs) == list(range(len(idxs)))  # contiguous frame ids


# ---------------------------------------------------------------------------
# round-5 items: contamination strategy/id-space, split ordering, CC paths
# ---------------------------------------------------------------------------


def test_contamination_external_id_space(spark):
    """ADVICE r4: when probes are an EXTERNAL benchmark table, a
    coincidental id collision must not suppress a genuine contamination
    pair — exclude_self_pairs=False keeps it; the default (probes drawn
    from the corpus) still suppresses the true self-pair."""
    bench = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(1, f"x {bench} y"), (2, "no overlap here at all with the benchmark text")],
        "doc_id long, text string",
    )
    external = spark.createDataFrame([(1, bench)], "doc_id long, text string")
    out = {
        (r.doc_id, r.probe_id)
        for r in textops.ngram_contamination(
            docs, external, n=8, exclude_self_pairs=False
        ).collect()
    }
    assert out == {(1, 1)}  # colliding ids, still a REAL contamination pair
    # default: same join, self-pair dropped (probe IS corpus doc 1)
    sub = {
        (r.doc_id, r.probe_id)
        for r in textops.ngram_contamination(docs, external, n=8).collect()
    }
    assert sub == set()


def test_contamination_auto_broadcast_derivation(spark):
    """The join strategy derives from the probe count: at most
    broadcast_max_probes probe docs force a broadcast; above the cap the
    hint is withheld so a huge probe set cannot OOM an executor. With
    Catalyst's own auto-broadcast disabled, the hint is the only thing
    that can produce a BroadcastHashJoin — its presence/absence IS the
    path taken."""
    from kgpipe import plans

    docs = spark.createDataFrame(
        [(i, f"tok{i} a b c d e f g h") for i in range(20)],
        "doc_id long, text string",
    )
    probes = docs.where(F.col("doc_id") < 3)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        small = textops.ngram_contamination(docs, probes, n=8)  # auto: count<=cap
        assert "BroadcastHashJoin" in plans.physical_plan(small)
        capped = textops.ngram_contamination(docs, probes, n=8, broadcast_max_probes=0)
        assert "BroadcastHashJoin" not in plans.physical_plan(capped)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_stratified_split_threshold_order_invariant(spark):
    """ADVICE r4: the when-chain only matches its documented fractions
    with ascending boundaries — the operator now sorts, so a reordered
    threshold tuple yields the identical assignment; duplicate
    boundaries (an empty band) are rejected."""
    docs = spark.createDataFrame([(i,) for i in range(256)], "doc_id long")
    a = sorted(map(tuple, textops.stratified_split(docs).collect()))
    b = sorted(
        map(
            tuple,
            textops.stratified_split(
                docs, thresholds=(("val", "e6"), ("train", "cc"))
            ).collect(),
        )
    )
    assert a == b and {t[2] for t in a} == {"train", "val", "test"}
    with pytest.raises(ValueError, match="duplicate split boundaries"):
        textops.stratified_split(docs, thresholds=(("a", "cc"), ("b", "cc")))


def test_canonical_mapping_distributed_branch_matches_driver(spark, monkeypatch):
    """VERDICT r4 item 4: the >threshold branch of canonical_mapping
    (distributed CC + winner election) must produce the IDENTICAL mapping
    as the driver union-find path on the same graph — exercised by
    pinning DRIVER_CC_MAX_EDGES below the test graph's edge count."""
    from kgpipe import canon

    # two components: {1,2,3} (chain — transitivity required) and {10,11}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src_id long, dst_id long"
    )
    nodes = spark.createDataFrame(
        [(1, "b"), (2, "a"), (3, "c"), (10, "z"), (11, "y")],
        "node_id long, name string",
    )
    driver_path = {
        (r.node_id, r.canonical_id, r.canonical_name)
        for r in canon.canonical_mapping(edges, nodes).collect()
    }
    monkeypatch.setattr(canon, "DRIVER_CC_MAX_EDGES", 1)
    distributed_path = {
        (r.node_id, r.canonical_id, r.canonical_name)
        for r in canon.canonical_mapping(edges, nodes).collect()
    }
    assert driver_path == distributed_path
    assert driver_path == {
        (1, 2, "a"), (2, 2, "a"), (3, 2, "a"),  # canonical = smallest NAME
        (10, 11, "y"), (11, 11, "y"),
    }


def test_canonical_mapping_edge_derived_paths_match(spark, monkeypatch):
    """Round 7: on the edge-derived path (nodes=None) the small-graph
    election runs fully on the driver (LocalRelation mapping — zero
    distributed jobs beyond the collect probe). It must produce the
    IDENTICAL mapping as the big-graph path (distributed CC + edge-
    derived distinct + distributed election) on the same graph."""
    from kgpipe import canon

    edges = spark.createDataFrame(
        [(1, 2, "b", "a"), (2, 3, "a", "c"), (10, 11, "z", "y")],
        "src_id long, dst_id long, src_name string, dst_name string",
    )
    driver_path = {
        (r.node_id, r.canonical_id, r.canonical_name)
        for r in canon.canonical_mapping(edges).collect()
    }
    monkeypatch.setattr(canon, "DRIVER_CC_MAX_EDGES", 1)
    distributed_path = {
        (r.node_id, r.canonical_id, r.canonical_name)
        for r in canon.canonical_mapping(edges).collect()
    }
    assert driver_path == distributed_path
    assert driver_path == {
        (1, 2, "a"), (2, 2, "a"), (3, 2, "a"),
        (10, 11, "y"), (11, 11, "y"),
    }


# ---------------------------------------------------------------------------
# round-5 additions: sequence packing, PII scrub, mixture sampling
# ---------------------------------------------------------------------------


def test_pack_sequences_stream_semantics(spark):
    """Concat-then-chunk packing: within a bucket, offsets are the
    doc_id-ordered cumulative token counts and sequence spans follow
    from integer division; documents crossing a 10-token boundary span
    two sequences."""
    rows = [(i, " ".join(["w"] * n)) for i, n in [(1, 4), (2, 8), (3, 9), (4, 0)]]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in textops.pack_sequences(docs, seq_len=10, n_buckets=1).collect()
    }
    assert [out[i].tok_offset for i in (1, 2, 3, 4)] == [0, 4, 12, 21]
    assert (out[1].start_seq, out[1].end_seq) == (0, 0)
    assert (out[2].start_seq, out[2].end_seq) == (0, 1)  # spans the boundary
    assert (out[3].start_seq, out[3].end_seq) == (1, 2)
    assert (out[4].start_seq, out[4].end_seq) == (2, 2)  # empty doc: point span
    # bucketed run partitions the stream but keeps per-bucket invariants
    many = spark.createDataFrame(
        [(i, "a b c") for i in range(100)], "doc_id long, text string"
    )
    packed = textops.pack_sequences(many, seq_len=7, n_buckets=4).collect()
    by_bucket = {}
    for r in packed:
        by_bucket.setdefault(r.bucket, []).append(r)
    for rs in by_bucket.values():
        rs.sort(key=lambda r: r.doc_id)
        off = 0
        for r in rs:
            assert r.tok_offset == off
            off += r.n_tokens


def test_pii_scrub(spark):
    docs = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@corp.example.org today"),
            (2, "server 192.168.0.1 port open, call +44 7700 900123 now"),
            (3, "clean text with no identifiers at all"),
            (4, "call 555-123-4567 or 010 1234 5678 or 13912345678"),
            (5, "year 2026, logged 2026 08 17 12 00, isbn 978-0-306-40615-7, "
                "id 1234567890123456, ref deadbeef1234567"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textops.pii_scrub(docs).collect()}
    assert out[1].scrubbed_text == "mail me at <EMAIL> today"
    assert out[1].n_redactions == 1
    assert out[2].scrubbed_text == "server <IP> port open, call <PHONE> now"
    assert out[2].n_redactions == 2
    assert out[3].scrubbed_text == docs.collect()[2].text
    assert out[3].n_redactions == 0
    # phone shapes: grouped, spaced and contiguous forms all redact
    assert out[4].scrubbed_text == "call <PHONE> or <PHONE> or <PHONE>"
    assert out[4].n_redactions == 3
    # VERDICT r5 negatives: digit-bearing non-phones survive untouched
    assert out[5].scrubbed_text == docs.collect()[4].text
    assert out[5].n_redactions == 0


def test_weighted_sample_deterministic_rates(spark):
    docs = spark.createDataFrame(
        [(i, ["keep_all", "half", "drop_most"][i % 3]) for i in range(3000)],
        "doc_id long, source string",
    )
    rates = {"keep_all": 1.0, "half": 0.5, "drop_most": 0.0}
    kept = textops.weighted_sample(
        docs, rates, default_rate=0.1
    ).groupBy("source").count().collect()
    counts = {r.source: r["count"] for r in kept}
    assert counts["keep_all"] == 1000  # rate 1.0 keeps everything
    assert "drop_most" not in counts  # rate 0.0 keeps nothing
    assert 400 <= counts["half"] <= 600  # md5-uniform ≈ binomial(1000, .5)
    # decision is a pure function of the id: identical at any partitioning
    again = {
        r.doc_id
        for r in textops.weighted_sample(docs.repartition(13), rates).collect()
    }
    assert again == {
        r.doc_id for r in textops.weighted_sample(docs, rates).collect()
    }


def test_code_import_and_define_edges(spark):
    """Code-KG family over the input_hint table shape: per-language
    dispatch is a column predicate, top-level-only matching (commented /
    indented / docstring / block-comment / raw-string imports ignored),
    duplicates collapsed, subjects repo-qualified so two repos holding
    the same path stay distinct files (ADVICE r5)."""
    from kgpipe.ops import codeops
    from kgpipe.schemas import CORPUS_SCHEMA

    rows = [
        ("r", "a.py", "c1", "python",
         "import os\nimport os\n# import nope\n  import nope2\nfrom x.y import z\n"
         '"""docstring\nimport doc_nope\ndef doc_nope_fn():\n"""\n'
         "def f():\n    pass\nclass K:\n    pass\n"),
        ("r", "B.java", "c1", "java",
         "import java.util.Map;\nimport static a.b.C.d;\n"
         "/*\nimport block.Nope;\n*/\n// import line.Nope;\n"),
        ("r", "m.go", "c1", "go",
         'import "fmt"\n/*\nimport "block/nope"\n*/\nvar s = `\nimport "raw/nope"\n`\n'),
        ("r", "t.txt", "c1", "text", "import not_code\n"),  # unknown lang: no edges
        # identical path in two repos: two distinct subjects, not one
        ("r2", "a.py", "c1", "python", "import os\n"),
    ]
    files = spark.createDataFrame(rows, CORPUS_SCHEMA)
    imports = {
        (r.repo, r.path, r.module) for r in codeops.import_edges(files).collect()
    }
    assert imports == {
        ("r", "a.py", "os"), ("r", "a.py", "x.y"),
        ("r", "B.java", "java.util.Map"), ("r", "B.java", "a.b.C.d"),
        ("r", "m.go", "fmt"),
        ("r2", "a.py", "os"),
    }
    defs = {(r.path, r.symbol) for r in codeops.defined_symbols(files).collect()}
    assert defs == {("a.py", "f"), ("a.py", "K")}
    triples = codeops.code_triples(files)
    assert triples.columns == ["subj", "pred", "obj"]
    assert triples.count() == len(imports) + len(defs)
    subj_for_os = {
        r.subj for r in triples.where("pred = 'imports-module' AND obj = 'os'").collect()
    }
    assert subj_for_os == {"r/a.py", "r2/a.py"}
    # hot path stays native: no Python evaluation anywhere in the plan
    from kgpipe import plans

    plans.assert_arrow_only_python(triples)


def test_code_edges_extended_languages(spark):
    """Round-6 language growth: js/ts (ES import + require, template-
    literal trap), rust (use paths, extern crate, mod), c/cpp (#include),
    go grouped import blocks, and the declares-package family — every
    comment/raw-string trap stays unextracted."""
    from kgpipe.ops import codeops
    from kgpipe.schemas import CORPUS_SCHEMA

    rows = [
        ("r", "app.js", "c1", "javascript",
         "import React from 'react'\nimport { x } from \"./util\"\n"
         "import './side.css'\nconst _ = require('lodash')\n"
         "// import nope from 'line-trap'\n/* import 'block-trap' */\n"
         "const tpl = `\nimport 'tpl-trap'\n`\n"
         "export default function App() {}\nclass Store {}\n"),
        ("r", "types.ts", "c1", "typescript",
         "import type { T } from './t'\nexport interface Props {}\n"
         "export async function load() {}\n"),
        ("r", "lib.rs", "c1", "rust",
         "use std::collections::HashMap;\nuse std::{io, fmt};\n"
         "extern crate serde;\nmod config;\n"
         "// use line::trap;\n/*\nuse block::trap;\nfn trap_fn() {}\n*/\n"
         "pub fn run() {}\npub(crate) fn scoped() {}\nstruct S;\ntrait T {}\n"),
        ("r", "core.c", "c1", "c",
         "#include <stdio.h>\n# include \"local.h\"\n"
         "/*\n#include <block_trap.h>\n*/\n// #include <line_trap.h>\n"),
        ("r", "eng.cpp", "c1", "cpp",
         "#include <vector>\nclass Engine {};\nstruct Opts {};\n"),
        ("r", "grouped.go", "c1", "go",
         'package web\nimport (\n\t"os"\n\t"net/http"\n\t// "commented/member"\n)\n'
         "func (h *H) Serve() {}\ntype Router struct {}\n"),
        ("r", "Pkg.java", "c1", "java",
         "package com.example.app;\nimport java.util.Map;\n"
         "public final class Pkg {}\ninterface Shape {}\n"),
    ]
    files = spark.createDataFrame(rows, CORPUS_SCHEMA)

    imports = {(r.path, r.module) for r in codeops.import_edges(files).collect()}
    assert imports == {
        ("app.js", "react"), ("app.js", "./util"), ("app.js", "./side.css"),
        ("app.js", "lodash"),
        ("types.ts", "./t"),
        ("lib.rs", "std::collections::HashMap"), ("lib.rs", "std"),
        ("lib.rs", "serde"),
        ("core.c", "stdio.h"), ("core.c", "local.h"),
        ("eng.cpp", "vector"),
        ("grouped.go", "os"), ("grouped.go", "net/http"),
        ("Pkg.java", "java.util.Map"),
    }
    defs = {(r.path, r.symbol) for r in codeops.defined_symbols(files).collect()}
    assert defs == {
        ("app.js", "App"), ("app.js", "Store"),
        ("types.ts", "Props"), ("types.ts", "load"),
        ("lib.rs", "run"), ("lib.rs", "scoped"), ("lib.rs", "S"), ("lib.rs", "T"),
        ("eng.cpp", "Engine"), ("eng.cpp", "Opts"),
        ("grouped.go", "Serve"), ("grouped.go", "Router"),
        ("Pkg.java", "Pkg"), ("Pkg.java", "Shape"),
    }
    pkgs = {(r.path, r.package) for r in codeops.declared_packages(files).collect()}
    assert pkgs == {
        ("grouped.go", "web"),
        ("Pkg.java", "com.example.app"),
        ("lib.rs", "config"),
    }
    triples = codeops.code_triples(files)
    assert triples.count() == len(imports) + len(defs) + len(pkgs)


def test_code_define_coverage_round7(spark):
    """Round-7 define fills (VERDICT tasks 3+7): C functions (incl.
    static/pointer returns and prototypes at declaration grain), C++
    free functions and out-of-class ::methods, java method definitions,
    js/ts arrow-function consts and TS type aliases — with the
    function-pointer-typedef, call-site, new-anon-class and
    initializer traps unextracted, and rust one-level NESTED block
    comments fully stripped."""
    from kgpipe.ops import codeops
    from kgpipe.schemas import CORPUS_SCHEMA

    rows = [
        ("r", "m.c", "c1", "c",
         "#include <stdio.h>\n"
         "int main(void) { return 0; }\n"
         "static unsigned long *mk_table(int n) { return 0; }\n"
         "int fwd(int);\n"
         "typedef int (*cb)(void);\n"
         "int width = 640;\n"),
        ("r", "e.cpp", "c1", "cpp",
         "class Engine {};\n"
         "void render(int frame) {}\n"
         "virtual const char *name() const;\n"
         "int Engine::run(int t) { return t; }\n"
         "typedef void (*hook)(int);\n"),
        ("r", "S.java", "c1", "java",
         "public class S {\n"
         "    public int add(int a, int b) { return a + b; }\n"
         "    static List<String> names() { return null; }\n"
         "    void go() {\n"
         "        obj.callTrap(arg);\n"
         "        Runnable r = new Runnable() {\n"
         "        };\n"
         "        return new Builder() {\n"
         "        };\n"
         "    }\n"
         "}\n"),
        ("r", "a.ts", "c1", "typescript",
         "export const fmt = (x) => String(x)\n"
         "const pick = async item => item.id\n"
         "let on: Handler = (e) => e\n"
         "const plain = 42\n"
         "export type Mode = 'a' | 'b'\n"),
        ("r", "n.rs", "c1", "rust",
         "/* outer /* inner */ use nested::trap;\nfn tail_trap() {} */\n"
         "pub fn keep() {}\n"),
    ]
    files = spark.createDataFrame(rows, CORPUS_SCHEMA)
    defs = {(r.path, r.symbol) for r in codeops.defined_symbols(files).collect()}
    assert defs == {
        ("m.c", "main"), ("m.c", "mk_table"), ("m.c", "fwd"),
        ("e.cpp", "Engine"), ("e.cpp", "render"), ("e.cpp", "name"),
        ("e.cpp", "run"),
        ("S.java", "S"), ("S.java", "add"), ("S.java", "names"),
        ("S.java", "go"),
        ("a.ts", "fmt"), ("a.ts", "pick"), ("a.ts", "on"), ("a.ts", "Mode"),
        ("n.rs", "keep"),
    }


def test_code_scaled_generator_matches_python_re(spark):
    """The JVM-generated bench table (spark.range + format_string, no
    driver rows) yields exactly the triples an independent Python-re
    pass over the collected content derives — Java↔Python regex parity
    on the generator's full trap surface, including the nested go
    import-block form."""
    import re

    from kgpipe.ops import codeops

    files = codeops.synthetic_source_table(spark, 48)
    got = {
        (r.subj, r.pred, r.obj) for r in codeops.code_triples(files).collect()
    }
    want = set()
    for r in files.collect():
        content = r.content
        for sp in codeops._STRIP_PATTERNS[r.lang]:
            content = re.sub(sp, "", content)
        for pred, patterns, _col in codeops.EDGE_FAMILIES:
            for p in patterns.get(r.lang, ()):
                if isinstance(p, tuple):
                    ms = [
                        m
                        for b in re.findall(p[1], content)
                        for m in re.findall(p[2], b)
                    ]
                else:
                    ms = re.findall(p, content)
                for m in ms:
                    want.add((f"{r.repo}/{r.path}", pred, m))
    assert got == want
    assert len(got) > 48 * 4  # several edges per file, all three languages
    # generation is pure JVM: no Python evaluation in the whole plan
    from kgpipe import plans

    plans.assert_arrow_only_python(codeops.code_triples(files))
