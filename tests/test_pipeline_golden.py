# -*- coding: utf-8 -*-
"""Golden-triple E2E + graph invariants (SURVEY.md §5 plan, items 2-6)."""

import pytest
from pyspark.sql import functions as F

from kgpipe.corpus import corpus_to_dataframes, verify_manifest
from kgpipe.pipeline import UNDIRECTED, build_graph
from kgpipe.golden import golden_triples, precision_recall


@pytest.fixture(scope="module")
def graph(spark, small_corpus):
    cdf, sdf = corpus_to_dataframes(spark, small_corpus)
    return build_graph(spark, cdf, sdf)


def test_sha256_manifest_invariant(spark, small_corpus):
    cdf, _ = corpus_to_dataframes(spark, small_corpus)
    assert verify_manifest(spark, cdf, small_corpus.manifest) == 0


def test_golden_triple_precision_recall(graph, small_corpus):
    ours = {(r.subj, r.pred, r.obj) for r in graph.triples.collect()}
    golden = golden_triples(small_corpus)
    p, r = precision_recall(ours, golden)
    assert p >= 0.95 and r >= 0.95, (
        f"P={p:.4f} R={r:.4f}; only-ours={sorted(ours - golden)[:5]} "
        f"only-golden={sorted(golden - ours)[:5]}"
    )
    # on the clean synthetic corpus we expect exact agreement
    assert (p, r) == (1.0, 1.0)


def test_triples_from_rewrite_equals_from_canonical(graph):
    """The flagship triples path skips the id-level re-dedup after the
    alias rewrite (pipeline.py build_graph) — the name-level distinct
    must make that unobservable: triples_view over the deduped
    edges_canonical yields the identical set."""
    from kgpipe.pipeline import triples_view

    via_rewrite = {(r.subj, r.pred, r.obj) for r in graph.triples.collect()}
    via_canonical = {
        (r.subj, r.pred, r.obj)
        for r in triples_view(graph.edges_canonical).collect()
    }
    assert via_rewrite == via_canonical


def test_mapping_from_edge_names_equals_from_nodes(graph):
    """The flagship path derives the winner-election name lookup from
    the variant edges instead of the node table (node_id = xxhash64(
    type, name) makes (id, name) a function of the id) — the mapping
    must be identical either way."""
    from pyspark.sql import functions as F

    from kgpipe.canon import canonical_mapping

    variant = graph.edges.where(F.col("rel_type") == "variant-of")
    from_edges = {
        (r.node_id, r.canonical_id, r.canonical_name)
        for r in canonical_mapping(variant).collect()
    }
    from_nodes = {
        (r.node_id, r.canonical_id, r.canonical_name)
        for r in canonical_mapping(variant, graph.nodes).collect()
    }
    assert from_edges == from_nodes and from_edges


def test_mapping_from_variant_family_equals_from_dedup(graph):
    """Round 6: the flagship path computes the mapping from the RAW
    variant-of relations of the hz_valid generator (pre-union,
    pre-dedup) so the collect job never reads the terms side. Union-find
    is duplicate-insensitive and the name lookup distincts, so the
    mapping over raw variant rows must equal the mapping over the
    deduped edge table's variant slice."""
    from kgpipe.canon import canonical_mapping

    deduped_variant = graph.edges.where(F.col("rel_type") == "variant-of")
    # raw family: both orientations exist pre-dedup; synthesize the raw
    # shape by unioning the deduped rows with themselves (duplicates)
    raw_like = deduped_variant.unionByName(deduped_variant)
    from_raw = {
        (r.node_id, r.canonical_id, r.canonical_name)
        for r in canonical_mapping(raw_like).collect()
    }
    from_dedup = {
        (r.node_id, r.canonical_id, r.canonical_name)
        for r in canonical_mapping(deduped_variant).collect()
    }
    assert from_raw == from_dedup and from_raw


def _checkpoint_scans(plan) -> list[str]:
    """The staging checkpoints a logical plan scans, one entry per
    LogicalRDD leaf: ``terms`` (it has ``synonyms``) or ``hz``."""
    leaves = plan.collectLeaves()
    scans = [leaves.apply(i).toString() for i in range(leaves.size())]
    return [
        "terms" if "synonyms#" in s else "hz"
        for s in scans if s.startswith("LogicalRDD")
    ]


def test_one_generator_per_staged_source(graph):
    """Every edge family of a staged source reads it through one
    generator: the optimized triples plan scans the checkpoints four
    times (the terms and hz_valid generators, composed-of's terms side
    and its hz_valid dimension), and the node plan's stub branch scans
    each checkpoint once beside the crawled terms and Hanzi rows."""
    triples = _checkpoint_scans(graph.triples._jdf.queryExecution().optimizedPlan())
    assert len(triples) <= 4, triples
    # the analyzed plan: the node plan as built, before the optimizer
    nodes = _checkpoint_scans(graph.nodes._jdf.queryExecution().analyzed())
    assert nodes.count("terms") <= 2 and nodes.count("hz") <= 2, nodes


def test_missing_detail_pages_counted(graph, small_corpus):
    # the generator plants seeds with no page and h1-mismatch pages
    assert graph.missing.count() > 0
    missing_names = {r.name for r in graph.missing.collect()}
    linked_names = {r.name for r in graph.nodes.where("crawled").collect()}
    assert missing_names.isdisjoint(linked_names)


def test_no_self_loops(graph):
    assert graph.edges.where(F.col("src_id") == F.col("dst_id")).count() == 0
    assert graph.edges_canonical.where(F.col("src_id") == F.col("dst_id")).count() == 0


def test_undirected_canonical_order(graph):
    bad = graph.edges.where(
        F.col("rel_type").isin(*UNDIRECTED) & (F.col("src_name") > F.col("dst_name"))
    )
    assert bad.count() == 0


def test_edge_uniqueness(graph):
    total = graph.edges.count()
    distinct = graph.edges.select("src_id", "dst_id", "rel_type").distinct().count()
    assert total == distinct


def test_node_id_uniqueness_and_types(graph):
    nodes = graph.nodes
    assert nodes.count() == nodes.select("node_id").distinct().count()
    types = {r.entity_type for r in nodes.select("entity_type").distinct().collect()}
    assert types <= {"Idiom", "Word", "Hanzi", "Pinyin", "Radical", "Translation"}
    # stub nodes exist only where a mention was never crawled
    assert nodes.where(~F.col("crawled")).count() >= 0


def test_no_dangling_edge_endpoints(graph):
    """Every edge endpoint id (raw and canonical) must exist in nodes —
    literal-valued endpoints (Pinyin/Radical/Translation) get stub rows."""
    node_ids = graph.nodes.select("node_id")
    for edges in (graph.edges, graph.edges_canonical):
        endpoints = edges.select(F.col("src_id").alias("node_id")).unionByName(
            edges.select(F.col("dst_id").alias("node_id"))
        )
        assert endpoints.join(node_ids, "node_id", "left_anti").count() == 0


def test_nodes_match_golden(graph, small_corpus):
    from kgpipe.golden import golden_nodes

    ours = {
        (r.entity_type, r.name, r.crawled)
        for r in graph.nodes.select("entity_type", "name", "crawled").collect()
    }
    golden = golden_nodes(small_corpus)
    assert ours == golden, (
        f"only-ours={sorted(ours - golden)[:5]} only-golden={sorted(golden - ours)[:5]}"
    )


def test_predicate_vocabulary(graph):
    preds = {r.rel_type for r in graph.edges.select("rel_type").distinct().collect()}
    assert preds == {
        "synonym", "antonym", "composed-of", "radical-of",
        "variant-of", "has-pinyin", "translation-of",
    }


def test_variant_chain_canonicalized(graph, small_corpus):
    """FIXTURES.md §3.2: a variant chain of length ≥3 must merge
    transitively — no canonical edge may join two members of one cluster."""
    variant_edges = graph.edges.where(F.col("rel_type") == "variant-of")
    assert variant_edges.count() >= 2
    # in canonical edges, every composed-of object is a canonical repr:
    # no composed-of edge may point at a non-canonical cluster member
    pairs = {(r.src_name, r.dst_name) for r in variant_edges.collect()}
    import itertools

    # union-find the clusters
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = sorted([ra, rb])
            parent[hi] = lo
    clusters = {}
    for x in parent:
        clusters.setdefault(find(x), set()).add(x)
    non_canonical = {m for root, ms in clusters.items() for m in ms if m != min(ms | {root})}
    composed_objs = {
        r.dst_name
        for r in graph.edges_canonical.where(F.col("rel_type") == "composed-of").collect()
    }
    assert composed_objs.isdisjoint(non_canonical)


def test_determinism_across_partitionings(spark, small_corpus, graph):
    """Triples must be identical regardless of input partitioning — the
    sandbox stand-in for N vs 4N executors (BASELINE.md §2)."""
    cdf, sdf = corpus_to_dataframes(spark, small_corpus)
    g1 = build_graph(spark, cdf.repartition(1), sdf.repartition(1), cache=False)
    t_base = {(r.subj, r.pred, r.obj) for r in graph.triples.collect()}
    t_one = {(r.subj, r.pred, r.obj) for r in g1.triples.collect()}
    assert t_base == t_one


def test_salted_composed_of_matches_broadcast(spark, small_corpus, graph):
    """Skew path (north_star): the content-salted shuffle join must
    produce the exact broadcast-join edge set, with a deterministic
    row-content salt (never spark_partition_id) and no broadcast of the
    dimension in its plan."""
    from kgpipe import plans
    from kgpipe import triples as T

    cdf, sdf = corpus_to_dataframes(spark, small_corpus)
    g_salted = build_graph(spark, cdf, sdf, cache=False, composed_mode="salted")

    def composed(g):
        return {
            (r.src_name, r.dst_name)
            for r in g.edges.where(F.col("rel_type") == "composed-of").collect()
        }

    assert composed(g_salted) == composed(graph)

    # plan shape: direct composed_of in salted mode shuffles on the salted
    # key — no broadcast join, salt derived from row content
    terms = spark.createDataFrame(
        [("AB", "Word", "p1"), ("BC", "Word", "p2")],
        "name string, entity_type string, path string",
    )
    dim = spark.createDataFrame([("A",), ("B",), ("C",)], "name string")
    salted = T.composed_of(terms, dim, mode="salted")
    plan = plans.physical_plan(salted)
    assert "_salt" in plan
    assert "spark_partition_id" not in plan
    assert "BroadcastHashJoin" not in plan
    rows = {(r.src_name, r.dst_name) for r in salted.collect()}
    assert rows == {("AB", "A"), ("AB", "B"), ("BC", "B"), ("BC", "C")}


def test_composed_of_rejects_unknown_mode(spark):
    from kgpipe import triples as T

    terms = spark.createDataFrame(
        [("AB", "Word", "p1")], "name string, entity_type string, path string"
    )
    dim = spark.createDataFrame([("A",)], "name string")
    with pytest.raises(ValueError, match="'salty'"):
        T.composed_of(terms, dim, mode="salty")


def test_concurrent_first_access_builds_members_once(spark, small_corpus):
    """Threads racing on the first read of g.nodes and g.errors all
    succeed and share the one built frame of each."""
    import sys
    import threading

    cdf, sdf = corpus_to_dataframes(spark, small_corpus)
    g = build_graph(spark, cdf, sdf, cache=False)
    n = 8  # more threads than cores
    start = threading.Barrier(n)
    results, errors = [], []

    def read():
        start.wait(timeout=60)
        try:
            results.append((g.nodes, g.errors))
        except Exception as exc:  # surfaced by the assert below
            errors.append(exc)

    threads = [threading.Thread(target=read) for _ in range(n)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(results) == n
    nodes, errors_frame = results[0]
    assert nodes.first() is not None
    assert all(r[0] is nodes and r[1] is errors_frame for r in results)


def test_failed_plan_construction_leaves_no_barrier_jobs(spark, small_corpus, monkeypatch):
    """If plan construction raises after the barrier jobs started,
    build_graph waits for them before the error leaves: no Spark job
    outlives the call."""
    from kgpipe import triples as T

    def broken(*args, **kwargs):
        raise RuntimeError("plan construction failed")

    monkeypatch.setattr(T, "composed_of", broken)
    cdf, sdf = corpus_to_dataframes(spark, small_corpus)
    with pytest.raises(RuntimeError, match="plan construction failed"):
        build_graph(spark, cdf, sdf)
    sc = spark.sparkContext
    # deliver already-posted job-end events to the status store (this
    # does not wait for running jobs)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getActiveJobsIds()) == []


def test_barrier_jobs_run_in_the_callers_job_group(spark, small_corpus):
    """The barrier jobs build_graph starts on its threads belong to the
    caller's job group, so cancelling the group stops them too."""
    cdf, sdf = corpus_to_dataframes(spark, small_corpus)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("barrier-group", "build_graph under a job group")
    try:
        build_graph(spark, cdf, sdf).triples.count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert tracker.getJobIdsForGroup("barrier-group")
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()


@pytest.mark.slow
def test_full_section_properties_roundtrip(spark, small_corpus, tmp_path):
    """S11 full fidelity: through the incremental runner + warehouse
    merge, a crawled Hanzi node's properties JSON must round-trip EVERY
    section (gaishu/yisi/guoyu/liangan/evolution + basic/fanyi) equal to
    the pure parser's output — matching the reference's per-character
    section persistence (hanyuguoxue.py:1411-1439). to_json omits null
    fields, so the parser side is compared with Nones stripped; triples
    are unaffected by the mode (derivation reads basic+fanyi only)."""
    import json

    from kgpipe.checkpoint import run_incremental
    from kgpipe.parse.hanzi import parse_hanzi_html
    from kgpipe.parse.udfs import _adapt_hanzi

    cdf, sdf = corpus_to_dataframes(spark, small_corpus)
    wh = run_incremental(
        spark, cdf, sdf, str(tmp_path / "whfull"), n_buckets=2,
        full_properties=True,
    )

    def strip(x):
        if isinstance(x, dict):
            return {k: strip(v) for k, v in x.items() if v is not None}
        if isinstance(x, list):
            return [strip(v) for v in x]
        return x

    pages = {
        r["path"]: r["content"]
        for r in small_corpus.rows
        if r["path"].startswith("zidian/")
    }
    rows = (
        wh.nodes.read(spark)
        .where((F.col("entity_type") == "Hanzi") & F.col("crawled"))
        .collect()
    )
    assert len(rows) >= 5
    sections = (
        "basic_info", "gaishu_info", "yisi_info", "fanyi_info",
        "guoyu_info", "liangan_info", "evolution_data",
    )
    for row in rows:
        props = json.loads(row.properties)
        expected = strip(_adapt_hanzi(parse_hanzi_html(pages[row.url], row.url)))
        for section in sections:
            assert props.get(section) == expected.get(section), (row.name, section)

    # and the default (pruned) mode still stores only basic_info
    wh2 = run_incremental(
        spark, cdf, sdf, str(tmp_path / "whpruned"), n_buckets=2
    )
    one = json.loads(
        wh2.nodes.read(spark)
        .where((F.col("entity_type") == "Hanzi") & F.col("crawled"))
        .first()
        .properties
    )
    assert "basic_info" in one and "yisi_info" not in one


@pytest.mark.slow
def test_full_mode_section_pinyin_evidence(spark):
    """Full-fidelity mode widens has-pinyin evidence to the per-reading
    pinyin of the unpruned sections (reference extract_guoyu.py:25-220 →
    SURVEY §2.11): a reading that exists ONLY in the 国语辞典 section
    yields a has-pinyin triple (and a resolvable Pinyin stub node) in
    full mode, and is absent on the pruned hot path."""
    from kgpipe.corpus import corpus_to_dataframes, generate_corpus
    from kgpipe.parse.hanzi import parse_hanzi_html

    corpus = generate_corpus(n_hanzi=6, n_words=4, n_idioms=3, seed=7)
    target = next(r for r in corpus.rows if r["path"].startswith("zidian/"))
    char = parse_hanzi_html(target["content"], target["path"])["basic_info"]["data"][
        "character"
    ]
    extra = (
        '<div class="zi-content"><div class="zi-heading main">'
        f'<h3 class="zi-title">{char}</h3><sup>9</sup>'
        '<span class="voice" data-voice="xq9.mp3">'
        '<em class="py">extrapy</em> <em class="zy">ㄜˋ</em></span></div>'
        '<div class="zi-detail-explain"><p class="cixing">名</p>'
        '<p class="explain"><span class="no">1.</span>罕见读法。</p></div></div>'
    )
    # insert INSIDE the guoyu zi-contents wrapper (the </div> before
    # zi-notes closes it)
    marker = '</div><div class="zi-notes">注：国语辞典'
    assert marker in target["content"]
    target["content"] = target["content"].replace(marker, extra + marker)
    cdf, sdf = corpus_to_dataframes(spark, corpus)

    g_full = build_graph(spark, cdf, sdf, cache=False, full_properties=True)
    full_triples = {(r.subj, r.pred, r.obj) for r in g_full.triples.collect()}
    assert (char, "has-pinyin", "extrapy") in full_triples
    nodes = {
        (r.entity_type, r.name) for r in g_full.nodes.select("entity_type", "name").collect()
    }
    assert ("Pinyin", "extrapy") in nodes  # endpoint stub minted — no dangling edge

    g_default = build_graph(spark, cdf, sdf, cache=False)
    default_triples = {(r.subj, r.pred, r.obj) for r in g_default.triples.collect()}
    assert (char, "has-pinyin", "extrapy") not in default_triples
    # readings shared with basic_info dedup away: the only delta is the
    # section-only reading
    assert full_triples - default_triples == {(char, "has-pinyin", "extrapy")}


def test_replay_idempotence(spark, small_corpus, graph):
    """Running the pipeline twice and merging must equal one run
    (INSERT IGNORE / upsert semantics, SURVEY.md T2-T3)."""
    from kgpipe.triples import EDGE_KEY, dedup_first

    twice = graph.edges.unionByName(graph.edges).withColumn(
        "lineage", F.col("src_name")
    )
    merged = dedup_first(twice, EDGE_KEY, ["lineage"]).drop("lineage")
    assert merged.count() == graph.edges.count()


def test_gate_corpus_triples_mode_invariant(spark):
    """The correctness gate serves kg_triples from ONE full-properties
    build (_kg_graph always builds full — one pipeline run for five
    entries). That is sound only while the GATE corpus yields identical
    triples in both modes (full mode widens has-pinyin evidence only
    when a section carries a reading absent from basic_info, which this
    corpus never does — see test_full_mode_section_pinyin_evidence for
    the widening case). Pin the assumption: if the corpus generator ever
    changes, this fails loudly instead of the oracle silently drifting."""
    from kgpipe.pipeline import build_graph
    from kgpipe.queries import _KG_CORPUS_PARAMS, _kg_corpus

    cdf, sdf = _kg_corpus(spark)
    pruned = {
        tuple(r)
        for r in build_graph(spark, cdf, sdf, cache=False).triples.collect()
    }
    full = {
        tuple(r)
        for r in build_graph(
            spark, cdf, sdf, cache=False, full_properties=True
        ).triples.collect()
    }
    assert pruned == full, (
        f"gate corpus {_KG_CORPUS_PARAMS} no longer mode-invariant: "
        f"{len(full - pruned)} extra / {len(pruned - full)} missing in full mode"
    )


def test_chromed_corpus_pipeline_invariant(spark, small_corpus):
    """Round 7 (VERDICT task 5): the chrome=True corpus mode wraps every
    page in realistic head/nav/sidebar/footer chrome — the live-site
    page shape. The pipeline's triples must be BYTE-IDENTICAL to the
    plain corpus's (chrome is unconsumed by every extractor), with the
    term flat scan reading every chromed page itself (scripts, styles,
    comments, declarations and character references are inside its
    precondition), so no chromed term page falls back to the DOM."""
    from kgpipe.corpus import generate_corpus
    from kgpipe.golden import golden_triples, precision_recall
    from kgpipe.parse.fastterm import fast_hot_chengyu, fast_hot_ciyu

    chromed = generate_corpus(n_hanzi=12, n_words=24, n_idioms=16, seed=7, chrome=True)
    plain = generate_corpus(n_hanzi=12, n_words=24, n_idioms=16, seed=7)
    assert chromed.manifest != plain.manifest  # pages really differ
    for family, fast in (("chengyu/", fast_hot_chengyu), ("cidian/", fast_hot_ciyu)):
        pages = [r["content"] for r in chromed.rows if r["path"].startswith(family)]
        assert pages
        declined = [h for h in pages if fast(h) is None]
        assert declined == [], (family, len(declined), len(pages))

    g_chromed = build_graph(spark, *corpus_to_dataframes(spark, chromed))
    g_plain = build_graph(spark, *corpus_to_dataframes(spark, plain))
    t_chromed = {(r.subj, r.pred, r.obj) for r in g_chromed.triples.collect()}
    t_plain = {(r.subj, r.pred, r.obj) for r in g_plain.triples.collect()}
    assert t_chromed == t_plain
    p, r = precision_recall(t_chromed, golden_triples(chromed))
    assert (p, r) == (1.0, 1.0)


def _known_size(spark, frame, path, partitions=None):
    """``frame`` loaded the way the benchmark loads its inputs: written
    as parquet, read back, spread over ``partitions`` and persisted, so
    that Spark knows its size."""
    frame.write.parquet(str(path))
    known = spark.read.parquet(str(path))
    known = (known.repartition(partitions) if partitions else known).persist()
    known.count()
    return known


@pytest.fixture()
def known_frames(spark, small_corpus, tmp_path):
    """(corpus, seeds) of unknown size, then the same two of known size
    with the corpus in 8 partitions."""
    cdf, sdf = corpus_to_dataframes(spark, small_corpus)
    known = _known_size(spark, cdf, tmp_path / "corpus", 8)
    known_seeds = _known_size(spark, sdf, tmp_path / "seeds")
    yield cdf, sdf, known, known_seeds
    known.unpersist()
    known_seeds.unpersist()


def test_staging_parses_nothing(spark, known_frames, parse_log):
    """stage_pages builds the staging without parsing a page: the parses
    run in the first jobs over its checkpoints. The only jobs it runs
    are the linkage's two seed broadcasts."""
    from kgpipe.pipeline import stage_pages

    *_, known, known_seeds = known_frames
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("staging-group", "stage_pages")
    try:
        stage_pages(known, known_seeds)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert parse_log() == {}
    assert len(tracker.getJobIdsForGroup("staging-group")) <= 2


def test_commit_is_sized_to_its_input(spark, known_frames, monkeypatch, tmp_path):
    """A single-bucket incremental round builds no cache for the graph it
    commits and runs its commit in stages sized to the staged frames,
    not to the shuffle partitions: at most 17 jobs in all, and no commit
    stage runs more tasks than the staging's two checkpoints, each read
    at most twice per table (its rows and its relations), have
    partitions."""
    from kgpipe import checkpoint
    from kgpipe.pipeline import stage_pages

    *_, known, known_seeds = known_frames
    staged = stage_pages(known, known_seeds)
    scanned = 2 * (staged.terms.rdd.getNumPartitions() + staged.hz.rdd.getNumPartitions())
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    graphs = []
    commit_unit = checkpoint.commit_unit

    def in_commit_group(wh, g, fail):
        graphs.append(g)
        sc.setJobGroup("commit-group", "commit_unit")
        try:
            return commit_unit(wh, g, fail)
        finally:
            sc.setJobGroup("round-group", "run_incremental")

    monkeypatch.setattr(checkpoint, "commit_unit", in_commit_group)
    sc.setJobGroup("round-group", "run_incremental")
    try:
        checkpoint.run_incremental(spark, known, known_seeds, str(tmp_path / "wh"), n_buckets=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    commit_jobs = tracker.getJobIdsForGroup("commit-group")
    assert commit_jobs
    assert len(tracker.getJobIdsForGroup("round-group")) + len(commit_jobs) <= 17
    # a stage a job skipped ran no task; the status store may already
    # have evicted it (it evicts stages that never completed first)
    stages = [tracker.getStageInfo(s) for j in commit_jobs for s in tracker.getJobInfo(j).stageIds]
    tasks = {s.stageId: s.numCompletedTasks for s in stages if s is not None}
    assert max(tasks.values()) <= scanned, tasks
    (g,) = graphs
    assert not g.nodes.is_cached and not g.edges.is_cached


def test_parse_partitions_follow_bytes(spark, known_frames, parse_log):
    """Each family's parse input is coalesced to the partitions its bytes
    need (under the 1 MB AQE floor: one per family), a corpus whose size
    Spark does not know keeps its partitions, and the graph is the same
    row for row either way, each page parsed once per build."""
    from kgpipe.pipeline import stage_pages

    cdf, sdf, known, known_seeds = known_frames
    staged = stage_pages(known, known_seeds)
    assert staged.terms.rdd.getNumPartitions() == 2  # chengyu ∪ cidian
    assert staged.hz.rdd.getNumPartitions() == 1
    unknown = stage_pages(cdf, sdf)
    assert unknown.hz.rdd.getNumPartitions() == cdf.rdd.getNumPartitions() > 1

    def rows(g):
        nodes = g.nodes.drop("updated_at")
        return [
            sorted(tuple(r) for r in frame.collect())
            for frame in (nodes, g.edges, g.edges_canonical, g.triples, g.errors)
        ]

    pages = [r.path for r in cdf.select("path").collect()]
    before = parse_log()
    from_known = rows(build_graph(spark, known, known_seeds))
    assert parse_log() - before == {p: 1 for p in pages}
    before = parse_log()
    assert rows(build_graph(spark, cdf, sdf)) == from_known
    assert parse_log() - before == {p: 1 for p in pages}


def test_known_size_corpora_without_pages_build(spark, small_corpus, tmp_path):
    """A known-size corpus with no page at all (size estimate 0) and one
    with no zidian page stage and build: the parse partitions are
    clamped to at least one."""
    from kgpipe.pipeline import stage_pages

    cdf, sdf = corpus_to_dataframes(spark, small_corpus)
    empty = _known_size(spark, cdf.limit(0), tmp_path / "empty", 8)
    no_zidian = _known_size(
        spark, cdf.where(~F.col("path").startswith("zidian/")), tmp_path / "terms", 8
    )
    try:
        assert empty._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() == 0
        staged = stage_pages(empty, sdf)
        assert staged.hz.rdd.getNumPartitions() == 1
        g = build_graph(spark, empty, sdf)
        assert g.triples.count() == 0
        assert g.nodes.count() == 0
        assert g.missing.count() == staged.seeds.count() > 0

        g = build_graph(spark, no_zidian, sdf)
        assert g.triples.count() > 0
        assert g.errors.count() == 0
        assert g.nodes.where(F.col("entity_type") == "Hanzi").where("crawled").count() == 0
    finally:
        empty.unpersist()
        no_zidian.unpersist()
