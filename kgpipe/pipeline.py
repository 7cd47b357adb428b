"""End-to-end graph construction: corpus → nodes / edges / triples.

Spark restatement of the reference's three crawl entry points
(SURVEY.md §3): one batch job, a parse step then a graph step whose
barrier jobs run on threads while it builds the downstream plans —

    corpus ──┬─ chengyu pages ─ parse UDF ─┐
             ├─ cidian  pages ─ parse UDF ─┼─ link seeds (J2/P13)
             └─ zidian  pages ─ parse UDF ─┘      │
        relations: one generator per staged source
          terms    ─ syn/ant, has-pinyin, idiom translation-of
          hz_valid ─ variant-of, radical-of, has-pinyin, translation-of
        edges (relations ∪ composed-of) ─ min-over-struct dedup
        nodes (crawled ∪ the relations' other endpoints as stubs,
               upsert-dedup)
        variant-of ─ iterative CC ─ canonical mapping ─ edges_canonical
        triples (name-level, for the golden P/R gate)

Scale notes:
  * the parse step (``stage_pages``) parses each page exactly once and
    checkpoints it before the fan-out to nodes + several edge families:
    the staging table every consumer reads (the bucket runner slices one
    per run, the stream stages one per micro-batch). Building it parses
    nothing; the parses run in the first jobs over its two checkpoints;
  * each family's parse runs in as few Python tasks as its input bytes
    need (``_family``): a Python task's fixed cost outweighs parsing a
    small partition. ``coalesce`` never adds partitions, so a large
    corpus keeps its own;
  * the only joins are (a) broadcast seed-linkage, (b) broadcast semi-
    join of composed-of chars against the hanzi dimension, (c) broadcast
    canonical mapping — no large-×-large shuffle joins anywhere;
  * ids are pure hash expressions, so no id-lookup join exists at all
    (the reference's per-record SELECT round-trips disappear).
"""

from __future__ import annotations

import threading
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kgpipe import link as L
from kgpipe import triples as T
from kgpipe.canon import apply_canonicalization, canonical_mapping
from kgpipe.ids import node_id
from kgpipe.parse.udfs import (
    make_parse_chengyu_udf,
    make_parse_ciyu_udf,
    make_parse_hanzi_udf,
    parse_chengyu_udf,
    parse_ciyu_udf,
)
from kgpipe.session import with_callers_properties
from kgpipe.triples import UNDIRECTED

#: parser-level projection pushdown: the triple-derivation hot path
#: consumes exactly these zidian sections (nodes properties, radicals,
#: variants, pinyin, translations) — the other five are never extracted
#: nor serialized unless full_properties is requested
PIPELINE_HANZI_SECTIONS = ("basic_info", "fanyi_info")
parse_hanzi_pruned_udf = make_parse_hanzi_udf(PIPELINE_HANZI_SECTIONS)

#: same pushdown for the term families: the triple derivation reads
#: name + pinyin + mention lists (+ idiom translation), which the flat
#: scan extracts without a DOM (chengyu.HOT_FIELDS / ciyu.HOT_FIELDS,
#: parse/fastterm.py); the ci-content / 网络解释 fields are never
#: extracted on the hot path
from kgpipe.parse.chengyu import HOT_FIELDS as CHENGYU_HOT_FIELDS
from kgpipe.parse.ciyu import HOT_FIELDS as CIYU_HOT_FIELDS

parse_chengyu_pruned_udf = make_parse_chengyu_udf(CHENGYU_HOT_FIELDS)
parse_ciyu_pruned_udf = make_parse_ciyu_udf(CIYU_HOT_FIELDS)

#: S11 full fidelity: the reference persists ALL seven section blobs per
#: character (hanyuguoxue.py:1411-1439 — basic_info…evolution_data); the
#: full-section mode materializes every section into the node properties
#: JSON so a warehouse user can query 意思/国语辞典/两岸词典/字源 data
from kgpipe.parse.hanzi import ALL_SECTIONS as ALL_HANZI_SECTIONS

parse_hanzi_full_udf = make_parse_hanzi_udf(ALL_HANZI_SECTIONS)

class _Memo:
    """Zero-argument callable that runs ``fn`` at most once successfully.

    Concurrent first calls serialize on the lock and all get the one
    result. A raising ``fn`` caches nothing, so the next call retries it
    (a transient Spark error must not poison the member for good)."""

    def __init__(self, fn):
        self._fn = fn
        self._lock = threading.Lock()

    def __call__(self):
        with self._lock:
            if self._fn is not None:
                self._value = self._fn()
                self._fn = None
        return self._value


class GraphResult:
    """Graph-construction result. ``triples`` is a frame; the other members
    are memos built on first read (round 8: plan construction is serial
    py4j driver work — ~2.5k round-trips per build_graph, ~1.7s measured
    — and the flagship triples path never reads nodes/edges/
    edges_canonical/missing/errors). Each member is a plan over the
    staging's checkpoints, not a cache: every action over it recomputes
    it, so a caller that re-reads one pins it (``localCheckpoint``).
    Assigning a member (e.g. re-pointing ``nodes`` at a checkpointed
    frame) replaces its memo."""

    def __init__(self, *, nodes, edges, edges_canonical, triples, missing,
                 errors):
        self.triples = triples
        self._members = {
            "nodes": nodes,
            "edges": edges,
            "edges_canonical": edges_canonical,
            "missing": missing,
            "errors": errors,
        }

    def __getattr__(self, name):
        # reached only for names the instance does not hold itself
        member = self.__dict__.get("_members", {}).get(name)
        if member is None:
            raise AttributeError(name)
        return member()


def canonicalize_edges(edges: DataFrame) -> DataFrame:
    """Global alias canonicalization: CC over variant-of edges, endpoint
    rewrite, re-dedup. Must run over the *complete* edge set (variant
    clusters can span work-unit boundaries), which is why the runner
    calls this after all buckets merge, not per bucket.

    The winner election's (node_id, name) lookup derives from the
    variant edges themselves, so a graph that fits the driver is solved
    by one collect, a driver union-find and election, and comes back as
    a local mapping frame."""
    mapping = canonical_mapping(edges.where(F.col("rel_type") == "variant-of"))
    if mapping is None:  # no alias graph
        return edges
    return _rewrite_dedup(edges, mapping)


def _rewrite_dedup(edges: DataFrame, mapping: DataFrame) -> DataFrame:
    """Endpoint rewrite through the alias mapping, then the re-dedup of
    the (src, dst, rel_type) rows that aliases collapsed."""
    return T.dedup_first(
        apply_canonicalization(edges, mapping).drop("run_id"), T.EDGE_KEY, ["src_name"]
    )


def triples_view(edges_canonical: DataFrame) -> DataFrame:
    """Name-level (subj, pred, obj) with undirected preds in lexicographic
    canonical order — the golden P/R comparison format."""
    is_undirected = F.col("rel_type").isin(*UNDIRECTED)
    return edges_canonical.select(
        F.when(is_undirected, F.least("src_name", "dst_name"))
        .otherwise(F.col("src_name"))
        .alias("subj"),
        F.col("rel_type").alias("pred"),
        F.when(is_undirected, F.greatest("src_name", "dst_name"))
        .otherwise(F.col("dst_name"))
        .alias("obj"),
    ).distinct()


def _family(corpus: DataFrame, prefix: str) -> DataFrame:
    """One family's pages, coalesced to one partition per AQE minimum
    partition size of their optimized plan's size estimate (reading it
    runs no job); a size Spark does not know leaves them as they are."""
    # at scale `path` family is the corpus partition column → partition pruning
    pages = corpus.where(F.col("path").startswith(prefix + "/"))
    spark = pages.sparkSession
    size = pages._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    as_bytes = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes
    if size >= as_bytes(spark.conf.get("spark.sql.defaultSizeInBytes")):
        return pages
    floor = as_bytes(spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize"))
    return pages.coalesce(max(1, -(-size // floor)))


def term_frame(linked: DataFrame, entity_type: str, data_prefix: str) -> DataFrame:
    """Normalize chengyu/ciyu linked rows into one shape.

    The two families' parse structs differ (chengyu has emotion/source/
    translation, ciyu has part_of_speech/is_common) so the full struct is
    serialized to the JSON ``properties`` column here — the export
    boundary (SURVEY.md §1.2) — and only the shared scalar columns stay
    typed.
    """
    name = f"parsed.data.{data_prefix}"
    has_translation = data_prefix == "chengyu"
    return linked.select(
        F.lit(entity_type).alias("entity_type"),
        F.coalesce(F.col(name), F.col("name")).alias("name"),  # P15 fallback
        F.col("path"),
        F.to_json(F.col("parsed.data")).alias("properties"),
        F.coalesce(F.col("parsed.data.synonyms"), F.array()).alias("synonyms"),
        F.coalesce(F.col("parsed.data.antonyms"), F.array()).alias("antonyms"),
        F.col("parsed.data.pinyin").alias("pinyin"),
        (
            F.col("parsed.data.translation")
            if has_translation
            else F.lit(None).cast("string")
        ).alias("translation"),
    )


def parse_term_pages(corpus: DataFrame, full: bool = False):
    """(chengyu, cidian) pages as (path, parsed) rows, each page through
    its parse UDF once: explode(array(udf(...))) pins the evaluation
    below a Generate node, which projection collapse cannot cross. A
    consumer that keys or filters on the UDF output (the linkage join)
    otherwise makes ExtractPythonUDFs plant a SECOND ArrowEvalPython for
    the output projection — every term page parsed twice, ~4.2s of the
    9.6s barrier at bench scale 1600. ``full`` extracts every field
    instead of the hot ones."""
    return tuple(
        _family(corpus, family).select(
            "path", F.explode(F.array(udf("content", "path"))).alias("parsed")
        )
        for family, udf in (
            ("chengyu", parse_chengyu_udf if full else parse_chengyu_pruned_udf),
            ("cidian", parse_ciyu_udf if full else parse_ciyu_pruned_udf),
        )
    )


class Staged(NamedTuple):
    """The parse step's output, a run's staging table. ``terms`` (the
    linked term pages) and ``hz`` (every parsed zidian row) are the
    localCheckpoint barriers (with caching on); ``hz_valid`` is the
    zidian rows that pass the validity gate, a filter over ``hz``;
    ``seeds`` and ``missing`` are (name, entity_type) rows."""

    terms: DataFrame
    hz: DataFrame
    hz_valid: DataFrame
    seeds: DataFrame
    missing: DataFrame

    def characters(self) -> DataFrame:
        """The valid characters: one ``name`` row per zidian page that
        passed the validity gate — the composed-of dimension."""
        return self.hz_valid.select(F.col("basic_info.data.character").alias("name"))

    def failed_pages(self) -> DataFrame:
        """The zidian rows that failed the validity gate — the errors
        table population."""
        return self.hz.where(
            F.col("error").isNotNull() | F.col("basic_info.data.character").isNull()
        )


def stage_pages(
    corpus: DataFrame,
    seeds: DataFrame,
    cache: bool = True,
    full_properties: bool = False,
) -> Staged:
    """Parse step: parse each page once, link the seeds to the term pages
    and gate the zidian pages. Parses nothing: with ``cache`` on, the
    only jobs it runs build the shuffle and broadcast stages below its
    two checkpoints (over a persisted corpus and seeds, the linkage's two
    seed broadcasts); the parses run in the first jobs that read
    ``terms`` and ``hz``."""
    hanzi_sections = ALL_HANZI_SECTIONS if full_properties else PIPELINE_HANZI_SECTIONS
    parse_hanzi = parse_hanzi_full_udf if full_properties else parse_hanzi_pruned_udf
    chengyu_parsed, cidian_parsed = parse_term_pages(corpus, full_properties)

    # ---- linkage (J2/P13): seed ⋈ page title, by family -------------------
    # null-name seeds dropped (reference ciyu_neo4j.py:37-39)
    seeds = seeds.where(
        F.col("name").isNotNull() & F.col("entity_type").isin("Idiom", "Word")
    ).select("name", "entity_type")

    def linked(entity_type: str, parsed: DataFrame, title: str) -> DataFrame:
        type_seeds = seeds.where(F.col("entity_type") == entity_type).select("name")
        return L.link_seeds_to_pages(type_seeds, parsed, title)

    terms = term_frame(
        linked("Idiom", chengyu_parsed, "parsed.data.chengyu"), "Idiom", "chengyu"
    ).unionByName(term_frame(linked("Word", cidian_parsed, "parsed.data.word"), "Word", "word"))

    # zidian parsed once for all sections
    hz = _family(corpus, "zidian").select(
        "path", parse_hanzi("content", "path").alias("parsed")
    ).select("path", "parsed.*")
    if cache:
        # localCheckpoint barriers: seven edge families, the node stubs,
        # the errors and the composed-of dimension fan out from `terms`
        # and `hz`; a cold cache would let concurrent branches recompute
        # the parse+linkage lineage, and the un-truncated lineage (deep
        # nested parse structs) makes every downstream plan compilation
        # pay the full analysis cost on the driver. The checkpoint call
        # truncates the plan to a LogicalRDD at once. eager=False defers
        # the parse to the first job over it, but building the checkpoint
        # still runs one job per shuffle or broadcast stage of its input
        # (AQE materializes those stages to plan the rest).
        terms = terms.localCheckpoint(eager=False)
        hz = hz.localCheckpoint(eager=False)

    # ---- hanzi validity (hanyuguoxue.py:1155-1157) -------------------------
    hz_valid = hz.where(
        F.col("error").isNull() & F.col("basic_info.data.character").isNotNull()
    ).select(
        # the consumed sections: all 7 in full-fidelity mode, basic+fanyi
        # on the hot path
        "path", "unicode_decimal", *hanzi_sections
    )

    # seeds no page linked to (the missing_detail_pages population), read
    # off the terms barrier: an anti-join against the parsed pages would
    # run their parse UDF again
    key = L.normalize_title("name").alias("_k")
    missing = seeds.select("*", key).join(
        terms.select("entity_type", key), ["entity_type", "_k"], "left_anti"
    ).select("name", "entity_type")
    return Staged(terms, hz, hz_valid, seeds, missing)


def _tagged(rel_type: str, other_type: str, values: str, drop_empty: bool = True) -> Column:
    """One edge family's other endpoints: the SQL array<string>
    ``values`` (NULL read as empty) as (rel_type, other_type, other_name)
    structs, ``other_type`` a SQL expression. ``drop_empty`` nulls the
    empty names, which the generator drops. One SQL expression: the
    Column API would spend a py4j round trip per function and lambda."""
    name = "nullif(v, '')" if drop_empty else "v"
    return F.expr(
        f"transform(coalesce({values}, array()), v -> named_struct("
        f"'rel_type', '{rel_type}', 'other_type', {other_type}, 'other_name', {name}))"
    )


def _relations(source: DataFrame, entity_type: Column, name: Column, *families: Column) -> DataFrame:
    """One generator over a staged source: every family's structs of a
    page in one explode, as the relation rows ``T.to_edges`` projects.
    A row survives when it names its other endpoint and, for an
    undirected family, is no self-loop (chengyu_mysql.py:233-234
    ``rid == main_id``)."""
    return source.select(
        # the generator leads: an alias listed before it would capture the
        # source columns its lambdas read (a lateral alias reference)
        F.inline(F.concat(*families)),
        entity_type.alias("entity_type"),
        name.alias("name"),
        F.col("path").alias("lineage"),
    ).where(
        F.col("other_name").isNotNull()
        & (~F.col("rel_type").isin(*UNDIRECTED) | (F.col("other_name") != F.col("name")))
    )


def term_relations(terms: DataFrame) -> DataFrame:
    """The terms generator: synonym / antonym mentions, trimmed
    (normalize_term — chengyu_mysql.py:207-210), has-pinyin and the
    idiom translation-of relations of each term page."""
    return _relations(
        terms, F.col("entity_type"), F.col("name"),
        _tagged("synonym", "entity_type", "transform(synonyms, m -> trim(m))"),
        _tagged("antonym", "entity_type", "transform(antonyms, m -> trim(m))"),
        _tagged("has-pinyin", "'Pinyin'", "array(pinyin)"),
        # "lang: text; lang: text" (extract_chengyu.py:168); NULL on Word rows
        _tagged("translation-of", "'Translation'", "split(translation, '; ')"),
    )


def hanzi_relations(hz_valid: DataFrame, full_properties: bool = False) -> DataFrame:
    """The hz_valid generator: variant-of, radical-of (the ``部`` suffix
    stripped), has-pinyin and translation-of relations of each valid
    zidian page."""
    data = "basic_info.data"
    families = [
        _tagged("variant-of", "'Hanzi'", f"{data}.variant_characters.character",
                drop_empty=False),
        _tagged("radical-of", "'Radical'",
                f"array(regexp_replace({data}.bushou_detail.text, '部$', ''))"),
        _tagged("has-pinyin", "'Pinyin'", f"{data}.pinyin_info.pinyin"),
        _tagged("translation-of", "'Translation'",
                "transform(fanyi_info.data.translations,"
                " t -> concat_ws(': ', t.language, t.translation))",
                drop_empty=False),
    ]
    if full_properties:
        # the unpruned sections carry per-reading pinyin (reference
        # extract_guoyu.py:25-220, extract_yisi.py, extract_liangan.py) —
        # SURVEY §2.11 maps them to has-pinyin evidence, so full-fidelity
        # mode widens the evidence base to every section reading; readings
        # already covered by basic_info dedup away
        families += [
            _tagged("has-pinyin", "'Pinyin'", readings)
            for readings in (
                "flatten(transform(yisi_info.data.explanations,"
                " e -> coalesce(e.pinyin_info.pinyin, array())))",
                "guoyu_info.data.main_content.pinyin_info.pinyin",
                "liangan_info.data.main_content.pinyin_info.pinyin",
            )
        ]
    return _relations(hz_valid, F.lit("Hanzi"), F.col(f"{data}.character"), *families)


def build_graph(
    spark: SparkSession,
    corpus: DataFrame,
    seeds: DataFrame,
    run_id: str = "run-1",
    cache: bool = True,
    hanzi_dim: DataFrame | None = None,
    composed_mode: str = "broadcast",
    full_properties: bool = False,
) -> GraphResult:
    """``stage_pages`` then ``graph_from_staged``. ``hanzi_dim`` (one
    ``name`` column) overrides the composed-of dimension (default: the
    staged valid characters); ``composed_mode`` selects its skew strategy
    (see kgpipe.triples.composed_of).

    ``full_properties`` (S9-S11 full fidelity) parses and persists every
    field the reference stores: ALL seven zidian sections into the Hanzi
    node properties — the reference's per-character section blobs
    (hanyuguoxue.py:1411-1439) — and the COMPLETE idiom/word record
    (explanation, source, usage, example, zhuyin, emotion / definition,
    part_of_speech, is_common — chengyu_mysql.py:162-221) into the term
    node properties. The default hot path extracts only the
    triple-bearing fields. Triples are identical in both modes."""
    staged = stage_pages(corpus, seeds, cache, full_properties)
    return graph_from_staged(staged, run_id, cache, hanzi_dim, composed_mode, full_properties)


def graph_from_staged(
    staged: Staged,
    run_id: str = "run-1",
    cache: bool = True,
    hanzi_dim: DataFrame | None = None,
    composed_mode: str = "broadcast",
    full_properties: bool = False,
) -> GraphResult:
    """Graph step: edge families, canonical mapping, triples and the lazy
    members from staged (or sliced staged) frames. With ``cache`` on,
    the terms/hz barriers and the mapping job run on threads
    during plan construction and have finished when this returns. A
    caller whose staging an earlier job already materialized (the
    bucket runner, after its tally) passes ``cache=False``: a barrier
    would only re-count the checkpoints' blocks."""
    terms, hz_valid = staged.terms, staged.hz_valid

    # one generator per staged source: the edge families, the node stubs
    # and the canonical mapping's variant-of slice all read these rows
    hz_relations = hanzi_relations(hz_valid, full_properties)

    # ---- canonicalization (variant-of alias graph → CC) --------------------
    # The mapping derives from the variant-of relations alone, before the
    # union and the id-level dedup: union-find is duplicate-insensitive
    # (A~B twice is still one merge) and the election's name lookup
    # distincts, so the result is identical to mapping over the deduped
    # edge table (asserted by
    # test_mapping_from_variant_family_equals_from_dedup) — but the
    # collect job runs only the hz_valid generator, never the terms side.
    # nodes NOT passed: the election's name lookup derives from the
    # variant edges themselves, keeping the node pipeline off the
    # flagship path.
    mapping = _Memo(lambda: canonical_mapping(
        T.to_edges(hz_relations.where(F.col("rel_type") == "variant-of"))
    ))

    # Round 8: with caching on, both barriers and the mapping job run on
    # background threads while this thread constructs every downstream
    # plan (generators, composed-of, rewrite, triples: serial py4j
    # round-trips that would otherwise run after the barrier wall).
    # Concurrent jobs over a not-yet-materialized localCheckpoint RDD are
    # safe: block-level locks make one task compute a partition and the
    # others wait. The mapping job depends only on the hz checkpoint and
    # hides under the terms barrier. Each join point is a plain memo
    # call; if plan construction raises, the threads are still joined
    # before the error leaves, so no barrier job outlives build_graph.
    # The barrier jobs run in the caller's job group.
    barriers = [_Memo(terms.count), _Memo(staged.hz.count), mapping] if cache else []
    sc = terms.sparkSession.sparkContext
    threads = [
        threading.Thread(target=with_callers_properties(sc, m), name="kg-barrier", daemon=True)
        for m in barriers
    ]
    for t in threads:
        t.start()

    try:
        relations = term_relations(terms).unionByName(hz_relations)
        if hanzi_dim is None:
            hanzi_dim = staged.characters()
        # composed-of keeps its own dimension join
        raw_edges = T.to_edges(relations).unionByName(
            T.composed_of(terms, hanzi_dim, mode=composed_mode)
        )

        if mapping() is None:  # no alias graph: canonicalization is the identity
            # name-level distinct subsumes the id-level dedup → one fused
            # job: generators → union → distinct, no edge barrier
            triples = triples_view(raw_edges)
        else:
            # the name-level distinct in triples_view subsumes BOTH id-level
            # dedups (they only remove duplicate (src, dst, rel) rows), so
            # the flagship triples path rewrites the RAW edge union through
            # the broadcast mapping and goes straight to the distinct — one
            # wide shuffle total, no materialization barrier between the
            # parse checkpoints and the final aggregate. Identical triple
            # set, asserted by test_triples_from_rewrite_equals_from_canonical
            # (new path vs triples_view over the doubly-deduped edges_canonical)
            # and the golden P/R gate.
            triples = triples_view(
                apply_canonicalization(
                    raw_edges.withColumn("run_id", F.lit(run_id)), mapping()
                )
            )
    finally:
        for t in threads:
            t.join()
    # build_graph returns with both checkpoints materialized; a barrier
    # that failed on its thread (traceback printed there) is retried here
    # and raises
    for m in barriers:
        m()

    def _make_errors() -> DataFrame:
        return staged.failed_pages().select(
            F.lit(run_id).alias("run_id"),
            F.lit("zidian").alias("partition_key"),
            F.col("path").alias("key"),
            F.coalesce(F.col("error"), F.col("basic_info.error")).alias("error"),
        )

    # ---- nodes (LAZY plan construction, round 8) ---------------------------
    # Every edge endpoint gets a node row: crawled pages as full records,
    # every other endpoint of the relations (mentions, variant characters,
    # radicals, pinyin and translation literals) as a crawled=False stub —
    # no dangling edge ids (schemas.py entity_type vocabulary: Idiom | Word
    # | Hanzi | Radical | Pinyin | Translation); composed-of links only
    # characters of the dimension. The node plan is serial py4j driver
    # work the flagship triples path never reads, so it is deferred into
    # a GraphResult memo and only built when a caller touches g.nodes.
    def _make_nodes() -> DataFrame:
        term_nodes = terms.select(
            node_id("entity_type", "name").alias("node_id"),
            "entity_type",
            "name",
            F.col("path").alias("url"),
            "properties",
            F.lit(True).alias("crawled"),
        )
        # node properties: basic_info only on the hot path; every parsed
        # section in full-fidelity mode (the reference's section blobs,
        # hanyuguoxue.py:1411-1439)
        prop_sections = ALL_HANZI_SECTIONS if full_properties else ("basic_info",)
        prop_cols = [F.col(s) for s in prop_sections] + [F.col("unicode_decimal")]
        hanzi_nodes = hz_valid.select(
            node_id(F.lit("Hanzi"), F.col("basic_info.data.character")).alias("node_id"),
            F.lit("Hanzi").alias("entity_type"),
            F.col("basic_info.data.character").alias("name"),
            F.col("path").alias("url"),
            F.to_json(F.struct(*prop_cols)).alias("properties"),
            F.lit(True).alias("crawled"),
        )
        stubs = relations.select(
            node_id("other_type", "other_name").alias("node_id"),
            F.col("other_type").alias("entity_type"),
            F.col("other_name").alias("name"),
            F.lit(None).cast("string").alias("url"),
            F.lit(None).cast("string").alias("properties"),
            F.lit(False).alias("crawled"),
        )
        all_nodes = term_nodes.unionByName(stubs).unionByName(hanzi_nodes)
        # upsert semantics: a crawled row replaces a mention-minted stub
        # (INSERT IGNORE + ON DUP KEY UPDATE — chengyu_mysql.py:162-221);
        # deterministic winner: crawled first (NOT crawled ascending),
        # then lexicographic url. A plan, not a cache (see GraphResult):
        # the warehouse merge reads it once, or twice against a non-empty
        # table, where the first read is the small bucket collect
        return (
            T.dedup_first(
                all_nodes.withColumn("_stub", ~F.col("crawled")), ["node_id"], ["_stub", "url"]
            )
            .drop("_stub")
            .withColumn("run_id", F.lit(run_id))
            .withColumn("updated_at", F.current_timestamp())
        )

    def _make_edges() -> DataFrame:
        # LAZY plan construction (round 8): the deduped edge table is
        # computed only when a consumer reads g.edges — the flagship
        # triples path never does. The former eager barrier shuffled and
        # wrote the full deduped payload (~10M rows with properties+
        # lineage at bench scale 9600) before triples could start: 51s of
        # the 133s local[16] profile. A plan, not a cache, as for nodes:
        # a cache that its one consumer reads once costs a job over
        # uncoalesced shuffle partitions.
        return (
            T.dedup_first(raw_edges, T.EDGE_KEY, ["lineage"])
            .withColumn("run_id", F.lit(run_id))
            .drop("lineage")
        )

    edges = _Memo(_make_edges)
    edges_canonical = (
        edges if mapping() is None else _Memo(lambda: _rewrite_dedup(edges(), mapping()))
    )

    return GraphResult(
        nodes=_Memo(_make_nodes),
        edges=edges,
        edges_canonical=edges_canonical,
        triples=triples,
        missing=lambda: staged.missing,
        errors=_Memo(_make_errors),
    )
