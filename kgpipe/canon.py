"""Alias canonicalization: iterative connected components on the
variant-character graph (SURVEY.md §4.1).

The reference records 异体字 variant links per character
(/root/reference/hanzi/extract_basic_info.py:138-149) but never
canonicalizes; the rebuild's north_star requires canonical ids so that
e.g. 王 and its variants 玉/𠙻/… resolve to one canonical node before
triple emission.

Algorithm: hash-min label propagation expressed entirely in DataFrame
ops — each vertex repeatedly adopts the minimum label among itself and
its neighbors until fixpoint. Converges in O(diameter) ≤ O(log n)
iterations for the star-ish alias clusters (variants per char ≲ 10).
``localCheckpoint`` truncates lineage each round so plans stay flat; the
iteration cap + convergence assertion guard against pathological input.

Labels are the deterministic node ids (xxhash64), so the elected
canonical representative is identical at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from kgpipe.session import local_frame

_MAPPING_SCHEMA = StructType(
    [
        StructField("node_id", LongType()),
        StructField("canonical_id", LongType()),
        StructField("canonical_name", StringType()),
    ]
)
_COMPONENT_SCHEMA = StructType(
    [StructField("node_id", LongType()), StructField("component_id", LongType())]
)


def connected_components(
    edges: DataFrame,
    src: str = "src_id",
    dst: str = "dst_id",
    max_iterations: int = 25,
    num_partitions: int | None = None,
) -> DataFrame:
    """Undirected CC. Returns (node_id, component_id) with component_id =
    min(node_id) over the component.

    ``num_partitions`` sizes the iteration shuffles. The alias graph is
    tiny relative to the corpus (variants per char ≲ 10, nodes ≤ #hanzi),
    so the default collapses to 1 partition — per-iteration scheduling
    overhead would otherwise dominate. For a genuinely large input graph
    pass an explicit partition count; the algorithm is unchanged.
    """
    num_partitions = num_partitions or 1
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .repartition(num_partitions)
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select(F.col("a").alias("node_id"))
        .distinct()
        .withColumn("component_id", F.col("node_id"))
        .localCheckpoint(eager=True)
    )

    for _ in range(max_iterations):
        # candidate label per node = min over neighbor labels
        neighbor_min = (
            sym.join(labels, sym["b"] == labels["node_id"], "inner")
            .groupBy(F.col("a").alias("node_id"))
            .agg(F.min("component_id").alias("nbr_min"))
        )
        updated = (
            labels.join(neighbor_min, "node_id", "left")
            .select(
                "node_id",
                F.least(
                    F.col("component_id"), F.coalesce(F.col("nbr_min"), F.col("component_id"))
                ).alias("component_id"),
                (F.col("nbr_min") < F.col("component_id")).alias("_changed"),
            )
        ).localCheckpoint(eager=True)
        changed = updated.where(F.col("_changed")).limit(1).count()
        labels = updated.drop("_changed")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} iterations"
    )


#: alias graphs up to this many edges are solved with one collect + a
#: driver union-find instead of the iterative DataFrame loop. The variant
#: graph is bounded by the character universe (~90k even at full CJK
#: coverage, a few MB), while the DataFrame loop costs ~2 driver-side plan
#: compilations + jobs per iteration — pure serial overhead at any scale.
#: The probe collects (src_id, dst_id) on the nodes-supplied path and
#: (src_id, dst_id, src_name, dst_name) on the edge-derived path (the
#: names feed the driver-side election): 1M edges measured ~334 MB driver
#: RSS ids-only and ~560 MB with short names (BENCH.md round-5 note) —
#: both inside any production driver heap and freed as soon as the
#: union-find result uploads. The threshold is sized for the NAMED shape.
DRIVER_CC_MAX_EDGES = 1_000_000


def _elect_winners(comp: DataFrame, nodes: DataFrame) -> DataFrame:
    """Shared tail of both canonicalization paths: component assignment →
    per-component canonical member = the node with the lexicographically
    smallest *name* (deterministic; independent of hash values, cluster
    size, and of WHICH path computed the components). One broadcast-sized
    name join + one hash-agg on component_id."""
    named = comp.join(nodes.select("node_id", "name"), "node_id", "inner")
    winners = (
        named.groupBy("component_id")
        .agg(F.min_by("node_id", "name").alias("canonical_id"),
             F.min("name").alias("canonical_name"))
    )
    # materialize once: the mapping is broadcast into every edge rewrite —
    # without this the CC + nodes joins would re-run per downstream action
    return (
        named.join(winners, "component_id", "inner")
        .select("node_id", "canonical_id", "canonical_name")
        .localCheckpoint(eager=True)
    )


def canonical_mapping(
    variant_edges: DataFrame, nodes: DataFrame | None = None
) -> DataFrame:
    """(node_id → canonical_id, canonical_name) from variant-of edges.

    canonical member = lexicographically smallest *name* in the component
    (identical election rule in every path; see ``_elect_winners`` for
    the distributed form). Nodes outside any variant cluster map to
    themselves implicitly (callers left-join and coalesce).

    ``nodes`` supplies the (node_id, name) lookup for the election.
    Pass None to derive it FROM THE VARIANT EDGES THEMSELVES — edge rows
    carry both endpoint names, and node_id = xxhash64(type, name) makes
    the (id, name) pairing a function of the id, so the edge-derived
    lookup is identical to the node table's (asserted by
    test_mapping_from_edge_names_equals_from_nodes). This keeps the
    heavyweight node pipeline (endpoint-stub distinct over every edge
    mention + the upsert window election) OFF the flagship triples path,
    which only ever needs names for the alias-cluster members.

    Path selection (round 7): when the graph fits the driver AND the
    name lookup is edge-derived, the ELECTION runs on the driver too —
    the collected edge rows already carry every (id, name) pair, so the
    mapping comes back as a single LocalRelation and the flagship pays
    zero distributed jobs for canonicalization beyond the one collect
    probe (the distributed election was join + agg + join + eager
    checkpoint: ~3 serial job launches over KB-sized data, a pure
    Amdahl term in every pipeline round at any cluster size). An
    explicit ``nodes`` table or a graph past DRIVER_CC_MAX_EDGES keeps
    the distributed CC + election path.
    """
    spark = variant_edges.sparkSession
    edge_derived = nodes is None
    probe_cols = (
        ("src_id", "dst_id", "src_name", "dst_name")
        if edge_derived
        else ("src_id", "dst_id")
    )
    # one job decides the path AND fetches the small-graph data: collect up
    # to the threshold + 1; only exceeding it falls back to distributed CC
    rows = variant_edges.select(*probe_cols).limit(DRIVER_CC_MAX_EDGES + 1).collect()
    if not rows:
        return None  # no alias graph → canonicalization is the identity
    if len(rows) <= DRIVER_CC_MAX_EDGES:
        # driver union-find; component root = min node_id, matching the
        # distributed CC's labeling
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in rows:
            ra, rb = find(r.src_id), find(r.dst_id)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        if edge_derived:
            # driver election: same rule as _elect_winners — canonical =
            # member with the smallest name ((name, id) key: name→id is
            # injective here by construction, the id tiebreak just makes
            # the driver rule total). Returns a LocalRelation: no shuffle,
            # no checkpoint, re-evaluation is driver-local and free.
            name_of: dict = {}
            for r in rows:
                name_of[r.src_id] = r.src_name
                name_of[r.dst_id] = r.dst_name
            members: dict = {}
            for node in parent:
                members.setdefault(find(node), []).append(node)
            mapping_rows = []
            for comp_nodes in members.values():
                cid = min(comp_nodes, key=lambda nid: (name_of[nid], nid))
                cname = name_of[cid]
                mapping_rows.extend((nid, cid, cname) for nid in comp_nodes)
            return local_frame(spark, mapping_rows, _MAPPING_SCHEMA)
        comp = local_frame(spark, [(node, find(node)) for node in parent], _COMPONENT_SCHEMA)
        return _elect_winners(comp, nodes)

    if edge_derived:
        nodes = (
            variant_edges.select(
                F.col("src_id").alias("node_id"), F.col("src_name").alias("name")
            )
            .unionByName(
                variant_edges.select(
                    F.col("dst_id").alias("node_id"), F.col("dst_name").alias("name")
                )
            )
            .distinct()
        )
    comp = connected_components(
        variant_edges,
        num_partitions=max(variant_edges.count() // 2_000_000, 8),
    )
    return _elect_winners(comp, nodes)


def apply_canonicalization(edges: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite edge endpoints through the alias mapping (broadcast — the
    mapping is bounded by the variant-cluster population, tiny vs edges),
    then re-canonicalize undirected order and drop collapsed self-loops.
    """
    m = F.broadcast(mapping)
    out = (
        edges.join(
            m.select(F.col("node_id").alias("src_id"),
                     F.col("canonical_id").alias("_c_src"),
                     F.col("canonical_name").alias("_cn_src")),
            "src_id", "left")
        .join(
            m.select(F.col("node_id").alias("dst_id"),
                     F.col("canonical_id").alias("_c_dst"),
                     F.col("canonical_name").alias("_cn_dst")),
            "dst_id", "left")
        .select(
            F.coalesce("_c_src", "src_id").alias("src_id"),
            F.coalesce("_c_dst", "dst_id").alias("dst_id"),
            "rel_type",
            F.coalesce("_cn_src", "src_name").alias("src_name"),
            F.coalesce("_cn_dst", "dst_name").alias("dst_name"),
            "properties",
            "run_id",
        )
        .where(F.col("src_id") != F.col("dst_id"))
    )
    return out
