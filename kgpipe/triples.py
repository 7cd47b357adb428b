"""Edge/triple derivation and deduplication (SURVEY.md §2.5, §2.11).

Predicate vocabulary (evidence in SURVEY.md §2.11):
  synonym / antonym    — undirected, Idiom↔Idiom / Word↔Word
  composed-of          — Word|Idiom → Hanzi (surface-form decomposition)
  radical-of           — Radical → Hanzi
  variant-of           — Hanzi ↔ Hanzi (异体字 alias edges; CC input)
  has-pinyin           — entity → Pinyin
  translation-of       — entity → Translation ("lang: text")

Undirected canonicalization: the reference stores undirected pairs as
(min_id, max_id) over AUTO_INCREMENT ids (chengyu_mysql.py:235-237) —
arrival-order-dependent. We canonicalize by *name* order instead
(deterministic under any parallelism); the edge set is identical because
an undirected edge is a set, only the stored orientation differs.

Dedup: the reference's ``UNIQUE KEY uniq_relation (min_id,max_id,
relation_type)`` + INSERT IGNORE (create_table_chengyu.py:50,
chengyu_mysql.py:239-241) is first-writer-wins in DB-arrival order. The
Spark formalization is a window over the edge hash ordered by a
deterministic lineage key — ``row_number() = 1`` — so replays and
different cluster sizes elect the same winner.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kgpipe.ids import node_id


def _type_col(entity_type: str | Column) -> Column:
    return F.lit(entity_type) if isinstance(entity_type, str) else entity_type


def undirected_by_name(
    mentions: DataFrame, entity_type: str | Column
) -> DataFrame:
    """(src_name, mention, rel_type, lineage) → canonical undirected edges.

    ``entity_type`` may be a literal or a column (one narrow pass over a
    mixed-type frame instead of filter-per-type double evaluation).
    Self-loops dropped (chengyu_mysql.py:233-234 ``rid == main_id``).
    """
    a = F.least("src_name", "mention")
    b = F.greatest("src_name", "mention")
    et = _type_col(entity_type)
    return (
        mentions.where(F.col("src_name") != F.col("mention"))
        .select(
            node_id(et, a).alias("src_id"),
            node_id(et, b).alias("dst_id"),
            "rel_type",
            a.alias("src_name"),
            b.alias("dst_name"),
            F.lit(None).cast("string").alias("properties"),
            F.col("lineage"),
        )
    )


def directed(
    df: DataFrame,
    src_type: str | Column,
    src_name: str,
    dst_type: str | Column,
    dst_name: str,
    rel_type: str,
    lineage: str = "lineage",
    properties=None,
) -> DataFrame:
    return df.select(
        node_id(_type_col(src_type), F.col(src_name)).alias("src_id"),
        node_id(_type_col(dst_type), F.col(dst_name)).alias("dst_id"),
        F.lit(rel_type).alias("rel_type"),
        F.col(src_name).alias("src_name"),
        F.col(dst_name).alias("dst_name"),
        (properties if properties is not None else F.lit(None).cast("string")).alias(
            "properties"
        ),
        F.col(lineage).alias("lineage"),
    )


def dedup_edges(edges: DataFrame) -> DataFrame:
    """Deterministic first-writer-wins dedup on (src, dst, rel_type).

    Formalizes the reference's ``UNIQUE KEY uniq_relation`` + INSERT
    IGNORE (create_table_chengyu.py:50, chengyu_mysql.py:239-241) with a
    deterministic order key (lineage) instead of DB-arrival order.

    Implemented as a hash aggregation (``min_by`` over the payload struct)
    rather than a row_number window: aggregation gets MAP-SIDE PARTIAL
    combining, so the bulk of duplicates (composed-of character repeats,
    both directions of an undirected mention) collapse before the
    shuffle — at corpus scale this cuts shuffled bytes by ~5-10× versus a
    window, which must shuffle every pre-dedup row. Ties on lineage carry
    identical payloads (names are functions of the ids), so the result is
    deterministic at any parallelism.
    """
    payload = F.struct("lineage", "src_name", "dst_name", "properties")
    return (
        edges.groupBy("src_id", "dst_id", "rel_type")
        .agg(F.min(payload).alias("_p"))
        .select(
            "src_id",
            "dst_id",
            "rel_type",
            F.col("_p.src_name").alias("src_name"),
            F.col("_p.dst_name").alias("dst_name"),
            F.col("_p.properties").alias("properties"),
            F.col("_p.lineage").alias("lineage"),
        )
    )


def composed_of(
    terms: DataFrame,
    hanzi_dim: DataFrame,
    entity_type: str | Column = None,
    mode: str = "broadcast",
    n_salt: int = 16,
) -> DataFrame:
    """Word/Idiom → constituent Hanzi edges.

    Decomposition is a native expression (no UDF): transform over a char
    sequence. Only characters that exist as zidian corpus rows survive
    (FIXTURES.md §3.2) — enforced with a semi-join against the hanzi
    dimension. Per-term duplicate chars collapse in the global dedup's
    map-side partial aggregation — no pre-distinct shuffle here.

    ``mode`` picks the skew strategy for the dimension join (north_star:
    head keys 一/不 dominate composed-of mentions):
      * ``broadcast`` (default) — no shuffle at all, so key skew cannot
        concentrate on one reducer; correct whenever the character
        universe fits the broadcast budget (≤ ~90k rows even at full
        CJK coverage);
      * ``salted`` — content-deterministic salted shuffle join
        (kgpipe.link.salted_join) for a dimension beyond broadcast:
        each hot character fans across ``n_salt`` reducers keyed by
        xxhash64(char, src_name).
    """
    if mode not in ("broadcast", "salted"):
        raise ValueError(f"composed_of: unknown mode {mode!r}")
    et = _type_col(entity_type if entity_type is not None else F.col("entity_type"))
    chars = terms.select(
        F.col("name").alias("src_name"),
        et.alias("_et"),
        F.explode(
            F.expr("transform(sequence(1, char_length(name)), i -> substring(name, i, 1))")
        ).alias("char"),
        F.col("path").alias("lineage"),
    )
    dim = hanzi_dim.select(F.col("name").alias("char"))
    if mode == "salted":
        from kgpipe.link import salted_join

        # inner join must not fan out on duplicate dimension rows (the
        # broadcast path's left_semi dedups implicitly)
        present = salted_join(
            chars, dim.distinct(), key="char", disambiguator="src_name",
            n_salt=n_salt, how="inner",
        )
    else:
        present = chars.join(F.broadcast(dim), "char", "left_semi")
    return directed(present, F.col("_et"), "src_name", "Hanzi", "char", "composed-of")
