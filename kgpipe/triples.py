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

Edge rows: each family is generated as relation rows (rel_type, the
page's entity_type and name, the other endpoint's other_type and
other_name, lineage) and ``to_edges`` is the one projection to ids.

Dedup: the reference's ``UNIQUE KEY uniq_relation (min_id,max_id,
relation_type)`` + INSERT IGNORE (create_table_chengyu.py:50,
chengyu_mysql.py:239-241) is first-writer-wins in DB-arrival order. The
Spark formalization (``dedup_first``) elects the minimum of a struct led
by a deterministic lineage key in a hash aggregate, so replays and
different cluster sizes elect the same winner.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgpipe.ids import node_id


#: symmetric relations: stored once, endpoints in name order
UNDIRECTED = ("synonym", "antonym", "variant-of")
#: relations whose generated other endpoint is the edge SOURCE (a radical
#: heads the characters of its pages)
INBOUND = ("radical-of",)
#: the edge key: one row per (src, dst, rel_type)
EDGE_KEY = ["src_id", "dst_id", "rel_type"]


def to_edges(relations: DataFrame) -> DataFrame:
    """(rel_type, entity_type, name, other_type, other_name, lineage)
    relation rows → edge rows: the page entity is the source, the other
    endpoint the destination, except for ``INBOUND`` relations, and
    ``UNDIRECTED`` ones order their (same-typed) endpoints by name
    (least → src, greatest → dst)."""
    undirected = F.col("rel_type").isin(*UNDIRECTED)
    inbound = F.col("rel_type").isin(*INBOUND)
    page, other = F.col("name"), F.col("other_name")
    src_name = F.when(undirected, F.least(page, other)).when(inbound, other).otherwise(page)
    dst_name = F.when(undirected, F.greatest(page, other)).when(inbound, page).otherwise(other)
    src_type = F.when(inbound, F.col("other_type")).otherwise(F.col("entity_type"))
    dst_type = F.when(inbound, F.col("entity_type")).otherwise(F.col("other_type"))
    return relations.select(
        node_id(src_type, src_name).alias("src_id"),
        node_id(dst_type, dst_name).alias("dst_id"),
        "rel_type",
        src_name.alias("src_name"),
        dst_name.alias("dst_name"),
        F.lit(None).cast("string").alias("properties"),
        "lineage",
    )


def dedup_first(df: DataFrame, keys: list[str], order_by: list[str]) -> DataFrame:
    """One row per key: the first by ``order_by`` ASC NULLS LAST, the
    remaining columns breaking ties, in ``df``'s column order.

    Formalizes the reference's ``UNIQUE KEY`` + INSERT IGNORE
    (create_table_chengyu.py:50, chengyu_mysql.py:239-241) with a
    deterministic order key instead of DB-arrival order. A hash
    aggregation (``min`` over a struct led by the order key) rather than
    a row_number window: aggregation gets MAP-SIDE PARTIAL combining, so
    the bulk of duplicates (composed-of character repeats, both
    directions of an undirected mention) collapse before the shuffle,
    where a window must shuffle every row. It elects the row the
    window ``row_number() OVER (PARTITION BY keys ORDER BY order_by)``
    elects wherever ``order_by`` leaves no tie, and the same row at any
    parallelism."""
    rest = [c for c in df.columns if c not in keys and c not in order_by]
    nulls_last = [
        f for i, c in enumerate(order_by)
        for f in (F.col(c).isNull().alias(f"_null{i}"), F.col(c))
    ]
    return (
        df.groupBy(*keys)
        .agg(F.min(F.struct(*nulls_last, *rest)).alias("_w"))
        .select(*[c if c in keys else F.col(f"_w.{c}").alias(c) for c in df.columns])
    )


def composed_of(
    terms: DataFrame,
    hanzi_dim: DataFrame,
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
        xxhash64(char, name).
    """
    if mode not in ("broadcast", "salted"):
        raise ValueError(f"composed_of: unknown mode {mode!r}")
    chars = terms.select(
        F.lit("composed-of").alias("rel_type"),
        "entity_type",
        "name",
        F.lit("Hanzi").alias("other_type"),
        F.explode(
            F.expr("transform(sequence(1, char_length(name)), i -> substring(name, i, 1))")
        ).alias("other_name"),
        F.col("path").alias("lineage"),
    )
    dim = hanzi_dim.select(F.col("name").alias("other_name"))
    if mode == "salted":
        from kgpipe.link import salted_join

        # inner join must not fan out on duplicate dimension rows (the
        # broadcast path's left_semi dedups implicitly)
        present = salted_join(
            chars, dim.distinct(), key="other_name", disambiguator="name",
            n_salt=n_salt, how="inner",
        )
    else:
        present = chars.join(F.broadcast(dim), "other_name", "left_semi")
    return to_edges(present)
