"""Mention detection & entity linking (SURVEY.md J1-J3, §2.2 P13-P15).

The reference resolves each seed name via a live search request and
validates the hit by whitespace-normalized <h1> equality
(/root/reference/chengyu/extract_chengyu.py:26-48). Here that becomes a
distributed equi-join of the seed universe against parsed page titles on
the normalized name; seeds with no surviving match are the
``missing_detail_pages`` population (batch_crawl.py:253-256).

Skew note (north_star): mention keys are head-skewed — 一/不 appear in a
large fraction of composed-of mentions. Two mitigations, used by callers:

  * broadcast — when the dimension fits the broadcast threshold there
    is no shuffle at all, so key skew cannot concentrate on one reducer.
    This is the default path (triples.composed_of): even at full scale
    the hanzi dimension is ≤ ~90k rows.
  * ``salted_join`` — explicit salting for the case where the dimension
    outgrows broadcast: the fact side gets a uniform salt in [0, n), the
    dimension side is exploded ×n, and the join key becomes (key, salt),
    splitting each hot key across n reducers. AQE skew-join remains on
    as a backstop (session.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalize_title(col: Column | str) -> Column:
    """P13: whitespace-stripped equality key (extract_chengyu.py:48)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, " ", "")


def link_seeds_to_pages(seeds: DataFrame, parsed: DataFrame, name_col: str) -> DataFrame:
    """J2: seed names ⋈ parsed page titles on the normalized form.

    Returns the linked frame: every seed column plus the page's parse
    struct. The seeds that found no valid detail page (the reference's
    missing_detail_pages path) are read off the staged terms instead
    (``pipeline.stage_pages``).

    Join strategy is left to Catalyst + AQE deliberately: when the seed
    universe is small it broadcasts (runtime-converted by AQE from actual
    sizes); when seeds scale with the corpus (the 10^12-file case — and
    the bench corpus, where ~1M seeds once cost two driver-serial
    broadcast builds per run), both sides shuffle on the uniform
    normalized-title key. Never force-broadcast a relation that grows
    with the input.
    """
    s = seeds.withColumn("_k", normalize_title("name"))
    p = parsed.withColumn("_k", normalize_title(F.col(name_col)))
    return s.join(p, "_k", "inner").drop("_k")


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    disambiguator: str,
    n_salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe shuffle join: salt the fact side, explode the dim side ×n.

    Used when ``dim`` exceeds the broadcast threshold (the composed-of
    path wires this in when the hanzi dimension outgrows the broadcast
    budget — kgpipe.triples.composed_of(mode='salted')). The salt is a
    pure function of ROW CONTENT — xxhash64(key, disambiguator) — so it
    is deterministic under any physical partitioning (never
    spark_partition_id, which varies with input layout). A hot key (一/不
    in composed-of mentions) fans across n_salt reducers because its
    rows differ in the disambiguator column.
    """
    salt = (
        F.pmod(F.xxhash64(F.col(key), F.col(disambiguator)), F.lit(n_salt))
    ).cast("int")
    f = facts.withColumn("_salt", salt)
    d = dim.withColumn("_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)])))
    return f.join(d, [key, "_salt"], how).drop("_salt")

