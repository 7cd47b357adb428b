"""Arrow-batched pandas UDFs wrapping the pure parse functions.

One scalar pandas UDF per page family, each returning the full typed
struct for that family (SURVEY.md §2.10). These are the ONLY places
Python touches page content on the hot path; everything else is native
Column expressions. Batches arrive via Arrow (zero-copy into pandas),
parse runs document-at-a-time inside the batch (document-local DOM walks
— SURVEY.md P8 — cannot be vectorized further), results return to the
JVM as one Arrow struct array per batch.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from kgpipe import schemas
from kgpipe.parse.chengyu import parse_chengyu_html
from kgpipe.parse.ciyu import parse_ciyu_html
from kgpipe.parse.hanzi import parse_hanzi_html


def _adapt_term(parsed: dict) -> dict:
    return {
        "url": parsed.get("url"),
        "error": parsed.get("error"),
        "data": parsed.get("data"),
    }


def _adapt_yisi_explanations(yisi: dict) -> dict:
    """Unify the two explanation shapes into the typed superset struct."""
    data = yisi.get("data")
    if not data:
        return {"error": yisi.get("error"), "data": None}
    out_expl = []
    for e in data.get("explanations", []):
        if "type" in e:  # 古壮字释义 block (extract_yisi.py:215-243)
            out_expl.append(
                {
                    "character": None,
                    "pinyin_info": None,
                    "basic_explanation": None,
                    "detailed_explanation": None,
                    "type": e["type"],
                    "ancient_explanations": e.get("explanations", []),
                }
            )
        else:
            out_expl.append({**e, "type": None, "ancient_explanations": None})
    return {
        "error": yisi.get("error"),
        "data": {"title": data.get("title"), "explanations": out_expl},
    }


def _adapt_section(section: dict) -> dict:
    return {"error": section.get("error"), "data": section.get("data")}


def _adapt_hanzi(parsed: dict) -> dict:
    """Sections absent from ``parsed`` (projection-pruned or error path)
    come back as NULL structs in the typed schema."""
    if "error" in parsed and "basic_info" not in parsed:
        return {
            "url": parsed.get("url"),
            "unicode_decimal": parsed.get("unicode_decimal"),
            "error": parsed.get("error"),
            "basic_info": None,
            "gaishu_info": None,
            "yisi_info": None,
            "fanyi_info": None,
            "guoyu_info": None,
            "liangan_info": None,
            "evolution_data": None,
        }

    def sect(name):
        s = parsed.get(name)
        return _adapt_section(s) if s is not None else None

    yisi = parsed.get("yisi_info")
    return {
        "url": parsed.get("url"),
        "unicode_decimal": parsed.get("unicode_decimal"),
        "error": None,
        "basic_info": sect("basic_info"),
        "gaishu_info": sect("gaishu_info"),
        "yisi_info": _adapt_yisi_explanations(yisi) if yisi is not None else None,
        "fanyi_info": sect("fanyi_info"),
        "guoyu_info": sect("guoyu_info"),
        "liangan_info": sect("liangan_info"),
        "evolution_data": parsed.get("evolution_data"),
    }


_HANZI_COLUMNS = [
    "url",
    "unicode_decimal",
    "error",
    "basic_info",
    "gaishu_info",
    "yisi_info",
    "fanyi_info",
    "guoyu_info",
    "liangan_info",
    "evolution_data",
]


def make_parse_chengyu_udf(fields: tuple | None = None):
    """Projection-pruned idiom parser UDF: only ``fields`` are extracted
    (the rest come back NULL in the typed struct and are dropped by
    to_json). The KG pipeline passes chengyu.HOT_FIELDS, which the flat
    scan serves without a DOM (parse/fastterm.py); None = full
    extraction."""

    @F.pandas_udf(schemas.CHENGYU_PARSED)
    def udf(content: pd.Series, url: pd.Series) -> pd.DataFrame:
        rows = [
            _adapt_term(parse_chengyu_html(c, u, fields=fields))
            for c, u in zip(content, url)
        ]
        return pd.DataFrame(rows, columns=["url", "error", "data"])

    return udf


def make_parse_ciyu_udf(fields: tuple | None = None):
    """Word-family twin of ``make_parse_chengyu_udf``."""

    @F.pandas_udf(schemas.CIYU_PARSED)
    def udf(content: pd.Series, url: pd.Series) -> pd.DataFrame:
        rows = [
            _adapt_term(parse_ciyu_html(c, u, fields=fields))
            for c, u in zip(content, url)
        ]
        return pd.DataFrame(rows, columns=["url", "error", "data"])

    return udf


#: full-extraction UDFs (the S9/S10 fidelity surface)
parse_chengyu_udf = make_parse_chengyu_udf(None)
parse_ciyu_udf = make_parse_ciyu_udf(None)


def make_parse_hanzi_udf(sections: tuple):
    """Projection-pruned character parser UDF: only the requested
    ``sections`` are extracted and serialized (the others return NULL
    structs). The KG pipeline consumes basic_info + fanyi_info;
    extracting the 5 unused sections costs ~27% of per-page parse CPU
    and most of the struct serialization through its cache barrier."""

    @F.pandas_udf(schemas.HANZI_PARSED)
    def udf(content: pd.Series, url: pd.Series) -> pd.DataFrame:
        rows = [
            _adapt_hanzi(parse_hanzi_html(c, u, sections=sections))
            for c, u in zip(content, url)
        ]
        return pd.DataFrame(rows, columns=_HANZI_COLUMNS)

    return udf

