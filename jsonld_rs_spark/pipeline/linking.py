"""Entity mention detection + link scoring (SURVEY.md §2.2 'Hash join').

Mentions are detected in page text with JVM regexp_count column algebra —
one counting expression per surface form fused into a single codegen
projection, no Python boundary (the dictionary is small and ships inside
the broadcast join anyway; at real scale the surface-form set is a
broadcast trie). A pure-Python counting twin stays in this module as the
golden reference for the A/B test.

Link scoring is a **broadcast hash join**: mentions ⨝ broadcast(dictionary)
on surface_form — no shuffle of the big side. "data" is the deliberate
hub key (~30% of documents) so the skew path is actually exercised.
"""

from __future__ import annotations

import re
from typing import List, Tuple

from .synth import ENTITY_WORDS, _entity_iri


def default_dictionary() -> List[Tuple[str, str, float]]:
    """(surface_form, entity_id, prior) rows — FIXTURES.md §5."""
    rows = []
    for i, word in enumerate(ENTITY_WORDS):
        rows.append((word, _entity_iri(word), round(0.95 - 0.04 * i, 4)))
    # second-sense candidates to make scoring non-trivial
    rows.append(("data", "http://kg.example/e/data-plural", 0.05))
    rows.append(("table", "http://kg.example/e/furniture-table", 0.10))
    return rows


def dictionary_df(spark):
    return spark.createDataFrame(
        default_dictionary(), "surface_form string, entity_id string, prior double"
    )


def detect_mentions(pages_df, surface_forms: List[str] = None):
    """pages(url, text) → (url, surface_form, tf).

    JVM column algebra (r8, guide §4.1), two tiers: a single-scan
    alternation regex (one pass over the text, explode + partial-aggregated
    count) when the form set provably makes it equal to independent
    per-form counting, else one ``regexp_count`` per form fused into one
    projection. Both replaced the earlier mapInPandas Python-regex pass
    (Arrow boundary + per-batch pandas loops for work codegen does
    natively). Both JVM patterns carry ``(?U)``, because Python ``re``'s
    ``\\b`` is Unicode-aware and Java's is not by default: its ``\\w`` is
    ASCII, its ``\\b`` is ASCII from JDK 19 on ("dataé" would count), and
    JDK 17's ``\\b`` misses letter numbers ("dataⅫ" counted). With it both
    engines agree on letters, digits and ``_`` of any script. They still
    differ on combining and spacing marks, non-``_`` connector punctuation
    and zero-width joiners (word characters to Java only) and on numeric
    symbols like "²" (to Python only). Both tiers are A/B-pinned against
    the Python-regex twin below by
    tests/test_ops.py::test_detect_mentions_matches_python_regex."""
    from pyspark.sql import functions as F

    forms = sorted(surface_forms or {r[0] for r in default_dictionary()})
    src = pages_df.select("url", "text")
    text = F.coalesce(F.col("text"), F.lit(""))
    # Single-scan tier (r8): when every form is one \w+ token and none is a
    # substring of another, one alternation regex scan + explode + partial-
    # aggregated count is EXACTLY the per-form counts (\b..\b token matches
    # cannot overlap or consume each other under those preconditions) — one
    # pass over the corpus text instead of len(forms) passes, which is the
    # shape that matters when the text is 100 TB. Forms violating the
    # precondition (multi-word, regex metacharacters, token-substring
    # overlap, where alternation CONSUMPTION could diverge from independent
    # counting) fall back to the per-form counting projection below;
    # equality of both tiers vs the Python twin is pinned in
    # tests/test_ops.py.
    single_scan_safe = all(re.fullmatch(r"\w+", f) for f in forms) and not any(
        a != b and a in b for a in forms for b in forms
    )
    if single_scan_safe:
        pat = r"(?U)\b(" + "|".join(forms) + r")\b"
        return (
            src.select(
                "url",
                F.explode(F.regexp_extract_all(text, F.lit(pat), 1)).alias(
                    "surface_form"
                ),
            )
            .groupBy("url", "surface_form")
            .agg(F.count(F.lit(1)).cast("int").alias("tf"))
        )
    structs = [
        F.struct(
            F.lit(f).alias("surface_form"),
            F.regexp_count(text, F.lit(rf"(?U)\b{re.escape(f)}\b"))
            .cast("int")
            .alias("tf"),
        )
        for f in forms
    ]
    return (
        src.select("url", F.explode(F.array(*structs)).alias("m"))
        .select("url", "m.surface_form", "m.tf")
        .filter(F.col("tf") > 0)
    )


def count_mentions_python(text: str, surface_forms: List[str] = None) -> dict:
    """Pure-Python twin of detect_mentions' per-document counting (the
    pre-r8 mapInPandas semantics): form → non-overlapping \\b-bounded match
    count, zero counts omitted. Kept as the golden reference the JVM
    column-algebra path is A/B-tested against."""
    forms = surface_forms or sorted({r[0] for r in default_dictionary()})
    out = {}
    for f in forms:
        n = len(re.findall(rf"\b{re.escape(f)}\b", text or ""))
        if n:
            out[f] = n
    return out


def score_links(mentions_df, dict_df, threshold: float = 0.2):
    """mentions ⨝ broadcast(dictionary) → scored links above threshold.

    score = prior * (1 + log10(tf)); winner-per-(url, surface_form) chosen
    with a window so each mention links to at most one entity.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    scored = mentions_df.join(F.broadcast(dict_df), "surface_form").withColumn(
        "score", F.round(F.col("prior") * (1.0 + F.log10(F.col("tf"))), 6)
    )
    w = Window.partitionBy("url", "surface_form").orderBy(
        F.desc("score"), F.asc("entity_id")
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter((F.col("__rk") == 1) & (F.col("score") >= threshold))
        .drop("__rk")
        .select("url", "surface_form", "entity_id", "tf", "score")
    )


def sameas_edges(triples_df):
    """sameAs edge list from the triple table (input to CC)."""
    from pyspark.sql import functions as F

    return (
        triples_df.filter(
            (F.col("pred") == "http://schema.org/sameAs") & (F.col("obj_kind") == "id")
        )
        .select(F.col("subj").alias("src"), F.col("obj_value").alias("dst"))
        .distinct()
    )
