"""Stage 2 — batched mention detection (D1), the deterministic twin of the
reference's per-document LLM Agent #1 (entity-extraction-agent.ts:30-79).

:func:`detect_mentions_native` is pure Column expressions.  The gazetteer
is exploded as a literal array per document (a broadcast nested-loop in
spirit, but with zero shuffle and zero Python: the whole stage stays inside
whole-stage codegen).  At 10^12 docs this is a single narrow map stage —
each task reads its parquet split and emits mentions; no data movement at
all.  The shared pure function :func:`semantics.detect_mentions` is the
specification it is tested against.

Cleaning mirrors P7/P8 (entity-extraction-agent.ts:193-240): names trimmed
and capped, relevance clamped to [0,1], types normalized to the closed enum
with fallback 'concept'.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import semantics as S

MENTION_COLS = ("url", "name", "concept_type", "relevance_pct", "pos", "context")


def detect_mentions_native(
    docs: DataFrame,
    gazetteer: tuple[tuple[str, str], ...] = S.GAZETTEER,
    text_col: str = "extracted_text",
) -> DataFrame:
    """docs → mentions(url, name, concept_type, relevance_pct, pos, context).

    Semantics (shared with the Python oracle): case-insensitive substring
    containment of the gazetteer name within the first 80k chars
    (EXTRACT_TRUNCATE_CHARS, entity-extraction-agent.ts:45-46); first
    occurrence position + non-overlapping occurrence count drive the
    deterministic relevance rubric (semantics.relevance_pct).

    Scale crossover: the gazetteer is exploded as a literal array per doc —
    O(docs × |gazetteer|) intermediate rows, zero shuffle, stays in
    whole-stage codegen.  That is the right plan while the gazetteer fits a
    task's literal budget (up to ~10^3-10^4 terms); past that, a batched
    scan (an Arrow UDF over :func:`semantics.detect_mentions`, or an
    Aho-Corasick pass) avoids the exploded intermediate rows.
    """
    t = F.substring(F.col(text_col), 1, S.EXTRACT_TRUNCATE_CHARS)
    gaz = F.array(
        *[
            F.struct(F.lit(n).alias("name"), F.lit(c).alias("concept_type"))
            for n, c in gazetteer
        ]
    )
    base = docs.where(F.col(text_col).isNotNull()).select(
        "url",
        t.alias("t"),
        F.lower(t).alias("lt"),
        F.length(t).alias("n"),
        F.explode(gaz).alias("g"),
    )
    pos = F.position(F.col("g.name"), F.col("lt"))
    occ = (
        (F.length("lt") - F.length(F.replace(F.col("lt"), F.col("g.name"), F.lit(""))))
        / F.length("g.name")
    ).cast("int")
    base_pct = (
        F.when(pos == 1, F.lit(100))
        .when(pos * 4 <= F.col("n"), F.lit(80))
        .when(pos * 2 <= F.col("n"), F.lit(60))
        .otherwise(F.lit(45))
    )
    rel_pct = F.least(F.lit(100), base_pct + 5 * F.least(F.greatest(occ - 1, F.lit(0)), F.lit(4)))
    return (
        base.where(pos > 0)
        .select(
            "url",
            F.substring(F.col("g.name"), 1, S.NAME_MAX).alias("name"),
            F.col("g.concept_type").alias("concept_type"),
            rel_pct.cast("int").alias("relevance_pct"),
            pos.cast("int").alias("pos"),
            F.substring(F.col("t"), pos, S.CONTEXT_MAX).alias("context"),
        )
    )


def clean_mentions(mentions: DataFrame) -> DataFrame:
    """P7/P8 (entity-extraction-agent.ts:193-240): drop invalid rows, trim +
    cap name, clamp relevance, normalize concept_type with 'concept'
    fallback. The native detector already emits clean rows; this stage makes
    the pipeline robust to third-party detectors."""
    return (
        mentions.where(
            F.col("name").isNotNull()
            & (F.trim(F.col("name")) != "")
            & F.col("relevance_pct").isNotNull()
        )
        .select(
            "url",
            F.substring(F.trim(F.col("name")), 1, S.NAME_MAX).alias("name"),
            F.when(
                F.lower(F.col("concept_type")).isin(*S.CONCEPT_TYPES),
                F.lower(F.col("concept_type")),
            )
            .otherwise(F.lit(S.DEFAULT_CONCEPT_TYPE))
            .alias("concept_type"),
            F.least(F.lit(100), F.greatest(F.lit(0), F.col("relevance_pct"))).alias(
                "relevance_pct"
            ),
            "pos",
            F.substring(F.col("context"), 1, S.CONTEXT_STORE_MAX).alias("context"),
        )
    )
