"""Stage 4 — relationship discovery (reference Agent #2), set-at-a-time.

Hub-and-spoke mode mirrors the reference exactly (README.md:790-794 "19
comparisons vs 380"; run-relationship-discovery.ts:32-47): every doc that
has mentions is compared against THE seminal doc.  The seminal side is one
document's mention set → ``broadcast()`` (J11, a 1-row-dim broadcast join;
zero shuffle on the big side).

J3 (database.ts:236-259) — the shared-concept intersection — is the skew
hotspot in pairwise mode: hot concepts appear in most docs, so the
name-keyed self-join is quadratic in the hot key's doc-frequency.
:func:`pairwise_shared_concepts` applies the standard blocking fix:
document-frequency capping (concepts present in > max_df of docs carry no
discriminative signal — the set-based analog of the reference's 0.4
relevance prefilter, run-relationship-discovery.ts:87) plus AQE skew-join
splitting for the residue.

D3 (base confidence) and D4 (classification) are pure Column expressions —
whole-stage-codegen'd, no Python in the hot path.  Formula fidelity notes:
bucket edges are half-open exactly as relationship-discovery-agent.ts:49-51
(``avg >= .7``, ``.5 <= avg < .7``, ``.4 <= avg < .5``), carried as integer
``r1_pct + r2_pct`` sums so no float ever hits a comparison.

A9 (database.ts:264-289): upsert → deterministic window dedup; null-typed
rows are diverted to a ``no_relationship`` audit output instead of the edge
table (the reference would violate its own NOT NULL constraint there —
SURVEY §2.4 A9 bug note; we do not copy the bug).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import semantics as S
from . import overlap


def seminal_url(mentions: DataFrame) -> DataFrame:
    """1-row DF: the hub document (deterministic stand-in for
    ``is_seminal = true LIMIT 1``, database.ts:226-231).  Always computed
    over the UNFILTERED mentions — the relevance prefilter applies to the
    shared-concept intersection, not to hub election."""
    return mentions.agg(F.min("url").alias("seminal_url"))


def _bucket_agg(shared: DataFrame, group_cols: list[str]) -> DataFrame:
    """D3 bucket counts per source doc — one map-side-combinable pass."""
    return shared.groupBy(*group_cols).agg(
        F.count("*").cast("int").alias("n_shared"),
        F.sum((F.col("avg2_pct") >= 2 * S.HI_BUCKET_PCT).cast("int"))
        .cast("int")
        .alias("hi"),
        F.sum(
            (
                (F.col("avg2_pct") >= 2 * S.MED_BUCKET_PCT)
                & (F.col("avg2_pct") < 2 * S.HI_BUCKET_PCT)
            ).cast("int")
        )
        .cast("int")
        .alias("med"),
        F.sum(
            (
                (F.col("avg2_pct") >= 2 * S.LO_BUCKET_PCT)
                & (F.col("avg2_pct") < 2 * S.MED_BUCKET_PCT)
            ).cast("int")
        )
        .cast("int")
        .alias("lo"),
    )


def base_confidence_col():
    """D3 (relationship-discovery-agent.ts:43-60) as a Column: 15·hi + 8·med
    + 4·lo pct, clamped [30, 85]; 30 when no shared concepts."""
    score = (
        S.HI_WEIGHT_PCT * F.col("hi")
        + S.MED_WEIGHT_PCT * F.col("med")
        + S.LO_WEIGHT_PCT * F.col("lo")
    )
    return (
        F.when(F.col("n_shared") == 0, F.lit(S.CONF_FLOOR_PCT))
        .otherwise(
            F.least(
                F.lit(S.CONF_CEIL_PCT), F.greatest(F.lit(S.CONF_FLOOR_PCT), score)
            )
        )
        .cast("int")
    )


def _keyword_hit(lower_text, keywords: tuple[str, ...]):
    hit = F.lit(False)
    for kw in keywords:
        hit = hit | F.contains(lower_text, F.lit(kw))
    return hit


def keyword_flag_cols(lower_text) -> list:
    """One boolean per relationship type, each = OR over its keyword
    `contains`.  Evaluated ONCE on the scan side so the heavy text column
    never crosses a shuffle and each keyword is scanned exactly once —
    chaining the raw `contains` into the classification when-tree instead
    re-evaluates them per branch and blows up the generated code."""
    return [
        _keyword_hit(lower_text, S.TYPE_KEYWORDS[t]).alias(f"kw_{t}")
        for t in S.RELATIONSHIP_TYPES
    ]


def classify_from_flags():
    """D4 deterministic classifier over the precomputed kw_* flags:
    priority-ordered (keyword table order = validation-agent.ts:301-308)
    with the shared-concept strength fallback
    (semantics.classify_relationship_type)."""
    fallback = (
        F.when(F.col("hi") >= 3, F.lit("builds_on"))
        .when(F.col("hi") >= 1, F.lit("extends"))
        .when(F.col("med") >= 2, F.lit("evaluates"))
        .when(F.col("med") >= 1, F.lit("addresses"))
        .when(F.col("lo") >= 1, F.lit("cites"))
        .otherwise(F.lit(None).cast("string"))
    )
    rtype = fallback
    for t in reversed(S.RELATIONSHIP_TYPES):
        rtype = F.when(F.col(f"kw_{t}"), F.lit(t)).otherwise(rtype)
    kw_found = F.lit(False)
    for t in S.RELATIONSHIP_TYPES:
        kw_found = kw_found | F.col(f"kw_{t}")
    return rtype, kw_found


def explanation_col(rtype):
    """Deterministic explanation template (semantics.explanation_for):
    embeds the type's first keyword so rule R3 passes."""
    first_kw = F.lit(None).cast("string")
    for t in reversed(S.RELATIONSHIP_TYPES):
        first_kw = F.when(rtype == t, F.lit(S.TYPE_KEYWORDS[t][0])).otherwise(first_kw)
    return F.when(
        rtype.isNull(),
        F.concat(
            F.lit("no meaningful relationship found across "),
            F.col("n_shared").cast("string"),
            F.lit(" shared concepts"),
        ),
    ).otherwise(
        F.concat(
            F.lit("source paper "),
            first_kw,
            F.lit("s the seminal work, derived from "),
            F.col("n_shared").cast("string"),
            F.lit(" shared concepts (hi="),
            F.col("hi").cast("string"),
            F.lit(", med="),
            F.col("med").cast("string"),
            F.lit(", lo="),
            F.col("lo").cast("string"),
            F.lit(")"),
        )
    )


def discover_relationships(docs: DataFrame, mentions: DataFrame) -> DataFrame:
    """Full Agent-#2 restatement: every mention-bearing non-seminal doc is
    paired with the hub (J8 semi-join semantics: EXISTS(paper_concepts),
    database.ts:295-315), 0-shared docs included at floor confidence —
    exactly the reference control flow, set-at-a-time.

    Physical shape (sized for 10^12 docs): the hub's mention set is tiny
    (one document's concepts) → TWO small broadcast jobs (hub election,
    hub mentions), then ONE pass over the mentions fact table — a
    broadcast left join + conditional aggregation computes candidates AND
    shared-bucket counts together (no separate distinct/anti-join stages,
    no recomputation of the detection subplan), followed by one shuffle
    join against docs for the keyword scan.

    Output: (source_url, target_url, rel_type, confidence_pct, explanation,
    n_shared, hi, med, lo, kw_found).
    """
    semu = seminal_url(mentions)
    sem = (
        mentions.join(F.broadcast(semu), F.col("url") == F.col("seminal_url"))
        .where(F.col("relevance_pct") >= S.MIN_RELEVANCE_PCT)
        .select(
            F.col("name").alias("sem_name"),
            F.col("relevance_pct").alias("sem_rel_pct"),
        )
    )
    j = (
        mentions.select("url", "name", "relevance_pct")
        .join(F.broadcast(sem), F.col("name") == F.col("sem_name"), "left")
        .join(F.broadcast(semu), F.col("url") != F.col("seminal_url"))
    )
    is_shared = (F.col("relevance_pct") >= S.MIN_RELEVANCE_PCT) & F.col(
        "sem_rel_pct"
    ).isNotNull()
    avg2 = F.col("relevance_pct") + F.col("sem_rel_pct")

    def _cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("int")

    stats = j.groupBy("url", "seminal_url").agg(
        _cnt(is_shared).alias("n_shared"),
        _cnt(is_shared & (avg2 >= 2 * S.HI_BUCKET_PCT)).alias("hi"),
        _cnt(
            is_shared & (avg2 >= 2 * S.MED_BUCKET_PCT) & (avg2 < 2 * S.HI_BUCKET_PCT)
        ).alias("med"),
        _cnt(
            is_shared & (avg2 >= 2 * S.LO_BUCKET_PCT) & (avg2 < 2 * S.MED_BUCKET_PCT)
        ).alias("lo"),
    )
    lower_text = F.lower(F.coalesce(F.col("extracted_text"), F.lit("")))
    # keyword flags computed on the docs scan side: the text column is
    # pruned before the shuffle (only url + 6 booleans cross the exchange)
    flags = docs.select("url", *keyword_flag_cols(lower_text))
    with_text = stats.join(flags, "url", "left")
    rtype, kw_found = classify_from_flags()
    base = base_confidence_col()
    conf = F.when(
        kw_found, F.least(F.lit(S.CONF_KEYWORD_CEIL_PCT), base + S.KEYWORD_BONUS_PCT)
    ).otherwise(base)
    out = with_text.select(
        F.col("url").alias("source_url"),
        F.col("seminal_url").alias("target_url"),
        rtype.alias("rel_type"),
        conf.cast("int").alias("confidence_pct"),
        "n_shared",
        "hi",
        "med",
        "lo",
        kw_found.alias("kw_found"),
    )
    return out.withColumn("explanation", explanation_col(F.col("rel_type")))


def upsert_relationship_edges(rels: DataFrame) -> tuple[DataFrame, DataFrame]:
    """A9: (edges, no_relationship audit).  Dedup on (source, target, type)
    with deterministic highest-confidence-wins ordering."""
    typed = rels.where(F.col("rel_type").isNotNull())
    null_typed = rels.where(F.col("rel_type").isNull())
    w = Window.partitionBy("source_url", "target_url", "rel_type").orderBy(
        F.desc("confidence_pct"), F.asc("explanation")
    )
    edges = (
        typed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
        .withColumn("validated", F.lit(False))
    )
    return edges, null_typed


def pairwise_shared_concepts(
    mentions: DataFrame, max_df_frac: float = 0.5, max_df_min: int = 100
) -> DataFrame:
    """Full pairwise J3 (db_init.py:240-252 sample query generalized):
    shared-concept stats for every doc pair.

    Scale strategy (north_rule skew clause):
    * document-frequency cap — concepts in > max(floor(max_df_frac·N),
      max_df_min) docs are excluded from *pairing* (they'd contribute
      |df|² pairs and no discrimination; analog of a stopword cut),
      computed inside the plan, so building this DataFrame runs no job,
    * the probe side is hash-repartitioned on its url, so the Σdf² pair
      explosion runs at shuffle parallelism and the bucket aggregate
      needs no further exchange,
    * AQE skew-join splitting handles residual hot names,
    * the pair space is halved with ``a.url < b.url``.
    Cap, self-join and repartition are the set-overlap operator
    (operators/overlap.py) that graph.comention_edges also uses.
    """
    m = mentions.where(F.col("relevance_pct") >= S.MIN_RELEVANCE_PCT).select(
        "url", "name", "relevance_pct"
    )
    hot = overlap.hot_elements(m, "url", "name", max_df_min, max_df_frac)
    pairs = overlap.shared_pairs(
        overlap.drop_elements(m, "name", hot), "url", "name", repartition=True
    ).select(
        F.col("id_a").alias("url_a"),
        F.col("id_b").alias("url_b"),
        "name",
        (F.col("relevance_pct_a") + F.col("relevance_pct_b")).alias("avg2_pct"),
    )
    return _bucket_agg(pairs, ["url_a", "url_b"])
