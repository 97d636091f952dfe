"""Set-overlap joins: the one shared-element pair operator.

Entity linking (name → char-3gram shingles), corpus dedup (doc → word
n-grams or winnowed fingerprints) and the co-mention graph (doc →
concept names) all ask the same question of a ``sets`` table of
(key, elem) rows: which pairs of keys share elements, how many, and is
the overlap large enough.  This module owns the four pieces every caller
assembles that answer from:

* :func:`shared_pairs` — the shared-element self-join, one row per
  (id_a < id_b, shared elem); the elem equi-join is the blocker, so pairs
  sharing nothing never materialize.
* :func:`overlap_counts` — the intersection size ``inter`` per pair,
  over the self-join or over given candidate pairs
  (:func:`verify_jaccard`, the verify step behind LSH blocking).
* :func:`hot_elements` / :func:`drop_elements` — the hot-element
  (document-frequency) cap, computed inside the plan.
* :func:`jaccard_tail` — set sizes, the exact integer threshold test
  ``den·inter >= num·union`` (semantics.threshold_fraction) and the
  ``(id_a, id_b, inter, sz_a, sz_b, jaccard)`` output.

Where a hot element is cut is the caller's choice.  Cutting it from the
sets that both pair AND size (:func:`self_jaccard` over the cut sets)
removes it from the metric; cutting it from the pairing input only and
verifying against the uncut sets (:func:`verify_jaccard`) keeps scores
unchanged and only stops the element from emitting df² candidate rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..semantics import threshold_fraction


def hot_elements(
    sets: DataFrame, key: str, elem: str, max_df: int, frac: float = 0.0
) -> DataFrame:
    """→ (elem) rows whose document frequency (distinct keys holding the
    element) exceeds ``max(floor(N·frac), max_df)``, N = distinct keys in
    ``sets``.  A hot element's join bucket is df² pair rows and carries no
    discriminative signal (a stopword cut).

    ``frac = 0`` is the static cap ``df > max_df`` and computes no N.
    Otherwise N is a 1-row aggregate broadcast into the df filter, so
    building the plan runs no Spark job.  Each hot element holds more
    than max_df rows, so the result has at most |sets| / (max_df + 1)
    rows."""
    df = sets.groupBy(elem).agg(F.countDistinct(key).alias("_df"))
    cap = F.lit(int(max_df)).cast("long")
    if frac:
        n = sets.select(F.countDistinct(key).alias("_n"))
        df = df.crossJoin(F.broadcast(n))
        cap = F.greatest(F.floor(F.col("_n") * F.lit(frac)).cast("long"), cap)
    return df.where(F.col("_df") > cap).select(elem)


def drop_elements(sets: DataFrame, elem: str, hot: DataFrame) -> DataFrame:
    """``sets`` without the rows whose elem is in ``hot`` — a broadcast
    anti-join against the (small, see :func:`hot_elements`) hot list."""
    return sets.join(F.broadcast(hot), elem, "left_anti")


def shared_pairs(
    sets: DataFrame, key: str, elem: str, repartition: bool = False
) -> DataFrame:
    """Shared-element self-join → (elem, id_a, …_a, id_b, …_b), one row
    per element the two keys share, ``id_a < id_b``.  Every column of
    ``sets`` besides key and elem is carried from both sides, suffixed
    ``_a`` / ``_b``.

    ``repartition`` hash-partitions the probe side (only) on id_a into
    ``spark.sql.shuffle.partitions`` parts.  The join explodes ~df² rows
    per element out of a small input; left alone the planner broadcasts
    the build side and streams the probe side at scan parallelism (1-2
    parquet splits), so the whole pair generation runs on 1-2 cores (the
    measured sf1 co-mention killer: 83 s single-threaded vs ~3 s
    parallel).  An explicit numPartitions is never AQE-coalesced, and
    HashPartitioning(id_a) satisfies ClusteredDistribution(id_a, id_b),
    so a groupBy of the pair rows needs no further exchange.
    Repartitioning the whole input instead plans an extra exchange under
    the build side."""
    rest = [c for c in sets.columns if c not in (key, elem)]

    def side(s: str) -> DataFrame:
        return sets.select(
            F.col(key).alias(f"id_{s}"),
            elem,
            *[F.col(c).alias(f"{c}_{s}") for c in rest],
        )

    a, b = side("a"), side("b")
    if repartition:
        nparts = int(sets.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        a = a.repartition(nparts, "id_a")
    return a.join(b, elem).where(F.col("id_a") < F.col("id_b"))


def overlap_counts(pairs: DataFrame) -> DataFrame:
    """Shared-element rows (:func:`shared_pairs`) → (id_a, id_b, inter)."""
    return pairs.groupBy("id_a", "id_b").agg(F.count("*").alias("inter"))


def jaccard_tail(
    inter: DataFrame, sets: DataFrame, key: str, threshold: float
) -> DataFrame:
    """(id_a, id_b, inter) → (id_a, id_b, inter, sz_a, sz_b, jaccard) for
    the pairs with Jaccard >= ``threshold``; set sizes are row counts of
    ``sets`` per key.  The threshold is the exact integer test
    ``den·inter >= num·union`` (semantics.threshold_fraction), so the
    DuckDB oracles replay the cut bit-for-bit; ``jaccard`` is the IEEE
    division of two ints, identical in every engine.  A non-terminating
    threshold must be passed as a ``Fraction`` (1/3, not 0.333…)."""
    num, den = threshold_fraction(threshold)
    sizes = sets.groupBy(key).agg(F.count("*").alias("sz"))
    union = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    return (
        inter.join(sizes.select(F.col(key).alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col(key).alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .where(F.col("inter") * den >= F.lit(num) * union)
        .select(
            "id_a", "id_b", "inter", "sz_a", "sz_b",
            (F.col("inter") / union).alias("jaccard"),
        )
    )


def self_jaccard(
    sets: DataFrame, key: str, elem: str, threshold: float
) -> DataFrame:
    """Exact Jaccard over every pair sharing >= 1 element."""
    return jaccard_tail(
        overlap_counts(shared_pairs(sets, key, elem)), sets, key, threshold
    )


def verify_jaccard(
    cand: DataFrame, sets: DataFrame, key: str, elem: str, threshold: float
) -> DataFrame:
    """Exact Jaccard verify of (id_a, id_b) candidate pairs: the overlap
    is counted on the candidates only, never all pairs — each pair joins
    its id_a set, then keeps the elements id_b also holds."""
    a = sets.select(F.col(key).alias("id_a"), elem)
    b = sets.select(F.col(key).alias("_kb"), F.col(elem).alias("_eb"))
    shared = cand.join(a, "id_a").join(
        b, (F.col("id_b") == F.col("_kb")) & (F.col(elem) == F.col("_eb"))
    )
    return jaccard_tail(overlap_counts(shared), sets, key, threshold)
