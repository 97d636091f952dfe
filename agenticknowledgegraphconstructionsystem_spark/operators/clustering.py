"""Embedding clustering + semantic dedup (SemDedup, Abbas et al. 2023):
k-means over the embedding column, then near-duplicate removal scoped
WITHIN clusters — the curation move that removes semantically redundant
documents which no lexical dedup (dedup.py) can see.

This closes the loop the IVF docstring leaves open (similarity.py:
"at 10^12 rows the real deployment would train centroids with k-means"):
:func:`kmeans_fit` produces exactly the broadcastable centroid table
``ivf_ann_topk`` consumes.

Scale shape (Lloyd's algorithm, the canonical Spark formulation):

* init — the deterministic smallest-affine-hash sample the IVF path
  already uses (no Date/random: reruns are identical);
* assignment — crossJoin(broadcast(centroids)) + map-side max(struct)
  argmax: ONE narrow pass over the corpus per iteration, one shuffled
  row per vector (never a window over corpus × k rows);
* update — groupBy(centroid).applyInPandas mean: vectors stay in Arrow
  batches, k output rows total;
* fixed ``iters`` (no convergence collect per round — at cluster scale
  a driver-side convergence test costs a job per iteration; callers who
  want it can diff successive centroid tables themselves).

Float caveat: centroid means depend on partial-sum order, so this family
is pytest-property-tested (label recovery, inertia descent, planted-dup
removal) rather than DuckDB-hash-gated — the same reasoning as the
streaming tier (COVERAGE.md).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import semantics as S
from ..functions.vector import pairwise_cosine_udf
from .dedup import near_dup_losers

CENTROIDS_SCHEMA = T.StructType(
    [
        T.StructField("centroid_id", T.LongType(), False),
        T.StructField("centroid", T.ArrayType(T.DoubleType()), False),
    ]
)


def _affine_order(id_col: str):
    """The IVF init hash (similarity.py:186-197): pmod before multiply so
    any int64 id stays overflow-free."""
    return (
        F.lit(S.MINHASH_A[0]).cast("long")
        * F.pmod(F.col(id_col).cast("long"), F.lit(S.POLY_P))
        + F.lit(S.MINHASH_B[0])
    ) % F.lit(S.POLY_P)


def assign_to_centroids(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """→ (id, centroid_id, c_cos): cosine argmax over the broadcast
    centroid table as a map-side-combinable max(struct) — the IVF
    assignment shape, one shuffled row per vector."""
    scored = corpus.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).crossJoin(F.broadcast(centroids)).select(
        "_id",
        "centroid_id",
        pairwise_cosine_udf(F.col("_v"), F.col("centroid")).alias("c_cos"),
    )
    return (
        scored.groupBy("_id")
        .agg(
            F.max(
                F.struct(
                    F.col("c_cos").alias("c"),
                    (-F.col("centroid_id")).alias("negid"),
                )
            ).alias("b")
        )
        .select(
            F.col("_id").alias(id_col),
            (-F.col("b.negid")).cast("long").alias("centroid_id"),
            F.col("b.c").alias("c_cos"),
        )
    )


def kmeans_fit(
    corpus: DataFrame,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means (cosine assignment, mean update) → the
    (centroid_id, centroid) table ``ivf_ann_topk`` and
    :func:`semantic_dedup` consume.  centroid_id is 0..k-1 (dense,
    stable across iterations); empty clusters keep their previous
    centroid (standard Lloyd degeneracy handling, deterministic)."""
    corp = corpus.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    spark = corpus.sparkSession

    def _mean(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        vecs = np.stack(pdf["_v"].values)
        return pd.DataFrame(
            {
                "centroid_id": [pdf["centroid_id"].iloc[0]],
                "centroid": [vecs.mean(axis=0).tolist()],
            }
        )

    # every iteration's assignment AND mean update re-reference corp
    # (2·iters+1 scans of the source otherwise) — eager persist for the
    # loop's lifetime, released before returning (all actions happen
    # inside this function, so the cache is fully utilized here)
    corp = corp.persist()
    corp.count()
    try:
        # init: k smallest affine-hash rows — TakeOrderedAndProject, no
        # global sort; k rows through the driver is the broadcast anyway
        init = (
            corp.orderBy(_affine_order("_id").asc(), F.col("_id").asc())
            .limit(k)
            .collect()
        )
        prev = [(i, list(r["_v"])) for i, r in enumerate(init)]
        for _ in range(iters):
            cent_df = spark.createDataFrame(prev, CENTROIDS_SCHEMA)
            assigned = assign_to_centroids(
                corp, cent_df, id_col="_id", vec_col="_v"
            )
            updated = (
                assigned.join(corp, "_id")
                .groupBy("centroid_id")
                .applyInPandas(_mean, CENTROIDS_SCHEMA)
            )
            new = {
                r["centroid_id"]: list(r["centroid"]) for r in updated.collect()
            }
            # empty clusters keep their previous centroid
            prev = [(cid, new.get(cid, vec)) for cid, vec in prev]
    finally:
        corp.unpersist()
    return spark.createDataFrame(prev, CENTROIDS_SCHEMA)


def oversize_clusters(
    corpus: DataFrame,
    centroids: DataFrame,
    max_cluster: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Audit view for :func:`semantic_dedup`'s ``max_cluster`` cap: the
    (centroid_id, n_members) clusters whose pairwise pass was skipped
    (members all kept — conservative, but un-deduplicated).  Callers
    log/persist this next to the dedup output so the skip is never
    silent — the same discipline as dedup.dropped_band_buckets."""
    assigned = assign_to_centroids(corpus, centroids, id_col=id_col, vec_col=vec_col)
    return (
        assigned.groupBy("centroid_id")
        .agg(F.count("*").alias("n_members"))
        .where(F.col("n_members") > max_cluster)
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int | None = 10_000,
) -> DataFrame:
    """SemDedup: k-means partition, exact pairwise cosine WITHIN each
    cluster, connected-component keeper selection (min id), losers
    dropped → the surviving corpus rows.

    The cluster scoping is what makes the pairwise pass tractable: with
    balanced clusters the candidate space is k·(n/k)² = n²/k, and
    ``max_cluster`` caps degenerate clusters the same way
    capped_band_pairs caps hot LSH buckets (skipped clusters keep all
    their members — dedup is conservative, never lossy).  Keeper
    selection reuses dedup.near_dup_losers, so an A~B~C chain collapses
    to one keeper even when A~C alone is under threshold."""
    from .dedup import _maybe_persist

    # the slim (id, vector) projection feeds the assignment pass AND both
    # sides of the within-cluster pair join — tracked eager persist (the
    # caller releases via dedup.unpersist_tracked, the module contract)
    corp = _maybe_persist(
        corpus.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
    )
    centroids = kmeans_fit(corpus, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    assigned = assign_to_centroids(corp, centroids, id_col="_id", vec_col="_v").select(
        "_id", "centroid_id"
    )
    if max_cluster is not None:
        sizes = assigned.groupBy("centroid_id").agg(F.count("*").alias("_n"))
        assigned = assigned.join(
            F.broadcast(sizes.where(F.col("_n") <= max_cluster)), "centroid_id"
        ).drop("_n")
    withv = assigned.join(corp, "_id")
    a = withv.select(
        "centroid_id", F.col("_id").alias("id_a"), F.col("_v").alias("va")
    )
    b = withv.select(
        "centroid_id", F.col("_id").alias("id_b"), F.col("_v").alias("vb")
    )
    pairs = (
        a.join(b, "centroid_id")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            pairwise_cosine_udf(F.col("va"), F.col("vb")).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b")
    )
    losers = near_dup_losers(pairs).select(F.col("id").alias(id_col))
    return corpus.join(losers, id_col, "left_anti")
