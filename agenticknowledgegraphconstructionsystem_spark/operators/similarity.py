"""Similarity search over an embedding column (array<float>).

* :func:`cosine_topk` — brute-force exact top-k: the query set is small
  and broadcast; the corpus side is a single narrow scan (dot product via
  ``F.zip_with`` + ``F.aggregate``, JVM-side); top-k per query is a window
  ``row_number() <= k`` (TakeOrdered per query key, no global sort).
* :func:`rhp_ann_topk` — the scale path: random-hyperplane LSH.  Signatures
  are deterministic (hyperplanes from ``semantics.rhp_planes``, a seeded
  PRNG rendered as the SAME float literals into the Spark plan and the
  DuckDB oracle SQL); candidates = corpus rows sharing a signature band
  with the query; exact cosine re-rank on candidates only.  At 10^12 rows
  the band join replaces the full scan with a bucket-local probe.
* :func:`embedding_near_duplicates` — corpus-self near-dup pairs through
  the same RHP banding; the band self-join carries only (id, band) — the
  64-double vectors are joined back onto the *surviving candidate pairs*,
  never shipped through the band shuffle — and hot buckets are capped
  (see dedup.capped_band_pairs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import semantics as S
from ..functions.vector import pairwise_cosine_udf, rhp_signature_udf
from .dedup import DEFAULT_MAX_BUCKET, _maybe_persist, capped_band_pairs


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _seq_dot_expr(a, b, dim: int):
    """Left-fold dot product unrolled to a codegen'd Column expression:
    ``((0.0 + a[0]·b[0]) + a[1]·b[1]) + …`` — the EXACT IEEE association
    of the Arrow kernel (functions/vector._seq_dot) and the Column HOF
    fold, so the double is bit-identical to both, with zero Python
    boundary and no interpreted-lambda evaluation.  Requires the true
    vector length (out-of-range getItem would yield NULL)."""
    acc = F.lit(0.0)
    for d in range(dim):
        acc = acc + a.getItem(d) * b.getItem(d)
    return acc


def _seq_sq_norm_expr(a, dim: int):
    acc = F.lit(0.0)
    for d in range(dim):
        acc = acc + a.getItem(d) * a.getItem(d)
    return acc


def cosine_expr(a, b, dim: int):
    """cosine(a, b) as a whole-stage-codegen'd expression — bit-identical
    to functions/vector.pairwise_cosine_udf (sequential dot / sum-of-
    squares folds, IEEE sqrt then multiply then divide, same order)."""
    return _seq_dot_expr(a, b, dim) / (
        F.sqrt(_seq_sq_norm_expr(a, dim)) * F.sqrt(_seq_sq_norm_expr(b, dim))
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """→ (query_id, neighbor_id, cosine, rank) — exact brute force.

    Self-matches are excluded.  Rank ties break on neighbor_id for full
    determinism.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            pairwise_cosine_udf(F.col("qv"), F.col("cv")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _band_arr(sig, num_planes: int, bands: int):
    rpb = num_planes // bands
    return F.array(
        *[
            F.shiftrightunsigned(sig, b * rpb).bitwiseAND(F.lit((1 << rpb) - 1))
            for b in range(bands)
        ]
    )


def rhp_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int = 16,
    bands: int = 4,
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k: random-hyperplane signatures, banded blocking,
    exact cosine re-rank on candidates.  The query side is broadcast, so
    the band probe is map-side (no shuffle on the corpus scan)."""
    assert num_planes % bands == 0
    planes = S.rhp_planes(dim, num_planes, seed)
    sig_udf = rhp_signature_udf(planes)

    def with_bands(df, id_alias, vec_alias):
        # signature via the vectorized Arrow kernel (Column HOF folds are
        # interpreter-evaluated — the slow path for num_planes × dim
        # multiply-adds), materialized into a column BEFORE band
        # extraction so it is computed once, not once per band
        sigged = df.select(
            F.col(id_col).alias(id_alias),
            F.col(vec_col).cast("array<double>").alias(vec_alias),
            sig_udf(F.col(vec_col).cast("array<double>")).alias("_sig"),
        )
        return sigged.select(
            id_alias,
            vec_alias,
            F.posexplode(_band_arr(F.col("_sig"), num_planes, bands)).alias(
                "band_id", "band_val"
            ),
        )

    cq = with_bands(queries, "query_id", "qv")
    cc = with_bands(corpus, "neighbor_id", "cv")
    cand = (
        cc.join(F.broadcast(cq), ["band_id", "band_val"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "qv", "neighbor_id", "cv")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        pairwise_cosine_udf(F.col("qv"), F.col("cv")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus into ``n_centroids``
    inverted lists, probe each query's ``n_probe`` nearest lists, exact
    cosine re-rank inside the probed lists only.

    Default centroid selection is a deterministic pseudo-random sample:
    the ``n_centroids`` corpus rows with the smallest affine hash of
    their id (semantics.affine_hash — reproducible in DuckDB, so the
    whole operator is oracle-checkable).  Pass ``centroids`` (a
    (centroid_id, centroid) table, e.g. from ``clustering.kmeans_fit``)
    to use TRAINED centroids instead — the plan shape is identical (a
    broadcast of the centroid table, one narrow assignment pass, and a
    probe join that touches n_probe/n_centroids of the data instead of a
    full scan), but on clustered data the lists align with the clusters
    and probe recall rises (test_ivf_trained_centroids).
    """
    c = corpus.select(
        F.col(id_col).alias("cid_src"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    )
    # deterministic sample: smallest (A·pmod(id, P) + B) mod P, tie on id.
    # The id is reduced mod P BEFORE the affine multiply — raw ids beyond
    # ~9e9 (stable_id()'s ~2^60 keys, xxhash64-derived keys, negative ids)
    # would overflow A·id in int64 (silent wrap under non-ANSI Spark, an
    # error in the DuckDB oracle); pmod keeps the operand < P ≈ 2^30 so the
    # product stays < 2^60 for ANY input id, and the oracle SQL applies the
    # identical ((id % P) + P) % P reduction.
    h = (
        F.lit(S.MINHASH_A[0]).cast("long")
        * F.pmod(F.col("cid_src").cast("long"), F.lit(S.POLY_P))
        + F.lit(S.MINHASH_B[0])
    ) % F.lit(S.POLY_P)
    if centroids is None:
        centroids = (
            c.orderBy(h.asc(), F.col("cid_src").asc())
            .limit(n_centroids)
            .select(
                F.col("cid_src").alias("centroid_id"),
                F.col("cvec").alias("centroid"),
            )
        )
    else:
        centroids = centroids.select(
            F.col("centroid_id").cast("long").alias("centroid_id"),
            F.col("centroid").cast("array<double>").alias("centroid"),
        )

    def centroid_scores(df, id_alias, vec_alias):
        return df.crossJoin(F.broadcast(centroids)).select(
            F.col(id_alias),
            F.col(vec_alias),
            "centroid_id",
            pairwise_cosine_udf(F.col(vec_alias), F.col("centroid")).alias("c_cos"),
        )

    corp = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    # corpus→centroid argmax (n=1) as a map-side-combinable max(struct)
    # HashAggregate — NOT a row_number window, which would shuffle + sort
    # all n_centroids × corpus rows; this shuffles one row per doc.  The
    # struct leads with c_cos then -centroid_id, so max() realizes
    # (c_cos DESC, centroid_id ASC) — identical to the oracle's ranking.
    # Only (neighbor_id, centroid_id) leave the aggregation; the wide
    # vector joins back onto surviving candidates (same discipline as
    # embedding_near_duplicates' band join).
    assigned = (
        centroid_scores(corp, "neighbor_id", "cv")
        .groupBy("neighbor_id")
        .agg(
            F.max(
                F.struct(
                    F.col("c_cos").alias("c"),
                    (-F.col("centroid_id")).alias("negid"),
                )
            ).alias("b")
        )
        .select("neighbor_id", (-F.col("b.negid")).alias("centroid_id"))
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    # query side keeps the window: n_probe > 1 rows per query, and the
    # query set is broadcast-small by contract
    qscored = centroid_scores(q, "query_id", "qv")
    wq = Window.partitionBy("query_id").orderBy(F.desc("c_cos"), F.asc("centroid_id"))
    probes = (
        qscored.withColumn("_rn", F.row_number().over(wq))
        .where(F.col("_rn") <= n_probe)
        .drop("_rn", "c_cos")
    )
    cand = (
        assigned.join(F.broadcast(probes), "centroid_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "qv", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.join(corp, "neighbor_id").select(
        "query_id",
        "neighbor_id",
        pairwise_cosine_udf(F.col("qv"), F.col("cv")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def embedding_near_duplicates(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 32,
    bands: int = 4,
    dim: int = 64,
    seed: int = 7,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via RHP banding.

    → (id_a, id_b, cosine) for candidate pairs with cosine >= threshold.
    Shuffle discipline: the band self-join moves only (id, band_id,
    band_val) rows; vectors are joined back per surviving pair.  Hot band
    buckets are capped (a bucket of B members is B² pairs — see
    dedup.capped_band_pairs for the audit path).

    Band sizing: a corpus SELF-join needs wide bands — with r-bit bands a
    random near-orthogonal pair collides with prob 2^-r per band, and
    expected junk candidates are bands · C(N,2) / 2^r.  The 8-bit default
    (32 planes / 4 bands) keeps junk at N²/128 while missing a cos>=0.95
    pair (bit-agreement p = 1 - arccos(0.95)/π ≈ 0.90) with prob
    (1 - p^8)^4 ≈ 4%; raise bands for higher recall, planes-per-band for
    lower cost.  (The query-side rhp_ann_topk keeps 4-bit bands: its
    candidate volume is bounded by the broadcast query count, and recall
    matters more there.)
    """
    assert num_planes % bands == 0
    planes = S.rhp_planes(dim, num_planes, seed)
    sig_udf = rhp_signature_udf(planes)
    # vectorized signature kernel, materialized once per row before band
    # extraction (the band array references it `bands` times).  The banded
    # table feeds FOUR plan branches (bucket sizes, both self-join sides;
    # Spark does no cross-branch CSE) — persist the narrow (id, band)
    # rows so the signature ArrowEval runs once, not once per branch
    # (sf1 plan before: 20 ArrowEvalPython nodes for one logical pass).
    banded = _maybe_persist(
        corpus.select(
            F.col(id_col),
            sig_udf(F.col(vec_col).cast("array<double>")).alias("_sig"),
        ).select(
            F.col(id_col),
            F.posexplode(_band_arr(F.col("_sig"), num_planes, bands)).alias(
                "band_id", "band_hash"
            ),
        )
    )
    # dedup=False: a pair sharing k bands is scored k times by the cheap
    # codegen'd cosine and collapsed AFTER the selective >= threshold cut,
    # so the distinct exchanges only survivors instead of the full
    # collision set (identical final pairs — cosine is a pure function of
    # the joined vectors).
    pairs = capped_band_pairs(banded, id_col, max_bucket, dedup=False)
    vecs = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    va = vecs.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"))
    vb = vecs.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"))
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            # unrolled JVM fold — bit-identical to pairwise_cosine_udf
            # (same IEEE association) with no JVM→Python transfer of the
            # |collisions| × 2·dim doubles (the measured sf1 wall)
            cosine_expr(F.col("va"), F.col("vb"), dim).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        .distinct()
    )
