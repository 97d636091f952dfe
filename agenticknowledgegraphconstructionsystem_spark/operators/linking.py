"""Stage 5 — entity linking + canonicalization (D10/D11).

The reference only dedups on exact name (``UNIQUE(name)``, db_init.py:56)
and wish-lists real linking ("Merge 'NeRF' and 'Neural Radiance Fields'",
README.md:1442-1444).  The north_rule requires it, so this module builds it
Spark-first:

1. **MinHash-LSH blocking** over char-3-gram shingles of entity names —
   hand-rolled with built-in functions only (``xxhash64`` per seed →
   ``min`` per name → block on each minhash band).  Every step is a
   map-side-combinable aggregation; no Python in the hot path, no
   cartesian pair space.  Banding is r=1, b=K (one band per minhash): at
   Jaccard 0.5 and K=16 the miss probability is (1-0.5)^16 ≈ 1.5e-5, and
   false candidates are removed by the exact-Jaccard verify step.
2. **Exact Jaccard verify** on the candidate pairs via a shingle
   intersection count — candidates only, never all pairs.  The verify,
   the exact-blocking self-join and its hot-shingle cut are the shared
   set-overlap operator (:mod:`.overlap`), the same join corpus dedup and
   the co-mention graph use.
3. **Connected components** by iterative min-label propagation (the
   GraphFrames-style algorithm, hand-rolled as join + min-agg per
   round with cut_lineage to cut lineage).  The min() aggregation is
   combiner-friendly, so hot (high-degree) vertices partial-aggregate
   map-side — the built-in analog of the explicit salt used in the entity
   aggregation stage.
4. **Canonical name** per component = member with the highest
   mention_count, tie-broken lexicographically (deterministic; never
   partition order).

At 10^12 docs the entity-name universe is orders of magnitude smaller than
the doc corpus (vocabulary-sized), so these stages run on the *entities*
table, not the mentions fact table; re-pointing mentions is one broadcast
join against the name→canonical mapping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import cut_lineage
from . import overlap


def name_shingles(entities: DataFrame, n: int = 3) -> DataFrame:
    """→ (name, shingle) distinct, plus set size. Shingles are char n-grams
    of ' ' + lower(name) + ' ' (semantics.char_ngrams), built natively:
    sequence → transform → explode stays in codegen."""
    # padded name bound to a column first (HOF-binding lesson, PLANS.md
    # round 5): embedded in the lambda, concat+lower+trim would re-run
    # per gram position; length() in the sequence bound is the second
    # reference that keeps CollapseProject from re-inlining.
    padded = F.concat(F.lit(" "), F.lower(F.trim(F.col("name"))), F.lit(" "))
    bound = entities.select("name", padded.alias("_pn"))
    grams = F.expr(
        f"transform(sequence(1, greatest(length(_pn) - {n - 1}, 1)), "
        f"i -> substring(_pn, i, {n}))"
    )
    return (
        bound.select("name", F.explode(F.array_distinct(grams)).alias("shingle"))
        .distinct()
    )


def minhash_signatures(shingles: DataFrame, num_hashes: int = 16) -> DataFrame:
    """→ (name, band_id, band_hash): one row per (name, hash seed), where
    band_hash = min over shingles of xxhash64(shingle, seed)."""
    mins = shingles.groupBy("name").agg(
        *[
            F.min(F.xxhash64(F.col("shingle"), F.lit(seed))).alias(f"h{seed}")
            for seed in range(num_hashes)
        ]
    )
    bands = F.array(*[F.col(f"h{s}") for s in range(num_hashes)])
    return mins.select(
        "name", F.posexplode(bands).alias("band_id", "band_hash")
    )


def candidate_pairs(
    signatures: DataFrame, max_bucket: int | None = None
) -> DataFrame:
    """LSH blocking: names sharing any (band_id, band_hash) bucket.

    ``max_bucket`` (default: dedup.DEFAULT_MAX_BUCKET) caps degenerate
    buckets — e.g. thousands of short names landing in one minhash band
    would emit |bucket|² candidate rows before the verify step; capping
    keeps the pair space linear in the bucket cap while the redundant
    bands preserve recall (see dedup.capped_band_pairs for the audit
    path)."""
    from .dedup import DEFAULT_MAX_BUCKET, capped_band_pairs

    if max_bucket is None:
        max_bucket = DEFAULT_MAX_BUCKET
    return capped_band_pairs(
        signatures, "name", max_bucket, id_a="name_a", id_b="name_b"
    )


def tfidf_cosine_edges(
    entities: DataFrame, threshold: float = 0.5, num_hashes: int = 16
) -> DataFrame:
    """→ (name_a, name_b, cosine): MinHash-LSH blocking + TF-IDF cosine
    scoring over char-3gram shingles (the north_star's scoring function).

    idf = ln(N / df) per shingle; each name's vector is its distinct
    shingles weighted by idf (tf = 1 after array_distinct).  Cosine is
    computed only on the LSH candidate pairs via a shared-shingle join —
    the full vector space never materializes pairwise.
    """
    sh = name_shingles(entities)
    n_names = sh.select("name").distinct().count()
    idf = sh.groupBy("shingle").agg(
        F.log(F.lit(float(n_names)) / F.count("*")).alias("idf")
    )
    vec = sh.join(idf, "shingle")  # (name, shingle, idf); tf == 1
    norms = vec.groupBy("name").agg(
        F.sqrt(F.sum(F.col("idf") * F.col("idf"))).alias("norm")
    )
    cand = candidate_pairs(minhash_signatures(sh, num_hashes))
    va = vec.select(F.col("name").alias("name_a"), "shingle", F.col("idf").alias("idf_a"))
    vb = vec.select(F.col("name").alias("nb"), F.col("shingle").alias("shingle_b"), F.col("idf").alias("idf_b"))
    dots = (
        cand.join(va, "name_a")
        .join(vb, (F.col("name_b") == F.col("nb")) & (F.col("shingle") == F.col("shingle_b")))
        .groupBy("name_a", "name_b")
        .agg(F.sum(F.col("idf_a") * F.col("idf_b")).alias("dot"))
    )
    return (
        dots.join(norms.select(F.col("name").alias("name_a"), F.col("norm").alias("norm_a")), "name_a")
        .join(norms.select(F.col("name").alias("name_b"), F.col("norm").alias("norm_b")), "name_b")
        .withColumn("cosine", F.col("dot") / (F.col("norm_a") * F.col("norm_b")))
        .where(F.col("cosine") >= threshold)
        .select("name_a", "name_b", "cosine")
    )


#: df cap for the exact-blocking candidate path: char-3grams present in
#: more than this many entity NAMES are excluded from *pairing* (not from
#: the Jaccard verify).  Far above any gate/test-scale df, so the oracle
#: is unaffected; at a 10^6-name dirty vocabulary it stops stop-trigrams
#: ('ing', 'the', ' a ') from emitting df² candidate rows.
DEFAULT_NAME_SHINGLE_MAX_DF = 10_000


def dropped_name_shingles(sh: DataFrame, max_df: int) -> DataFrame:
    """Audit view for the exact-blocking df cut: the (shingle, df) rows
    excluded from pairing — same never-silent contract as
    dedup.dropped_band_buckets."""
    return (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > max_df)
    )


def similarity_edges(
    entities: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 16,
    blocking: str = "lsh",
    max_df: int | None = DEFAULT_NAME_SHINGLE_MAX_DF,
) -> DataFrame:
    """→ (name_a, name_b, jaccard) for candidate pairs with exact char-3gram
    Jaccard >= threshold.

    blocking='lsh' (default): MinHash-band candidates — probabilistic
    recall (miss prob (1-j)^num_hashes), bucket-capped, the corpus-scale
    path.  blocking='exact': candidates = every pair sharing >= 1 shingle —
    the oracle-checkable path; still join-blocked, never all-pairs.
    Either way every candidate pair is verified (exact pair semantics).

    ``max_df`` (exact path only) is the hot-shingle cut: a shingle shared
    by df names emits df² candidate rows, and at a 10^6-name vocabulary
    stop-trigrams reach df ~ 10^5 → 10^10 rows from one shingle.  Shingles
    with df > max_df are excluded from *pairing* only — the Jaccard verify
    still counts them, so scores are unchanged; recall for j >= 0.5 pairs
    survives via their rarer shared shingles (a pair whose ONLY shared
    shingles are df-heavy boilerplate is exactly the pair the cut is meant
    to reject).  Audit with :func:`dropped_name_shingles`; None disables.
    The default cap is sized far above gate-scale dfs, so the
    kg_canonicalize oracle sees the uncut pair space."""
    sh = name_shingles(entities)
    if blocking == "exact":
        pair_sh = sh
        if max_df is not None:
            hot = overlap.hot_elements(sh, "name", "shingle", max_df)
            pair_sh = overlap.drop_elements(sh, "shingle", hot)
        cand = (
            overlap.shared_pairs(pair_sh, "name", "shingle")
            .select("id_a", "id_b")
            .distinct()
        )
    else:
        cand = candidate_pairs(minhash_signatures(sh, num_hashes)).toDF(
            "id_a", "id_b"
        )
    # verified against the UNCUT shingle sets: the df cut above stops a
    # hot shingle from pairing, never from counting in the Jaccard
    return overlap.verify_jaccard(cand, sh, "name", "shingle", threshold).select(
        F.col("id_a").alias("name_a"), F.col("id_b").alias("name_b"), "jaccard"
    )


def connected_components(
    edges: DataFrame, max_iter: int = 20, jump_from: int = 2
) -> DataFrame:
    """→ (name, component) via min-label propagation + pointer jumping.

    component = min xxhash64 over the component's names.  Each round does
    (a) the neighbor-min propagation step and (b) a label-compression
    ("pointer jumping" / shortcutting) step: every component value is the
    hash of some member node, so joining the new labels back onto the
    previous label table keyed by that hash pulls in that node's own
    (possibly smaller) component — the distance information roughly doubles
    per round, giving O(log diameter) convergence instead of O(diameter)
    (a 31-node chain converges in 4 checked rounds; pytest-pinned).  The
    default max_iter=20 therefore covers any component a real corpus can
    produce; :func:`canonicalize` exposes it for pathological graphs.
    cut_lineage every round cuts the lineage chain (reliable checkpoint
    under a configured checkpoint dir, localCheckpoint otherwise) (SURVEY §4:
    driver-side loop over DataFrame ops, checkpointed).

    Not lazy: calling this runs Spark jobs before any action on the
    result — an eager ``cut_lineage`` of ``edges`` at entry, then the
    label/edge cuts and the per-round cuts and convergence checks.  Under
    localCheckpoint the cut blocks stay cached for the session's lifetime;
    nothing here releases them.
    """
    max_iter = max(int(max_iter), 1)  # the for/else warning needs >= 1 round
    changed = -1  # unknown until the first convergence check
    # materialize the caller's edge pipeline ONCE before fanning out: the
    # symmetrizing union references it twice and the labels/sym cuts below
    # are separate jobs, so an uncut (typically expensive — LSH blocking +
    # Jaccard verify) edge plan was re-evaluated ~4x before the first
    # round even ran (measured: CC over the same edges checkpointed 3.1 s
    # vs 7.7 s lazy at sf1) — the q_pagerank/q_triangles edge-build
    # discipline, applied at the operator boundary.
    edges = cut_lineage(edges)
    sym = edges.select(
        F.col("name_a").alias("src"), F.col("name_b").alias("dst")
    ).unionByName(
        edges.select(F.col("name_b").alias("src"), F.col("name_a").alias("dst"))
    )
    labels = (
        sym.select(F.col("src").alias("name"))
        .distinct()
        .withColumn("component", F.xxhash64("name"))
        .transform(cut_lineage)
    )
    sym = sym.transform(cut_lineage)
    for it in range(max_iter):
        # explicit salting + two-phase min per north_rule: a hot (high-
        # degree) vertex's incoming labels first reduce within
        # (dst, hash(src) % 16) groups, then across salts — min() already
        # partial-aggregates map-side, so this is belt-and-braces for the
        # pathological case where one dst dominates a shuffle partition
        salted = sym.join(labels, sym.src == labels.name).withColumn(
            "salt", F.pmod(F.xxhash64("src"), F.lit(16))
        )
        partial = salted.groupBy("dst", "salt").agg(
            F.min("component").alias("pmin")
        )
        neighbor_min = partial.groupBy("dst").agg(F.min("pmin").alias("nbr_min"))
        new_labels = (
            labels.join(neighbor_min, labels.name == neighbor_min.dst, "left")
            .select(
                "name",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
                ).alias("component"),
            )
        )
        # pointer jump through the PREVIOUS (checkpointed) label table:
        # component is xxhash64 of some member node, so look that node up
        # and take ITS component if smaller — one extra equi-join per round
        # (the label table is vocabulary-sized) buys log-round convergence.
        # Skipped for the first ``jump_from`` rounds (default 2):
        # short-diameter graphs (the common case — near-dup name clusters
        # are dense) converge at the it=1 check from plain propagation
        # alone and would pay the join for nothing (round-3 bench: +10%
        # on kg_canonicalize_20x; same-session A/B pinned the saving); a
        # long chain only starts profiting once labels are >2 hops stale.
        if it >= jump_from:
            lref = labels.select(
                F.xxhash64("name").alias("_lh"), F.col("component").alias("_lc")
            )
            new_labels = (
                new_labels.join(lref, new_labels.component == lref._lh, "left")
                .select(
                    "name",
                    F.least(
                        F.col("component"),
                        F.coalesce(F.col("_lc"), F.col("component")),
                    ).alias("component"),
                )
            )
        new_labels = new_labels.transform(cut_lineage)
        # convergence check only on odd rounds: each check is a driver
        # action (a full job); min-label propagation never un-converges,
        # so checking every 2nd round halves the serial job count for a
        # worst-case cost of one extra (cheap, already-converged) round
        if it % 2 == 1 or it == max_iter - 1:
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "name")
                .where(F.col("n.component") != F.col("o.component"))
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
        else:
            changed = -1  # unknown this round
            labels = new_labels
    else:
        # loop exhausted max_iter while labels were still moving: a
        # component with diameter > max_iter would be returned split
        # (silent under-merge) — surface it instead of hiding it
        import logging

        logging.getLogger(__name__).warning(
            "connected_components: not converged after %d iterations "
            "(%d labels changing at last check; -1 = never checked); "
            "components may be split — raise max_iter",
            max_iter,
            changed,
        )
    return labels


def canonicalize(
    entities: DataFrame,
    threshold: float = 0.5,
    blocking: str = "lsh",
    max_iter: int = 20,
) -> DataFrame:
    """→ (name, canonical_name, component).  Canonical member = highest
    mention_count, tie-break lexicographically smallest name.  Singleton
    entities map to themselves.  Edges are exact char-3gram Jaccard
    >= threshold; blocking: see :func:`similarity_edges`; max_iter: CC
    round bound (pointer jumping makes 20 cover diameter ~2^20 — see
    :func:`connected_components`).  A NULL mention_count counts as 0 in
    the election.

    Building the plan is not lazy: it runs :func:`connected_components`,
    whose eager ``cut_lineage`` calls execute Spark jobs before the
    returned frame is ever acted on."""
    edges = similarity_edges(entities, threshold, blocking=blocking)
    comp = connected_components(edges, max_iter=max_iter)
    members = entities.join(comp, "name", "left").withColumn(
        "component", F.coalesce(F.col("component"), F.xxhash64("name"))
    )
    # canonical member = highest mention_count, tie-break smallest name —
    # ONE map-side-combinable aggregate: min(struct(-mc, name)) orders by
    # mention_count DESC then name ASC, so b.nm IS the canonical name.
    # (Replaces the former three-step max-struct → top-count join → min
    # agg: same deterministic winner, two fewer shuffles and one fewer
    # evaluation of the members subtree.)
    canon = members.groupBy("component").agg(
        F.min(
            F.struct(
                # a NULL count must never win the election: coalesced to
                # 0, not left to sort first under min()
                (-F.coalesce(F.col("mention_count"), F.lit(0))).alias("negmc"),
                F.col("name").alias("nm"),
            )
        ).alias("b")
    ).select("component", F.col("b.nm").alias("canonical_name"))
    return members.join(canon, "component").select(
        "name", "canonical_name", "component"
    )


def repoint_mentions(mentions: DataFrame, mapping: DataFrame) -> DataFrame:
    """Re-point the mentions fact table at canonical entities — one
    broadcast join (mapping is vocabulary-sized).  Two surface forms of
    one doc that merge leave duplicate (url, name) rows;
    :func:`.entities.build_doc_concept_edges` collapses them."""
    return (
        mentions.join(
            F.broadcast(mapping.select("name", "canonical_name")), "name", "left"
        )
        .withColumn("name", F.coalesce(F.col("canonical_name"), F.col("name")))
        .drop("canonical_name")
    )
