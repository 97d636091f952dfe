"""Training-data deduplication suite over the `documents` table.

Beyond the reference's exact-key dedup (P10, `UNIQUE(name)` / seen-set
skips), a 100 TB corpus pipeline needs content dedup.  All hot paths are
built-in functions (codegen'd); nothing collects to the driver.

Scale notes (10^12 docs):
* exact: one shuffle on a 128-bit content hash — perfectly balanced keys.
* MinHash-LSH: cost is O(docs × K) map-side + a shuffle on band hashes;
  candidate verification touches only colliding pairs.  Band count / rows
  per band tune the recall/cost curve.  Degenerate (hot) band buckets are
  capped before pairing — a bucket of B members would otherwise emit B²
  candidate rows (the one quadratic residue at 100× scale); see
  :func:`capped_band_pairs`.
* SimHash: one pass building a 64-bit signature (map-side), pairs via
  banded prefix blocking + popcount(XOR) <= k verify.

The set-overlap joins are not written here: exact n-gram Jaccard, winnow
pairs and the MinHash candidate verify all call :mod:`.overlap`, the one
shared-element pair join and hot-element cap that entity linking and the
co-mention graph use too.

Hashing is the portable poly/affine family from :mod:`..semantics`
(cross-engine exact), so every signature and candidate set here is
reproducible in DuckDB SQL — the driver's correctness gate hash-compares
them (gate_textdata.py oracles).  Thresholds are applied as exact integer
cross-multiplication (overlap.jaccard_tail), never float compares.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import semantics as S
from ..functions.hashing import minhash_col, poly_hash_col, simhash_vote_col
from . import overlap

#: default LSH band-bucket cap — buckets above this emit no candidate pairs
#: (they are non-discriminative and quadratic); far above anything the
#: test scales produce, so correctness gates are unaffected.
DEFAULT_MAX_BUCKET = 10_000

#: intermediates persisted by :func:`_maybe_persist` that have not been
#: released yet — see :func:`unpersist_tracked`.  DRIVER-GLOBAL state,
#: intentionally: persists live on the (one) SparkContext, so the registry
#: mirrors that scope.  Two interleaved pipelines in one driver would
#: release each other's caches early — harmless for correctness (Spark
#: recomputes evicted blocks) but a perf foot-gun; run concurrent
#: pipelines in separate drivers, as a real cluster deployment does.
_PERSISTED: list[DataFrame] = []


def _maybe_persist(df: DataFrame) -> DataFrame:
    """MEMORY_AND_DISK persist for an intermediate referenced by
    several plan branches (sizes + both self-join sides + verify): Spark
    performs no cross-branch common-subexpression elimination, so without
    this the shingle/signature subtree is re-evaluated per branch
    (measured 2x end-to-end on minhash at sf0.1).  At petabyte scale the
    equivalent move is committing the signature table to storage first
    (exactly what plans/pipeline.py stage commits do); persist is the
    in-plan analog and spills to disk under pressure.

    The persist is EAGER (one count() populates the cache before the main
    plan runs): a lazy persist still recomputes the subtree in every
    branch of the FIRST action — the branches race their own cache
    population (measured: winnow pair verify 7.0 s → 2.0 s at sf0.01
    steady-state from this alone).  The count touches only the cached
    columns, not the driver.

    Lifetime: these operators return lazy DataFrames, so the persist cannot
    be released inside the operator (the caller has not run the action
    yet).  Long-lived sessions issuing many dedup calls (the 20-query
    bench, a session-scoped pytest SparkSession) should call
    :func:`unpersist_tracked` after the final action on each result, or the
    cached blocks accumulate until driver GC happens to drop them."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTED.append(df)
    df.count()
    return df


def unpersist_tracked() -> int:
    """Release every intermediate :func:`_maybe_persist` cached since the
    last call (safe any time after the caller's final action — Spark will
    just recompute if a plan is re-run).  Returns the number released."""
    n = 0
    while _PERSISTED:
        try:
            _PERSISTED.pop().unpersist()
            n += 1
        except Exception:  # session already stopped — nothing to release
            break
    return n


def exact_duplicates(docs: DataFrame, key: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct content with the
    keeper (min key) and the duplicate count."""
    return (
        docs.select(F.col(key), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(key).alias("keeper"),
            F.count("*").cast("long").alias("n_copies"),
        )
    )


def word_ngram_shingles(
    docs: DataFrame, key: str = "doc_id", text_col: str = "text", n: int = 5
) -> DataFrame:
    """→ (key, shingle) distinct word n-grams, built natively:
    split → sequence → slice → array_join.

    The word array is BOUND to a column before the slice lambda — an
    expression embedded in a HOF lambda is re-evaluated per element
    (split+lower per span position, O(T·chars) per doc; the round-5
    HOF-binding lesson, PLANS.md); the upper projection's size()
    reference keeps CollapseProject from re-inlining the alias."""
    words = F.split(F.lower(F.col(text_col)), r"\s+")
    bound = docs.where(F.col(text_col).isNotNull()).select(
        F.col(key), words.alias("_ws")
    )
    ws = F.col("_ws")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(ws) - (n - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(ws, i, n), " "),
    )
    return bound.select(
        F.col(key), F.explode(F.array_distinct(grams)).alias("shingle")
    )


def capped_band_pairs(
    banded: DataFrame,
    key: str,
    max_bucket: int | None,
    id_a: str = "id_a",
    id_b: str = "id_b",
    dedup: bool = True,
) -> DataFrame:
    """LSH blocking self-join with a hot-bucket cap.

    ``banded`` must carry (key, band_id, band_hash).  Buckets with more
    than ``max_bucket`` members are excluded from pairing: a bucket of B
    members emits B² candidate rows, so one degenerate bucket (e.g.
    thousands of short texts sharing a band value) would dominate the whole
    job at corpus scale while contributing no discriminative signal — the
    same df-cap rationale as pairwise_shared_concepts.  The cap is one
    extra hash-aggregate over (band_id, band_hash) joined back — no extra
    scan of the raw text.  Recall note: a true near-dup pair inside
    a dropped bucket is still found via any of its OTHER bands (banding is
    redundant by construction); use :func:`dropped_band_buckets` on the
    same ``banded`` DF to audit what the cap removed — dropping is never
    silent, it is observable from the same lineage.
    """
    if max_bucket is not None:
        # hash-aggregate + join-back (measured faster than a window count
        # here: the aggregate partial-combines map-side; a window would
        # sort the full banded set).  The bucket-size table is O(distinct
        # buckets) so it is NOT broadcast-hinted — AQE picks the strategy.
        # Note the self-join below evaluates the signature branch per side
        # within one lazy plan — a production run materializes the
        # signature table first (pipeline stage commit), which is also
        # what the scaling bench mirrors.
        sizes = banded.groupBy("band_id", "band_hash").agg(
            F.count("*").alias("_bucket_sz")
        )
        banded = banded.join(
            sizes.where(F.col("_bucket_sz") <= max_bucket),
            ["band_id", "band_hash"],
        ).drop("_bucket_sz")
    a = banded.select(F.col(key).alias(id_a), "band_id", "band_hash")
    b = banded.select(F.col(key).alias(id_b), "band_id", "band_hash")
    out = (
        a.join(b, ["band_id", "band_hash"])
        .where(F.col(id_a) < F.col(id_b))
        .select(id_a, id_b)
    )
    # ``dedup=False`` lets a caller whose per-pair work is cheap and
    # deterministic (e.g. a codegen'd cosine) defer the duplicate-collision
    # collapse until after its selective filter: the distinct then acts on
    # the surviving rows instead of exchanging the full collision set, and
    # the final pair set is identical (same pair → same computed value).
    return out.distinct() if dedup else out


def dropped_band_buckets(banded: DataFrame, max_bucket: int) -> DataFrame:
    """Audit view for :func:`capped_band_pairs`: the (band_id, band_hash,
    n_members) buckets the cap excluded.  Callers log/persist this next to
    the dedup output so truncation is never silent."""
    return (
        banded.groupBy("band_id", "band_hash")
        .agg(F.count("*").alias("n_members"))
        .where(F.col("n_members") > max_bucket)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for every pair sharing >=1 shingle.

    This is the *oracle-checkable* exact path; at corpus scale prefer
    :func:`minhash_near_duplicates` (LSH prunes the pair space).  Pairs
    sharing no shingle never materialize — the join on shingle is the
    blocker (overlap.self_jaccard).
    """
    sh = word_ngram_shingles(docs, key, text_col, n)
    return overlap.self_jaccard(sh, key, "shingle", threshold)


def minhash_banded_signatures(
    docs: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    num_hashes: int = 32,
    bands: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """→ (shingles, banded): per-doc MinHash signature exploded to one row
    per band, using the portable poly/affine hash family.  The shingle
    table is persisted — it feeds the signature aggregation AND the
    verify step's three branches (see _maybe_persist).

    Per (doc, shingle): one char-fold poly_hash, then ``num_hashes`` affine
    permutations reduced by min() — a single map-side-combinable
    aggregation (cheaper than one full hash per seed).  Band value packs
    its rows base-P (rows_per_band <= 2 keeps it in 63 bits).  Empty
    shingles are excluded (engines disagree on hashing '').
    """
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    assert rows_per_band <= 2, "band packing is base-P in a 63-bit long"
    assert num_hashes <= S.NUM_MINHASHES
    sh = _maybe_persist(
        word_ngram_shingles(docs, key, text_col, n).where(F.col("shingle") != "")
    )
    hs = sh.select(F.col(key), poly_hash_col(F.col("shingle")).alias("h"))
    sig = hs.groupBy(key).agg(
        *[
            F.min(minhash_col(F.col("h"), k)).alias(f"h{k}")
            for k in range(num_hashes)
        ]
    )

    def band_val(b: int):
        v = F.col(f"h{b * rows_per_band}")
        for r in range(1, rows_per_band):
            v = v * F.lit(S.POLY_P) + F.col(f"h{b * rows_per_band + r}")
        return v

    band_arr = F.array(*[band_val(b) for b in range(bands)])
    banded = sig.select(F.col(key), F.posexplode(band_arr).alias("band_id", "band_hash"))
    return sh, banded


def minhash_near_duplicates(
    docs: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """MinHash + banded LSH near-dup detection (shingle → minhash → band →
    capped bucket-join → exact-Jaccard verify).

    Output: (id_a, id_b, inter, sz_a, sz_b, jaccard) — integer evidence
    columns make the result oracle-checkable without float compares.
    """
    sh, banded = minhash_banded_signatures(docs, key, text_col, n, num_hashes, bands)
    # persist the NARROW (key, band) table too: capped_band_pairs references
    # it three times (bucket sizes + both self-join sides), and each uncut
    # reference re-runs the 32-min signature aggregation over the shingle
    # table (no cross-branch CSE; exchange reuse does not cover the
    # aggregation's map side).  One (key, band_id, band_hash) row per doc
    # band is corpus-linear and orders of magnitude narrower than the
    # shingle table already persisted above.
    banded = _maybe_persist(banded)
    cand = capped_band_pairs(banded, key, max_bucket)
    return overlap.verify_jaccard(cand, sh, key, "shingle", threshold)


def winnow_near_duplicates(
    docs: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    threshold: float = 0.5,
    max_df: int | None = 50,
) -> DataFrame:
    """Shift-tolerant near-dup pairs over winnowed fingerprint sets
    (textstats.winnow_fingerprints): pairs sharing >= 1 fingerprint are
    scored by exact Jaccard of their fingerprint sets.  Where word-n-gram
    Jaccard needs aligned tokenization, winnowing guarantees any shared
    substring >= k+w-1 chars contributes a shared fingerprint — robust to
    insertions/prefixes/boilerplate shifts.  The fp equi-join is the
    blocker (never all-pairs); fingerprint density ~2/(w+1) keeps the set
    ~4x smaller than the gram universe.

    ``max_df`` is the boilerplate cut (MOSS's standard move): a
    fingerprint present in more than max_df documents is a shared phrase,
    not duplication evidence, and its join bucket is df² pair rows —
    excluded from BOTH the intersection and the set sizes, so the Jaccard
    stays a consistent metric over the discriminative fingerprints.  Size
    it as a fraction of the corpus in production (the pairwise df-cap
    pattern); None disables.

    Output: (id_a, id_b, inter, sz_a, sz_b, jaccard) — same oracle-exact
    shape as the other dedup operators.
    """
    from .textstats import winnow_fingerprints

    # persist BEFORE the df branch: the winnowing expression (per-gram char
    # folds) is the expensive subtree and feeds both the df count and the
    # filtered fp table
    fp = _maybe_persist(winnow_fingerprints(docs, key, text_col, k, w))
    if max_df is not None:
        # persisting the tiny hot list (at most |fp|/max_df entries) gives
        # one df evaluation for every consuming branch without caching a
        # second, corpus-sized filtered table: each branch reads the
        # cached fp table plus a small anti-join
        hot = _maybe_persist(overlap.hot_elements(fp, key, "fp", max_df))
        fp = overlap.drop_elements(fp, "fp", hot)
    return overlap.self_jaccard(fp, key, "fp", threshold)


def near_dup_losers(pairs: DataFrame) -> DataFrame:
    """(id_a, id_b) near-dup pairs → the ids to DROP: connected components
    over the pair graph (a crawl family A~B~C collapses to one keeper even
    when A~C alone is below threshold), min-id canonical keeper per
    component, everything else is a loser.

    → (id).  The CC runs on the pair graph only (|pairs| ~ duplicate
    families, not corpus size); component ids are internal — the output is
    keyed on the original ids, so the xxhash64 labels never leak into an
    oracle-compared column."""
    from .linking import connected_components

    edges = pairs.select(
        F.col("id_a").alias("name_a"), F.col("id_b").alias("name_b")
    )
    cc = connected_components(edges)  # (name, component)
    return (
        cc.groupBy("component")
        .agg(F.min("name").alias("keeper"))
        .join(cc, "component")
        .where(F.col("name") != F.col("keeper"))
        .select(F.col("name").alias("id"))
    )


def simhash_signatures(
    docs: DataFrame, key: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash over whitespace tokens, fully native: explode tokens,
    one poly_hash per token, per-bit +/-1 affine vote, sign → bit.  One
    wide aggregation, map-side combinable; term frequency is respected
    (duplicate tokens vote once each)."""
    tok = (
        docs.where(F.col(text_col).isNotNull())
        .select(
            F.col(key),
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok"),
        )
        .where(F.col("tok") != "")
    )
    hs = tok.select(F.col(key), poly_hash_col(F.col("tok")).alias("h"))
    votes = hs.groupBy(key).agg(
        *[
            F.sum(simhash_vote_col(F.col("h"), i)).alias(f"b{i}")
            for i in range(S.NUM_SIMHASH_BITS)
        ]
    )
    sig = None
    for i in range(64):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(1 << i).cast("long") if i < 63 else F.when(
            F.col("b63") > 0, F.lit(-(1 << 63)).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return votes.select(F.col(key), sig.alias("simhash"))


def simhash_near_duplicates(
    docs: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= k via 4x16-bit band blocking
    (any pair within Hamming 3 shares at least one exact 16-bit quarter);
    hot 16-bit buckets are capped exactly like the MinHash bands."""
    # persist: the signature aggregation feeds the banding AND both join
    # sides of the pair verify
    sig = _maybe_persist(simhash_signatures(docs, key, text_col))
    quarters = F.array(
        *[
            F.shiftrightunsigned(F.col("simhash"), 16 * q)
            .bitwiseAND(F.lit(0xFFFF))
            .alias(f"q{q}")
            for q in range(4)
        ]
    )
    banded = sig.select(
        F.col(key), F.col("simhash"), F.posexplode(quarters).alias("band_id", "band_hash")
    )
    pairs = capped_band_pairs(banded, key, max_bucket)
    sig_a = sig.select(F.col(key).alias("id_a"), F.col("simhash").alias("sig_a"))
    sig_b = sig.select(F.col(key).alias("id_b"), F.col("simhash").alias("sig_b"))
    return (
        pairs.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def dedup_rate_by_group(
    docs: DataFrame,
    group_col: str = "source",
    key: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-group exact-duplicate report: how much of each corpus slice
    (domain, crawl, shard) exact dedup would drop — the number a curation
    pipeline watches to find mirror sites and boilerplate farms.

    keeper = GLOBAL min-key per content hash (:func:`exact_duplicates`
    semantics), so a cross-group duplicate family charges every non-keeper
    member to its own group, not the keeper's.  Rows with NULL text count
    as keepers (no content to be a duplicate of — the Pipeline dedup
    stage's rule).  Scale shape: one shuffle on the 128-bit content hash
    (balanced by construction) + one join back on the hash + one group
    aggregation.  → (group_col, n_docs, n_dup_rows, n_keepers).
    Gate: td_dedup_rate."""
    base = docs.select(group_col, key, F.md5(F.col(text_col)).alias("_h"))
    nn = base.where(F.col("_h").isNotNull())
    nulls = base.where(F.col("_h").isNull()).withColumn(
        "_is_keeper", F.lit(True)
    )
    keepers = nn.groupBy("_h").agg(F.min(key).alias("_keeper"))
    flagged = nn.join(keepers, "_h").withColumn(
        "_is_keeper", F.col(key) == F.col("_keeper")
    )
    members = flagged.select(group_col, key, "_is_keeper").unionByName(
        nulls.select(group_col, key, "_is_keeper")
    )
    return members.groupBy(group_col).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum((~F.col("_is_keeper")).cast("int")).cast("long").alias("n_dup_rows"),
        F.sum(F.col("_is_keeper").cast("int")).cast("long").alias("n_keepers"),
    )


def duplicated_span_report(
    docs: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    n: int = S.SPAN_DEDUP_N,
) -> DataFrame:
    """Exact duplicated-span detection (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better" — the ExactSubstr measure
    at fixed span length) → (key, n_spans, n_dup_spans, dup_span_pct,
    span_dup_ok) for EVERY input row.

    A span is an ``n``-token word gram (multiset, one per start
    position); it is *duplicated* when its portable poly-hash occurs more
    than once CORPUS-WIDE — multiplicity counted, so within-document
    repeats and cross-document copies both register, exactly as the
    paper's suffix-array pass would at this span length.  Complements
    the pairwise near-dup family (minhash/winnow find *which docs* are
    copies; this measures *how much* of each doc is copied text) and
    decontam (same machinery vs an external eval set).
    NULL/blank text → zeros, ok=true.

    Scale shape: explode → (key, hash) map-side-combinable aggregation
    (≤ 1 row per doc-span pair reaches the shuffle) → corpus span counts
    derived by re-aggregating that same table → one join back on the
    span hash (per-key rows bounded by the span's doc frequency —
    boilerplate-grade spans are the AQE skew-join case) → per-doc
    rollup.  Nothing quadratic; the span universe is corpus-linear.

    Span hashing is two-level: each token is poly-hashed ONCE, then each
    span folds its ``n`` token hashes — overlapping spans share the
    per-token work, so every character is hashed once instead of ``n``
    times (same 63-bit discipline: acc·BASE + h < 2^38; measured 3.6×
    faster than char-folding each joined span, PLANS.md).  Docs shorter
    than ``n`` tokens contribute one short-span fold; zero-token docs
    contribute nothing.  Accuracy caveat: the DuckDB-reproducible hash
    family caps the modulus at POLY_P ≈ 2^30, so corpus-wide collision
    pairs ≈ m²/2P false duplicated spans for m spans — negligible per
    doc at gate scales; at 10^12-doc production scale swap the span fold
    for a 64-bit hash (the gate twin is the only reason for POLY_P).
    """
    words = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != ""
    )
    tok_h = F.transform(
        words,
        lambda w: F.aggregate(
            F.transform(F.split(w, ""), lambda ch: F.ascii(ch).cast("long")),
            F.lit(S.POLY_SEED0).cast("long"),
            lambda acc, ch: (acc * F.lit(S.POLY_BASE) + ch) % F.lit(S.POLY_P),
        ),
    )
    # BIND the token-hash array to a real column before the span folds:
    # embedding tok_h inside the span lambda re-evaluates the whole
    # array per span position (O(T²) hashing per doc — measured 1.7×
    # slower than naive char-folding).  Catalyst's CollapseProject would
    # re-inline a once-referenced non-cheap alias, so the span projection
    # references th twice (the size() guard below is that second,
    # load-bearing reference).
    bound = (
        docs.where(F.col(text_col).isNotNull())
        .where(F.size(words) > 0)
        .select(F.col(key), tok_h.alias("th"))
    )
    th = F.col("th")
    span_h = F.when(
        F.size(th) >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(th) - (n - 1), F.lit(1))),
            lambda i: F.aggregate(
                F.slice(th, i, n),
                F.lit(S.POLY_SEED0).cast("long"),
                lambda acc, h: (acc * F.lit(S.POLY_BASE) + h) % F.lit(S.POLY_P),
            ),
        ),
    )
    sp = bound.select(F.col(key), F.explode(span_h).alias("h"))
    per_doc = sp.groupBy(key, "h").agg(F.count("*").cast("long").alias("k_cnt"))
    counts = per_doc.groupBy("h").agg(F.sum("k_cnt").cast("long").alias("c"))
    rolled = (
        per_doc.join(counts, "h")
        .groupBy(key)
        .agg(
            F.sum("k_cnt").cast("long").alias("n_spans"),
            F.sum(F.when(F.col("c") > 1, F.col("k_cnt")).otherwise(0))
            .cast("long")
            .alias("n_dup_spans"),
        )
    )
    n_spans = F.coalesce(F.col("n_spans"), F.lit(0))
    n_dup = F.coalesce(F.col("n_dup_spans"), F.lit(0))
    pct = (
        F.when(n_spans > 0, F.floor(n_dup * 100 / n_spans))
        .otherwise(F.lit(0))
        .cast("long")
    )
    return (
        docs.select(key)
        .join(rolled, key, "left")
        .select(
            key,
            n_spans.cast("long").alias("n_spans"),
            n_dup.cast("long").alias("n_dup_spans"),
            pct.alias("dup_span_pct"),
            (pct <= S.DUP_SPAN_MAX_PCT).alias("span_dup_ok"),
        )
    )
