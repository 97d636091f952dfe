"""D10/D11 — MinHash-LSH entity linking + connected-components
canonicalization."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from agenticknowledgegraphconstructionsystem_spark.operators.linking import (
    canonicalize,
    connected_components,
    repoint_mentions,
    similarity_edges,
)
from agenticknowledgegraphconstructionsystem_spark.semantics import char_ngrams


def _ents(spark, names_counts):
    return spark.createDataFrame(
        [Row(name=n, mention_count=c) for n, c in names_counts]
    )


def _true_jaccard(a, b):
    A, B = set(char_ngrams(a)), set(char_ngrams(b))
    return len(A & B) / len(A | B)


def test_similarity_edges_match_brute_force(spark):
    names = [
        "spark", "sparks", "table scan", "table-scan", "hash join",
        "hash-join", "hashjoin", "sort merge join", "sort-merge join",
        "unrelated thing", "sprk", "tbl scan",
    ]
    got = {
        (r["name_a"], r["name_b"]): r["jaccard"]
        for r in similarity_edges(_ents(spark, [(n, 1) for n in names])).collect()
    }
    exp = {}
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            x, y = min(a, b), max(a, b)
            j = _true_jaccard(x, y)
            if j >= 0.5:
                exp[(x, y)] = j
    assert set(got) == set(exp)
    for k, v in exp.items():
        assert abs(got[k] - v) < 1e-9


def test_connected_components_chain_and_islands(spark):
    edges = spark.createDataFrame(
        [
            Row(name_a="a", name_b="b", jaccard=0.9),
            Row(name_a="b", name_b="c", jaccard=0.9),
            Row(name_a="x", name_b="y", jaccard=0.9),
        ]
    )
    comp = {r["name"]: r["component"] for r in connected_components(edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"]
    assert comp["x"] == comp["y"]
    assert comp["a"] != comp["x"]


def test_canonicalize_picks_highest_mention_count(spark):
    ents = _ents(
        spark,
        [("spark", 100), ("sparks", 3), ("hash join", 10), ("hash-join", 2),
         ("hashjoin", 1), ("lonely", 5)],
    )
    mapping = {r["name"]: r["canonical_name"] for r in canonicalize(ents).collect()}
    assert mapping["sparks"] == "spark"
    assert mapping["spark"] == "spark"
    assert mapping["hash-join"] == "hash join"
    assert mapping["hashjoin"] == "hash join"
    assert mapping["lonely"] == "lonely"  # singleton maps to itself


def test_canonicalize_null_mention_count_never_wins(spark):
    """A NULL mention_count counts as 0: min(struct(-count, name)) would
    otherwise sort the NULL first and elect it."""
    ents = spark.createDataFrame(
        [("transformer", 10), ("transformers", None)], "name string, mention_count long"
    )
    mapping = {r["name"]: r["canonical_name"] for r in canonicalize(ents).collect()}
    assert mapping == {"transformer": "transformer", "transformers": "transformer"}


def _partition(mapping_rows):
    """component → frozenset(names) from canonicalize() output rows."""
    by_comp: dict = {}
    for r in mapping_rows:
        by_comp.setdefault(r["component"], set()).add(r["name"])
    return {frozenset(v) for v in by_comp.values()}


def test_representative_mode_refines_and_recovers_families(spark):
    """mode='representative' (the dense-family O(f) escape hatch):

    1. Edge precision is 1.0 BY CONSTRUCTION — every emitted edge passed
       the same exact-Jaccard verify, so rep-mode components can only
       REFINE all-pairs components (under-merge is the sole failure mode;
       over-merge is impossible).  Asserted structurally.
    2. On the alias/decoy fixture and a 20-member dense family, the
       recovered families are IDENTICAL (merge-recall 1.0) while the
       verified edge count drops from quadratic to linear."""
    from agenticknowledgegraphconstructionsystem_spark.operators.linking import (
        representative_band_pairs,
    )

    names = [
        "spark", "sparks", "table scan", "table-scan", "hash join",
        "hash-join", "hashjoin", "sort merge join", "sort-merge join",
        "unrelated thing", "sprk", "tbl scan",
    ] + [f"gradient boosting v{i}" for i in range(20)]  # dense alias family
    ents = _ents(spark, [(n, 1) for n in names])

    exact = _partition(canonicalize(ents, mode="all_pairs").collect())
    rep = _partition(canonicalize(ents, mode="representative").collect())

    # refinement: every rep family sits inside exactly one exact family
    for fam in rep:
        assert any(fam <= ex for ex in exact), f"over-merge: {fam}"
    # on this fixture the escape hatch loses nothing: identical families
    assert rep == exact

    # edge economy: linear star edges, not the quadratic pair set
    n_all = similarity_edges(ents, mode="all_pairs").count()
    n_rep = similarity_edges(ents, mode="representative").count()
    # dense 20-family alone contributes 190 all-pairs edges; rep mode
    # emits at most (members-1) * bands-worth of distinct star edges
    assert n_rep < n_all
    # candidate space itself is linear per bucket
    from agenticknowledgegraphconstructionsystem_spark.operators.linking import (
        minhash_signatures,
        name_shingles,
    )

    sigs = minhash_signatures(name_shingles(ents))
    cand = representative_band_pairs(sigs)
    assert cand.count() <= ents.count() * 16  # <= (B-1) summed per band


def test_auto_mode_exact_below_threshold_star_above(spark):
    """mode='auto' (per-bucket strategy selection): sub-threshold buckets
    keep the exact all-pair candidate set, oversize buckets divert to the
    representative star, and on an alias/decoy fixture with one
    above-threshold dense family the recovered partitions equal
    all_pairs' — exact where it is cheap, linear where it matters."""
    from agenticknowledgegraphconstructionsystem_spark.operators.linking import (
        DEFAULT_REP_BUCKET,
        auto_band_pairs,
        candidate_pairs,
        minhash_signatures,
        name_shingles,
    )

    small_names = [
        "spark", "sparks", "table scan", "table-scan", "hash join",
        "hash-join", "hashjoin", "unrelated thing", "sprk", "tbl scan",
    ]
    dense = [f"gradient boosting v{i}" for i in range(DEFAULT_REP_BUCKET + 28)]
    ents = _ents(spark, [(n, 1) for n in small_names + dense])

    exact = _partition(canonicalize(ents, mode="all_pairs").collect())
    auto = _partition(canonicalize(ents, mode="auto").collect())
    # refinement invariant (edges still exactly verified) + full recovery
    for fam in auto:
        assert any(fam <= ex for ex in exact), f"over-merge: {fam}"
    assert auto == exact

    # candidate economy: auto emits fewer rows than all-pairs on the dense
    # fixture (the 60-member family alone is ~1770 pairs vs ~59 star rows)
    sigs = minhash_signatures(name_shingles(ents))
    n_auto = auto_band_pairs(sigs).count()
    n_all = candidate_pairs(sigs, max_bucket=None).count()
    assert n_auto < n_all

    # with NO oversize bucket, auto must equal the exact candidate set —
    # the sub-threshold path is byte-identical to all_pairs, not merely
    # equivalent after verification
    small_ents = _ents(spark, [(n, 1) for n in small_names])
    ssigs = minhash_signatures(name_shingles(small_ents))
    got = sorted(map(tuple, auto_band_pairs(ssigs).collect()))
    want = sorted(map(tuple, candidate_pairs(ssigs, max_bucket=None).collect()))
    assert got == want


def test_pipeline_link_mode_validated(spark, tmp_path):
    from agenticknowledgegraphconstructionsystem_spark.plans.pipeline import Pipeline

    with pytest.raises(ValueError, match="link_mode"):
        Pipeline(spark, str(tmp_path / "kg"), link_mode="bogus")
    Pipeline(spark, str(tmp_path / "kg2"), link_mode="auto")  # accepted


def test_repoint_mentions(spark):
    ents = _ents(spark, [("spark", 100), ("sparks", 1)])
    mapping = canonicalize(ents)
    mentions = spark.createDataFrame(
        [
            Row(url="u1", name="sparks", concept_type="method", relevance_pct=50, pos=1, context="c"),
            Row(url="u2", name="other", concept_type="method", relevance_pct=50, pos=1, context="c"),
        ]
    )
    got = {r["url"]: r["name"] for r in repoint_mentions(mentions, mapping).collect()}
    assert got == {"u1": "spark", "u2": "other"}
