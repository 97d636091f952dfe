"""D10/D11 — MinHash-LSH entity linking + connected-components
canonicalization."""

from __future__ import annotations

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
