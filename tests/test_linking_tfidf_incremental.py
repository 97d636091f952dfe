"""TF-IDF cosine linking scorer + per-doc incremental ingest."""

from __future__ import annotations

import pytest

import math

from pyspark.sql import Row

from agenticknowledgegraphconstructionsystem_spark.operators.linking import (
    tfidf_cosine_edges,
)
from agenticknowledgegraphconstructionsystem_spark.plans.pipeline import Pipeline
from agenticknowledgegraphconstructionsystem_spark.semantics import char_ngrams
from agenticknowledgegraphconstructionsystem_spark.sources.pages import synthetic_pages


def _brute_tfidf_cosine(names, threshold):
    shingles = {n: set(char_ngrams(n)) for n in names}
    df = {}
    for s in shingles.values():
        for g in s:
            df[g] = df.get(g, 0) + 1
    idf = {g: math.log(len(names) / c) for g, c in df.items()}
    out = {}
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            x, y = min(a, b), max(a, b)
            dot = sum(idf[g] ** 2 for g in shingles[x] & shingles[y])
            na = math.sqrt(sum(idf[g] ** 2 for g in shingles[x]))
            nb = math.sqrt(sum(idf[g] ** 2 for g in shingles[y]))
            c = dot / (na * nb) if na and nb else 0.0
            if c >= threshold:
                out[(x, y)] = c
    return out


def test_tfidf_cosine_matches_brute_force(spark):
    names = ["spark", "sparks", "hash join", "hash-join", "sort merge join",
             "sort-merge join", "unrelated thing", "table scan"]
    ents = spark.createDataFrame([Row(name=n, mention_count=1) for n in names])
    got = {
        (r["name_a"], r["name_b"]): r["cosine"]
        for r in tfidf_cosine_edges(ents, threshold=0.4).collect()
    }
    exp = _brute_tfidf_cosine(names, 0.4)
    assert set(got) == set(exp)
    for k in exp:
        assert abs(got[k] - exp[k]) < 1e-9
    assert ("spark", "sparks") in got


def test_ingest_increment_writes_extract_lineage(spark, tmp_path):
    """Both extract writes of ingest_increment (the fresh commit and the
    delta append) leave lineage rows that add up to the committed rows."""
    all_pages = synthetic_pages(spark, 30)
    p = Pipeline(spark, str(tmp_path / "lin"), run_id="l1")
    p.ingest_increment(all_pages.where("url < 'https://example.org/paper/00020'"))
    p.ingest_increment(all_pages)
    lin = p.lineage().where("stage = 'extract'").collect()
    assert sum(r["output_rows"] for r in lin) == p.store.manifest("extract")["rows"]
    assert sorted({r["input_rows"] for r in lin}) == [10, 20]


@pytest.mark.slow
def test_incremental_ingest(spark, tmp_path):
    all_pages = synthetic_pages(spark, 60)
    batch1 = all_pages.where("url < 'https://example.org/paper/00040'")

    p = Pipeline(spark, str(tmp_path / "inc"), run_id="i1")
    p.ingest_increment(batch1)
    r1 = p.run(batch1)
    t1 = r1["triples"].count()
    assert "extract" not in p._recomputed  # ingest committed it

    # second increment: full set, only the 20 new urls get extracted
    p2 = Pipeline(spark, str(tmp_path / "inc"), run_id="i2")
    new_docs = p2.ingest_increment(all_pages)
    assert new_docs.count() == 20
    assert p2.store.read("extract").count() == 60
    r2 = p2.run(all_pages)
    assert "extract" not in p2._recomputed
    # mentions advanced INCREMENTALLY: the delta's mentions were appended
    # at ingest time, the committed 40-doc detection was never re-run
    assert "mentions" not in p2._recomputed
    assert "entities" in p2._recomputed  # corpus-level aggregates rebuilt
    # the appended mention lineage rows record delta-sized input (20 docs)
    lin = p2.lineage().where("stage = 'mentions' and run_id = 'i2'")
    assert lin.count() >= 1
    assert {r["input_rows"] for r in lin.collect()} == {20}

    # equals a from-scratch run over all 60 docs
    p3 = Pipeline(spark, str(tmp_path / "full"), run_id="f")
    r3 = p3.run(all_pages)
    t2 = {(r["subj"], r["pred"], r["obj"]) for r in r2["triples"].collect()}
    t3 = {(r["subj"], r["pred"], r["obj"]) for r in r3["triples"].collect()}
    assert t2 == t3
    assert t1 <= len(t2)

    # a no-op increment (all urls already extracted) invalidates NOTHING
    p4 = Pipeline(spark, str(tmp_path / "inc"), run_id="i3")
    assert p4.ingest_increment(all_pages).count() == 0
    assert p4.store.is_committed("triples")
    assert p4.store.is_committed("canonical_map")
