"""operators/overlap.py — the shared-element pair join, overlap count,
hot-element cap and exact-Jaccard tail — against an itertools brute
force, plus the two hot-cut semantics its callers rely on: entity
linking cuts hot shingles from pairing only, winnow removes hot
fingerprints from the sets."""

from __future__ import annotations

import itertools
import random
from fractions import Fraction

from pyspark.sql import Row

from agenticknowledgegraphconstructionsystem_spark import semantics as S
from agenticknowledgegraphconstructionsystem_spark.operators import overlap


def _family(seed: int, n_sets: int = 30) -> dict[int, set[int]]:
    """Seeded random sets over elements 0..39; elements 0-2 are hot
    (each in ~80% of the sets), the rest sparse."""
    rng = random.Random(seed)
    fam = {}
    for k in range(n_sets):
        s = set(rng.sample(range(3, 40), rng.randint(1, 6)))
        s |= {h for h in range(3) if rng.random() < 0.8}
        fam[k] = s
    return fam


def _sets_df(spark, fam: dict) -> "DataFrame":
    return spark.createDataFrame(
        [(k, e) for k, s in fam.items() for e in s], "k long, e long"
    )


def _df(fam: dict) -> dict:
    out: dict = {}
    for s in fam.values():
        for e in s:
            out[e] = out.get(e, 0) + 1
    return out


def _cut(fam: dict, hot: set) -> dict:
    return {k: s - hot for k, s in fam.items() if s - hot}


def _brute(score: dict, pair: dict, thr: Fraction, cand=None) -> dict:
    """{(a, b): (inter, sz_a, sz_b, jaccard)} over ``cand`` (default:
    every pair sharing an element of its ``pair`` sets), scored on the
    ``score`` sets; pairs sharing no scored element never materialize."""
    if cand is None:
        cand = [
            (a, b)
            for a, b in itertools.combinations(sorted(pair), 2)
            if pair[a] & pair[b]
        ]
    out = {}
    for a, b in cand:
        sa, sb = score.get(a, set()), score.get(b, set())
        inter, union = len(sa & sb), len(sa | sb)
        if inter and Fraction(inter, union) >= thr:
            out[(a, b)] = (inter, len(sa), len(sb), inter / union)
    return out


def _rows(df) -> dict:
    return {
        (r["id_a"], r["id_b"]): (r["inter"], r["sz_a"], r["sz_b"], r["jaccard"])
        for r in df.collect()
    }


def test_self_jaccard_and_removal_cut_match_brute_force(spark):
    thr = Fraction(3, 10)
    for seed in (1, 2):
        fam = _family(seed)
        sets = _sets_df(spark, fam)
        got = _rows(overlap.self_jaccard(sets, "k", "e", thr))
        assert got == _brute(fam, fam, thr) and got

        hot_df = overlap.hot_elements(sets, "k", "e", 10)
        hot = {r["e"] for r in hot_df.collect()}
        assert hot == {e for e, d in _df(fam).items() if d > 10} and hot
        cut = _cut(fam, hot)
        kept = overlap.drop_elements(sets, "e", hot_df)
        got = _rows(overlap.self_jaccard(kept, "k", "e", thr))
        assert got == _brute(cut, cut, thr) and got


def test_verify_jaccard_matches_brute_force_on_candidates(spark):
    thr = Fraction(1, 2)
    fam = _family(3)
    rng = random.Random(3)
    cand = sorted(
        {tuple(sorted(rng.sample(sorted(fam), 2))) for _ in range(150)}
    )
    cand_df = spark.createDataFrame(cand, "id_a long, id_b long")
    got = _rows(overlap.verify_jaccard(cand_df, _sets_df(spark, fam), "k", "e", thr))
    assert got == _brute(fam, fam, thr, cand=cand) and got
    # candidates only: a qualifying pair left out of ``cand`` never appears
    assert set(got) < set(_brute(fam, fam, thr))


def test_overlap_counts_with_repartition_match_brute_force(spark):
    fam = _family(4)
    got = {
        (r["id_a"], r["id_b"]): r["inter"]
        for r in overlap.overlap_counts(
            overlap.shared_pairs(_sets_df(spark, fam), "k", "e", repartition=True)
        ).collect()
    }
    exp = {
        (a, b): len(fam[a] & fam[b])
        for a, b in itertools.combinations(sorted(fam), 2)
        if fam[a] & fam[b]
    }
    assert got == exp


def test_hot_cap_boundary(spark):
    """df == cap is kept and cap + 1 is cut, with max_df binding, with
    floor(N·frac) binding (floor(10·0.55) = 5) and with the static cap
    (frac = 0)."""
    for max_df, frac, cap in ((4, 0.2, 4), (2, 0.55, 5), (3, 0.0, 3)):
        rows = [(k, f"u{k}") for k in range(10)]  # N = 10 distinct keys
        rows += [(k, "at") for k in range(cap)]
        rows += [(k, "over") for k in range(cap + 1)]
        sets = spark.createDataFrame(rows, "k long, e string")
        hot = {r["e"] for r in overlap.hot_elements(sets, "k", "e", max_df, frac).collect()}
        assert hot == {"over"}, (max_df, frac, hot)


# -- the two cut semantics, through their callers ------------------------------


def test_linking_cuts_hot_shingles_from_pairing_only(spark):
    """similarity_edges(blocking='exact', max_df=…) pairs on the rare
    shingles but scores the full shingle sets; removing the hot shingles
    from the sets instead gives a different edge set on this fixture."""
    from agenticknowledgegraphconstructionsystem_spark.operators.linking import (
        similarity_edges,
    )

    rng = random.Random(7)
    names = sorted(
        {
            "".join(rng.choice("abc") for _ in range(4))
            + (" zzzz" if rng.random() < 0.7 else "")
            for _ in range(40)
        }
    )
    fam = {n: set(S.char_ngrams(n)) for n in names}
    max_df, thr = 6, Fraction(1, 2)
    hot = {e for e, d in _df(fam).items() if d > max_df}
    cut = _cut(fam, hot)
    pairing_only = {p: v[3] for p, v in _brute(fam, cut, thr).items()}
    removal = {p: v[3] for p, v in _brute(cut, cut, thr).items()}
    assert pairing_only != removal  # the fixture separates the semantics

    ents = spark.createDataFrame([Row(name=n, mention_count=1) for n in names])
    got = {
        (r["name_a"], r["name_b"]): r["jaccard"]
        for r in similarity_edges(ents, threshold=0.5, blocking="exact", max_df=max_df).collect()
    }
    assert got == pairing_only


def test_winnow_removes_hot_fingerprints_from_the_sets(spark):
    """winnow_near_duplicates(max_df=…) drops hot fingerprints from both
    the intersection and the set sizes; scoring the full sets instead
    gives a different pair set on this fixture."""
    from agenticknowledgegraphconstructionsystem_spark.operators.dedup import (
        winnow_near_duplicates,
    )
    from agenticknowledgegraphconstructionsystem_spark.operators.textstats import (
        winnow_fingerprints,
    )

    rng = random.Random(11)
    vocab = "spark join shuffle stage task plan scan sort hash cache disk node".split()
    boiler = "subscribe to our newsletter for weekly updates"
    texts = []
    for i in range(16):
        if i % 4 and texts:  # three of every four docs edit an earlier one
            words = texts[rng.randrange(len(texts))][0].split()
            words[rng.randrange(len(words))] = rng.choice(vocab)
        else:
            words = [rng.choice(vocab) for _ in range(8)]
        texts.append((" ".join(words), rng.random() < 0.75))
    docs = spark.createDataFrame(
        [(i, t + (" " + boiler if b else "")) for i, (t, b) in enumerate(texts)],
        "doc_id long, text string",
    )
    fam: dict = {}
    for r in winnow_fingerprints(docs).collect():
        fam.setdefault(r["doc_id"], set()).add(r["fp"])
    max_df, thr = 4, Fraction(1, 2)
    hot = {e for e, d in _df(fam).items() if d > max_df}
    cut = _cut(fam, hot)
    removal = _brute(cut, cut, thr)
    assert removal != _brute(fam, cut, thr)  # the fixture separates the semantics

    got = _rows(winnow_near_duplicates(docs, threshold=0.5, max_df=max_df))
    assert got == removal


# -- plan building runs no job -------------------------------------------------


def _jobs_run_by(spark, group: str, fn):
    """(fn(), number of Spark jobs fn ran), counted under a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_doc_pair_joins_build_without_a_job(spark):
    """The df cap's N is computed inside the plan: building
    pairwise_shared_concepts (and comention_edges) runs no Spark job."""
    from agenticknowledgegraphconstructionsystem_spark.operators.graph import (
        comention_edges,
    )
    from agenticknowledgegraphconstructionsystem_spark.operators.relationships import (
        pairwise_shared_concepts,
    )

    m = spark.createDataFrame(
        [
            Row(url=f"u{i % 6}", name=f"n{i % 5}", relevance_pct=90)
            for i in range(30)
        ]
    )
    _, jobs = _jobs_run_by(spark, "overlap-pairwise", lambda: pairwise_shared_concepts(m))
    assert jobs == 0
    _, jobs = _jobs_run_by(spark, "overlap-comention", lambda: comention_edges(m))
    assert jobs == 0
