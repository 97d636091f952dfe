"""Driver-gate queries: Spark DataFrames keyed on ``doc_id`` over the
driver's testdata tables, each with an exact DuckDB oracle in
:mod:`oracles`.

The KG pipeline's canonical key is ``url`` (pages schema); the gate runs
the same operators with ``doc_id`` as the key (FIXTURES.md §4) so results
are comparable against DuckDB SQL over ``documents.parquet``.  Integer
outputs are cast to BIGINT on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import semantics as S
from .operators.entities import (
    build_doc_concept_edges,
    build_entities,
    build_entities_with_context,
    top_concepts,
)
from .operators.mentions import clean_mentions, detect_mentions_native
from .session import spread_scan
from .operators.relationships import discover_relationships
from .operators.triples import build_triples
from .operators.validation import entity_findings, relationship_findings


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet with the pipeline's expected column names; the
    bigint doc_id plays the url role (deterministic, reversible)."""
    # single-row-group input: spread the scan so the mention detector and
    # every fused per-row stage above the first exchange parallelize
    # (session.spread_scan)
    return spread_scan(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            F.col("doc_id").alias("url"), F.col("text").alias("extracted_text")
        ),
        "url",
    )


def _mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return clean_mentions(detect_mentions_native(_docs(spark, sf_dir)))


_BIG = "bigint"


def q_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _mentions(spark, sf_dir)
    return m.select(
        F.col("url").cast(_BIG).alias("doc_id"),
        "name",
        "concept_type",
        F.col("relevance_pct").cast(_BIG).alias("relevance_pct"),
        F.col("pos").cast(_BIG).alias("pos"),
        "context",
    )


def q_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = build_entities_with_context(build_doc_concept_edges(_mentions(spark, sf_dir)))
    return e.select(
        "name",
        "concept_type",
        F.col("mention_count").cast(_BIG).alias("mention_count"),
        F.col("sum_relevance_pct").cast(_BIG).alias("sum_relevance_pct"),
        F.col("max_relevance_pct").cast(_BIG).alias("max_relevance_pct"),
        F.col("min_relevance_pct").cast(_BIG).alias("min_relevance_pct"),
        "first_context",
    )


def q_top_concepts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = top_concepts(build_entities(_mentions(spark, sf_dir)), k=10)
    return t.select(
        "name", "concept_type", F.col("mention_count").cast(_BIG).alias("mention_count")
    )


def _rels(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return discover_relationships(docs, _mentions(spark, sf_dir))


def q_relationships(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _rels(spark, sf_dir)
    return r.select(
        F.col("source_url").cast(_BIG).alias("source_doc_id"),
        F.col("target_url").cast(_BIG).alias("target_doc_id"),
        "rel_type",
        F.col("confidence_pct").cast(_BIG).alias("confidence_pct"),
        F.col("n_shared").cast(_BIG).alias("n_shared"),
        F.col("hi").cast(_BIG).alias("hi"),
        F.col("med").cast(_BIG).alias("med"),
        F.col("lo").cast(_BIG).alias("lo"),
        "explanation",
    )


def q_entity_findings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 rules over entities, with semantics.ENTITY_FINDING_SEEDS unioned
    into the mentions input (the kg_open_triples seeding pattern) so each
    rule family has at least one tripping row and the gate compares
    non-empty sets; the oracle unions the identical literal rows."""
    m = _mentions(spark, sf_dir)
    seeds = spark.createDataFrame(
        [tuple(r) for r in S.ENTITY_FINDING_SEEDS],
        "url long, name string, concept_type string, relevance_pct int, "
        "pos int, context string",
    )
    for c in m.schema.fields:
        seeds = seeds.withColumn(c.name, F.col(c.name).cast(c.dataType))
    m = m.unionByName(seeds)
    return entity_findings(build_entities(m), build_doc_concept_edges(m))


def q_relationship_findings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relationship_findings(_rels(spark, sf_dir))


def q_validation_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.validation import validation_summary_lazy

    m = _mentions(spark, sf_dir)
    ents = build_entities(m)
    rels = _rels(spark, sf_dir)
    ef = entity_findings(ents, build_doc_concept_edges(m))
    rf = relationship_findings(rels)
    return validation_summary_lazy(ef, rf, ents, rels)


def q_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _mentions(spark, sf_dir)
    edges = build_doc_concept_edges(m)
    rels = _rels(spark, sf_dir).where(F.col("rel_type").isNotNull()).withColumn(
        "validated", F.lit(False)
    )
    t = build_triples(edges, rels)
    return t.select(
        F.col("subj").cast("string").alias("subj"),
        "pred",
        F.col("obj").cast("string").alias("obj"),
        F.col("score_pct").cast(_BIG).alias("score_pct"),
    )


def q_doc_concept_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """paper_concept_summary view (db_init.py:173-182, J4): per-doc concept
    count + relevance aggregate, docs with zero mentions included."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    m = _mentions(spark, sf_dir)
    agg = m.groupBy(F.col("url").alias("doc_id")).agg(
        F.count("*").cast(_BIG).alias("n_concepts"),
        F.sum("relevance_pct").cast(_BIG).alias("sum_relevance_pct"),
    )
    return docs.join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_concepts"), F.lit(0)).cast(_BIG).alias("n_concepts"),
        F.coalesce(F.col("sum_relevance_pct"), F.lit(0)).cast(_BIG).alias("sum_relevance_pct"),
    )


def q_extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 (extract_and_populate.py:73-87) over documents.text."""
    from .operators.extract import word_count_col

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select(
        "doc_id",
        F.coalesce(F.length("text"), F.lit(0)).cast(_BIG).alias("char_count"),
        word_count_col(F.col("text")).cast(_BIG).alias("word_count"),
    )


#: first N docs of every sf_dir travel through a REAL WARC file
#: (serialize → per-file gzip → binaryFile scan → mapInPandas parse) in
#: the kg_extract_html gate, so the WARC source has a driver-visible
#: CORRECTNESS row; bounded so the driver-side serialization stays O(1)
#: in corpus size at any sf
WARC_GATE_DOCS = 200

#: the NEXT slice of docs travels through a REAL WET sidecar file (the
#: pre-extracted conversion records most text pipelines actually start
#: from): extraction runs driver-side via the shared pure fn, the text
#: rides a gzip WET file through read_wet_pages, and extract_docs' P1
#: content fallback must reproduce the direct html branch byte-for-byte
WET_GATE_DOCS = 120


def _warc_roundtrip_pages(spark: SparkSession, pages: DataFrame) -> DataFrame:
    """Serialize ``pages`` rows into an actual gzip WARC file under /tmp
    (content-addressed, written atomically, reused across repeats) and
    read them back through the full :func:`sources.warc.read_warc_pages`
    scan path.  Byte-identical html transport is exactly what the gate
    then asserts via the extraction oracle."""
    import gzip
    import hashlib
    import os
    import tempfile

    from .sources.warc import read_warc_pages, write_warc

    rows = pages.select("url", "warc_ts", "html").orderBy("url").collect()
    recs = [
        (
            r["url"],
            r["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ"),
            bytes(r["html"]),
        )
        for r in rows
    ]
    blob = gzip.compress(write_warc(recs))
    digest = hashlib.md5(blob).hexdigest()
    wdir = os.path.join(tempfile.gettempdir(), f"warc_gate_{digest}")
    target = os.path.join(wdir, "crawl-00000.warc.gz")
    if not os.path.exists(target):
        os.makedirs(wdir, exist_ok=True)
        tmp = target + ".tmp"
        with open(tmp, "wb") as f:
            f.write(blob)
        os.replace(tmp, target)
    # http_aware runs the full crawl first mile (status/mime gate,
    # transfer/content decoding, charset normalization) inside the
    # driver window; on these 200/text-html/valid-UTF-8 fixtures the
    # UTF-8 re-encode is the identity, so the byte-identical extraction
    # oracle ALSO pins that the HTTP tier never mutates clean pages.
    return read_warc_pages(spark, wdir, http_aware=True)


def _wet_roundtrip_pages(
    spark: SparkSession, pages: DataFrame
) -> tuple[DataFrame, list[str]]:
    """Serialize ``pages``' EXTRACTED text (semantics.extract_text_from_html
    — the same pure fn the Arrow UDF wraps) into an actual gzip WET file
    under /tmp (content-addressed, atomic, reused across repeats) and read
    it back through :func:`sources.warc.read_wet_pages`.  Returns the WET
    pages plus the urls whose extraction is None (a WET conversion record
    cannot represent "nothing extracted" — an empty body reads back as ''
    not NULL — so those rows must stay on the direct html branch)."""
    import gzip
    import hashlib
    import os
    import tempfile

    from . import semantics as _S
    from .sources.warc import read_wet_pages, write_wet

    rows = pages.select("url", "warc_ts", "html").orderBy("url").collect()
    recs = []
    skipped: list[str] = []
    for r in rows:
        text = _S.extract_text_from_html(bytes(r["html"]))
        if text is None:
            skipped.append(r["url"])
            continue
        recs.append(
            (r["url"], r["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ"), text)
        )
    blob = gzip.compress(write_wet(recs))
    digest = hashlib.md5(blob).hexdigest()
    wdir = os.path.join(tempfile.gettempdir(), f"wet_gate_{digest}")
    target = os.path.join(wdir, "crawl-00000.warc.wet.gz")
    if not os.path.exists(target):
        os.makedirs(wdir, exist_ok=True)
        tmp = target + ".tmp"
        with open(tmp, "wb") as f:
            f.write(blob)
        os.replace(tmp, target)
    return read_wet_pages(spark, wdir), skipped


def q_extract_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 byte-identical extraction through the REAL html path: documents
    are wrapped into pages html (sources.pages.pages_from_documents, text
    column nulled so every row pays the Arrow-UDF parse), extracted, and
    compared against the DuckDB oracle's string reconstruction of the
    reference semantics ('\\n--- Page 1 ---\\n' + text, outer strip).

    The first :data:`WARC_GATE_DOCS` docs additionally travel through a
    REAL WARC file (sources/warc.py — serialize, gzip, binaryFile scan,
    mapInPandas parse) before extraction, and the next
    :data:`WET_GATE_DOCS` docs through a REAL WET sidecar (conversion
    records carrying the pre-extracted text; extract_docs' P1 content
    fallback must keep it verbatim), so BOTH Common-Crawl first miles
    have driver-visible CORRECTNESS rows: any transport corruption
    (framing, gzip, header stripping, date parse, fallback drift) breaks
    this gate's hash.  The oracle is transport-independent by design.

    Assumption (probed, holds for the driver corpus): documents.text is
    tag-free.  A '<...>' substring in text would be stripped by the real
    extractor but not by the oracle's reconstruction — the UDF is right,
    the oracle reconstruction only models tag-free bodies."""
    from .operators.extract import extract_docs
    from .sources.pages import pages_from_documents

    pages = pages_from_documents(spark, sf_dir).withColumn(
        "text", F.lit(None).cast("string")
    )
    docid = F.replace(
        F.col("url"), F.lit("https://example.org/doc/"), F.lit("")
    ).cast("long")
    warc_branch = _warc_roundtrip_pages(
        spark, pages.where((docid < WARC_GATE_DOCS) & F.col("html").isNotNull())
    )
    wet_hi = WARC_GATE_DOCS + WET_GATE_DOCS
    wet_branch, wet_skipped = _wet_roundtrip_pages(
        spark,
        pages.where(
            (docid >= WARC_GATE_DOCS) & (docid < wet_hi) & F.col("html").isNotNull()
        ),
    )
    direct = (docid >= wet_hi) | F.col("html").isNull()
    if wet_skipped:
        direct = direct | (
            (docid >= WARC_GATE_DOCS) & F.col("url").isin(*wet_skipped)
        )
    direct_branch = pages.where(direct)
    docs = extract_docs(
        warc_branch.unionByName(wet_branch).unionByName(direct_branch)
    )
    return docs.select(
        F.replace(F.col("url"), F.lit("https://example.org/doc/"), F.lit(""))
        .cast(_BIG)
        .alias("doc_id"),
        F.col("extracted_text"),
        F.col("n_chars").cast(_BIG).alias("n_chars"),
        F.col("n_pages").cast(_BIG).alias("n_pages"),
    )


def _stream_drained_mentions(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the first :data:`semantics.STREAM_GATE_DOCS` documents
    through the REAL Structured Streaming path — parquet file source →
    detect/clean mentions (stateless narrow ops, identical Column
    expressions to the batch detector) → ``availableNow`` parquet sink
    with a durable checkpoint — in TWO drains over ONE checkpoint, the
    second landing only the delta files (source offsets) with the sink
    commit log making the appends exactly-once.  Returns the sink dir.

    The fixture is content-addressed under /tmp (md5 of the doc rows) and
    guarded by a ``done`` marker, so repeat invocations (driver repeats,
    check_gate sweeps) reuse the drained sink; a crash mid-protocol
    resumes exactly where the checkpoint left off — re-drains are no-ops
    on already-committed batches, which is the property being gated."""
    import hashlib
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .streaming.ops import drain_to_parquet

    rows = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") < S.STREAM_GATE_DOCS)
        .select("doc_id", "text")
        .orderBy("doc_id")
        .collect()
    )
    h = hashlib.md5()
    for r in rows:
        h.update(str(r["doc_id"]).encode())
        h.update((r["text"] or "\x00NULL").encode())
    root = os.path.join(tempfile.gettempdir(), f"stream_gate_{h.hexdigest()}")
    in_dir = os.path.join(root, "in")
    out_dir = os.path.join(root, "out")
    ck_dir = os.path.join(root, "ck")
    done = os.path.join(root, "done")
    if os.path.exists(done):
        return out_dir
    os.makedirs(in_dir, exist_ok=True)
    half = len(rows) // 2
    for name, batch in (("b1", rows[:half]), ("b2", rows[half:])):
        target = os.path.join(in_dir, f"{name}.parquet")
        if not os.path.exists(target):
            tbl = pa.table(
                {
                    "doc_id": pa.array([r["doc_id"] for r in batch], pa.int64()),
                    "text": pa.array([r["text"] for r in batch], pa.string()),
                }
            )
            tmp = os.path.join(root, f"{name}.tmp")  # outside the source dir
            pq.write_table(tbl, tmp)
            os.replace(tmp, target)  # atomic: the source never sees a partial file
        stream_docs = (
            spark.readStream.schema("doc_id bigint, text string")
            .parquet(in_dir)
            .select(
                F.col("doc_id").alias("url"),
                F.col("text").alias("extracted_text"),
            )
        )
        drain_to_parquet(
            clean_mentions(detect_mentions_native(stream_docs)), out_dir, ck_dir
        )
    with open(done, "w") as f:
        f.write("ok")
    return out_dir


def q_stream_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D12 streaming with a driver CORRECTNESS row: the drained sink of
    :func:`_stream_drained_mentions` compared hash-exact against the
    batch DuckDB mentions oracle over the same doc_id window — a
    terminating ``availableNow`` drain is batch-expressible, so the
    streaming path (file-source offsets, micro-batch Arrow detection,
    exactly-once parquet sink) gets the same value-level pin as every
    batch operator instead of pytest-only equivalence properties."""
    out_dir = _stream_drained_mentions(spark, sf_dir)
    return spark.read.parquet(out_dir).select(
        F.col("url").cast(_BIG).alias("doc_id"),
        "name",
        "concept_type",
        F.col("relevance_pct").cast(_BIG).alias("relevance_pct"),
        F.col("pos").cast(_BIG).alias("pos"),
        "context",
    )


SEARCH_QUERY_TOKENS = ("spark", "join", "window")


def q_text_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FTS capability (db_init.py:35-36 tsvector + :255-262 ts_rank):
    token-overlap ranking — score = total occurrences of the query tokens,
    AND-semantics filter (every token present), top-20 by (score, doc_id)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    padded = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    score = None
    present = F.lit(True)
    for tok in SEARCH_QUERY_TOKENS:
        occ = (
            (F.length(padded) - F.length(F.replace(padded, F.lit(f" {tok} "), F.lit(""))))
            / (len(tok) + 2)
        ).cast("long")
        score = occ if score is None else score + occ
        present = present & (occ > 0)
    return (
        d.select("doc_id", score.alias("score"), present.alias("ok"))
        .where(F.col("ok"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
        .select("doc_id", F.col("score").cast(_BIG).alias("score"))
    )


def q_resume_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 resume semantics (database.ts:66-81): docs with NO success log.
    The lineage set is simulated deterministically (doc_id % 3 == 0)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    done = d.where(F.col("doc_id") % 3 == 0)
    return d.join(done, "doc_id", "left_anti").select("doc_id")


#: appended to every 5th document in the open-triples gate so the check has
#: non-empty output (the synthetic corpus vocabulary contains no relation
#: keywords); the oracle SQL appends the identical literal
OPEN_TRIPLE_SEED_SENTENCE = (
    ". the spark pipeline improves the seminal table scan approach."
)


def q_open_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 sentence-level (subj, pred, obj) extraction (Arrow UDF)."""
    from .operators.open_triples import extract_open_triples

    seeded = _docs(spark, sf_dir).withColumn(
        "extracted_text",
        F.when(
            F.col("url") % 5 == 0,
            F.concat(F.col("extracted_text"), F.lit(OPEN_TRIPLE_SEED_SENTENCE)),
        ).otherwise(F.col("extracted_text")),
    )
    t = extract_open_triples(seeded, text_col="extracted_text")
    return t.select(
        F.col("url").cast(_BIG).alias("doc_id"),
        "subj",
        "pred",
        "obj",
        F.col("sent_idx").cast(_BIG).alias("sent_idx"),
    )


def q_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10/D11 — entity linking + canonicalization (the rebuild's
    north-star feature; reference wish-list README.md:1442-1444 "Merge
    'NeRF' and 'Neural Radiance Fields'").  Gate path: exact shared-shingle
    blocking (recall exactly 1, still join-blocked) + exact char-3gram
    Jaccard >= 0.5 + connected components + highest-mention_count /
    smallest-name canonical election; the DuckDB oracle replays the
    identical edges and components via WITH RECURSIVE min-label walk.  The
    LSH blocking path is pinned separately by brute-force parity pytest."""
    from .operators.linking import canonicalize

    ents = build_entities(_mentions(spark, sf_dir))
    mapping = canonicalize(
        ents.select("name", "mention_count"), threshold=0.5, blocking="exact"
    )
    return mapping.select("name", "canonical_name")


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 MERGE/upsert (database_utils.py:109-113 ``INSERT ... ON CONFLICT
    (url) DO UPDATE``): a v2 batch (doc_id % 3 == 0, n_chars bumped) merged
    into a v1 table (doc_id % 2 == 0) through merge_by_key — matched keys
    take the incoming row, unmatched keep the current row, new keys
    insert."""
    from .sources.io import merge_by_key

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "n_chars"
    )
    cur = d.where(F.col("doc_id") % 2 == 0).withColumn("version", F.lit(1))
    inc = (
        d.where(F.col("doc_id") % 3 == 0)
        .withColumn("version", F.lit(2))
        .withColumn("n_chars", F.col("n_chars") + 1000)
    )
    m = merge_by_key(cur, inc, ["doc_id"], "version")
    return m.select(
        F.col("doc_id").cast(_BIG).alias("doc_id"),
        "source",
        F.col("n_chars").cast(_BIG).alias("n_chars"),
        F.col("version").cast(_BIG).alias("version"),
    )


def q_pairwise_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pairwise J3 (db_init.py:240-252 generalized): shared-concept
    bucket stats for every doc pair, df-cap disabled so the oracle is the
    plain exact self-join (the cap path is pinned by the skew pytest)."""
    from .operators.relationships import pairwise_shared_concepts

    m = _mentions(spark, sf_dir)
    p = pairwise_shared_concepts(m, max_df_frac=1.0, max_df_min=0)
    return p.select(
        F.col("url_a").cast(_BIG).alias("doc_a"),
        F.col("url_b").cast(_BIG).alias("doc_b"),
        F.col("n_shared").cast(_BIG).alias("n_shared"),
        F.col("hi").cast(_BIG).alias("hi"),
        F.col("med").cast(_BIG).alias("med"),
        F.col("lo").cast(_BIG).alias("lo"),
    )


def _comention_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (da < db) co-mention edges: docs sharing >= 2 relevant
    concepts, df-capped before pairing — operators/graph.comention_edges,
    mirrored exactly in the oracles' mf/nd/dfn/keep/mfk/kept CTEs."""
    from .operators.graph import comention_edges

    return comention_edges(_mentions(spark, sf_dir), key="url")


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document PageRank over the co-mention graph (symmetrized), 8 power
    iterations in exact int64 fixed-point (operators/graph.py) — the
    citation-rank query the reference's graph schema exists to answer
    but never ships.  The DuckDB oracle unrolls the same iterations as
    chained CTEs; scores are bit-identical, not approximately equal."""
    from .operators.graph import pagerank_fixed_point
    from .session import cut_lineage

    # Materialize the quadratic edge build ONCE before fanning out: the
    # symmetrizing union references it twice, and pagerank's static-input
    # construction (nodes distinct / out-degree join / dangling anti-join)
    # re-reads the edge list ~4× — uncut, that re-ran the Σdf² pair join
    # ~8× per query (measured 270 s at sf1; the Pipeline's graph_metrics
    # stage always cut here, only the gate path was missing it).
    kept = cut_lineage(_comention_edges(spark, sf_dir))
    edges = kept.select(F.col("da").alias("src"), F.col("db").alias("dst")).unionByName(
        kept.select(F.col("db").alias("src"), F.col("da").alias("dst"))
    )
    pr = pagerank_fixed_point(edges, iters=8)
    return pr.select(F.col("node").cast(_BIG).alias("doc_id"), "pr")


def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc triangle counts over the same canonical co-mention edge
    set (ordered-edge three-way join, operators/graph.py) — the
    clustering-coefficient numerator, found once per triangle with no
    post-dedup."""
    from .operators.graph import triangle_counts
    from .session import cut_lineage

    # Same discipline as q_pagerank: the degree orientation inside
    # triangle_counts reads its input ~5× (degree agg scans both endpoint
    # projections + two orientation joins) — cut the quadratic edge build
    # once so those re-reads hit a checkpoint, not the Σdf² pair join.
    kept = cut_lineage(_comention_edges(spark, sf_dir)).select(
        F.col("da").alias("src"), F.col("db").alias("dst")
    )
    t = triangle_counts(kept)
    return t.select(F.col("node").cast(_BIG).alias("doc_id"), "n_triangles")


KG_QUERIES = {
    "kg_open_triples": q_open_triples,
    "kg_canonicalize": q_canonicalize,
    "kg_merge_upsert": q_merge_upsert,
    "kg_pairwise_shared": q_pairwise_shared,
    "kg_pagerank": q_pagerank,
    "kg_triangles": q_triangles,
    "kg_mentions": q_mentions,
    "kg_entities": q_entities,
    "kg_top_concepts": q_top_concepts,
    "kg_relationships": q_relationships,
    "kg_entity_findings": q_entity_findings,
    "kg_relationship_findings": q_relationship_findings,
    "kg_validation_summary": q_validation_summary,
    "kg_triples": q_triples,
    "kg_extract_stats": q_extract_stats,
    "kg_extract_html": q_extract_html,
    "kg_doc_concept_summary": q_doc_concept_summary,
    "kg_resume_anti_join": q_resume_anti_join,
    "kg_text_search": q_text_search,
    "kg_stream_mentions": q_stream_mentions,
}
