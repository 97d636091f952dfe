"""Output checks: the pipeline's committed tables against the repository's
own specifications — the pure-Python ``reference_oracle`` for triples and
the DuckDB ``KG_ORACLES`` twins for the graph metrics."""

from __future__ import annotations

import os
import re

import duckdb

from agenticknowledgegraphconstructionsystem_spark import reference_oracle
from agenticknowledgegraphconstructionsystem_spark.oracles import KG_ORACLES

#: the north rule's triple-quality floor
MIN_TRIPLE_PRECISION = 0.95


def oracle_triples(rows: list[dict]) -> set[tuple]:
    return reference_oracle.run(rows).triples


def emitted_triples(triples_df) -> set[tuple]:
    return {(r["subj"], r["pred"], r["obj"]) for r in triples_df.select("subj", "pred", "obj").collect()}


def precision_recall(got: set, expected: set) -> tuple[float, float]:
    tp = len(got & expected)
    return tp / max(1, len(got)), tp / max(1, len(expected))


def _materialized(sql: str) -> str:
    """Every CTE of ``sql`` as ``AS MATERIALIZED``.  This DuckDB inlines
    each CTE reference, so the unrolled PageRank iterations rebuild the
    co-mention edge set per reference (18 s for a 230-node graph);
    materializing changes only how the same SQL is evaluated."""
    return re.sub(r"\bAS \(", "AS MATERIALIZED (", sql)


def oracle_graph_metrics(sf_dir: str) -> set[tuple]:
    """{(doc_id, pr, n_triangles)} from the kg_pagerank / kg_triangles
    DuckDB oracles over ``<sf_dir>/documents.parquet``; a node in no
    triangle counts 0, as the pipeline's graph_metrics stage reports it."""
    con = duckdb.connect()
    try:
        path = os.path.join(sf_dir, "documents.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        pr = con.execute(_materialized(KG_ORACLES["kg_pagerank"])).fetchall()
        tri = dict(con.execute(_materialized(KG_ORACLES["kg_triangles"])).fetchall())
    finally:
        con.close()
    return {(doc_id, rank, tri.get(doc_id, 0)) for doc_id, rank in pr}


def emitted_graph_metrics(graph_metrics_df) -> set[tuple]:
    return {
        (int(r["url"].rsplit("/", 1)[1]), r["pr"], r["n_triangles"])
        for r in graph_metrics_df.collect()
    }
