"""Seeded inputs for the ``Pipeline.run`` benchmark.

Every table here is a pure function of ``(n, seed)``; the pipeline only
ever sees the parquet files written from it.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

PAGES_ARROW_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

#: the 31-word vocabulary every sf0.1 ``documents.text`` is drawn from
SF_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
SF_LANGS = ["en", "zh", "es", "fr", "de"]
SF_LANG_WEIGHTS = [0.41, 0.15, 0.15, 0.15, 0.14]
SF_SOURCES = 20
SF_MIN_WORDS, SF_MAX_WORDS = 10, 100

#: share of documents held back from the base build and ingested as the delta
DELTA_FRAC = 0.02


def write_pages(rows: list[dict], path: str) -> None:
    """One single-file, single-row-group parquet pages table — the layout
    a crawl shard arrives in.  ``synthetic_pages_rows`` leaves ``text``
    NULL, so every row goes through HTML extraction."""
    table = pa.Table.from_pylist(rows, schema=PAGES_ARROW_SCHEMA)
    pq.write_table(table, path, row_group_size=max(1, len(rows)))


def sf_documents(n: int, seed: int) -> list[dict]:
    """sf0.1-shaped ``documents`` rows: uniform draws from the 31-word
    vocabulary, 10-100 words each."""
    rng = random.Random(f"documents:{seed}")
    docs = []
    for doc_id in range(n):
        words = rng.choices(SF_VOCAB, k=rng.randint(SF_MIN_WORDS, SF_MAX_WORDS))
        text = " ".join(words)
        docs.append(
            {
                "doc_id": doc_id,
                "text": text,
                "lang": rng.choices(SF_LANGS, SF_LANG_WEIGHTS)[0],
                "source": f"src{rng.randrange(SF_SOURCES)}",
                "n_chars": len(text),
            }
        )
    return docs


def split_delta(docs: list[dict], seed: int) -> tuple[list[dict], list[dict]]:
    """(base, delta): a seeded ``DELTA_FRAC`` sample of documents arrives
    after the base build; its doc ids are scattered, not a tail."""
    rng = random.Random(f"delta:{seed}")
    k = max(1, round(len(docs) * DELTA_FRAC))
    delta_ids = set(rng.sample(range(len(docs)), k))
    base = [d for d in docs if d["doc_id"] not in delta_ids]
    delta = [d for d in docs if d["doc_id"] in delta_ids]
    return base, delta


def write_documents(docs: list[dict], sf_dir: str) -> None:
    """``<sf_dir>/documents.parquet`` in the sf-level ``documents`` schema,
    the input of ``pages_from_documents``."""
    os.makedirs(sf_dir, exist_ok=True)
    table = pa.table(
        {
            "doc_id": pa.array([d["doc_id"] for d in docs], pa.int64()),
            "text": [d["text"] for d in docs],
            "lang": [d["lang"] for d in docs],
            "source": [d["source"] for d in docs],
            "n_chars": pa.array([d["n_chars"] for d in docs], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"))


def document_page_rows(docs: list[dict]) -> list[dict]:
    """The rows ``pages_from_documents`` derives, in the shape
    ``reference_oracle.run`` reads (pre-extracted text wins over html)."""
    return [
        {"url": f"https://example.org/doc/{d['doc_id']}", "text": d["text"], "html": None}
        for d in docs
    ]
