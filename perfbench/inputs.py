"""Seeded workload inputs, written as parquet with pyarrow.

The same seed gives the same rows.  Pages come from the library's own
synthetic crawl generator (``sources.synth.gen_corpus``) against the
fixed entity dictionary ``gen_world()``; documents for ``curate`` are
a seeded permutation of a fixed documents table.  Files are split ``n_files`` ways so a Spark scan
gets one task per file rather than one task for a single row group.
"""

from __future__ import annotations

import random
from datetime import timezone
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from deepie_spark.sources.synth import gen_corpus, gen_world

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])

DOCS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


def _write_split(table: pa.Table, path: Path, n_files: int) -> str:
    path.mkdir(parents=True, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, path / f"part-{i:04d}.parquet")
    return str(path)


def _pages_table(pages: list[dict]) -> pa.Table:
    return pa.table(
        {
            "url": [p["url"] for p in pages],
            "warc_ts": [p["warc_ts"].replace(tzinfo=timezone.utc) for p in pages],
            "html": [p["html"] for p in pages],
            "text": [p["text"] for p in pages],
            "lang": [p["lang"] for p in pages],
        },
        schema=PAGES_SCHEMA,
    )


def crawl(n_pages: int, seed: int) -> tuple[list[dict], list[dict]]:
    """(pages, gold) from the synthetic crawl."""
    pages, gold, _world = gen_corpus(n_pages, seed=seed, world=gen_world())
    return pages, gold


def write_pages(pages: list[dict], path: Path, n_files: int,
                copies: int = 1) -> str:
    """Pages parquet; ``copies > 1`` tiles the pages with distinct urls
    (``<url>#<k>``) to size a run without changing per-page work."""
    base = _pages_table(pages)
    if copies == 1:
        return _write_split(base, path, n_files)
    tiles = []
    for k in range(copies):
        urls = pa.array([f"{u}#{k}" for u in base.column("url").to_pylist()])
        tiles.append(base.set_column(0, "url", urls))
    return _write_split(pa.concat_tables(tiles), path, n_files)


# ---- documents for curate ---------------------------------------------------

# A byte-identical copy of the repository's sf0.1 ``documents`` test table
# (5,000 rows: doc_id, text, lang, source, n_chars), kept here because a
# run reads nothing outside its checkout.
DOCUMENTS = Path(__file__).resolve().parent / "data" / "documents.parquet"
DOCUMENTS_SHA256 = "d10b0da67e5aceb465e89365781dab5c69d3c62b64a8308398c6fd3fb09bcf82"


def documents(seed: int) -> pa.Table:
    """The documents table in a seeded row order.  The table is fixed
    test data, so the seed permutes it: every seed curates the same
    documents, laid out differently across files and partitions."""
    table = pq.read_table(DOCUMENTS)
    order = list(range(table.num_rows))
    random.Random(seed).shuffle(order)
    return table.take(pa.array(order))


def write_documents(table: pa.Table, path: Path, n_files: int) -> str:
    return _write_split(table, path, n_files)
