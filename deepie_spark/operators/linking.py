"""Entity mention detection + alias-dictionary linking.

The reference's lexicon-augmented NER path is the analogue: per
position, enumerate all gazetteer words prefixing the suffix
(trie.py:36-43 via functions.py:87-129), longest-first subsumption
dedup (data.py:236-249).  Its entity-linking module proper is an empty
placeholder (run/entity_linking/ is 0 bytes; SURVEY.md §0), so link
*scoring* is our design: exact normalized-surface match against the
alias dimension, ranked by alias weight then canonical_id — a
broadcast join, no UDF on the scoring side.

Scale notes: the alias dimension is small (millions of rows at most)
-> keyed once per run on the driver, which already holds every alias
in the broadcast extractor's trie, and kept as a local DataFrame, so
no consumer re-derives it and none needs a Spark job to read it; the
mention stream is huge -> never shuffled here (each page is tokenized
and trie-matched in one mapInPandas over ``texts``); linking keys both
surfaces of a triple in one Python pass and broadcast-joins the
dimension, so it adds no shuffle either.  Linking keeps each surface's
normalized key as a column of its output, so canonicalization reads it
instead of normalizing the surface again.  A blank key (an alias or
surface with no tokens) is null on both sides: it links nothing.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MENTIONS_DDL = (
    "url string, mention string, tok_start int, tok_end int, "
    "canonical_id bigint, entity_type string, weight double"
)
# the normalized surface keys link_triples keeps on its output
# (``<surface column>_norm_key``), read by canonicalize_entities
NORM_KEY_COLS = ("subject_norm_key", "object_value_norm_key")


def page_mentions_py(ex, url: str, text: str) -> list[tuple]:
    """Single-row mention oracle: tokenize the page, then
    longest-nonoverlapping trie matches with all candidate entities per
    span.  Shared verbatim by the distributed kernel and the driver-side
    fixture oracle, so the hash-check verifies the Spark plumbing
    against this exact code."""
    context, tokens, starts, ends = ex.tokenize_page(text)
    rows = []
    for s, e, _entry in ex.trie.match_longest_nonoverlap(tokens):
        surface = context[starts[s] : ends[e - 1] + 1]
        # all candidates at this span (shared aliases)
        for ee, entries in ex.trie.enumerate_matches(tokens, s):
            if ee != e:
                continue
            for cand in entries:
                rows.append((url, surface, s, e - 1,
                             cand.canonical_id, cand.entity_type,
                             cand.weight))
    return rows


def detect_mentions(texts_df: DataFrame, extractor_bc) -> DataFrame:
    """(url, text) pages -> one row per longest-nonoverlapping alias match.

    Emits (url, mention surface, token span, candidate canonical_id,
    entity_type, weight); a surface with k candidate entities emits k
    rows (link scoring picks one downstream).  One pass: each page is
    tokenized inside the kernel, so no token table is materialized.
    """

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ex = extractor_bc.value
        cols = ["url", "mention", "tok_start", "tok_end", "canonical_id",
                "entity_type", "weight"]
        for pdf in it:
            rows = []
            for url, text in zip(pdf["url"], pdf["text"]):
                rows.extend(page_mentions_py(ex, url, text))
            yield pd.DataFrame(rows, columns=cols)

    return texts_df.select("url", "text").mapInPandas(kernel, MENTIONS_DDL)


def norm_key_udf(extractor_bc):
    """Surface form -> normalized link key: the token stream re-joined.

    Using the *same* tokenizer as page text guarantees alias and
    extracted-surface keys agree (the reference compares tokenized
    subjects/objects the same way, etl_span/train.py:21-38)."""

    def _norm(s: pd.Series) -> pd.Series:
        ex = extractor_bc.value
        return s.map(lambda x: " ".join(ex._alias_tokens(x)) if x is not None else None)

    return F.pandas_udf(_norm, "string")


def _rank_order(weight, canonical_id) -> tuple:
    """Sort key of the link rank, in the order Spark sorts
    ``weight desc, canonical_id asc``: weight descending with NaN above
    every number and nulls last, then canonical_id ascending with nulls
    first."""
    if weight is None:
        w = (2,)
    elif weight != weight:  # NaN
        w = (0,)
    else:
        w = (1, -weight)
    return w, (canonical_id is not None, canonical_id)


def alias_dim_with_key(alias_df: DataFrame, extractor_bc) -> DataFrame:
    """Alias dimension + norm_key + deterministic rank among candidates
    sharing a key (weight desc, canonical_id asc).

    Keyed once, on the driver: ``alias_df`` is collected (as Arrow) and
    every alias is keyed with the extractor's own ``_alias_tokens`` —
    the driver already holds the whole dictionary in the extractor's
    trie, built by that same call.  A blank alias keys to null, so it
    links nothing.  The result is a local DataFrame (a
    ``LocalTableScan``): consumers read and broadcast it with no Spark
    job and no Python worker, however many of them there are."""
    import pyarrow as pa
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    ex = extractor_bc.value
    table = alias_df.toArrow()
    keys = [
        None if a is None else " ".join(ex._alias_tokens(a)) or None
        for a in table.column("alias").to_pylist()
    ]
    order = [
        _rank_order(w, c)
        for w, c in zip(table.column("weight").to_pylist(),
                        table.column("canonical_id").to_pylist())
    ]
    by_key: dict = {}
    for i, k in enumerate(keys):
        by_key.setdefault(k, []).append(i)
    rank = [0] * len(keys)
    for rows in by_key.values():
        rows.sort(key=order.__getitem__)
        for r, i in enumerate(rows, 1):
            rank[i] = r
    table = table.append_column("norm_key", pa.array(keys, pa.string()))
    table = table.append_column("link_rank", pa.array(rank, pa.int32()))
    schema = StructType(alias_df.schema.fields + [
        StructField("norm_key", StringType()),
        StructField("link_rank", IntegerType(), False),
    ])
    return alias_df.sparkSession.createDataFrame(table, schema)


def link_triples(triples_df: DataFrame, alias_dim: DataFrame, extractor_bc) -> DataFrame:
    """Triples -> linked triples: subject_id and object_id (null for
    literals like dates/numbers), plus the ``NORM_KEY_COLS`` that
    ``canonicalize_entities`` reads.

    Both surface keys come from one projection, so the triple rows make
    one Python pass; a blank key becomes null (it links nothing, as on
    the alias side).  Each side then takes the best candidate of its
    key (``link_rank`` 1) by a broadcast join — the big side never
    shuffles."""
    norm = norm_key_udf(extractor_bc)
    subject_key, object_key = NORM_KEY_COLS
    keyed = (
        triples_df.withColumn("object_value", F.col("object")["@value"])
        .select(
            "*",
            norm("subject").alias(subject_key),
            norm("object_value").alias(object_key),
        )
        .withColumns({k: F.when(F.col(k) != "", F.col(k)) for k in NORM_KEY_COLS})
    )
    best = alias_dim.where(F.col("link_rank") == 1)

    def side(key: str, id_col: str) -> DataFrame:
        return F.broadcast(best.select(
            F.col("norm_key").alias(key), F.col("canonical_id").alias(id_col)
        ))

    return (
        keyed.join(side(subject_key, "subject_id"), subject_key, "left")
        .join(side(object_key, "object_id"), object_key, "left")
        .select(
            *triples_df.columns, subject_key, "subject_id",
            "object_value", object_key, "object_id",
        )
    )
