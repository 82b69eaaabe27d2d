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
-> broadcast; the mention stream is huge -> never shuffled here (each
page is tokenized and trie-matched in one mapInPandas over ``texts``);
the link join is broadcast so it adds no shuffle either.  Linking keeps
each surface's normalized key as a column of its output, so
canonicalization reads it instead of normalizing the surface again.
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


def alias_dim_with_key(alias_df: DataFrame, extractor_bc) -> DataFrame:
    """Alias dimension + norm_key + deterministic rank among candidates
    sharing a key (weight desc, canonical_id asc)."""
    from pyspark.sql import Window

    norm = norm_key_udf(extractor_bc)
    w = Window.partitionBy("norm_key").orderBy(
        F.desc("weight"), F.asc("canonical_id")
    )
    return (
        alias_df.withColumn("norm_key", norm("alias"))
        .withColumn("link_rank", F.row_number().over(w))
    )


def link_surfaces(
    surfaces_df: DataFrame, alias_dim: DataFrame, surface_col: str,
    extractor_bc,
) -> DataFrame:
    """Attach ``<surface_col>_norm_key`` and (canonical_id, entity_type)
    to a surface column via exact normalized-alias match; best candidate
    only.  Broadcast join — the big side never shuffles."""
    norm = norm_key_udf(extractor_bc)
    key = f"{surface_col}_norm_key"
    best = alias_dim.filter(F.col("link_rank") == 1).select(
        F.col("norm_key"),
        F.col("canonical_id").alias(f"{surface_col}_canonical_id"),
        F.col("entity_type").alias(f"{surface_col}_entity_type"),
    )
    return surfaces_df.withColumn(key, norm(surface_col)).join(
        F.broadcast(best), F.col(key) == best.norm_key, "left",
    ).drop("norm_key")


def link_triples(triples_df: DataFrame, alias_dim: DataFrame, extractor_bc) -> DataFrame:
    """Triples -> linked triples: subject_id and object_id (null for
    literals like dates/numbers), plus the ``NORM_KEY_COLS`` that
    ``canonicalize_entities`` reads."""
    out = link_surfaces(triples_df, alias_dim, "subject", extractor_bc)
    out = out.withColumn("object_value", F.col("object")["@value"])
    out = link_surfaces(out, alias_dim, "object_value", extractor_bc)
    return (
        out.withColumnRenamed("subject_canonical_id", "subject_id")
        .withColumnRenamed("object_value_canonical_id", "object_id")
        .drop("subject_entity_type", "object_value_entity_type")
    )
