import pytest
from pyspark.sql import functions as F

from deepie_spark.operators.extract import stage_texts
from deepie_spark.operators.linking import (
    alias_dim_with_key,
    detect_mentions,
    link_triples,
)
from deepie_spark.sources.synth import corpus_dataframes


@pytest.fixture(scope="module")
def bc(spark, extractor):
    return spark.sparkContext.broadcast(extractor)


@pytest.fixture(scope="module")
def texts(spark):
    pages_df, _, _ = corpus_dataframes(spark, 80)
    return stage_texts(pages_df).cache()


def test_mentions_surface_matches_alias(texts, bc, world):
    rows = detect_mentions(texts, bc).collect()
    assert len(rows) > 50
    aliases = {a["alias"] for a in world.alias_rows}
    norm = {a.lower().replace(" ", "") for a in aliases}
    for r in rows[:200]:
        assert r["mention"].lower().replace(" ", "").replace("\xa0", "") in norm, r


def test_mentions_link_candidates_carry_ids(texts, bc, world):
    df = detect_mentions(texts, bc)
    ids = {a["canonical_id"] for a in world.alias_rows}
    got = {r["canonical_id"] for r in df.select("canonical_id").distinct().collect()}
    assert got <= ids and len(got) > 10


def test_alias_dim_rank_deterministic(spark, bc, world):
    _, _, alias_df = corpus_dataframes(spark, 1)
    dim = alias_dim_with_key(alias_df, bc)
    # exactly one rank-1 row per norm_key
    dup = (
        dim.filter(F.col("link_rank") == 1)
        .groupBy("norm_key").count().filter("count > 1").count()
    )
    assert dup == 0


def test_link_triples_subjects_resolve(spark, bc, extractor, world):
    pages_df, gold_df, alias_df = corpus_dataframes(spark, 60)
    from deepie_spark.operators.extract import extract_triples_fused

    triples = extract_triples_fused(pages_df, bc)
    dim = alias_dim_with_key(alias_df, bc)
    linked = link_triples(triples, dim, bc).cache()
    n = linked.count()
    assert n > 0
    # every subject is an alias by construction -> subject_id never null
    assert linked.filter(F.col("subject_id").isNull()).count() == 0
    # literal objects (dates/numbers) stay unlinked
    lit = linked.filter(F.col("object_value").rlike("^[0-9]+$"))
    if lit.count():
        assert lit.filter(F.col("object_id").isNotNull()).count() == 0
