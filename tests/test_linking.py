import pytest
from pyspark.sql import functions as F

from deepie_spark.operators.extract import stage_texts
from deepie_spark.operators.linking import (
    alias_dim_with_key,
    detect_mentions,
    link_triples,
    norm_key_udf,
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


ALIAS_DDL = "alias string, canonical_id bigint, entity_type string, weight double"


def _window_alias_dim(alias_df, bc):
    """The dimension as a Spark plan keys it: ``norm_key_udf`` per alias
    row, then ``row_number`` over (weight desc, canonical_id asc) per
    key."""
    from pyspark.sql import Window

    w = Window.partitionBy("norm_key").orderBy(F.desc("weight"), F.asc("canonical_id"))
    return alias_df.withColumn("norm_key", norm_key_udf(bc)("alias")).withColumn(
        "link_rank", F.row_number().over(w)
    )


def _hostile_parity_aliases():
    from test_canonicalize import HOSTILE_ALIASES

    return HOSTILE_ALIASES + [
        # a null weight ranks below every number ...
        ("weightless", 30, "PER", None), ("weightless", 31, "PER", 0.1),
        # ... a NaN weight above every number, as Spark sorts it
        ("nan weight", 33, "PER", 5.0), ("nan weight", 32, "PER", float("nan")),
        # a null canonical_id first among equal weights
        ("tied", 41, "ORG", 1.0), ("tied", None, "ORG", 1.0),
        # null aliases key to null
        (None, 34, "PER", 1.0), (None, 35, "PER", 2.0),
        # exact duplicate rows
        ("solo", 20, "ORG", 1.0), ("bravo", 2, "PER", 0.5),
        ("weightless", 30, "PER", None),
    ]


@pytest.mark.parametrize("dictionary", ["synth", "hostile"])
def test_alias_dim_rank_parity_with_window(spark, bc, dictionary):
    """The driver-keyed dimension equals the Window-ranked one: the same
    (alias, canonical_id, norm_key) multiset and the same rank-1
    (norm_key, canonical_id) rows."""
    if dictionary == "synth":
        _, _, alias_df = corpus_dataframes(spark, 1)
    else:
        alias_df = spark.createDataFrame(_hostile_parity_aliases(), ALIAS_DDL)
    got = alias_dim_with_key(alias_df, bc)
    want = _window_alias_dim(alias_df, bc)
    assert got.columns == want.columns
    assert got.schema["link_rank"].dataType == want.schema["link_rank"].dataType

    def rows(dim, *cols):
        return sorted((tuple(r) for r in dim.select(*cols).collect()), key=repr)

    assert rows(got, "alias", "canonical_id", "norm_key") == rows(
        want, "alias", "canonical_id", "norm_key"
    )
    best_got = rows(got.where("link_rank = 1"), "norm_key", "canonical_id")
    assert best_got == rows(want.where("link_rank = 1"), "norm_key", "canonical_id")
    if dictionary == "hostile":
        best = {k: cid for k, cid in best_got}
        key = {a: " ".join(bc.value._alias_tokens(a))
               for a in ("weightless", "nan weight", "tied", "hub name")}
        assert best[key["weightless"]] == 31 and best[key["nan weight"]] == 32
        assert best[key["tied"]] is None and best[key["hub name"]] == 10
        assert best[None] == 35
