from pyspark.sql import functions as F

from deepie_spark.operators.skew import salted_count, salted_join, two_phase_agg


def _skewed(spark):
    hot = spark.range(5000).select(F.lit("hub").alias("k"), F.col("id").alias("v"))
    cold = spark.range(200).select(
        F.concat(F.lit("k"), F.col("id") % 20).alias("k"), F.col("id").alias("v")
    )
    return hot.union(cold)


def test_salted_count_equals_plain(spark):
    df = _skewed(spark)
    plain = {r["k"]: r["count"] for r in df.groupBy("k").count().collect()}
    salted = {r["k"]: r["count"] for r in salted_count(df, ["k"]).collect()}
    assert salted == plain


def test_two_phase_agg_sum(spark):
    df = _skewed(spark)
    plain = {r["k"]: r["s"] for r in df.groupBy("k").agg(F.sum("v").alias("s")).collect()}
    got = {
        r["k"]: r["s"]
        for r in two_phase_agg(
            df, ["k"],
            aggs={"ps": F.sum("v")},
            finals={"s": F.sum("ps")},
        ).collect()
    }
    assert got == plain


def test_salted_join_equals_plain(spark):
    fact = _skewed(spark)
    dim = spark.createDataFrame(
        [("hub", "H"), ("k3", "C3"), ("nope", "X")], "k string, label string"
    )
    plain = fact.join(dim, "k").groupBy("k", "label").count()
    salted = salted_join(fact, dim, "k").groupBy("k", "label").count()
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in salted.collect()}


def test_pipeline_hub_entity_skew(spark):
    """Hub-entity skew through the REAL pipeline operators, not the
    salting primitives in isolation: one page's entity dominates ~30%
    of all mentions in the corpus (a celebrity on a web crawl), then
    mentions -> salted counts -> link -> canonicalize must
    (a) stay value-correct and (b) keep the hot key's reducer input
    bounded — asserted on per-partition row counts of the salted
    partial aggregation, the stage where an unsalted plan funnels the
    hub's rows into ONE reducer."""
    from deepie_spark.config.schema import SYNTH_SCHEMA
    from deepie_spark.operators.canonicalize import canonicalize_entities
    from deepie_spark.operators.extract import PageExtractor, extract_triples_fused
    from deepie_spark.operators.linking import (
        alias_dim_with_key,
        detect_mentions,
        link_triples,
        page_mentions_py,
    )
    from deepie_spark.operators.skew import with_salt
    from deepie_spark.sources.synth import corpus_dataframes, gen_corpus, gen_world

    world = gen_world()
    ex = PageExtractor(SYNTH_SCHEMA, world.alias_rows)
    bc = spark.sparkContext.broadcast(ex)

    pages, _, _ = gen_corpus(300)
    hub_page, hub_cid = None, None
    for p in pages:
        ms = page_mentions_py(ex, p["url"], p["text"])
        if len(ms) >= 2:
            from collections import Counter

            hub_page = p
            hub_cid = Counter(m[4] for m in ms).most_common(1)[0][0]
            break
    assert hub_page is not None
    n_hub = 750  # ~30% of all mentions come from hub replicas
    rows = [(p["url"], p["lang"], p["text"]) for p in pages]
    rows += [
        (f"{hub_page['url']}#hub{i}", hub_page["lang"], hub_page["text"])
        for i in range(n_hub)
    ]
    df = spark.createDataFrame(rows, "url string, lang string, text string")

    mentions = detect_mentions(df, bc).cache()
    plain = {
        r["canonical_id"]: r["count"]
        for r in mentions.groupBy("canonical_id").count().collect()
    }
    got = {
        r["canonical_id"]: r["count"]
        for r in salted_count(mentions, ["canonical_id"]).collect()
    }
    assert got == plain  # salting never changes values
    total = sum(plain.values())
    assert plain[hub_cid] / total >= 0.25, (plain[hub_cid], total)

    # per-partition bound: the salted partial aggregation hands the
    # final reducer <= n_salts rows for the hub key (vs plain[hub_cid]
    # raw rows into one reducer unsalted), spread over several
    # partitions.  AQE's partition coalescing is disabled for THIS
    # measurement only — at test scale it folds the tiny shuffle into
    # one partition and would mask the spread the salt creates (at
    # production scale the partitions are nowhere near the coalesce
    # threshold).
    n_salts = 16
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(coalesce_key, "true")
    spark.conf.set(coalesce_key, "false")
    try:
        partial = (
            with_salt(mentions, n_salts)
            .groupBy("canonical_id", "_salt")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("pid", F.spark_partition_id())
            .where(F.col("canonical_id") == hub_cid)
            .collect()
        )
    finally:
        spark.conf.set(coalesce_key, old)
    assert 1 <= len(partial) <= n_salts
    assert sum(r["n"] for r in partial) == plain[hub_cid]
    assert len({r["pid"] for r in partial}) >= min(4, len(partial))
    # no single partial row (reducer input unit) carries the whole hub
    assert max(r["n"] for r in partial) <= plain[hub_cid] * 0.5

    # linking + canonicalization complete and stay value-correct under
    # the same skew (canonicalization joins distinct surface keys to
    # the dictionary's clusters, so the hub's rows never meet in one
    # reducer)
    _, _, alias_df = corpus_dataframes(spark, 10)
    alias_dim = alias_dim_with_key(alias_df, bc)
    triples = extract_triples_fused(df, bc)
    linked = link_triples(triples, alias_dim, bc)
    clusters = canonicalize_entities(linked, alias_dim).cache()
    assert clusters.count() == clusters.select("norm_key").distinct().count()
    hub_cluster = clusters.where(
        F.col("cluster_canonical_id") == hub_cid
    ).count()
    assert hub_cluster >= 1
    mentions.unpersist()
    clusters.unpersist()
