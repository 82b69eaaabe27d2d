"""Full pipeline: run, P/R vs gold, idempotent resume, CC merge of
shared-alias surfaces."""

import pytest
from pyspark.sql import functions as F

from deepie_spark.operators import metrics as M
from deepie_spark.plans.pipeline import KgPipeline
from deepie_spark.sources.synth import corpus_dataframes

N = 120


@pytest.fixture(scope="module")
def corpus_dfs(spark):
    return corpus_dataframes(spark, N)


def test_pipeline_end_to_end_and_resume(spark, extractor, corpus_dfs, tmp_path_factory):
    pages_df, gold_df, alias_df = corpus_dfs
    root = tmp_path_factory.mktemp("lake")
    pipe = KgPipeline(spark, str(root), extractor, run_id="r1")

    res1 = pipe.run(pages_df, alias_df)
    assert "triples" in res1.stages_run and not res1.stages_skipped

    # the committed triples stage is exactly the single-row oracle,
    # page by page
    def key(url, t):
        return (url, t["subject"], t["predicate"],
                tuple(sorted(dict(t["object"]).items())))

    got = sorted(key(r["url"], r) for r in pipe.lake.read("triples").collect())
    want = sorted(
        key(p["url"], t)
        for p in pages_df.select("url", "text").collect()
        for t in extractor.extract_page_py(p["text"])
    )
    assert got == want and len(want) > 0

    kg = pipe.lake.read("kg_triples")
    prf = M.micro_prf(M.triple_counts(kg, gold_df)).first()
    assert prf["precision"] >= 0.95 and prf["recall"] >= 0.95, dict(prf.asDict())

    # resume: second run with same run_id skips every stage and the
    # MERGE is idempotent (same triple keys -> same row count)
    n_before = kg.count()
    res2 = pipe.run(pages_df, alias_df)
    assert set(res2.stages_skipped) >= {"texts", "tokens", "triples", "linked"}
    assert pipe.lake.read("kg_triples").count() == n_before


def test_pipeline_incremental_merge(spark, extractor, corpus_dfs, tmp_path_factory):
    pages_df, gold_df, alias_df = corpus_dfs
    root = tmp_path_factory.mktemp("lake2")
    first = pages_df.limit(60)
    pipe1 = KgPipeline(spark, str(root), extractor, run_id="crawl1")
    pipe1.run(first, alias_df)
    n1 = pipe1.lake.read("kg_triples").count()

    pipe2 = KgPipeline(spark, str(root), extractor, run_id="crawl2")
    pipe2.run(pages_df, alias_df)  # includes the first 60 again
    n2 = pipe2.lake.read("kg_triples").count()
    assert n2 >= n1
    # no duplicate triple keys after the second MERGE
    dup = (
        pipe2.lake.read("kg_triples")
        .groupBy("triple_key").count().filter("count > 1").count()
    )
    assert dup == 0


def test_entities_table_clusters(spark, extractor, corpus_dfs, tmp_path_factory):
    pages_df, _, alias_df = corpus_dfs
    root = tmp_path_factory.mktemp("lake3")
    pipe = KgPipeline(spark, str(root), extractor, run_id="r1")
    pipe.run(pages_df, alias_df)
    ents = pipe.lake.read("kg_entities")
    assert ents.count() > 0
    # every cluster has a representative; clusters with dictionary hits
    # carry a canonical_id
    assert ents.filter(F.col("representative").isNull()).count() == 0


def test_pipeline_durable_cc_snapshots(spark, extractor, corpus_dfs, tmp_path_factory):
    """durable_cc=True routes canonicalization's CC rounds through
    parquet snapshots under the lake (driver-loss resume mid-CC);
    clusters must equal the default localCheckpoint run."""
    import os

    pages_df, _gold, alias_df = corpus_dfs
    root_a = tmp_path_factory.mktemp("lake_cc_a")
    root_b = tmp_path_factory.mktemp("lake_cc_b")
    pa = KgPipeline(spark, str(root_a), extractor, run_id="cc1")
    pb = KgPipeline(spark, str(root_b), extractor, run_id="cc1", durable_cc=True)
    pa.run(pages_df, alias_df, resume=False)
    pb.run(pages_df, alias_df, resume=False)

    a = {
        (r["norm_key"], r["component"])
        for r in pa.lake.read("entity_clusters").collect()
    }
    b = {
        (r["norm_key"], r["component"])
        for r in pb.lake.read("entity_clusters").collect()
    }
    assert a == b
    state = os.path.join(str(root_b), "_cc_state", "cc1")
    rounds = [d for d in os.listdir(state) if d.startswith("round_")]
    assert rounds  # snapshots really landed in the lake
