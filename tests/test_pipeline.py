"""Full pipeline: run, P/R vs gold, idempotent resume, CC merge of
shared-alias surfaces."""

import pytest
from pyspark.sql import functions as F

from deepie_spark.operators import metrics as M
from deepie_spark.operators.linking import page_mentions_py
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

    pages = pages_df.select("url", "text").collect()
    got = sorted(key(r["url"], r) for r in pipe.lake.read("triples").collect())
    want = sorted(
        key(p["url"], t) for p in pages for t in extractor.extract_page_py(p["text"])
    )
    assert got == want and len(want) > 0

    # and the committed mentions stage is exactly the single-row trie
    # oracle, page by page
    got = sorted(tuple(r) for r in pipe.lake.read("mentions").collect())
    want = sorted(
        r for p in pages for r in page_mentions_py(extractor, p["url"], p["text"])
    )
    assert got == want and len(want) > 0

    kg = pipe.lake.read("kg_triples")
    prf = M.micro_prf(M.triple_counts(kg, gold_df)).first()
    assert prf["precision"] >= 0.95 and prf["recall"] >= 0.95, dict(prf.asDict())

    # resume: second run with same run_id skips every stage and the
    # MERGE is idempotent (same triple keys -> same row count)
    n_before = kg.count()
    res2 = pipe.run(pages_df, alias_df)
    assert set(res2.stages_skipped) >= {"texts", "mentions", "triples", "linked"}
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
    """kg_entities equals a union-find oracle over the alias rows: two
    aliases of one canonical_id share a cluster, a committed surface
    joins the cluster of the alias node it equals, and a surface no
    alias matches is its own cluster."""
    from deepie_spark.operators.linking import alias_dim_with_key

    pages_df, _, alias_df = corpus_dfs
    root = tmp_path_factory.mktemp("lake3")
    pipe = KgPipeline(spark, str(root), extractor, run_id="r1")
    pipe.run(pages_df, alias_df)

    alias_rows = (
        alias_dim_with_key(alias_df, pipe.extractor_bc)
        .select(F.xxhash64("norm_key").alias("node"), "canonical_id")
        .collect()
    )
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            x = parent[x]
        return x

    by_cid = {}
    for r in alias_rows:
        find(r["node"])
        by_cid.setdefault(r["canonical_id"], []).append(r["node"])
    for nodes in by_cid.values():
        for n in nodes[1:]:
            a, b = find(nodes[0]), find(n)
            parent[max(a, b)] = min(a, b)
    best = {}
    for r in alias_rows:
        c = find(r["node"])
        best[c] = min(best.get(c, r["canonical_id"]), r["canonical_id"])

    want, moved = {}, 0
    for r in pipe.lake.read("entity_clusters").collect():
        c = find(r["node"]) if r["node"] in parent else r["node"]
        moved += c != r["node"]
        cid, n = want.get(c, (best.get(c), 0))
        want[c] = (cid, n + 1)
    ents = pipe.lake.read("kg_entities")
    got = {
        r["component"]: (r["canonical_id"], r["n_surfaces"])
        for r in ents.collect()
    }
    assert got == want
    # not vacuous: some surfaces join a cluster rooted at another alias
    # node, and clusters with and without a dictionary id both occur
    assert moved > 0
    assert {cid is None for cid, _ in got.values()} == {True, False}
    assert ents.filter(F.col("representative").isNull()).count() == 0


def test_resume_does_not_read_alias_dictionary(spark, extractor, tmp_path):
    """A resume over a finished run skips linked and entity_clusters, so
    it keys no dictionary: it succeeds after the files behind alias_df
    are gone."""
    import shutil

    pages_df, _, alias_df = corpus_dataframes(spark, 20)
    alias_path = str(tmp_path / "aliases")
    alias_df.write.parquet(alias_path)
    aliases = spark.read.parquet(alias_path)
    pipe = KgPipeline(spark, str(tmp_path / "lake"), extractor, run_id="r1")
    pipe.run(pages_df, aliases)
    shutil.rmtree(alias_path)

    res = pipe.run(pages_df, aliases, resume=True)
    assert {"linked", "entity_clusters"} <= set(res.stages_skipped)
    assert res.stages_run == ["kg_triples", "kg_entities"]
