"""Physical-plan audits: the plan properties that matter at 100 TB.

Each assertion pins a scale property: filters reach the parquet scan,
column pruning works, small dims broadcast, the fused extraction path
is shuffle-free, salted aggregation is two-phase.
"""

import pytest

import __spark_entry__ as em
from deepie_spark.operators.extract import extract_triples_fused
from deepie_spark.sources.synth import corpus_dataframes

SF = "/root/testdata/sf0.001"


def plan_of(df, mode: str = "formatted") -> str:
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def test_pricing_summary_pushdown_and_pruning(spark):
    p = plan_of(em.q_pricing_summary(spark, SF))
    assert "PushedFilters" in p and "l_shipdate" in p.split("PushedFilters", 1)[1][:200]
    # column pruning: unused columns never read
    read_schema = p.split("ReadSchema", 1)[1][:400]
    assert "l_partkey" not in read_schema and "l_suppkey" not in read_schema
    # partial aggregation before the exchange (map-side combine)
    assert "partial_sum" in p and "hashpartitioning" in p


def test_revenue_join_broadcasts_dims(spark):
    p = plan_of(em.q_revenue_by_nation(spark, SF))
    # every dim join broadcasts; no sort-merge shuffle join anywhere
    assert p.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in p
    # the fact table is scanned, not broadcast: BuildRight with lineitem
    # as the left (streamed) child of the innermost join
    assert "BuildRight" in p


def test_fused_extraction_is_shuffle_free(spark, extractor):
    pages_df, _, _ = corpus_dataframes(spark, 20)
    bc = spark.sparkContext.broadcast(extractor)
    p = plan_of(extract_triples_fused(pages_df, bc))
    assert "Exchange" not in p  # zero shuffles end-to-end
    assert "MapInPandas" in p
    # html/binary column pruned before the python stage
    assert "html" not in p.split("MapInPandas", 1)[0]


def test_extraction_scan_prunes_html_from_parquet(spark, extractor, tmp_path):
    pages_df, _, _ = corpus_dataframes(spark, 20)
    path = str(tmp_path / "pages")
    pages_df.write.parquet(path)
    bc = spark.sparkContext.broadcast(extractor)
    p = plan_of(extract_triples_fused(spark.read.parquet(path), bc))
    read_schema = p.split("ReadSchema", 1)[1][:300]
    assert "html" not in read_schema and "warc_ts" not in read_schema


def test_salted_count_is_two_phase(spark):
    p = plan_of(em.q_salted_source_counts(spark, SF))
    # partial agg on (key, salt), exchange, final agg on key
    assert p.count("HashAggregate") >= 2


def test_mention_alias_join_broadcasts(spark):
    p = plan_of(em.q_mention_candidates(spark, SF))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_build_vocab_no_single_partition_funnel(spark):
    """Global frequency ranking must NOT funnel every token through one
    partition: the two-phase rank keeps all exchanges partitioned
    (range/hash), with offsets joined from a broadcast K-row table."""
    p = plan_of(em.q_vocab_ranked(spark, SF))
    assert "Exchange SinglePartition" not in p
    assert "rangepartitioning" in p.lower()
    assert "BroadcastHashJoin" in p


def test_ner_spans_no_row_python_udf(spark):
    p = plan_of(em.q_ner_spans(spark, SF))
    assert "BatchEvalPython" not in p  # no row-at-a-time python UDF
    assert "MapInPandas" in p  # Arrow-batched kernel


def test_ann_topk_take_ordered_not_global_sort(spark):
    p = plan_of(em.q_ann_topk(spark, SF))
    assert "TakeOrderedAndProject" in p  # no full sort shuffle for top-k


def test_per_predicate_prf_is_single_join(spark):
    """The grouped metric must be ONE full-outer join + ONE grouped agg
    (the _tp_fp_fn pattern) — the old inner + two anti-join shape
    recomputed the pred-vs-gold join three times."""
    from deepie_spark.operators import metrics as M

    pred = spark.createDataFrame(
        [("u1", "s", "p1", {"@value": "o"})],
        "url string, subject string, predicate string, object map<string,string>",
    )
    gold = spark.createDataFrame(
        [("u1", "s", "p2", {"@value": "o"})],
        "url string, subject string, predicate string, object map<string,string>",
    )
    plan = (
        M.per_predicate_prf(pred, gold)
        ._jdf.queryExecution().executedPlan().toString()
    )
    joins = plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") \
        + plan.count("ShuffledHashJoin") + plan.count("BroadcastNestedLoopJoin")
    assert joins == 1, plan
    assert "FullOuter" in plan, plan


def test_badcases_is_single_join(spark):
    from deepie_spark.operators import metrics as M

    pred = spark.createDataFrame(
        [("u1", "s", "p1", {"@value": "o"})],
        "url string, subject string, predicate string, object map<string,string>",
    )
    gold = spark.createDataFrame(
        [("u1", "s", "p2", {"@value": "o"})],
        "url string, subject string, predicate string, object map<string,string>",
    )
    plan = M.badcases(pred, gold)._jdf.queryExecution().executedPlan().toString()
    joins = plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") \
        + plan.count("ShuffledHashJoin") + plan.count("BroadcastNestedLoopJoin")
    assert joins == 1, plan
    assert "FullOuter" in plan, plan


def test_encoder_grids_shuffle_free(spark):
    """The weight-artifact verification pass is one mapInPandas over
    pages: zero shuffles, broadcast tensors only."""
    p = plan_of(em.q_encoder_grids(spark, SF))
    assert "Exchange" not in p
    assert "MapInPandas" in p


def test_neural_ner_no_key_shuffle_and_pruned(spark):
    """TENER NER: one mapInPandas pass with no KEY shuffle anywhere
    (the only Exchange is the test-scale round-robin spread of the
    single small parquet file, which disappears at production split
    counts — see _docs), and the parquet scan reads only
    (doc_id, text)."""
    p = plan_of(em.q_neural_ner(spark, SF))
    assert "MapInPandas" in p
    assert "hashpartitioning" not in p and "rangepartitioning" not in p
    read_schema = p.split("ReadSchema", 1)[1][:300]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "embedding" not in read_schema and "n_chars" not in read_schema


def test_jaccard_verify_stage_no_generate(spark):
    """dedup_clusters' verify stage: candidates-given Jaccard is
    pair-local — the verify plan may explode band ids (LSH), but the
    Jaccard step built on the candidates has no gram-keyed join (see
    test_dedup for the operator-level test).  Here we pin that the
    verify step, built the way dedup_clusters builds it, really runs
    array_intersect with no CartesianProduct; and that the final
    dedup_clusters plan re-runs neither the signature kernel nor the
    verify: connected_components reads its edges once, into its
    round-0 cut, so the final plan reads only the cut."""
    from deepie_spark.operators.dedup import lsh_dedup_pairs, ngram_jaccard_pairs

    docs = em._docs(spark, SF)
    pairs = lsh_dedup_pairs(
        docs, n_hashes=8, shingle_k=5, n_bands=4, max_bucket=256
    )
    verify = plan_of(
        ngram_jaccard_pairs(docs, n=2, threshold=0.8, candidates=pairs)
    )
    assert "CartesianProduct" not in verify
    assert "BroadcastNestedLoopJoin" not in verify
    assert "array_intersect" in verify  # the pair-local verify really runs

    p = plan_of(em.q_dedup_clusters(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "MapInPandas" not in p  # no signature recompute
    assert "array_intersect" not in p  # no verify recompute


def test_mentions_is_one_kernel_over_texts(spark, extractor, tmp_path):
    """Mention detection tokenizes its pages itself: over a texts scan
    it plans as exactly one MapInPandas and no shuffle."""
    from deepie_spark.operators.extract import stage_texts
    from deepie_spark.operators.linking import detect_mentions
    from deepie_spark.sources.lakehouse import Lakehouse

    pages_df, _, _ = corpus_dataframes(spark, 20)
    lake = Lakehouse(tmp_path / "lake", spark)
    lake.write_stage(stage_texts(pages_df), "texts")
    bc = spark.sparkContext.broadcast(extractor)
    plan = (
        detect_mentions(lake.read("texts"), bc)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("MapInPandas") == 1, plan
    assert "Exchange" not in plan, plan


def test_entity_clusters_runs_no_python(spark, extractor, tmp_path):
    """entity_clusters, built as the pipeline builds it over a committed
    linked table, reads the normalized keys linking already stored:
    no Python node of any kind over the triple rows."""
    from deepie_spark.operators.canonicalize import canonicalize_entities
    from deepie_spark.operators.linking import alias_dim_with_key, link_triples
    from deepie_spark.sources.lakehouse import Lakehouse

    pages_df, _, alias_df = corpus_dataframes(spark, 20)
    lake = Lakehouse(tmp_path / "lake", spark)
    bc = spark.sparkContext.broadcast(extractor)
    alias_dim = alias_dim_with_key(alias_df, bc)
    linked = link_triples(extract_triples_fused(pages_df, bc), alias_dim, bc)
    lake.write_stage(linked, "linked")
    p = plan_of(canonicalize_entities(lake.read("linked"), alias_dim))
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert node not in p, node
    read_schema = p.split("ReadSchema", 1)[1][:200]
    assert "norm_key" in read_schema and "subject:" not in read_schema


def test_linked_keys_triples_in_one_python_pass(spark, extractor, tmp_path):
    """linked, built over a committed triples scan: both surface keys in
    one Python pass over the triple rows, and the alias dimension keyed
    on the driver, so its broadcast sides are local scans with no
    Window, no shuffle and no Python."""
    from deepie_spark.operators.linking import alias_dim_with_key, link_triples
    from deepie_spark.sources.lakehouse import Lakehouse

    pages_df, _, alias_df = corpus_dataframes(spark, 20)
    lake = Lakehouse(tmp_path / "lake", spark)
    bc = spark.sparkContext.broadcast(extractor)
    lake.write_stage(extract_triples_fused(pages_df, bc), "triples")
    linked = link_triples(lake.read("triples"), alias_dim_with_key(alias_df, bc), bc)
    plan = linked._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "Window" not in plan, plan
    assert plan.count("BroadcastExchange") == 2, plan
    assert plan.count("Exchange") == 2, plan  # the two broadcasts only
    for side in plan.split("BroadcastExchange")[1:]:
        assert side.split("\n")[1].lstrip(" :").startswith("+- LocalTableScan"), side


def test_alias_components_launches_no_spark_job(spark, extractor):
    """The entity graph is solved from the driver-keyed dimension with no
    Spark job."""
    from deepie_spark.operators.canonicalize import alias_components
    from deepie_spark.operators.linking import alias_dim_with_key

    _, _, alias_df = corpus_dataframes(spark, 1)
    alias_dim = alias_dim_with_key(alias_df, spark.sparkContext.broadcast(extractor))
    sc = spark.sparkContext
    sc.setJobGroup("alias_components_probe", "alias_components")
    try:
        comps = alias_components(alias_dim)
        assert sc.statusTracker().getJobIdsForGroup("alias_components_probe") == []
        spark.range(3).count()  # control: a job in the group is seen
        assert sc.statusTracker().getJobIdsForGroup("alias_components_probe")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert comps.count() > 0
