"""Mid-crawl resume (kill at stage k) and hub-entity salting
equality (SURVEY.md §5 test plan items 5-6)."""

import pytest

from deepie_spark.operators import extract as ex_ops
from deepie_spark.operators.skew import salted_count
from deepie_spark.plans.pipeline import KgPipeline
from deepie_spark.sources.synth import corpus_dataframes

STAGES = ["texts", "mentions", "triples", "linked", "entity_clusters"]
KG_TABLES = ["kg_triples", "kg_entities"]


@pytest.fixture(scope="module")
def crash_corpus(spark):
    return corpus_dataframes(spark, 80)


@pytest.fixture(scope="module")
def uninterrupted(spark, extractor, crash_corpus, tmp_path_factory):
    """kg_triples keys and kg_entities rows of one uninterrupted run."""
    pages_df, _, alias_df = crash_corpus
    ref = KgPipeline(spark, str(tmp_path_factory.mktemp("ref")), extractor, run_id="r1")
    res = ref.run(pages_df, alias_df)
    assert res.stages_run == STAGES + KG_TABLES
    return _kg_state(ref.lake)


def _kg_state(lake):
    keys = {r["triple_key"] for r in lake.read("kg_triples").collect()}
    entities = sorted(tuple(r) for r in lake.read("kg_entities").collect())
    return keys, entities


@pytest.mark.parametrize("killed", STAGES + KG_TABLES)
def test_resume_after_partial_crash(
    spark, extractor, crash_corpus, uninterrupted, tmp_path, monkeypatch, killed
):
    """A job killed while committing stage or MERGE k (its data and
    lineage written, its pointer not swapped): a fresh pipeline with the
    same run_id skips the stages before k, runs k and every later stage,
    MERGEs both kg tables again, and ends with the kg tables of an
    uninterrupted run."""
    pages_df, _, alias_df = crash_corpus
    root = str(tmp_path / "lake")
    crashed = KgPipeline(spark, root, extractor, run_id="r1")
    commit = crashed.lake._commit

    def kill_at(name, version):
        if name == killed:
            raise RuntimeError(f"killed before committing {name}")
        commit(name, version)

    monkeypatch.setattr(crashed.lake, "_commit", kill_at)
    with pytest.raises(RuntimeError, match="killed before committing"):
        crashed.run(pages_df, alias_df)

    # resume with a NEW pipeline object (fresh process semantics)
    resumed = KgPipeline(spark, root, extractor, run_id="r1")
    res = resumed.run(pages_df, alias_df, resume=True)
    k = (STAGES + KG_TABLES).index(killed)
    assert res.stages_skipped == STAGES[:k]
    assert res.stages_run == STAGES[k:] + KG_TABLES

    keys, entities = _kg_state(resumed.lake)
    assert keys == uninterrupted[0] and len(keys) > 0
    assert entities == uninterrupted[1] and len(entities) > 0

    # lineage recorded per-partition rows for every committed stage
    parts = resumed.lake.lineage_parts()
    stages = {r["stage"] for r in parts.select("stage").distinct().collect()}
    assert set(STAGES + KG_TABLES) <= stages


def test_hub_entity_salted_counts_equal_plain(spark, extractor, world):
    """The hub-heavy corpus: salted two-phase counts over extracted
    subjects == plain groupBy counts (output equality under skew
    handling)."""
    pages_df, _, _ = corpus_dataframes(spark, 150)
    bc = spark.sparkContext.broadcast(extractor)
    triples = ex_ops.extract_triples_fused(pages_df, bc).cache()
    plain = {
        (r["subject"],): r["count"]
        for r in triples.groupBy("subject").count().collect()
    }
    salted = {
        (r["subject"],): r["count"]
        for r in salted_count(triples, ["subject"], n_salts=16).collect()
    }
    assert salted == plain
    # hubs really are hubs: the top subject appears far more than median
    counts = sorted(plain.values())
    assert counts[-1] >= 5
