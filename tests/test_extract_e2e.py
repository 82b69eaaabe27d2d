"""End-to-end extraction: oracle P/R vs planted gold, distributed ==
oracle (the per-url invariant), Arrow-batch invariance."""

import pytest

from deepie_spark.operators.extract import extract_triples_fused
from deepie_spark.sources.synth import corpus_dataframes, gen_corpus

N_PAGES = 250


def _key(url, sub, pred, obj_map):
    return (url, sub, pred, tuple(sorted(obj_map.items())))


@pytest.fixture(scope="module")
def corpus(world):
    return gen_corpus(N_PAGES, world=world)


def test_oracle_pr_vs_gold(corpus, extractor):
    pages, gold, _ = corpus
    gk = {_key(g["url"], g["subject"], g["predicate"], g["object"]) for g in gold}
    pk = set()
    for p in pages:
        for t in extractor.extract_page_py(p["text"]):
            pk.add(_key(p["url"], t["subject"], t["predicate"], t["object"]))
    tp = len(gk & pk)
    precision = tp / max(len(pk), 1)
    recall = tp / max(len(gk), 1)
    # north rule: P/R >= 0.95
    assert precision >= 0.95, (precision, sorted(pk - gk)[:5])
    assert recall >= 0.95, (recall, sorted(gk - pk)[:5])


def _collect_triples(df):
    return {
        _key(r["url"], r["subject"], r["predicate"], dict(r["object"]))
        for r in df.collect()
    }


def test_fused_equals_oracle(spark, corpus, extractor):
    pages, _, world = corpus
    pages_df, _, _ = corpus_dataframes(spark, N_PAGES)
    bc = spark.sparkContext.broadcast(extractor)
    got = _collect_triples(extract_triples_fused(pages_df, bc))
    want = set()
    for p in pages:
        for t in extractor.extract_page_py(p["text"]):
            want.add(_key(p["url"], t["subject"], t["predicate"], t["object"]))
    assert got == want


def test_arrow_batch_size_invariance(spark, extractor):
    """Padding/decode must not depend on Arrow batch boundaries
    (SURVEY.md §7 risk: test maxRecordsPerBatch in {1, 7, 1024})."""
    pages_df, _, _ = corpus_dataframes(spark, 40)
    bc = spark.sparkContext.broadcast(extractor)
    results = []
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    try:
        for n in ("1", "7", "1024"):
            spark.conf.set(key, n)
            results.append(_collect_triples(extract_triples_fused(pages_df, bc)))
    finally:
        if old is not None:
            spark.conf.set(key, old)
        else:
            spark.conf.unset(key)
    assert results[0] == results[1] == results[2]


def test_null_and_garbage_texts_flow_not_crash(spark, extractor):
    """A crawl WILL deliver null-text rows (failed html extraction),
    empty strings, and binary garbage; every per-row kernel must emit
    zero results for them, never kill the task."""
    from deepie_spark.operators.attributes import AttributeExtractor
    from deepie_spark.operators.extract import extract_triples_fused

    rows = [
        (f"u{i}", "en", t)
        for i, t in enumerate([None, "", "   ", "\x00\x01garbage\xff", "plain text"])
    ]
    df = spark.createDataFrame(rows, "url string, lang string, text string")
    bc = spark.sparkContext.broadcast(extractor)
    assert extract_triples_fused(df, bc).count() == 0  # no planted entities
    assert AttributeExtractor().extract_record_py(None) == []
    assert extractor.extract_page_py(None) == []


def test_fused_dedup_equals_plain_on_duplicated_corpus(spark, extractor):
    """extract_triples_fused_dedup must produce EXACTLY the plain fused
    output on a corpus where many urls share byte-identical text (the
    boilerplate-duplicate regime it optimizes for)."""
    import json

    from deepie_spark.operators.extract import (
        extract_triples_fused,
        extract_triples_fused_dedup,
    )
    from deepie_spark.sources.synth import gen_corpus

    pages, _, _ = gen_corpus(40)
    rows = [(p["url"], p["lang"], p["text"]) for p in pages]
    # replicate each text under 3 extra urls (boilerplate dups)
    rows += [
        (f"{p['url']}#copy{i}", p["lang"], p["text"])
        for p in pages[:20]
        for i in range(3)
    ]
    df = spark.createDataFrame(rows, "url string, lang string, text string")
    bc = spark.sparkContext.broadcast(extractor)

    def canon(out):
        return sorted(
            (r["url"], r["subject"], r["predicate"],
             json.dumps(dict(r["object"]), sort_keys=True))
            for r in out.collect()
        )

    assert canon(extract_triples_fused_dedup(df, bc)) == canon(
        extract_triples_fused(df, bc)
    )


def test_fused_dedup_plan_single_text_exchange(spark, extractor):
    """The dedup-extract plan must move the text payload through at
    most ONE exchange, keyed by the md5 digest — the old
    ``distinct()`` form hash-partitioned and compared on the raw text
    bytes (round-4 verdict #4).  The url->triple join's exchanges
    carry only (url, md5) and the small triple rows."""
    from deepie_spark.operators.extract import extract_triples_fused_dedup
    from deepie_spark.sources.synth import gen_corpus

    pages, _, _ = gen_corpus(30)
    df = spark.createDataFrame(
        [(p["url"], p["lang"], p["text"]) for p in pages],
        "url string, lang string, text string",
    )
    bc = spark.sparkContext.broadcast(extractor)
    out = extract_triples_fused_dedup(df, bc)
    plan = out._jdf.queryExecution().executedPlan().toString()
    exchanges_with_text = [
        seg for seg in plan.split("Exchange hashpartitioning")[1:]
        if "text#" in seg.split("\n")[0]
    ]
    assert len(exchanges_with_text) <= 1, plan
    # and the one text-bearing exchange is keyed on the digest (aliased
    # 'url'), not the raw text column
    for seg in exchanges_with_text:
        key = seg.split("\n")[0]
        assert not key.strip().startswith("(text#"), key
