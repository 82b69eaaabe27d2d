import time

import pytest
from pyspark.sql import functions as F
from test_lakehouse import _assert_lineage_matches

from deepie_spark.sources.lakehouse import Lakehouse
from deepie_spark.sources.synth import corpus_dataframes
from deepie_spark.streaming.ingest import stream_pages_to_kg, windowed_event_counts


def test_stream_pages_to_kg(spark, extractor, tmp_path):
    pages_df, gold_df, _ = corpus_dataframes(spark, 60)
    src = tmp_path / "pages_src"
    pages_df.write.parquet(str(src))

    stream = spark.readStream.schema(pages_df.schema).parquet(str(src))
    bc = spark.sparkContext.broadcast(extractor)
    q = stream_pages_to_kg(
        spark, stream, bc, str(tmp_path / "lake"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    lake = Lakehouse(tmp_path / "lake", spark)
    kg = lake.read("kg_triples")
    n = kg.count()
    assert n > 0
    # restart the stream over the same source: checkpoint + MERGE keep
    # it idempotent
    stream2 = spark.readStream.schema(pages_df.schema).parquet(str(src))
    q2 = stream_pages_to_kg(
        spark, stream2, bc, str(tmp_path / "lake"), str(tmp_path / "ckpt")
    )
    q2.awaitTermination(120)
    assert lake.read("kg_triples").count() == n
    # a streaming MERGE version records the same lineage as a batch stage
    _assert_lineage_matches(lake, "kg_triples")


def test_windowed_event_counts_batch_semantics(spark):
    # windowed agg checked on the batch equivalent (same expression
    # tree works in streaming; watermark only drops late rows)
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = out.agg(F.sum("n")).first()[0]
    assert total == events.count()


def test_stateful_user_progress(spark, tmp_path):
    from deepie_spark.streaming.ingest import stateful_user_progress

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = tmp_path / "ev_state"
    events.write.parquet(str(src))
    stream = spark.readStream.schema(events.schema).parquet(str(src))
    out = stateful_user_progress(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("userprog")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 6))
        for r in spark.sql(
            "select user_id, max(n_events) n_events, max(total_value) total_value "
            "from userprog group by user_id"
        ).collect()
    }
    want = {
        r["user_id"]: (r["n"], round(r["s"], 6))
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == want


def test_windowed_event_counts_streaming(spark, tmp_path):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = tmp_path / "ev"
    events.limit(500).write.parquet(str(src))
    stream = spark.readStream.schema(events.schema).parquet(str(src))
    agg = windowed_event_counts(stream, "1 hour", "2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("evcounts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select sum(n) from evcounts").first()[0]
    assert got == 500


def test_streaming_dedup_candidates_cross_batch(spark, tmp_path):
    """Near-dup pairs must form ACROSS micro-batches (the state, not
    the batch, is the comparison set): doc 100 arrives in batch 1,
    its near-identical twin 200 in batch 2 — the pair must still be
    emitted.  maxFilesPerTrigger=1 forces one micro-batch per file."""
    from deepie_spark.streaming.ingest import streaming_dedup_candidates

    base = "the quick brown fox jumps over the lazy dog " * 6
    b1 = [(100, base), (101, "completely unrelated text about shuffles " * 5)]
    b2 = [(200, base + "tail"), (201, "another distinct document entirely " * 5)]
    src = tmp_path / "docs_stream"
    schema = "doc_id bigint, text string"
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(str(src))
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = streaming_dedup_candidates(stream, n_hashes=16, n_bands=8)
    q = (
        out.writeStream.format("memory")
        .queryName("streamdedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    pairs = {
        (r["a"], r["b"])
        for r in spark.sql("select a, b from streamdedup").collect()
    }
    assert (100, 200) in pairs  # cross-batch near-dup found via state
    assert (100, 101) not in pairs and (201, 200) not in pairs


def test_streaming_dedup_hot_bucket_cap_bounds_state(spark, tmp_path):
    """A degenerate stream (hundreds of identical docs) must stop
    emitting pairs AND stop growing state at max_bucket — bounded
    state store, linear output (the streaming twin of the batch
    lsh_candidate_pairs cap)."""
    from deepie_spark.streaming.ingest import streaming_dedup_candidates

    cap = 10
    rows = [(i, "identical degenerate text everywhere") for i in range(300)]
    src = tmp_path / "hot_stream"
    spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(1).write.parquet(str(src))
    stream = spark.readStream.schema("doc_id bigint, text string").parquet(str(src))
    out = streaming_dedup_candidates(stream, n_hashes=8, n_bands=4, max_bucket=cap)
    q = (
        out.writeStream.format("memory")
        .queryName("hotdedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    n = spark.sql("select count(*) n from hotdedup").first()["n"]
    # per band at most cap*(cap-1)/2 pairs; 4 bands -> bounded, not 300^2/2
    assert 0 < n <= 4 * cap * (cap - 1) // 2


def test_streaming_dedup_replayed_doc_idempotent(spark, tmp_path):
    """A doc_id that reappears (re-crawled URL / replayed micro-batch)
    must not pair against its own earlier bucket entry — no degenerate
    (d, d) self-pair, the a < b invariant holds — and must not be
    appended to state twice (which would double-count every future
    pair: a later doc would emit duplicate (a, b) rows WITHIN one
    band)."""
    from deepie_spark.streaming.ingest import streaming_dedup_candidates

    base = "the quick brown fox jumps over the lazy dog " * 6
    schema = "doc_id bigint, text string"
    src = tmp_path / "replay_stream"
    batches = [
        [(100, base)],
        [(100, base), (200, base + "tail")],  # 100 replayed
        [(300, base + " coda")],
    ]
    for b in batches:
        spark.createDataFrame(b, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = streaming_dedup_candidates(stream, n_hashes=16, n_bands=8)
    q = (
        out.writeStream.format("memory")
        .queryName("replaydedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("select a, b, band_id from replaydedup").collect()
    assert all(r["a"] < r["b"] for r in rows)  # no (d, d) self-pairs
    pairs = {(r["a"], r["b"]) for r in rows}
    assert (100, 200) in pairs and (100, 300) in pairs
    # single state entry per doc: (a, b) unique within each band
    keys = [(r["a"], r["b"], r["band_id"]) for r in rows]
    assert len(keys) == len(set(keys))


def _kg_state(spark, lake_root):
    lake = Lakehouse(lake_root, spark)
    rows = lake.read("kg_triples").select(
        "url", "subject", "predicate", "triple_key"
    ).collect()
    return sorted((r["url"], r["subject"], r["predicate"], r["triple_key"]) for r in rows)


@pytest.mark.parametrize("crash_point", ["after_sink", "torn_commit"])
def test_stream_failure_injection_replay_exactly_once(
    spark, extractor, tmp_path, monkeypatch, crash_point
):
    """Exactly-once evidence for the streaming MERGE: kill the job
    mid-batch at the two nastiest windows and prove checkpoint replay
    converges to the SAME kg state as an uninterrupted run.

    - after_sink: the merge committed but the handler dies before
      Spark's checkpoint commit -> the batch is REPLAYED and merged a
      second time; triple_key upsert must be idempotent.
    - torn_commit: the merge dies after writing the v=N directory and
      its lineage but before the pointer commit -> the retry must
      overwrite the orphaned version dir and re-derive the same state."""
    from deepie_spark.streaming import ingest

    pages_df, _, _ = corpus_dataframes(spark, 60)
    src = tmp_path / "pages_src_fail"
    # two files -> two micro-batches under maxFilesPerTrigger=1
    pages_df.repartition(2).write.parquet(str(src))
    bc = spark.sparkContext.broadcast(extractor)

    def mk_stream():
        return (
            spark.readStream.schema(pages_df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )

    # reference: uninterrupted run
    q = stream_pages_to_kg(
        spark, mk_stream(), bc, str(tmp_path / "lake_ref"),
        str(tmp_path / "ckpt_ref"),
    )
    q.awaitTermination(180)
    want = _kg_state(spark, tmp_path / "lake_ref")
    assert want

    armed = {"crash": True}

    class FailingLake(Lakehouse):
        def merge_upsert(self, *a, **k):
            if crash_point == "after_sink":
                v = super().merge_upsert(*a, **k)
                if armed.pop("crash", None):
                    raise RuntimeError("injected: died after sink commit")
                return v
            return super().merge_upsert(*a, **k)

        def _commit(self, name, version):
            if crash_point == "torn_commit" and armed.pop("crash", None):
                raise RuntimeError("injected: died between write and pointer commit")
            return super()._commit(name, version)

    monkeypatch.setattr(ingest, "Lakehouse", FailingLake)
    lake_root, ck = str(tmp_path / "lake_f"), str(tmp_path / "ckpt_f")
    q = stream_pages_to_kg(spark, mk_stream(), bc, lake_root, ck)
    with pytest.raises(Exception, match="injected"):
        q.awaitTermination(180)
        q.processAllAvailable()
    # restart from the same checkpoint: the failed batch replays
    q2 = stream_pages_to_kg(spark, mk_stream(), bc, lake_root, ck)
    q2.awaitTermination(180)
    assert _kg_state(spark, lake_root) == want
