"""Structured Streaming lift of the batch pipeline.

The reference has no streaming (SURVEY.md §2.10) and the north rule
needs batch passes + resumable checkpoints, not state stores — but a
streaming crawl ingest is the natural extension: the SAME stage
functions run inside ``foreachBatch``, with Spark's checkpoint dir
giving exactly-once per micro-batch and the lakehouse MERGE making
replays idempotent (triple_key upsert).

Also provides the standard watermark + tumbling-window aggregation
over the events table shape (late data handled by the watermark).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deepie_spark.operators.extract import extract_triples_fused
from deepie_spark.operators.metrics import obj_key
from deepie_spark.sources.lakehouse import Lakehouse


def stream_pages_to_kg(
    spark: SparkSession,
    pages_stream: DataFrame,
    extractor_bc,
    lake_root: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """pages stream -> fused extraction -> MERGE into kg_triples per
    micro-batch.  Returns the StreamingQuery.

    The MERGE is the pipeline's ``merge_upsert`` on ``triple_key``, so
    every micro-batch commits a ``kg_triples`` version with the same
    lineage as a batch stage: rows, fingerprint and per-file rows.
    Replays (checkpoint recovery re-delivering a micro-batch) stay
    idempotent: the same triple_key set upserts to the same state.  A
    ``kg_triples`` written by an older version of this module, whose
    MERGE hash-partitioned the table on an extra bucket column, does
    not union with the new rows: restart such an ingest under a new
    lake root."""
    lake = Lakehouse(lake_root, spark)

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        triples = extract_triples_fused(batch_df, extractor_bc)
        keyed = triples.withColumn("object_key", obj_key(F.col("object"))).withColumn(
            "triple_key",
            F.xxhash64("url", "subject", "predicate", "object_key"),
        )
        lake.merge_upsert(
            keyed, "kg_triples", ["triple_key"],
            run_id=f"stream-batch-{batch_id}",
        )

    writer = (
        pages_stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stateful_user_progress(events_stream: DataFrame):
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user running counters (event count, value sum, last seen ts)
    maintained across micro-batches — the state-store pattern the
    built-in windowed aggregates can't express (arbitrary per-key
    state + custom update logic)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, total, last = state.get if state.exists else (0, 0.0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            last = max(last, float(pdf["ts"].astype("int64").max() / 1e9))
        state.update((n, total, last))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return (
        events_stream.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id bigint, n_events bigint, total_value double",
            stateStructType="n bigint, total double, last double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_dedup_candidates(
    docs_stream: DataFrame,
    n_hashes: int = 8,
    shingle_k: int = 5,
    n_bands: int = 4,
    max_bucket: int = 64,
):
    """Streaming MinHash-LSH near-dup candidates with cross-batch
    state: every arriving document is checked against ALL previously
    seen documents (per LSH bucket), not just its own micro-batch —
    the dedup a live crawl actually needs.

    Plan: fast numpy signatures (stateless ``mapInPandas``) -> band
    hashes -> ``applyInPandasWithState`` keyed by (band_id, band_hash)
    holding each bucket's member doc-ids.  An arriving doc emits one
    candidate pair per existing member, then joins the bucket.

    Scale guards, same stance as the batch chain
    (``dedup.lsh_candidate_pairs``): bucket membership is capped at
    ``max_bucket`` — a degenerate bucket (10^6 identical docs) stops
    emitting pairs AND stops growing state (bounded state store);
    recall loss at the cap is the documented tradeoff, and exact-hash
    dedup owns the identical-doc regime.  Pairs can repeat across
    bands (the batch path's ``distinct``); dedup downstream or in the
    sink MERGE.  Output: append-mode (a, b, band_id) rows."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from deepie_spark.operators.dedup import lsh_bands, minhash_signatures_fast

    sig = minhash_signatures_fast(
        docs_stream, n_hashes=n_hashes, shingle_k=shingle_k
    )
    bands = lsh_bands(sig, n_bands=n_bands)

    def update(key, pdfs, state: GroupState):
        members = list(state.get[0]) if state.exists else []
        seen = set(members)
        out_a: list[int] = []
        out_b: list[int] = []
        for pdf in pdfs:
            for d in pdf["doc_id"]:
                d = int(d)
                if d in seen:
                    # re-crawled url / replayed micro-batch: the doc is
                    # already a bucket member — re-pairing it would emit
                    # a degenerate (d, d) self-pair (breaking the a < b
                    # invariant the batch path guarantees) and appending
                    # again would double-count every future pair
                    continue
                if len(members) >= max_bucket:
                    continue  # capped bucket: no pairs, no state growth
                for m in members:
                    a, b = (m, d) if m < d else (d, m)
                    out_a.append(a)
                    out_b.append(b)
                members.append(d)
                seen.add(d)
        state.update((members,))
        yield pd.DataFrame(
            {
                "a": out_a,
                "b": out_b,
                "band_id": [int(key[0])] * len(out_a),
            }
        )

    return bands.groupBy("band_id", "band_hash").applyInPandasWithState(
        update,
        outputStructType="a bigint, b bigint, band_id int",
        stateStructType="members array<bigint>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_event_counts(
    events_stream: DataFrame,
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Tumbling-window counts per event_type with late-data watermark —
    the canonical streaming aggregation shape."""
    # watermarks require TIMESTAMP (parquet often yields TIMESTAMP_NTZ)
    events_stream = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type", "n", "total_value",
        )
    )
