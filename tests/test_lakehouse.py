import pytest
from pyspark.sql import functions as F

from deepie_spark.plans.pipeline import KgPipeline
from deepie_spark.sources.lakehouse import Lakehouse
from deepie_spark.sources.synth import corpus_dataframes


@pytest.fixture()
def lake(spark, tmp_path):
    return Lakehouse(tmp_path / "lake", spark)


def test_write_read_roundtrip_and_lineage(spark, lake):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    v = lake.write_stage(df, "t1", run_id="r1")
    assert v == 1
    assert lake.read("t1").count() == 100
    lin = lake.lineage().filter("stage = 't1'").first()
    assert lin["output_rows"] == 100 and lin["run_id"] == "r1"
    parts = lake.lineage_parts().filter("stage = 't1'")
    assert parts.agg(F.sum("rows")).first()[0] == 100


def test_versioning_atomic_pointer(spark, lake):
    lake.write_stage(spark.range(10), "t2")
    lake.write_stage(spark.range(20), "t2")
    assert lake.current_version("t2") == 2
    assert lake.read("t2").count() == 20


def test_stage_done_resume_check(spark, lake):
    assert not lake.stage_done("t3", "r1")
    lake.write_stage(spark.range(5), "t3", run_id="r1")
    assert lake.stage_done("t3", "r1")


def _readback_fingerprint(df):
    """Read-back oracle for the lineage fingerprint: xxhash64 over the
    scalar columns cast to string, summed as decimal over the whole
    table, pmod 2^62 (0 for an empty table)."""
    cols = [
        c for c, t in df.dtypes
        if not t.startswith(("array", "map", "struct"))
    ] or [df.columns[0]]
    h = F.xxhash64(*[F.col(c).cast("string") for c in cols])
    fp = df.agg(
        F.pmod(F.sum(h.cast("decimal(38,0)")), F.lit(2**62)).cast("long")
    ).first()[0]
    return fp or 0


def _assert_lineage_matches(lake, stage):
    """The committed version of ``stage`` has one lineage row whose
    observed rows and fingerprint equal a read-back of that version,
    and per-file lineage rows that sum to those rows, one per parquet
    file."""
    v = lake.current_version(stage)
    [row] = lake.lineage().filter(
        (F.col("stage") == stage) & (F.col("version") == v)
    ).collect()
    out = lake.read(stage)
    assert row["output_rows"] == out.count() > 0, stage
    assert row["fingerprint"] == _readback_fingerprint(out), stage
    files = list(lake._data_path(stage, v).glob("*.parquet"))
    parts = lake.lineage_parts().filter(
        (F.col("stage") == stage) & (F.col("version") == v)
    ).collect()
    assert len(parts) == len(files) == row["n_partitions"], stage
    assert sum(p["rows"] for p in parts) == row["output_rows"], stage


def test_observed_lineage_matches_readback(spark, extractor, tmp_path):
    """Every stage a pipeline run commits has a lineage row that
    matches a read-back of the committed version."""
    pages_df, _, alias_df = corpus_dataframes(spark, 60)
    pipe = KgPipeline(spark, str(tmp_path / "lake"), extractor, run_id="r1")
    pipe.run(pages_df, alias_df)
    lake = pipe.lake
    stages = {
        "texts", "mentions", "triples", "linked",
        "entity_clusters", "kg_triples", "kg_entities",
    }
    assert {r["stage"] for r in lake.lineage().collect()} == stages
    for stage in stages:
        _assert_lineage_matches(lake, stage)


def test_fingerprint_independent_of_partitioning(spark, lake):
    rows = spark.range(500).select(
        F.col("id"),
        (F.col("id") % 13).cast("string").alias("s"),
        F.array("id").alias("arr"),  # not hashed
    )
    lake.write_stage(rows.coalesce(1), "one", run_id="r1")
    lake.write_stage(rows.repartition(7), "seven", run_id="r1")
    lin = {r["stage"]: r for r in lake.lineage().collect()}
    assert lin["one"]["n_partitions"] == 1 and lin["seven"]["n_partitions"] == 7
    assert lin["one"]["fingerprint"] == lin["seven"]["fingerprint"] != 0
    assert lin["one"]["fingerprint"] == _readback_fingerprint(rows)


def test_stage_done_launches_no_spark_job(spark, lake):
    lake.write_stage(spark.range(5), "t5", run_id="r1")
    sc = spark.sparkContext
    sc.setJobGroup("stage_done_probe", "stage_done")
    try:
        assert lake.stage_done("t5", "r1")
        assert not lake.stage_done("absent", "r1")
        assert sc.statusTracker().getJobIdsForGroup("stage_done_probe") == []
        spark.range(3).count()  # control: a job in the group is seen
        assert sc.statusTracker().getJobIdsForGroup("stage_done_probe")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_stage_done_false_on_crash_before_commit(spark, lake, monkeypatch):
    """A crash between the lineage append and the pointer swap: the
    lineage row and v=1 data exist, the pointer does not, so the stage
    is not done and a retry commits v=1."""
    def killed(*args, **kwargs):
        raise RuntimeError("killed before the pointer swap")

    monkeypatch.setattr(lake, "_commit", killed)
    with pytest.raises(RuntimeError, match="pointer swap"):
        lake.write_stage(spark.range(5), "t6", run_id="r1")
    assert (lake._data_path("t6", 1) / "_SUCCESS").exists()
    assert lake.lineage().filter("stage = 't6' and version = 1").count() == 1
    assert lake.current_version("t6") is None
    assert not lake.stage_done("t6", "r1")

    monkeypatch.undo()
    assert lake.write_stage(spark.range(5), "t6", run_id="r1") == 1
    assert lake.stage_done("t6", "r1") and lake.read("t6").count() == 5


def test_stage_done_false_without_success_marker(spark, lake):
    lake.write_stage(spark.range(5), "t7", run_id="r1")
    (lake._data_path("t7", 1) / "_SUCCESS").unlink()
    assert lake.current_version("t7") == 1
    assert not lake.stage_done("t7", "r1")


def test_merge_upsert_semantics(spark, lake):
    base = spark.createDataFrame(
        [(1, "a"), (2, "b")], "k bigint, v string"
    )
    lake.merge_upsert(base, "m1", ["k"])
    upd = spark.createDataFrame(
        [(2, "B"), (3, "c")], "k bigint, v string"
    )
    lake.merge_upsert(upd, "m1", ["k"])
    got = {(r["k"], r["v"]) for r in lake.read("m1").collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_merge_is_idempotent(spark, lake):
    upd = spark.createDataFrame([(1, "a")], "k bigint, v string")
    lake.merge_upsert(upd, "m2", ["k"])
    lake.merge_upsert(upd, "m2", ["k"])
    assert lake.read("m2").count() == 1


def test_merge_crash_retry_idempotent(spark, lake):
    """A crash after the data-dir write but before the pointer commit
    must not break the retry: a stale, uncommitted v=2 directory is
    overwritten and the retry commits v=2 with the merged rows."""
    import shutil

    base = spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    lake.merge_upsert(base, "kg4", ["k"])
    upd = spark.createDataFrame([(5, 999)], "k bigint, v bigint")

    # simulate: a previous attempt died after building v=2 without
    # committing the pointer
    shutil.copytree(lake._data_path("kg4", 1), lake._data_path("kg4", 2))

    assert lake.merge_upsert(upd, "kg4", ["k"]) == 2
    got = {r["k"]: r["v"] for r in lake.read("kg4").collect()}
    assert got[5] == 999 and got[6] == 60 and len(got) == 200
