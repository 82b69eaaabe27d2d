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


def test_observed_lineage_matches_readback(spark, extractor, tmp_path):
    """Every stage a pipeline run commits has a lineage row whose
    observed rows and fingerprint equal a read-back of the committed
    version, and per-file lineage rows that sum to those rows, one per
    parquet file."""
    pages_df, _, alias_df = corpus_dataframes(spark, 60)
    pipe = KgPipeline(spark, str(tmp_path / "lake"), extractor, run_id="r1")
    pipe.run(pages_df, alias_df)
    lake = pipe.lake
    lin = {(r["stage"], r["version"]): r for r in lake.lineage().collect()}
    parts = lake.lineage_parts().collect()
    stages = {
        "texts", "mentions", "triples", "linked",
        "entity_clusters", "kg_triples", "kg_entities",
    }
    assert {s for s, _ in lin} == stages
    for stage in stages:
        v = lake.current_version(stage)
        row = lin[(stage, v)]
        out = lake.read(stage)
        assert row["output_rows"] == out.count() > 0, stage
        assert row["fingerprint"] == _readback_fingerprint(out), stage
        files = list(lake._data_path(stage, v).glob("*.parquet"))
        mine = [p for p in parts if p["stage"] == stage and p["version"] == v]
        assert len(mine) == len(files) == row["n_partitions"], stage
        assert sum(p["rows"] for p in mine) == row["output_rows"], stage


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


def test_merge_upsert_bucketed_prunes_rewrite(spark, lake):
    """Bucket-pruned MERGE: only touched key-buckets are rewritten;
    untouched buckets' parquet files are HARDLINKED (same inode) into
    the new version — the Iceberg manifest-reuse analogue."""
    import os

    base = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    v1 = lake.merge_upsert_bucketed(base, "kg", ["k"], n_buckets=16)
    assert v1 == 1

    upd = spark.createDataFrame(
        [(5, 999), (2005, 42)], "k bigint, v bigint"
    )  # one update + one insert, landing in 1-2 buckets
    v2 = lake.merge_upsert_bucketed(upd, "kg", ["k"], n_buckets=16)
    assert v2 == 2

    got = {r["k"]: r["v"] for r in lake.read("kg").collect()}
    assert got[5] == 999 and got[2005] == 42 and got[6] == 60
    assert len(got) == 2001

    # physical pruning: untouched bucket files share inodes with v1
    d1 = lake._data_path("kg", 1)
    d2 = lake._data_path("kg", 2)
    from deepie_spark.sources.lakehouse import Lakehouse as LH
    touched = {
        r["b"] for r in upd.select(
            LH._key_bucket(["k"], 16).alias("b")
        ).distinct().collect()
    }
    linked = rewritten = 0
    for bdir in d2.glob("_kb=*"):
        b = int(bdir.name.split("=")[1])
        old = d1 / bdir.name
        inodes_old = {f.stat().st_ino for f in old.iterdir()} if old.exists() else set()
        inodes_new = {f.stat().st_ino for f in bdir.iterdir() if f.is_file()}
        if b in touched:
            assert not (inodes_new & inodes_old)  # actually rewritten
            rewritten += 1
        else:
            assert inodes_new == inodes_old  # hardlinked, zero copy
            linked += 1
    assert rewritten == len(touched) and linked >= 14

    # merge lineage row records the pruned write
    lin = lake.lineage().filter("stage = 'kg' and version = 2").first()
    assert lin["n_partitions"] == len(touched)


def test_bucketed_layout_recorded_and_kb_hidden(spark, lake):
    base = spark.createDataFrame([(1, "a")], "k bigint, v string")
    lake.merge_upsert_bucketed(base, "kg2", ["k"], n_buckets=8)
    assert lake.layout("kg2") == {
        "bucketed": True, "n_buckets": 8, "keys": ["k"]
    }
    # consumers see the logical schema — no internal _kb column
    assert set(lake.read("kg2").columns) == {"k", "v"}
    # plain stage tables carry no layout
    lake.write_stage(spark.range(3), "plain")
    assert lake.layout("plain") is None


def test_bucketed_merge_rejects_layout_mismatch(spark, lake):
    df = spark.createDataFrame([(1, "a")], "k bigint, v string")
    lake.merge_upsert_bucketed(df, "kg3", ["k"], n_buckets=8)
    with pytest.raises(ValueError, match="different hash space"):
        lake.merge_upsert_bucketed(df, "kg3", ["k"], n_buckets=16)
    with pytest.raises(ValueError, match="different hash space"):
        lake.merge_upsert_bucketed(
            df.withColumnRenamed("v", "k2").withColumn("v", F.lit("x")),
            "kg3", ["k", "k2"], n_buckets=8,
        )
    # bucketed merge onto a plain table: refuse (old-bucket hardlinks
    # would be keyed in a different hash space)
    lake.merge_upsert(df, "plain2", ["k"])
    with pytest.raises(ValueError, match="without bucketed layout"):
        lake.merge_upsert_bucketed(df, "plain2", ["k"], n_buckets=8)
    # and the reverse: plain writes onto a bucketed table refuse too
    with pytest.raises(ValueError, match="bucketed layout"):
        lake.merge_upsert(df, "kg3", ["k"])
    with pytest.raises(ValueError, match="bucketed layout"):
        lake.write_stage(df, "kg3")


def test_bucketed_merge_crash_retry_idempotent(spark, lake):
    """A crash after data-dir writes but before the pointer commit must
    not break the retry (the round-2 failure mode: os.link hitting
    FileExistsError on leftover v=N dirs)."""
    base = spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    lake.merge_upsert_bucketed(base, "kg4", ["k"], n_buckets=8)
    upd = spark.createDataFrame([(5, 999)], "k bigint, v bigint")

    # simulate: a previous attempt died after building v=2 (fully or
    # partially) without committing the pointer
    import shutil

    v2 = lake._data_path("kg4", 2)
    v1 = lake._data_path("kg4", 1)
    shutil.copytree(v1, v2)  # stale, uncommitted version dir
    (lake._table_dir("kg4") / "v=2.tmp-deadbeef").mkdir()  # stale tmp

    got_v = lake.merge_upsert_bucketed(upd, "kg4", ["k"], n_buckets=8)
    assert got_v == 2
    got = {r["k"]: r["v"] for r in lake.read("kg4").collect()}
    assert got[5] == 999 and got[6] == 60 and len(got) == 200
    # stale tmp dirs were swept
    assert not list(lake._table_dir("kg4").glob("v=*.tmp-*"))
