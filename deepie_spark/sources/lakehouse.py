"""Parquet-backed lakehouse-lite: versioned stage tables, MERGE upsert,
per-partition lineage, idempotent resume.

The target deployment is Iceberg (``MERGE INTO kg.triples``, snapshot
isolation, partition spec ``bucket(url)``) — this container ships no
Iceberg runtime jar, so the same semantics are provided over plain
parquet with an atomic version-pointer protocol:

    <root>/<table>/v=N/...parquet     (immutable version directories)
    <root>/<table>/_VERSION           (pointer file, atomic rename)
    <root>/_lineage/...parquet        (append-only stage lineage)
    <root>/_lineage_parts/...parquet  (per-file row counts)

Lineage is observed in the write job (``DataFrame.observe``: rows + a
content fingerprint); per-partition rows come from the parquet footers.

Swapping to Iceberg on a real cluster changes only this module: every
``merge_upsert`` maps to one ``MERGE INTO``, every ``write_stage`` to an
``INSERT OVERWRITE``/snapshot commit, lineage to Iceberg snapshot
metadata (per-file rows are its data-file ``record_count``) + a lineage
table written in the same transaction.

The reference's analogue is its pickle example cache keyed by max_len
(utils/file_util.py:11-38, main.py:79-93) — process-lifetime
checkpointing we generalize into resumable, fingerprinted stage tables
(north rule: "resumable from checkpoint with per-partition lineage +
metrics").
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

LINEAGE_DDL = (
    "run_id string, stage string, version int, output_rows bigint, "
    "n_partitions int, fingerprint bigint, wall_ms bigint, ts double"
)
LINEAGE_PARTS_DDL = (
    "run_id string, stage string, version int, partition_id int, rows bigint"
)


def _pa_schema(ddl: str):
    import pyarrow as pa

    m = {"string": pa.string(), "int": pa.int32(), "bigint": pa.int64(),
         "double": pa.float64()}
    fields = []
    for part in ddl.split(","):
        name, typ = part.strip().split(" ")
        fields.append((name, m[typ]))
    return pa.schema(fields)


_LINEAGE_SCHEMA = _pa_schema(LINEAGE_DDL)
_LINEAGE_PARTS_SCHEMA = _pa_schema(LINEAGE_PARTS_DDL)


class Lakehouse:
    def __init__(self, root: str | Path, spark: SparkSession):
        self.root = Path(root)
        self.spark = spark
        self.root.mkdir(parents=True, exist_ok=True)

    # ---- version pointer protocol ----

    def _table_dir(self, name: str) -> Path:
        return self.root / name

    def _pointer(self, name: str) -> Path:
        return self._table_dir(name) / "_VERSION"

    def current_version(self, name: str) -> int | None:
        p = self._pointer(name)
        if not p.exists():
            return None
        return int(json.loads(p.read_text())["version"])

    def layout(self, name: str) -> dict | None:
        """Physical-layout metadata recorded at commit time (None for
        plain stage tables): ``{"bucketed": True, "n_buckets": K,
        "keys": [...]}`` for tables written by
        :meth:`merge_upsert_bucketed`.  The Iceberg analogue is the
        table's partition spec — it travels with the table, so a later
        writer cannot silently merge in a different hash space."""
        p = self._pointer(name)
        if not p.exists():
            return None
        return json.loads(p.read_text()).get("layout")

    def _data_path(self, name: str, version: int) -> Path:
        return self._table_dir(name) / f"v={version}"

    def exists(self, name: str) -> bool:
        v = self.current_version(name)
        return v is not None and (self._data_path(name, v) / "_SUCCESS").exists()

    def read(self, name: str) -> DataFrame:
        v = self.current_version(name)
        if v is None:
            raise FileNotFoundError(f"lakehouse table {name} does not exist")
        df = self.spark.read.parquet(str(self._data_path(name, v)))
        # the bucket id is physical layout, not data: consumers of a
        # bucketed table see the same schema as a plain stage table
        if (self.layout(name) or {}).get("bucketed") and "_kb" in df.columns:
            df = df.drop("_kb")
        return df

    def _append_lineage(self, dirname: str, schema, rows: list[tuple]) -> None:
        """Lineage rows are driver-side METADATA (a handful of scalars
        per stage commit), so they are written with pyarrow directly —
        spinning up a Spark job to write a 1-row DataFrame cost ~2 jobs
        per stage commit, pure scheduling overhead.  Unique filenames
        keep the directory append-only; the schema matches the DDL the
        Spark readers (``lineage()``/``lineage_parts()``) infer."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        d = self.root / dirname
        d.mkdir(parents=True, exist_ok=True)
        cols = list(zip(*rows)) if rows else [[] for _ in schema.names]
        table = pa.table(
            {f.name: pa.array(list(c), type=f.type)
             for f, c in zip(schema, cols)}
        )
        pq.write_table(table, d / f"part-{uuid.uuid4().hex}.parquet")

    def _commit(self, name: str, version: int, layout: dict | None = None) -> None:
        tmp = self._pointer(name).with_suffix(f".tmp-{uuid.uuid4().hex[:8]}")
        meta = {"version": version, "ts": time.time()}
        if layout:
            meta["layout"] = layout
        tmp.write_text(json.dumps(meta))
        os.replace(tmp, self._pointer(name))  # atomic pointer swap

    # ---- stage writes with lineage ----

    def write_stage(self, df: DataFrame, name: str, run_id: str = "adhoc") -> int:
        """Write a new version of a stage table + lineage rows, observed
        in the write job (no read-back).  Returns the committed version."""
        import pyarrow.parquet as pq

        t0 = time.time()
        lay = self.layout(name)
        if lay and lay.get("bucketed"):
            raise ValueError(
                f"table {name} has bucketed layout "
                f"(n_buckets={lay['n_buckets']}, keys={lay['keys']}); "
                f"plain write_stage/merge_upsert would treat _kb as a "
                f"data column and break bucket pruning — use "
                f"merge_upsert_bucketed"
            )
        v = (self.current_version(name) or 0) + 1
        path = self._data_path(name, v)
        self._table_dir(name).mkdir(parents=True, exist_ok=True)

        # fingerprint over scalar columns only: hashing array/map columns
        # (token arrays!) would double the stage cost at scale, and the
        # scalar key+payload columns already pin row identity.  One
        # whole-table pmod, so the value does not depend on partitioning;
        # decimal accumulation because ANSI mode (Spark 4 default) raises
        # on bigint sum overflow, and hash sums will overflow
        cols = [
            c for c, t in df.dtypes
            if not t.startswith(("array", "map", "struct"))
        ] or [df.columns[0]]
        h = F.xxhash64(*[F.col(c).cast("string") for c in cols])
        obs = Observation()
        df.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.pmod(F.sum(h.cast("decimal(38,0)")), F.lit(2**62))
            .cast("long").alias("fingerprint"),
        ).write.mode("overwrite").parquet(str(path))
        m = obs.get
        # per-file rows from the footers; the partition id is the writing
        # task's, from Spark's part-NNNNN-... file name
        files = [
            (int(f.name.split("-")[1]), pq.read_metadata(f).num_rows)
            for f in sorted(path.glob("part-*.parquet"))
        ]
        wall_ms = int((time.time() - t0) * 1000)

        self._append_lineage(
            "_lineage", _LINEAGE_SCHEMA,
            [(run_id, name, v, m["rows"], len(files), m["fingerprint"] or 0,
              wall_ms, time.time())],
        )
        self._append_lineage(
            "_lineage_parts", _LINEAGE_PARTS_SCHEMA,
            [(run_id, name, v, pid, rows) for pid, rows in files],
        )
        self._commit(name, v)
        return v

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(str(self.root / "_lineage"))

    def lineage_parts(self) -> DataFrame:
        return self.spark.read.parquet(str(self.root / "_lineage_parts"))

    def stage_done(self, name: str, run_id: str) -> bool:
        """Idempotent-resume check: stage committed by this run (or any
        prior run) with a readable current version.  The pointer alone,
        no Spark job: both writers append the lineage row before
        ``_commit`` swaps the pointer, so a committed, readable version
        always has its lineage row."""
        return self.exists(name)

    # ---- MERGE (upsert) ----

    def merge_upsert(self, updates: DataFrame, name: str, keys: list[str],
                     run_id: str = "adhoc") -> int:
        """Iceberg ``MERGE INTO target USING updates ON keys WHEN MATCHED
        THEN UPDATE WHEN NOT MATCHED THEN INSERT`` semantics: rows with
        matching keys are replaced, others inserted.

        Rewrites the WHOLE table — fine for small state tables; use
        :meth:`merge_upsert_bucketed` for the incremental-crawl graph
        table (only buckets containing matched keys are rewritten)."""
        updates = updates.dropDuplicates(keys)
        if self.exists(name):
            cur = self.read(name)
            keep = cur.join(updates.select(*keys).distinct(), keys, "left_anti")
            merged = keep.unionByName(updates)
        else:
            merged = updates
        return self.write_stage(merged, name, run_id=run_id)

    # ---- bucket-pruned MERGE ----

    @staticmethod
    def _key_bucket(keys: list[str], n_buckets: int):
        return F.pmod(
            F.xxhash64(*[F.col(k).cast("string") for k in keys]),
            F.lit(n_buckets),
        ).cast("int")

    def merge_upsert_bucketed(
        self, updates: DataFrame, name: str, keys: list[str],
        n_buckets: int = 32, run_id: str = "adhoc",
    ) -> int:
        """MERGE that rewrites ONLY the key-buckets the updates touch.

        Layout: every version directory is hash-partitioned on an
        internal ``_kb = pmod(xxhash64(keys), n_buckets)`` column
        (Iceberg: ``bucket(n, key)`` partition transform).  A merge
        computes the set of touched buckets (<= n_buckets ints on the
        driver), HARDLINKS the untouched buckets' parquet files into
        the new version directory (the parquet-lite analogue of Iceberg
        manifests reusing unchanged data files — no data movement), and
        runs the anti-join + union over the touched buckets only.  An
        incremental crawl merging 0.1% of urls rewrites ~0.1% of the
        table instead of 100%.

        Crash-safe and idempotent: everything is staged into a
        ``v=N.tmp-<uuid>`` directory and atomically renamed to ``v=N``
        before the pointer commit; a crash at any point leaves the
        committed version untouched and a retry re-derives the same
        next version from scratch (stale tmp/uncommitted dirs are
        swept first).  The layout (n_buckets + keys) is recorded in the
        version pointer and validated on every later merge — merging
        with a different bucket count, or onto a table created by
        ``write_stage``/``merge_upsert``, raises instead of silently
        hardlinking buckets keyed in a different hash space (which
        would commit duplicate keys)."""
        t0 = time.time()
        lay = self.layout(name)
        v_old = self.current_version(name)
        if v_old is not None:
            if not (lay and lay.get("bucketed")):
                raise ValueError(
                    f"table {name} exists without bucketed layout; "
                    f"merge_upsert_bucketed onto it would hash-partition "
                    f"only the new rows — use merge_upsert, or create the "
                    f"table with merge_upsert_bucketed from the start"
                )
            if lay["n_buckets"] != n_buckets or lay["keys"] != list(keys):
                raise ValueError(
                    f"table {name} is bucketed with n_buckets="
                    f"{lay['n_buckets']} keys={lay['keys']}; merge called "
                    f"with n_buckets={n_buckets} keys={list(keys)} — "
                    f"bucket ids would land in a different hash space"
                )
        kb = self._key_bucket(keys, n_buckets)
        updates = updates.dropDuplicates(keys).withColumn("_kb", kb)
        v = (v_old or 0) + 1
        new_path = self._data_path(name, v)
        tdir = self._table_dir(name)
        tdir.mkdir(parents=True, exist_ok=True)
        # crash-retry hygiene: sweep uncommitted leftovers (a tmp dir
        # from a mid-write crash, or v=N itself from a crash between
        # rename and pointer commit) — single-writer by design
        for stale in tdir.glob("v=*.tmp-*"):
            shutil.rmtree(stale, ignore_errors=True)
        if new_path.exists():
            shutil.rmtree(new_path)
        tmp_path = tdir / f"v={v}.tmp-{uuid.uuid4().hex[:8]}"

        # rows written (and, on the first write, the buckets) are
        # observed in the write job itself, not read back
        obs = Observation()
        rows = F.count(F.lit(1)).alias("rows")
        if v_old is None:
            updates.observe(
                obs, rows, F.collect_set("_kb").alias("touched")
            ).write.mode("overwrite").partitionBy("_kb").parquet(str(tmp_path))
            touched = sorted(obs.get["touched"])
        else:
            old_path = self._data_path(name, v_old)
            touched = sorted(
                r["_kb"] for r in updates.select("_kb").distinct().collect()
            )
            touched_set = set(touched)
            tmp_path.mkdir(parents=True, exist_ok=True)
            # manifest reuse: untouched bucket dirs hardlink over
            for d in sorted(old_path.glob("_kb=*")):
                b = int(d.name.split("=", 1)[1])
                if b in touched_set:
                    continue
                nd = tmp_path / d.name
                nd.mkdir(exist_ok=True)
                for f in d.iterdir():
                    if f.is_file():
                        os.link(f, nd / f.name)
            # rewrite touched buckets only: partition pruning makes the
            # scan read just those directories
            cur = self.spark.read.parquet(str(old_path)).where(
                F.col("_kb").isin(touched)
            )
            keep = cur.join(updates.select(*keys).distinct(), keys, "left_anti")
            merged = keep.unionByName(updates)
            merged.observe(obs, rows).write.mode("append").partitionBy(
                "_kb").parquet(str(tmp_path))
        rewritten = obs.get["rows"]
        os.replace(tmp_path, new_path)  # atomic: v=N appears fully-built

        wall_ms = int((time.time() - t0) * 1000)
        self._append_lineage(
            "_lineage", _LINEAGE_SCHEMA,
            [(run_id, name, v, rewritten, len(touched), 0, wall_ms,
              time.time())],
        )
        self._commit(
            name, v,
            layout={"bucketed": True, "n_buckets": n_buckets, "keys": list(keys)},
        )
        return v
