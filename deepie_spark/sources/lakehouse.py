"""Parquet-backed lakehouse-lite: versioned stage tables, MERGE upsert,
per-partition lineage, idempotent resume.

The target deployment is Iceberg (``MERGE INTO kg.triples``, snapshot
isolation); without an Iceberg runtime jar on the classpath, the same
semantics are provided over plain parquet with an atomic
version-pointer protocol:

    <root>/<table>/v=N/...parquet     (immutable version directories)
    <root>/<table>/_VERSION           (pointer file, atomic rename)
    <root>/_lineage/...parquet        (append-only stage lineage)
    <root>/_lineage_parts/...parquet  (per-file row counts)

There is one writer, ``write_stage``, and one MERGE on top of it,
``merge_upsert``, used by the batch pipeline and the streaming ingest
alike.  So every committed version gets the same lineage record: it is
observed in the write job (``DataFrame.observe``: rows + a content
fingerprint), and per-partition rows come from the parquet footers.

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

    def _data_path(self, name: str, version: int) -> Path:
        return self._table_dir(name) / f"v={version}"

    def exists(self, name: str) -> bool:
        v = self.current_version(name)
        return v is not None and (self._data_path(name, v) / "_SUCCESS").exists()

    def read(self, name: str) -> DataFrame:
        v = self.current_version(name)
        if v is None:
            raise FileNotFoundError(f"lakehouse table {name} does not exist")
        return self.spark.read.parquet(str(self._data_path(name, v)))

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

    def _commit(self, name: str, version: int) -> None:
        tmp = self._pointer(name).with_suffix(f".tmp-{uuid.uuid4().hex[:8]}")
        tmp.write_text(json.dumps({"version": version, "ts": time.time()}))
        os.replace(tmp, self._pointer(name))  # atomic pointer swap

    # ---- stage writes with lineage ----

    def write_stage(self, df: DataFrame, name: str, run_id: str = "adhoc") -> int:
        """Write a new version of a stage table + lineage rows, observed
        in the write job (no read-back).  Returns the committed version."""
        import pyarrow.parquet as pq

        t0 = time.time()
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
        no Spark job: ``write_stage`` appends the lineage row before
        ``_commit`` swaps the pointer, so a committed, readable version
        always has its lineage row."""
        return self.exists(name)

    # ---- MERGE (upsert) ----

    def merge_upsert(self, updates: DataFrame, name: str, keys: list[str],
                     run_id: str = "adhoc") -> int:
        """Iceberg ``MERGE INTO target USING updates ON keys WHEN MATCHED
        THEN UPDATE WHEN NOT MATCHED THEN INSERT`` semantics: rows with
        matching keys are replaced, others inserted.

        Rewrites the WHOLE table through :meth:`write_stage`, so a
        MERGE version records the same lineage as a stage version.  A
        bucket-pruned rewrite (hash-partition on the keys, hardlink the
        untouched buckets) was measured and dropped: at ~1.6 triple keys
        per page a 60-page micro-batch already touches 29 of 32 buckets,
        and the pipeline's MERGEs got slower with the partitioned
        write (kg_build cold op 13.1 s -> 16.7 s on 4 cores)."""
        updates = updates.dropDuplicates(keys)
        if self.exists(name):
            cur = self.read(name)
            keep = cur.join(updates.select(*keys).distinct(), keys, "left_anti")
            merged = keep.unionByName(updates)
        else:
            merged = updates
        return self.write_stage(merged, name, run_id=run_id)
