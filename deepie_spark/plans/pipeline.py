"""End-to-end KG-construction pipeline with checkpoint/resume.

Stage DAG (each stage a lakehouse table, resumable):

    pages -> texts -> triples -> linked -> entity_clusters
               \\-> mentions       |              |
                   kg_triples <- MERGE            |
                  kg_entities <- MERGE -----------+

``mentions`` and ``triples`` are each one pass over the committed
``texts`` table; each tokenizes its pages inside its kernel, so no
token table is materialized.  ``triples`` runs the fused extraction
kernel (subject grid -> per-subject object grid -> assemble, all
page-local), whose output rows are rebalanced before the write.
``linked`` keeps each surface's normalized key (``subject_norm_key``,
``object_value_norm_key``) and ``entity_clusters`` reads those columns;
``kg_triples`` drops them.  A ``linked`` table committed by an older
version of this module has no key columns: restart such a run under a
new run_id rather than resuming it.

Lifecycle mirrors the reference flagship run (SURVEY.md §3.1) with the
pickle cache replaced by fingerprinted stage tables.  ``run()`` is
idempotent: a killed job re-run with the same run_id skips committed
stages (lineage check) and re-derives the rest — the north rule's
"resumes idempotently mid-crawl".
"""

from __future__ import annotations

import functools
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deepie_spark.operators import extract as ex_ops
from deepie_spark.operators.canonicalize import canonicalize_entities
from deepie_spark.operators.linking import (
    NORM_KEY_COLS,
    alias_dim_with_key,
    detect_mentions,
    link_triples,
)
from deepie_spark.operators.metrics import obj_key
from deepie_spark.sources.lakehouse import Lakehouse


@dataclass
class PipelineResult:
    stages_run: list[str] = field(default_factory=list)
    stages_skipped: list[str] = field(default_factory=list)
    wall_s: dict[str, float] = field(default_factory=dict)


class KgPipeline:
    def __init__(
        self,
        spark: SparkSession,
        lake_root: str,
        extractor,
        run_id: str = "run0",
    ):
        self.spark = spark
        self.lake = Lakehouse(lake_root, spark)
        self.extractor_bc = spark.sparkContext.broadcast(extractor)
        self.run_id = run_id

    # -- stage definitions -------------------------------------------------

    def _stage(self, name: str, fn, result: PipelineResult, resume: bool) -> DataFrame:
        if resume and self.lake.stage_done(name, self.run_id):
            result.stages_skipped.append(name)
            return self.lake.read(name)
        t0 = time.time()
        df = fn()
        self.lake.write_stage(df, name, run_id=self.run_id)
        result.stages_run.append(name)
        result.wall_s[name] = time.time() - t0
        return self.lake.read(name)

    def run(
        self,
        pages_df: DataFrame,
        alias_df: DataFrame,
        resume: bool = True,
    ) -> PipelineResult:
        res = PipelineResult()
        bc = self.extractor_bc
        texts = self._stage(
            "texts", lambda: ex_ops.stage_texts(pages_df), res, resume
        )
        self._stage("mentions", lambda: detect_mentions(texts, bc), res, resume)
        # rebalance: the kernel keeps one output partition per texts
        # split, so without it the small triple rows land in many small
        # files and linked/entity_clusters pay a task per file (measured
        # +1.5 s at 2,000 pages on 4 cores); AQE sizes the partitions
        # from the data, and only the triple rows cross the exchange
        triples = self._stage(
            "triples",
            lambda: ex_ops.extract_triples_fused(texts, bc).hint("rebalance"),
            res, resume,
        )

        # keyed on the driver, once per run and only when a stage that
        # reads it runs: a resume over committed stages never reads alias_df
        alias_dim = functools.cache(lambda: alias_dim_with_key(alias_df, bc))
        linked = self._stage(
            "linked", lambda: link_triples(triples, alias_dim(), bc), res, resume
        )
        clusters = self._stage(
            "entity_clusters",
            lambda: canonicalize_entities(linked, alias_dim()),
            res, resume,
        )

        # -- graph materialization (MERGE) --------------------------------
        kg_t = (
            linked.drop(*NORM_KEY_COLS)
            .withColumn("object_key", obj_key(F.col("object")))
            .withColumn(
                "triple_key",
                F.xxhash64("url", "subject", "predicate", "object_key"),
            )
        )
        self.lake.merge_upsert(kg_t, "kg_triples", ["triple_key"], run_id=self.run_id)
        res.stages_run.append("kg_triples")

        kg_e = (
            clusters.groupBy("component")
            .agg(
                F.min("cluster_canonical_id").alias("canonical_id"),
                F.min("norm_key").alias("representative"),
                F.count(F.lit(1)).alias("n_surfaces"),
            )
        )
        self.lake.merge_upsert(kg_e, "kg_entities", ["component"], run_id=self.run_id)
        res.stages_run.append("kg_entities")
        return res
