"""The workloads.  Each one has

    setup()        one repetition of input set-up, before Spark starts:
                   seeded generation, the extractor, the driver-side
                   oracle (timed; repeated for setup_s)
    write_inputs() writes the inputs as parquet, once (untimed)
    attach(spark)  hands over the session
    prime()        one-off Spark work after set-up: gold guard, warm-up
    before_op(i)   untimed reset before op i
    op(i)          the timed operation; returns what check() needs
    check(h)       correctness problems of one op (empty list = correct)
    layers(h, tracer, op_s)   per-layer metrics of a traced op
    probes()       per-layer metrics measured outside the ops (traced run)

Sizes are for a 4-core host; ``scale`` shrinks them for smoke tests.
"""

from __future__ import annotations

import hashlib
import shutil
import time
from pathlib import Path

from pyspark.sql import functions as F

from deepie_spark.config.schema import SYNTH_SCHEMA
from deepie_spark.operators.extract import (
    TRIPLES_DDL,
    PageExtractor,
    extract_triples_fused,
)
from deepie_spark.operators.metrics import obj_key
from deepie_spark.plans.pipeline import KgPipeline
from deepie_spark.sources.lakehouse import Lakehouse
from deepie_spark.sources.synth import gen_world

from perfbench import inputs
from perfbench.host import dir_bytes
from perfbench.kernel import SplitMismatch, kernel_metrics
from perfbench.trace import (
    Tracer,
    count_by_name,
    descendants,
    self_times,
    spark_jobs,
    sum_by_name,
)

EXTRACT_PAGES = 1500      # distinct pages, tiled EXTRACT_COPIES times
EXTRACT_COPIES = 8
KG_PAGES = 2000           # kg_build's crawl
WARM_DOCS = 1000          # documents in curate's untimed warm-up op
KERNEL_SAMPLE = 600       # pages in the Spark-free kernel split
# curate's report on the whole documents table; the row order does not change it
CURATE_REPORT = {"n_in": 5000, "n_out": 3648, "dropped_lang_ok": 1161,
                 "dropped_quality_ok": 0, "dropped_dedup_ok": 244}
F1_FLOOR = 0.95           # the planted-gold precision/recall guard
FP_MOD = 2**62

ALIAS_DDL = "alias string, canonical_id bigint, entity_type string, weight double"
KG_TABLES = ("kg_triples", "kg_entities")
PIPELINE_STAGES = ("texts", "tokens", "mentions", "triples", "linked",
                   "entity_clusters")


# ---- shared helpers -----------------------------------------------------------


def triple_fingerprint(df) -> tuple[int, int]:
    """(rows, order-independent hash sum) of a triples multiset."""
    cols = df.select("url", "subject", "subject_type", "predicate",
                     obj_key(F.col("object")).alias("o"),
                     obj_key(F.col("object_type")).alias("ot"))
    h = F.xxhash64(*cols.columns).cast("decimal(38,0)")
    r = cols.agg(F.count(F.lit(1)).alias("n"),
                 F.pmod(F.sum(h), F.lit(FP_MOD)).cast("long").alias("fp")).first()
    return int(r["n"]), int(r["fp"] or 0)


def frame_fingerprint(df) -> tuple[int, int]:
    h = F.xxhash64(*[F.col(c).cast("string") for c in sorted(df.columns)])
    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.pmod(F.sum(h.cast("decimal(38,0)")), F.lit(FP_MOD))
               .cast("long").alias("fp")).first()
    return int(r["n"]), int(r["fp"] or 0)


def _triple_key(url: str, t: dict) -> tuple:
    return (url, t["subject"], t["predicate"], tuple(sorted(t["object"].items())))


def kg_keys(df) -> set:
    """The MERGE keys (url, subject, predicate, object) of a triples frame."""
    return {_triple_key(r["url"], r) for r in
            df.select("url", "subject", "predicate", "object").collect()}


def prf(pred: set, gold: set) -> tuple[float, float, float]:
    tp = len(pred & gold)
    p = tp / len(pred) if pred else 0.0
    r = tp / len(gold) if gold else 0.0
    return p, r, (2 * p * r / (p + r) if p + r else 0.0)


def oracle_rows(ex: PageExtractor, pages: list[dict]) -> list[tuple]:
    """Driver-side ``extract_pages_py`` triples as TRIPLES_DDL rows."""
    per_page = ex.extract_pages_py([p["text"] for p in pages])
    return [
        (p["url"], t["subject"], t["subject_type"], t["predicate"],
         t["object"], t["object_type"])
        for p, triples in zip(pages, per_page)
        for t in triples
    ]


def _row_keys(rows: list[tuple]) -> set:
    return {_triple_key(r[0], {"subject": r[1], "predicate": r[3], "object": r[4]})
            for r in rows}


def new_extractor() -> PageExtractor:
    return PageExtractor(SYNTH_SCHEMA, gen_world().alias_rows)


class Workload:
    name = ""
    why = ""
    min_ops = 1  # timed ops per run, however long they take

    def __init__(self, work: Path, seed: int, cores: int, scale: float = 1.0):
        self.spark = self.sc = None  # set by attach(), after set-up
        self.work = work
        self.seed = seed
        self.cores = cores
        self.scale = scale
        self.pages_per_op = 0
        self.triples_per_op = 0
        self.triple_f1 = 0.0
        self.problems: list[str] = []  # set-up problems (fail the run)
        self.eventlog_dir: str | None = None

    def attach(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext

    def n(self, base: int) -> int:
        return max(8 * self.cores, int(base * self.scale))

    def before_op(self, i: int) -> None:
        pass

    def probes(self) -> dict:
        """Spark-free kernel phase split over the workload's pages."""
        texts = [p["text"] for p in self.pages[:KERNEL_SAMPLE]]
        try:
            return kernel_metrics(new_extractor(), texts)
        except SplitMismatch as e:
            self.problems.append(f"kernel split: {e}")
            return {}

    def _guard_f1(self, pred: set, gold: set) -> None:
        p, r, self.triple_f1 = prf(pred, gold)
        if p < F1_FLOOR or r < F1_FLOOR:
            self.problems.append(f"planted-gold P/R {p:.4f}/{r:.4f} < {F1_FLOOR}")

    # -- per-layer metrics from the spans of one traced op ----------------------

    def _span_layers(self, tracer: Tracer, op_s: float) -> dict:
        spans = tracer.spans
        root = next(s.sid for s in spans if s.name == "op")
        mine = descendants(spans, root)
        selft = self_times(spans)
        dur = sum_by_name(spans, mine)
        own = sum_by_name(spans, mine, selft)
        calls = count_by_name(spans, mine)
        writes = [s for s in spans if s.sid in mine and s.name == "write_stage"]
        data_write = sum(
            s.dur for s in spans
            if s.name == "parquet" and s.parent in {w.sid for w in writes}
        )
        jobs = spark_jobs(self.eventlog_dir) if self.eventlog_dir else []
        op_jobs = [j for j in jobs if j["span"] in mine]

        def jobs_under(name):
            under = set()
            for s in spans:
                if s.sid in mine and s.name == name:
                    under |= descendants(spans, s.sid)
            return [j for j in op_jobs if j["span"] in under]

        task_s = sum(j["run_s"] for j in op_jobs)
        # reads made by the op itself, not inside another lakehouse call
        reads = sum(s.dur for s in spans if s.name == "read" and s.parent == root)
        return {
            "lakehouse.read_s": reads,
            "lakehouse.write_s": dur.get("write_stage", 0.0),
            "lakehouse.data_write_s": data_write,
            "lakehouse.lineage_s": own.get("write_stage", 0.0),
            "lakehouse.stage_done_s": dur.get("stage_done", 0.0),
            "lakehouse.merge_s": own.get("merge_upsert", 0.0),
            "lakehouse.stage_done_calls": calls.get("stage_done", 0),
            "lakehouse.jobs_per_write": (
                len(jobs_under("write_stage")) / len(writes) if writes else 0.0),
            "pipeline.merge_s": dur.get("merge_upsert", 0.0),
            "canonicalize.cc_s": dur.get("connected_components", 0.0),
            "canonicalize.cc_calls": calls.get("connected_components", 0),
            "canonicalize.cc_jobs": len(jobs_under("connected_components")),
            "spark.jobs": len(op_jobs),
            "spark.tasks": sum(j["tasks"] for j in op_jobs),
            "spark.task_core_s": task_s,
            "spark.occupancy": task_s / (op_s * self.cores) if op_s else 0.0,
            "spark.shuffle_bytes": sum(j["shuffle_bytes"] for j in op_jobs),
            "spark.spill_bytes": sum(j["spill_bytes"] for j in op_jobs),
        }

    def install(self, tracer: Tracer, merges: list) -> None:
        """Wrap the public calls each layer is measured at."""
        from pyspark.sql.readwriter import DataFrameWriter

        from deepie_spark.operators import canonicalize

        tracer.wrap(Lakehouse, "write_stage", "write_stage")
        tracer.wrap(Lakehouse, "stage_done", "stage_done")
        tracer.wrap(Lakehouse, "read", "read")
        tracer.wrap(Lakehouse, "merge_upsert", "merge_upsert", record=merges)
        tracer.wrap(DataFrameWriter, "parquet", "parquet")
        tracer.wrap_everywhere(canonicalize.connected_components,
                               "connected_components")


# ---- extract ------------------------------------------------------------------


class Extract(Workload):
    name = "extract"
    why = ("fused extraction over materialized pages, no lake: kernel-bound, "
           "shows tokenizer/scan/forward/decode gains")
    # ops take a few seconds: a median of three, after a warm-up pass
    min_ops = 3

    def setup(self) -> None:
        self.pages, self.gold = inputs.crawl(self.n(EXTRACT_PAGES), self.seed)
        self.ex = new_extractor()
        self.rows = oracle_rows(self.ex, self.pages)
        self.pages_per_op = len(self.pages) * EXTRACT_COPIES

    def write_inputs(self) -> None:
        self.path = inputs.write_pages(self.pages, self.work / "pages",
                                       4 * self.cores, copies=EXTRACT_COPIES)
        # the distinct pages alone, in as many files: every python worker
        # runs the kernel in the warm-up, at an eighth of an op's cost
        self.warm_path = inputs.write_pages(self.pages, self.work / "pages_warm",
                                            4 * self.cores)

    def prime(self) -> None:
        self.bc = self.sc.broadcast(self.ex)
        # the op hashes urls without their copy suffix, so the tiled
        # multiset is the distinct pages' multiset EXTRACT_COPIES times
        n, fp = triple_fingerprint(self.spark.createDataFrame(self.rows, TRIPLES_DDL))
        self.expected = (n * EXTRACT_COPIES, fp * EXTRACT_COPIES % FP_MOD)
        self.triples_per_op = n * EXTRACT_COPIES
        self._guard_f1(_row_keys(self.rows),
                       {_triple_key(g["url"], g) for g in self.gold})
        # untimed: python workers, JIT and code generation settle
        extract_triples_fused(self.spark.read.parquet(self.warm_path), self.bc).count()

    def op(self, i: int):
        triples = extract_triples_fused(self.spark.read.parquet(self.path), self.bc)
        return triple_fingerprint(
            triples.withColumn("url", F.regexp_replace("url", "#[0-9]+$", "")))

    def check(self, got) -> list[str]:
        if got != self.expected:
            return [f"triple fingerprint {got} != oracle {self.expected}"]
        return []

    def layers(self, got, tracer: Tracer, op_s: float) -> dict:
        return self._span_layers(tracer, op_s)


# ---- kg_build -----------------------------------------------------------------


class KgBuild(Workload):
    name = "kg_build"
    why = ("KgPipeline.run into a fresh lake, then a resume of the same run: "
           "full-size stages, lineage, stage_done, MERGE into live tables")

    def setup(self) -> None:
        self.pages, self.gold = inputs.crawl(self.n(KG_PAGES), self.seed)
        self.ex = new_extractor()
        self.expected = _row_keys(oracle_rows(self.ex, self.pages))
        self.pages_per_op = len(self.pages)

    def write_inputs(self) -> None:
        self.path = inputs.write_pages(self.pages, self.work / "pages",
                                       2 * self.cores)

    def prime(self) -> None:
        self.alias_df = self.spark.createDataFrame(gen_world().alias_rows, ALIAS_DDL)
        self.triples_per_op = len(self.expected)
        self._guard_f1(self.expected, {_triple_key(g["url"], g) for g in self.gold})
        self.entities = None
        # start the python workers and load the extractor in them, so the
        # first timed op does not pay process start-up (a whole warm-up op
        # would cost as much as a timed one: the op is mostly fixed cost)
        pages = self.spark.read.parquet(self.path).limit(4 * self.cores)
        extract_triples_fused(pages.repartition(self.cores),
                              self.sc.broadcast(self.ex)).count()

    def before_op(self, i: int) -> None:
        if i:
            shutil.rmtree(self.work / f"lake_{i - 1}", ignore_errors=True)
        self.lake_root = str(self.work / f"lake_{i}")

    def op(self, i: int):
        pages = self.spark.read.parquet(self.path)
        ex = new_extractor()
        build = KgPipeline(self.spark, self.lake_root, ex, run_id="build").run(
            pages, self.alias_df, resume=False)
        t0 = time.perf_counter()
        # a restart of the finished run: every stage must be found
        # committed, and the kg_* tables are MERGEd again while live
        resume = KgPipeline(self.spark, self.lake_root, ex, run_id="build").run(
            pages, self.alias_df, resume=True)
        self.resume_s = time.perf_counter() - t0
        return [build, resume]

    def check(self, results) -> list[str]:
        lake = Lakehouse(self.lake_root, self.spark)
        out = []
        got = kg_keys(lake.read("kg_triples"))
        if got != self.expected:
            out.append(f"kg_triples: {len(got - self.expected)} keys not in the "
                       f"oracle, {len(self.expected - got)} oracle keys missing")
        ent = frame_fingerprint(lake.read("kg_entities"))
        if ent[0] == 0:
            out.append("kg_entities is empty")
        if self.entities is None:
            self.entities = ent
        elif ent != self.entities:
            out.append(f"kg_entities {ent} differs from the first op {self.entities}")
        rerun = [s for s in results[1].stages_run if s not in KG_TABLES]
        if rerun:
            out.append(f"resume re-ran committed stages {rerun}")
        return out

    def layers(self, results, tracer: Tracer, op_s: float) -> dict:
        out = self._span_layers(tracer, op_s)
        for st in PIPELINE_STAGES:
            out[f"pipeline.{st}_s"] = sum(r.wall_s.get(st, 0.0) for r in results)
        out["pipeline.resume_s"] = self.resume_s
        out["pipeline.stages_skipped"] = sum(len(r.stages_skipped) for r in results)
        stage_sum = sum(sum(r.wall_s.values()) for r in results)
        # stage walls, MERGEs, stage_done checks and the read-back after
        # each stage are disjoint intervals of the op
        out["pipeline.unattributed_s"] = op_s - (
            stage_sum + out["pipeline.merge_s"] + out["lakehouse.stage_done_s"]
            + out["lakehouse.read_s"])
        lake = Lakehouse(self.lake_root, self.spark)
        row = lake.read("kg_triples").agg(
            F.count(F.lit(1)).alias("n"), F.count("subject_id").alias("linked")).first()
        out["linking.subject_link_rate"] = row["linked"] / row["n"] if row["n"] else 0.0
        written = dir_bytes(self.lake_root)
        out["lakehouse.bytes_written"] = written
        out["output.bytes_written_per_row"] = written / row["n"] if row["n"] else 0.0
        rewritten = sum(lake.read(m["name"]).count() for m in self.merges)
        updates = sum(m["updates"].dropDuplicates(m["keys"]).count()
                      for m in self.merges)
        out["lakehouse.merge_rewrite_ratio"] = rewritten / updates if updates else 0.0
        return out

    def install(self, tracer: Tracer, merges: list) -> None:
        super().install(tracer, merges)
        self.merges = merges


# ---- curate -------------------------------------------------------------------


class _CurateArgs:
    id_col = "doc_id"
    text_col = "text"
    langs = "en,zh"
    min_quality = 0.3
    dedup = "cluster"
    verify_threshold = 0.8

    def __init__(self, input: str, output: str):
        self.input = input
        self.output = output


class Curate(Workload):
    name = "curate"
    why = ("lang -> quality -> cluster dedup over the sf0.1 documents table: the "
           "only dedup/textstats workload, and a non-pipeline CC caller")

    def setup(self) -> None:
        if hashlib.sha256(inputs.DOCUMENTS.read_bytes()).hexdigest() != \
                inputs.DOCUMENTS_SHA256 and not self.problems:
            self.problems.append(f"{inputs.DOCUMENTS} is not the pinned table")
        self.docs = inputs.documents(self.seed)
        self.pages_per_op = self.docs.num_rows

    def write_inputs(self) -> None:
        self.path = inputs.write_documents(self.docs, self.work / "docs",
                                           2 * self.cores)
        self.warm_path = inputs.write_documents(self.docs.slice(0, WARM_DOCS),
                                                self.work / "docs_warm", 2 * self.cores)

    def prime(self) -> None:
        from scripts.curate_corpus import curate

        self.kept = None
        # an untimed op over a fifth of the documents: python workers, JIT
        # and code generation settle before the first timed op
        curate(self.spark, _CurateArgs(self.warm_path, str(self.work / "curated_warm")))

    def before_op(self, i: int) -> None:
        if i:
            shutil.rmtree(self.work / f"curated_{i - 1}", ignore_errors=True)
        self.out = str(self.work / f"curated_{i}")

    def op(self, i: int):
        from scripts.curate_corpus import curate

        return curate(self.spark, _CurateArgs(self.path, self.out))

    def check(self, report: dict) -> list[str]:
        out = []
        if report != CURATE_REPORT:
            out.append(f"report {report} != {CURATE_REPORT}")
        kept = self.spark.read.parquet(self.out).select("doc_id", "text").collect()
        if len(kept) != report.get("n_out"):
            out.append(f"n_out {report.get('n_out')} != {len(kept)} rows written")
        if len({r["text"] for r in kept}) != len(kept):
            out.append("exact duplicates survived dedup")
        ids = {r["doc_id"] for r in kept}
        if self.kept is None:
            self.kept = ids
        elif ids != self.kept:
            out.append(f"kept ids differ from the first op's in {len(ids ^ self.kept)}")
        return out

    def layers(self, report: dict, tracer: Tracer, op_s: float) -> dict:
        out = self._span_layers(tracer, op_s)
        out["dedup.dropped_ratio"] = report["dropped_dedup_ok"] / report["n_in"]
        written = dir_bytes(self.out)
        out["lakehouse.bytes_written"] = written
        out["output.bytes_written_per_row"] = (
            written / report["n_out"] if report["n_out"] else 0.0)
        return out

    def probes(self) -> dict:
        """Each curate operator forced alone (a no-op sink writes every
        column), outside the ops."""
        from deepie_spark.operators.dedup import dedup_clusters
        from deepie_spark.operators.textstats import lang_id, quality_score

        docs = self.spark.read.parquet(self.path)
        out = {}
        for name, fn in (("lang_id", lang_id), ("quality", quality_score),
                         ("dedup_clusters", dedup_clusters)):
            t0 = time.perf_counter()
            fn(docs).write.format("noop").mode("overwrite").save()
            out[f"curate.{name}_s"] = time.perf_counter() - t0
        return out


WORKLOADS = {w.name: w for w in (Extract, KgBuild, Curate)}
