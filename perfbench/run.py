"""Benchmark of record for deepie_spark.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One driver process starts Spark on
``local[<cores>]`` (cores from the process's CPU affinity), builds the
workload's inputs and their oracle from ``--seed`` at least three times
before Spark starts (``setup_s`` is the median), writes them once, warms up, then runs timed ops back to back until ``--seconds``
have passed and the workload's ``min_ops`` are done, checking every op's
output.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced and traced ops and reports the per-layer metrics (spans around
library calls, the Spark event log, a Spark-free kernel phase split).
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
SETUP_REPS = 3     # at least this many set-up repetitions,
SETUP_MIN_S = 0.5  # and more until they add up to this, so a fast set-up has a steady median
UNATTRIBUTED_MAX = 0.10  # share of a traced kg_build op the layers may miss
DRIVER_MEM = "2g"  # the library's 8g default is far more than these inputs need

# name -> (unit, better); printed in this order
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_s": ("s", "lower"),
    "pages_per_s": ("pages/s", "higher"),
    "cpu_s_per_kpage": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}
PER_LAYER = {
    "extract.tokenize_ms_per_page": ("ms", "lower"),
    "extract.trigger_scan_ms_per_page": ("ms", "lower"),
    "extract.forward_ms_per_page": ("ms", "lower"),
    "extract.decode_ms_per_page": ("ms", "lower"),
    "extract.assemble_ms_per_page": ("ms", "lower"),
    "extract.kernel_ms_per_page": ("ms", "lower"),
    "extract.hit_page_ratio": ("ratio", "lower"),
    "extract.triples_per_page": ("count", "higher"),
    "pipeline.texts_s": ("s", "lower"),
    "pipeline.tokens_s": ("s", "lower"),
    "pipeline.mentions_s": ("s", "lower"),
    "pipeline.triples_s": ("s", "lower"),
    "pipeline.linked_s": ("s", "lower"),
    "pipeline.entity_clusters_s": ("s", "lower"),
    "pipeline.merge_s": ("s", "lower"),
    "pipeline.resume_s": ("s", "lower"),
    "pipeline.stages_skipped": ("count", "higher"),
    "pipeline.unattributed_s": ("s", "lower"),
    "lakehouse.write_s": ("s", "lower"),
    "lakehouse.data_write_s": ("s", "lower"),
    "lakehouse.lineage_s": ("s", "lower"),
    "lakehouse.stage_done_s": ("s", "lower"),
    "lakehouse.read_s": ("s", "lower"),
    "lakehouse.merge_s": ("s", "lower"),
    "lakehouse.stage_done_calls": ("count", "lower"),
    "lakehouse.jobs_per_write": ("count", "lower"),
    "lakehouse.bytes_written": ("bytes", "lower"),
    "lakehouse.merge_rewrite_ratio": ("ratio", "lower"),
    "canonicalize.cc_s": ("s", "lower"),
    "canonicalize.cc_jobs": ("count", "lower"),
    "canonicalize.cc_calls": ("count", "lower"),
    "linking.subject_link_rate": ("ratio", "higher"),
    "curate.lang_id_s": ("s", "lower"),
    "curate.quality_s": ("s", "lower"),
    "curate.dedup_clusters_s": ("s", "lower"),
    "dedup.dropped_ratio": ("ratio", "higher"),
    "spark.jobs": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.task_core_s": ("s", "lower"),
    "spark.occupancy": ("ratio", "higher"),
    "spark.shuffle_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "output.triples_per_hour": ("1/h", "higher"),
    "output.bytes_written_per_row": ("bytes", "lower"),
    "output.triple_f1": ("ratio", "higher"),
    "trace.op_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["extract", "kg_build", "curate"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (tests use a small one)")
    return p.parse_args(argv)


def isolate_scratch(work: Path) -> None:
    """Keep every file Spark, the JVM and the python workers write
    inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # both JVMs (spark-submit's launcher and the driver): temp files in
    # ``work``, and no hsperfdata file, which the JVM puts in the system temp dir
    jvm = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    for var in ("SPARK_LAUNCHER_OPTS", "SPARK_SUBMIT_OPTS"):
        os.environ[var] = f"{os.environ.get(var, '')} {jvm}".strip()
    os.environ.setdefault("DEEPIE_DRIVER_MEM", DRIVER_MEM)


def start_spark(work: Path, cores: int, trace: bool):
    from deepie_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if trace:
        (work / "eventlog").mkdir(parents=True, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = (work / "eventlog").as_uri()
        conf["spark.eventLog.rolling.enabled"] = "false"  # one plain JSON file
        conf["spark.eventLog.compress"] = "false"
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    from perfbench.host import tree_pids, wait_gone

    me = os.getpid()
    started = [p for p in tree_pids(me) if p != me]
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    for pid in wait_gone(started):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    wait_gone(started, timeout_s=10)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def set_up(wl) -> list[float]:
    """Time repetitions of the workload's set-up (SETUP_REPS, or more
    until SETUP_MIN_S has passed); the median absorbs a first repetition
    that pays one-time costs.  A repetition is CPU work only; the inputs
    are written to disk once, untimed, so file-system noise stays out of
    ``setup_s``.  All of it runs before Spark starts, so JVM work does
    not land in it."""
    times = []
    while len(times) < SETUP_REPS or sum(times) < SETUP_MIN_S:
        gc.collect()  # each repetition starts from the same heap state
        t0 = time.perf_counter()
        wl.setup()
        times.append(time.perf_counter() - t0)
    wl.write_inputs()
    return times


def run_workload(spark, wl, args, setup_s: list[float], cores: int, work: Path) -> dict:
    from perfbench.host import PeakRss, tree_cpu_s
    from perfbench.trace import Tracer

    wl.attach(spark)
    if args.trace:
        wl.eventlog_dir = str(work / "eventlog")
    t0 = time.perf_counter()
    wl.prime()
    prime_s = time.perf_counter() - t0

    me = os.getpid()
    plain, traced, cpu, rss, layers = [], [], [], [], []
    attempted = failed = 0
    t_start = time.perf_counter()
    i = 0
    while True:
        # traced runs alternate untraced and traced ops, after prime()'s
        # warm-up, so both see the same warmth
        use_trace = bool(args.trace) and i % 2 == 1
        wl.before_op(i)
        tracer = Tracer(spark.sparkContext) if use_trace else None
        attempted += 1
        try:
            if tracer is not None:
                merges: list = []
                wl.install(tracer, merges)
            c0 = tree_cpu_s(me)
            with PeakRss(me) as peak:
                t0 = time.perf_counter()
                try:
                    if tracer is not None:
                        with tracer.span("op"):
                            handle = wl.op(i)
                    else:
                        handle = wl.op(i)
                finally:
                    op_s = time.perf_counter() - t0
                    if tracer is not None:
                        tracer.unwrap()
            c1 = tree_cpu_s(me)
            problems = wl.check(handle)
        except Exception:
            problems = [traceback.format_exc()]
        if problems:
            failed += 1
            print(f"op {i} FAILED: " + "; ".join(problems), file=sys.stderr)
        else:
            (traced if tracer is not None else plain).append(op_s)
            cpu.append((c1 - c0) / (wl.pages_per_op / 1000))
            rss.append(peak.peak_mb)
            if tracer is not None:
                layers.append(wl.layers(handle, tracer, op_s))
                tracer.dump(str(work / f"spans-{args.workload}-{args.seed}-{i}.json"))
        i += 1
        elapsed = time.perf_counter() - t_start
        done = (plain and traced) if args.trace else len(plain) >= wl.min_ops
        if elapsed >= args.seconds and done:
            break
        if elapsed >= 4 * args.seconds + 60:  # every op keeps failing
            break

    out = {"setup_s": setup_s, "prime_s": prime_s, "plain": plain, "traced": traced,
           "attempted": attempted, "failed": failed}
    op_s = median(plain)
    if not args.trace:
        out["metrics"] = {
            "setup_s": median(setup_s),
            "op_s": op_s,
            "pages_per_s": wl.pages_per_op / op_s if op_s else 0.0,
            "cpu_s_per_kpage": median(cpu),
            "peak_rss_mb": median(rss),
        }
    else:
        m = dict.fromkeys(PER_LAYER, 0.0)
        for name in PER_LAYER:
            vals = [lay[name] for lay in layers if name in lay]
            if vals:
                m[name] = median(vals)
        m.update(wl.probes())
        m["trace.op_s"] = median(traced)
        m["trace.overhead_s"] = median(traced) - op_s
        m["output.triples_per_hour"] = (
            wl.triples_per_op / op_s * 3600 if op_s else 0.0)
        m["output.triple_f1"] = wl.triple_f1
        out["metrics"] = m
        ratio = m["pipeline.unattributed_s"] / m["trace.op_s"] if traced else 0.0
        out["unattributed_ratio"] = ratio
        if wl.name == "kg_build" and ratio > UNATTRIBUTED_MAX:
            wl.problems.append(f"layers miss {ratio:.1%} of the traced op, "
                               f"more than {UNATTRIBUTED_MAX:.0%}")
    out["problems"] = wl.problems  # set-up, probe and attribution failures
    out["triple_f1"] = wl.triple_f1
    return out


def report(args, cores: int, res: dict) -> dict:
    units = PER_LAYER if args.trace else END_TO_END
    attempted, failed = res["attempted"], res["failed"]
    if res["problems"]:  # a failed set-up guard makes every op's output suspect
        failed = attempted
    print(f"perfbench workload={args.workload} seed={args.seed} cores={cores} "
          f"trace={args.trace} seconds={args.seconds}")
    print(f"  setup reps (s): {[round(x, 3) for x in res['setup_s']]}, "
          f"then {res['prime_s']:.3f} s of priming and warm-up")
    print(f"  untraced op_s : {[round(x, 3) for x in res['plain']]}")
    if args.trace:
        print(f"  traced op_s   : {[round(x, 3) for x in res['traced']]}")
        print(f"  unattributed  : {res['unattributed_ratio']:.1%} of traced op_s")
    for name, (unit, _better) in units.items():
        print(f"  {name:34s} {res['metrics'][name]:.6g} {unit}")
    print(f"  {'triple_f1':34s} {res['triple_f1']:.6g}")
    print(f"  {'failed_ratio':34s} {failed / max(attempted, 1):.6g}")
    for p in res["problems"]:
        print(f"  problem: {p}", file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": res["metrics"][n], "unit": u}
                    for n, (u, _better) in units.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "deepie_spark" / "__init__.py").is_file():
        print(f"perfbench: no deepie_spark package under {ROOT}", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    isolate_scratch(WORK)
    sys.path.insert(0, str(ROOT))
    from perfbench.host import host_cores

    from perfbench.workloads import WORKLOADS

    cores = host_cores()
    wl = WORKLOADS[args.workload](WORK, args.seed, cores, args.scale)
    setup_s = set_up(wl)
    spark = start_spark(WORK, cores, bool(args.trace))
    try:
        res = run_workload(spark, wl, args, setup_s, cores, WORK)
    finally:
        stop_spark(spark)
        for sub in WORK.iterdir():
            if sub.is_dir():
                shutil.rmtree(sub, ignore_errors=True)
    line = report(args, cores, res)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
