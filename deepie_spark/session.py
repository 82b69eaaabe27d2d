"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]``, N defaulting to the host's cores;
on a real cluster the same confs apply (AQE, Arrow, skew-join). Shuffle
partitions default to the local core count — on a 1000-executor cluster
this should be set to ~2-3x total cores via spark-submit conf, not here.
"""

from __future__ import annotations

import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

_PKG_DIR = Path(__file__).resolve().parent


def clamp_blas_threads(n: int = 1) -> None:
    """Pin BLAS to ``n`` threads for THIS process, including an
    OpenBLAS that numpy has ALREADY loaded.

    The env-var route (below) only works for libraries loaded after it
    runs; importing ``pyspark`` pulls numpy in, so by the time
    ``get_spark`` executes the driver's OpenBLAS pool is already sized
    from the shell env (usually all 32 cores).  That is not just an
    oversubscription problem: OpenBLAS picks a different gemm split —
    and thus different float rounding — once a matmul crosses its
    threading threshold, so driver-side twin computations (the
    correctness fixtures, encoder_grid_py) can diverge from the
    single-threaded python workers on the longest pages.  dlopen-ing
    the already-loaded .so returns the live handle, so
    ``openblas_set_num_threads`` re-clamps the existing pool."""
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, str(n))
    try:
        import ctypes
        import glob

        import numpy as np

        for so in glob.glob(
            os.path.join(os.path.dirname(np.__file__), "..", "numpy.libs",
                         "libopenblas*")
        ) + glob.glob(
            os.path.join(os.path.dirname(np.__file__), "..", "numpy.libs",
                         "libscipy_openblas*")
        ):
            lib = ctypes.CDLL(so)
            for fn in ("openblas_set_num_threads64_",
                       "openblas_set_num_threads"):
                if hasattr(lib, fn):
                    getattr(lib, fn)(n)
                    break
    except Exception:
        pass  # non-OpenBLAS numpy: env vars above are the only lever


def build_pyfiles_zip(out_path: str | None = None) -> str:
    """Zip the package for ``spark-submit --py-files`` / ``addPyFile``.

    Python workers are separate processes: the driver's sys.path does
    NOT propagate, so the package must be shipped explicitly (this is
    the north rule's ``spark-submit --py-files`` deployment story).

    The default path is CONTENT-HASHED and written via an atomic
    rename: a fixed shared name races when two applications on one
    host ship different package versions (executors hard-fail with
    "exists and does not match contents"), and a reader could fetch a
    half-written zip.  Same content -> same path (reused); changed
    content -> a new path that cannot collide.
    """
    import hashlib

    tmp_fd, tmp_path = tempfile.mkstemp(suffix=".zip")
    os.close(tmp_fd)
    with zipfile.ZipFile(tmp_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for f in sorted(_PKG_DIR.rglob("*")):
            if "__pycache__" in f.parts or not f.is_file():
                continue
            zf.write(f, Path("deepie_spark") / f.relative_to(_PKG_DIR))
    if out_path is None:
        with open(tmp_path, "rb") as fh:
            digest = hashlib.md5(fh.read()).hexdigest()[:12]
        out_path = os.path.join(
            tempfile.gettempdir(), f"deepie_spark_pyfiles_{digest}.zip"
        )
    os.replace(tmp_path, out_path)
    return out_path


def ship_package(spark: SparkSession) -> None:
    spark.sparkContext.addPyFile(build_pyfiles_zip())


def _host_cores() -> int:
    """Cores this process may run on (its CPU affinity)."""
    return len(os.sched_getaffinity(0))


def default_master() -> str:
    """``local[$SPARK_GRAFT_CPUS]``, else ``local[<host cores>]``."""
    return f"local[{os.environ.get('SPARK_GRAFT_CPUS') or _host_cores()}]"


def _default_shuffle_partitions(master: str) -> int:
    """``local[N]`` -> N; ``local[*]`` or no core count -> host cores."""
    n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "*"
    return _host_cores() if n == "*" else int(n)


def get_spark(
    app_name: str = "deepie_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    ship: bool = True,
) -> SparkSession:
    master = master or default_master()
    if shuffle_partitions is None:
        shuffle_partitions = _default_shuffle_partitions(master)
    # one BLAS thread per python worker: Spark already runs one worker
    # per core, so any BLAS-internal threading (OpenBLAS spawns up to
    # MAX_THREADS per process for the batched encoder matmuls) just
    # oversubscribes the box — measured 1.5x wall inflation on the
    # fused extraction at local[32].  Same rule as production clusters
    # (one BLAS thread per task slot).  clamp_blas_threads also re-pins
    # the DRIVER's already-loaded OpenBLAS (env setdefault alone is too
    # late once pyspark has imported numpy), keeping driver-side twin
    # float results identical to the single-threaded workers.
    clamp_blas_threads(1)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("DEEPIE_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # floor on SCAN parallelism: 6 splits per shuffle partition
        # (6 waves when shuffle partitions equal the core count, the
        # default).  Without it a compact parquet input packs into ~1
        # task per core — a single wave, so the job's wall time is its
        # slowest task and every early-finishing core idles (measured
        # occupancy 0.78 on the replicated-corpus extraction).  More
        # waves keep stragglers amortized; maxPartitionBytes still caps
        # split size for big inputs, so this only bites when the scan
        # would otherwise under-parallelize.
        .config(
            "spark.sql.files.minPartitionNum", str(6 * int(shuffle_partitions))
        )
    )
    # ship the same pinning into executor-spawned python workers (on a
    # real cluster the driver env doesn't reach executors; in local
    # mode the env inherit covers it, this conf makes it explicit)
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        b = b.config(f"spark.executorEnv.{var}", os.environ[var])
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if ship:
        ship_package(spark)
    return spark
