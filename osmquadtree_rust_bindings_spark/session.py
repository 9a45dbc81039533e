"""SparkSession builder with package shipping.

``get_spark`` zips this package and registers it via ``addPyFile`` so
executor python workers can import the kernels regardless of where the
driver script lives — the local-mode equivalent of
``spark-submit --py-files engine.zip`` (north-rule deployment shape).
``build_pyfiles_zip`` is also used by jobs/ entrypoints to produce the
artifact for a real cluster submit.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_PKG_ROOT = os.path.dirname(os.path.abspath(__file__))
_PKG_NAME = os.path.basename(_PKG_ROOT)


def build_pyfiles_zip(out_path: str | None = None) -> str:
    """Zip the package for --py-files / addPyFile."""
    if out_path is None:
        out_path = os.path.join(tempfile.gettempdir(),
                                f"{_PKG_NAME}-pyfiles.zip")
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(_PKG_ROOT):
            for f in files:
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                rel = os.path.join(_PKG_NAME,
                                   os.path.relpath(full, _PKG_ROOT))
                zf.write(full, rel)
    return out_path


_shipped: set[int] = set()


def ensure_shipped(spark: SparkSession) -> None:
    """Idempotently register the package zip on an EXISTING session so
    executor python workers can import the kernels — needed when the
    session was built by a caller (e.g. the driver harness) instead of
    :func:`get_spark`, possibly with a cwd far from the repo.

    Idempotence is decided by LOOKING, not by sniffing exception text:
    a zip whose basename is already in ``sc.listFiles`` (registered by
    this module under another import, or by a prior session user) is
    skipped; any exception from addPyFile is a real failure and raises."""
    sc = spark.sparkContext
    if id(sc) in _shipped:
        return
    zip_path = build_pyfiles_zip()
    base = os.path.basename(zip_path)
    try:
        already = any(f.rstrip("/").rsplit("/", 1)[-1] == base
                      for f in sc.listFiles)
    except Exception:
        already = False
    if not already:
        sc.addPyFile(zip_path)
    _shipped.add(id(sc))


def resolve_shuffle_partitions(master: str,
                               explicit: int | None = None) -> int:
    """Shuffle-width policy, factored for unit testing: an explicit value
    wins; then the SPARK_GRAFT_SHUFFLE_PARTITIONS env override (probes
    tune task slots and shuffle width independently — see get_spark);
    else max(16, 2 * cores) parsed from the local[N] master (local[*] or
    unparsable -> os.cpu_count)."""
    if explicit is not None:
        return explicit
    envp = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if envp:
        return int(envp)
    try:
        cores = int(master.split("[")[1].rstrip("]").replace("*", "0"))
    except (IndexError, ValueError):
        cores = 0
    cores = cores or os.cpu_count() or 8
    return max(16, 2 * cores)


def default_cpus() -> int:
    """Task slots for ``local[N]``: the SPARK_GRAFT_CPUS override, else
    the host's CPU count."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def get_spark(master: str | None = None, app_name: str = "osmquadtree-spark",
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None,
              ship_package: bool = True) -> SparkSession:
    """Session tuned for the engine: AQE on (runtime skew-join + coalesce),
    Arrow on (all kernels are Arrow-batched), package shipped to executors.
    """
    if master is None:
        master = f"local[{default_cpus()}]"
    b = (
        SparkSession.builder.master(master).appName(app_name)
        # local mode: the driver JVM hosts all executor threads.  16g
        # measured fastest on this box — oversized heaps (48g) trade 2x+
        # wall time to GC pauses on the bench suite.
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # Unrolled kernel expressions (18-level calc_qts descent) generate
        # one long consume method; HotSpot refuses to JIT methods > 8 KB
        # bytecode by default, silently running them in the bytecode
        # interpreter (measured 25x slowdown on the bbox-qt stage).  On a
        # real cluster the executor JVMs need the same flag.
        .config("spark.driver.extraJavaOptions", "-XX:-DontCompileHugeMethods")
        .config("spark.executor.extraJavaOptions", "-XX:-DontCompileHugeMethods")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # bound Python->JVM Arrow batches by BYTES too: the records cap
        # alone lets a 65k-row frame of ~10KB payloads serialize as one
        # ~600MB direct buffer per task (measured OutOfDirectMemory);
        # input batches are already bytes-capped by maxBytesPerBatch=64m
        .config("spark.sql.execution.arrow.maxBytesPerOutputBatch", "64m")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
    )
    # Shuffle width (resolve_shuffle_partitions): explicit arg, then the
    # SPARK_GRAFT_SHUFFLE_PARTITIONS env override — boundary probes tune
    # task-slot count and shuffle width INDEPENDENTLY (e.g. local[16]
    # slots with 256 partitions keeps SHJ build relations under the
    # conversion threshold while halving concurrent builds), and a
    # builder .config here would win over spark-submit --conf, so the
    # env var is the deterministic channel — else 2 x cores.  Spark's
    # 200 default is a legacy constant: on this box it turns every small
    # shuffle into 200 ~10ms tasks (measured 4.5x on the minhash
    # pipeline, whose cached intermediates FREEZE the 200 partitioning —
    # AQE cannot coalesce an InMemoryRelation).  2 x cores keeps all
    # cores busy with one task wave; on a real cluster pass
    # shuffle_partitions ~ 2-3 x total executor cores and let AQE
    # coalesce down / skew-split up from there.
    shuffle_partitions = resolve_shuffle_partitions(master,
                                                    shuffle_partitions)
    b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    if ship_package:
        ensure_shipped(spark)
    return spark
