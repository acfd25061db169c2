"""SparkSession factory with the engine's standard configuration.

The reference pins every timestamp to Asia/Hong_Kong
(reference: src/main.py:33-34, src/ingestion/SqlDbEtl.py:78-80); we pin
the *session* timezone once instead of localizing per value. All
engine-internal analytics, however, operate on TIMESTAMP_NTZ columns
(naive wall-clock, the same semantics the reference's MySQL DATETIME
columns carry), so results do not silently shift when a host session
uses a different zone.

Scale posture: AQE on (runtime re-planning, skew-join splitting),
shuffle partitions sized for the local harness but overridable for a
real cluster via ``SPARK_GRAFT_CPUS`` / explicit config.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Configs that are safe (and necessary) to apply to *any* session that
#: uses this engine, including one handed to us by an external driver.
RUNTIME_CONFS: dict[str, str] = {
    # The driver-generated events table stores TIMESTAMP(NANOS) which
    # Spark's parquet reader rejects unless nanos are surfaced as longs;
    # io.load_table() then converts ns-longs to TIMESTAMP_NTZ.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Runtime adaptivity: re-plan with real statistics, split skewed
    # shuffle partitions, coalesce tiny ones — essential at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE coalescing floor. AQE sizes post-shuffle partitions by
    # BYTES, so a CPU-dense stage over small rows — the levenshtein
    # verify over candidate pairs, within-cell cosine dots —
    # collapses to floor(bytes/1m) tasks and runs SERIAL no matter
    # how many cores exist. The r14 scaling probe at a synthesized
    # 10x SF measured exactly that (q_edit_distance / q_semdedup /
    # q_ngram_containment / q_cluster_split: 8-core vs 32-core ratio
    # ~1.0), and lowering the floor to 16-64k restored 1.7x on
    # q_edit_distance and 1.27x on q_semdedup there. At the BENCH SF
    # (sf0.1) the same floor measurably COSTS (scheduling overhead on
    # tiny tasks: q_semdedup 4.8 -> 5.4), so the local default stays
    # Spark's 1m and the knob is parameterized for clusters: on a
    # production deployment running CPU-dense verify rungs, set
    # SPARK_GRAFT_MIN_PARTITION_SIZE=64k (the advisory size, not this
    # floor, governs large shuffles — the floor only affects
    # small-byte stages). Evidence: OPTIMIZATION_r14.md scaling probe.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": os.environ.get(
        "SPARK_GRAFT_MIN_PARTITION_SIZE", "1m"
    ),
}


#: Sessions already configured (by applicationId) — configure_session
#: is called defensively from every load_table; skip the conf round
#: trips after the first call on a given session.
_CONFIGURED: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via ``addPyFile``.

    Why: cloudpickle serializes module-level functions BY REFERENCE
    (module + qualname), so any kernel that calls a module helper —
    the multimodal codecs' ``decode_media``, the Q96 UDF's
    ``_price_pair_py``, the BPE pandas mirror — needs
    ``dex_data_ingestor_spark`` importable inside every executor's
    worker. On the local test rig that works by accident (workers run
    ``python -m pyspark.daemon`` from the driver's cwd, and ``-m``
    puts cwd on sys.path); on a real cluster the executors share
    nothing with the driver's filesystem. ``addPyFile`` is the
    standard Spark answer: the zip is fetched once per executor and
    prepended to every worker's import path — the same mechanism as
    ``spark-submit --py-files``. Registry queries additionally keep
    their kernels as self-contained closures (shipped by value, see
    ``_make_np_quantizer``) so registry queries never depend on
    this; the clean-worker guard in tests/test_worker_env.py pins
    both layers.

    Zip cost: ~0.1 s and a few hundred KB, once per session.
    """
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    fd, zpath = tempfile.mkstemp(
        prefix="dex_data_ingestor_spark_", suffix=".zip"
    )
    os.close(fd)
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, dirnames, filenames in os.walk(pkg_dir):
            dirnames[:] = [d for d in dirnames if d != "__pycache__"]
            for fn in sorted(filenames):
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, root))
    spark.sparkContext.addPyFile(zpath)
    # The zip must OUTLIVE registration: executors re-fetch registered
    # files from the ORIGINAL path at task-dependency update (local
    # mode compares the userFiles copy against the source byte-wise —
    # unlinking here made the very first task die with "exists and
    # does not match contents", reproduced r10). So the cleanup is
    # deferred to interpreter exit instead of leaking one zip per
    # session forever.
    import atexit

    atexit.register(_unlink_quiet, zpath)


def _unlink_quiet(path: str) -> None:
    try:
        os.unlink(path)
    except OSError:
        pass


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session.

    Idempotent; used both by :func:`get_session` and defensively by the
    IO layer when the engine runs inside a session it did not build.
    """
    app_id = spark.sparkContext.applicationId
    if app_id in _CONFIGURED:
        return spark
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # A locked-down session (static conf) — reads of ns-parquet
            # will fail loudly later with a clear Spark error.
            pass
    try:
        _ship_package(spark)
    except Exception as exc:
        # A session that forbids addPyFile (or a read-only tmp) —
        # module-helper kernels then need the package on the
        # executors' PYTHONPATH, the plain spark-submit contract.
        # Warn instead of passing silently: if that contract is ALSO
        # unmet, the first module-helper kernel dies on an executor
        # ImportError far from this cause.
        import warnings

        warnings.warn(
            f"could not ship dex_data_ingestor_spark to executors "
            f"({exc!r}); module-helper kernels require the package "
            f"on the executors' PYTHONPATH",
            RuntimeWarning,
            stacklevel=2,
        )
    _CONFIGURED.add(app_id)
    return spark


def default_cpus() -> int:
    """``$SPARK_GRAFT_CPUS`` if set, else the cores this process may run
    on (its CPU affinity where the OS reports one)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    try:
        return len(os.sched_getaffinity(0)) or 1
    except AttributeError:  # no affinity API (macOS, Windows)
        return os.cpu_count() or 1


def get_session(
    app_name: str = "dex-data-ingestor-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    timezone: str = "Asia/Hong_Kong",
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the engine's SparkSession.

    ``master`` defaults to ``local[n]`` and the shuffle partitions to
    ``n``, with ``n = default_cpus()``: ``$SPARK_GRAFT_CPUS``, else the
    host's cores. On a real cluster pass ``None`` via spark-submit and
    the cluster manager decides.
    """
    if master is None:
        master = f"local[{default_cpus()}]"
    if shuffle_partitions is None:
        shuffle_partitions = default_cpus()

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", timezone)
        # Arrow for any pandas_udf path (vectorized slow-path escape hatch).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Unset, spark.driver.memory defaults to 1g — and in local
        # mode the driver JVM IS every executor, so local[32] runs 32
        # task slots in one 1 GiB heap. The bench survived that for
        # eight rounds on spill behavior alone, then OOMed mid-run in
        # r9 (UnsafeExternalSorter spill-read while hash aggregates
        # held the rest of the heap). Static conf: only effective for
        # the process's FIRST session (bench/driver-sim subprocesses),
        # inert via getOrCreate on an already-running JVM.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    for key, value in (extra_confs or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    return configure_session(spark)
