"""SparkSession factory tuned for this pipeline.

Local mode is sized from the host unless told otherwise
(default_sizing: every core this process may run on, an eighth of the
RAM for the driver); on a real cluster the same builder is driven by
spark-submit confs instead. AQE is on for skew-join splitting and
post-shuffle coalescing; Arrow batches are size-capped so encoder UDF
inner loops stay dense (input_hint).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from causalre_spark.config import DEFAULT_CONFIG, PipelineConfig


def default_sizing() -> tuple[int, str]:
    """(cores, spark.driver.memory) for a local session: SPARK_GRAFT_CPUS
    and SPARK_DRIVER_MEM when set, else the cores this process may run
    on and an eighth of the host's RAM, clamped to 1-8 GiB (the rest is
    left to the Python workers, the page cache and other tenants)."""
    cores = os.environ.get("SPARK_GRAFT_CPUS")
    mem = os.environ.get("SPARK_DRIVER_MEM")
    if not mem:
        ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
        mem = f"{min(max(ram_mb // 8, 1024), 8192)}m"
    return (int(cores) if cores else len(os.sched_getaffinity(0))), mem


def get_spark(
    app: str = "causalre_spark",
    cores: int | None = None,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    extra_conf: dict | None = None,
) -> SparkSession:
    default_cores, driver_mem = default_sizing()
    cores = cores or default_cores
    # One BLAS thread per Python worker: N workers x K BLAS threads
    # oversubscribes the executor (measured 27% per-doc slowdown in the
    # encoder UDF from OpenBLAS coordination alone on tiny matmuls —
    # the model's arrays are far below multi-thread break-even). Local
    # mode: workers fork from this process, inheriting the env;
    # clusters: executorEnv carries it to every executor JVM.
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
                "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # Under spark-submit the master (and cluster sizing) comes from the
    # submit command; hard-coding .master() here would silently hijack a
    # real cluster back to local mode. Only default to local[cores] when
    # no master was provided.
    from pyspark import SparkConf, SparkContext

    # Under spark-submit the driver JVM is already running (its gateway
    # port is in the env): attach to it so SparkConf() sees the values
    # from --conf and spark-defaults.conf. A plain python launch has no
    # JVM yet and must not start one here — the SparkSession confs below
    # size it at launch.
    if os.environ.get("PYSPARK_GATEWAY_PORT"):
        SparkContext._ensure_initialized()
    submitted = SparkConf()
    b = SparkSession.builder
    # spark-submit surfaces --master as spark.master in the defaults
    # conf (cluster deployments) or as the MASTER env var (the pip
    # distribution's launcher); either way, leave it alone.
    if not (os.environ.get("MASTER") or submitted.contains("spark.master")):
        b = b.master(f"local[{cores}]")
    # HotSpot refuses to JIT methods over 8000 bytecode bytes
    # (DontCompileHugeMethods, on by default): Catalyst's generated
    # whole-stage methods for wide literal chains (unrolled dot
    # products, long CASE chains) exceed that and would run in the
    # BYTECODE INTERPRETER forever — measured 25x on a pair-scoring
    # stage (51 s -> 2 s warm). Janino's own 64 KB limit still bounds
    # method size; letting the JIT compile what Janino accepted is
    # strictly better than interpreting it. Merged (not overwritten)
    # with the java options already configured (spark-submit --conf,
    # spark-defaults.conf) and the caller-supplied ones; executors on a
    # real cluster get the same flag.
    _jit_flag = "-XX:-DontCompileHugeMethods"
    extra_conf = dict(extra_conf or {})
    for opt_key in ("spark.driver.extraJavaOptions",
                    "spark.executor.extraJavaOptions"):
        opts = [v for v in (submitted.get(opt_key, None),
                            extra_conf.pop(opt_key, None)) if v]
        if _jit_flag not in " ".join(opts).split():
            opts.append(_jit_flag)
        extra_conf[opt_key] = " ".join(opts)
    b = (
        b.appName(app)
        .config("spark.sql.shuffle.partitions", str(max(cfg.shuffle_partitions, cores)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Spark 4.x implements upper/lower/initcap under UTF8_BINARY via
        # ICU by default; the FIRST use in each executor JVM triggers
        # CollationAwareUTF8String.<clinit>, which builds a per-codepoint
        # title-case table through ICU — measured 4+ MINUTES of
        # single-threaded CPU on this VM (thread dump: UCharacter
        # .toTitleCase inside <clinit>, all other tasks blocked on the
        # class-init monitor). That one-time stall lands in whatever
        # stage first touches lower() — here the linking tail — and
        # reads as a serial scaling bottleneck. JVM case mapping is
        # Unicode-correct, locale-invariant, and agrees with the frozen
        # Python (str.lower) and DuckDB twins on the normalizer's
        # domain; the oracle/parity suites gate that equivalence.
        .config("spark.sql.icu.caseMappings.enabled", "false")
        # columnar-cache compression runs DictionaryEncoding
        # .gatherCompressibilityStats over every cached string column:
        # one UTF8String.clone + boxed HashMap op PER ROW, interpreted.
        # Thread dumps of the scaling leg showed a single cache-build
        # task burning 25+ min in exactly these frames on the persisted
        # linking intermediates (high-cardinality short strings), made
        # worse on VMs that populate fresh memory at ~60-100 MB/s. Our
        # caches are short-lived working sets — build speed matters,
        # the ~2x size saving does not.
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(cfg.arrow_max_records))
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.python.worker.reuse", "true")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def driver_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """DataFrame over driver-side Python rows, handed to Spark as one
    pyarrow.Table pinned to `schema` (a DDL string).

    createDataFrame(list, ddl) plans a LogicalRDD: it parallelizes the
    rows and pickles them again inside a Python-worker job (measured
    1.46 CPU-s for 1,543 (long, long) rows). A pyarrow.Table plans as a
    LocalRelation and runs no job of its own (0.17 CPU-s for the same
    rows). The Arrow schema is derived from `schema`, so an int column
    stays int and never widens to the int64 Python ints would infer."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow)
    return spark.createDataFrame(table, struct)
