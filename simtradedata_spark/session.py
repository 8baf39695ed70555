"""SparkSession bootstrap.

Tuned for the local[32] test harness but with cluster-safe settings: AQE on
(runtime coalesce + skew-join handling), shuffle partitions sized to cores
locally (on a real cluster AQE coalesces from a higher initial number), Arrow
enabled for the few pandas-UDF operators, UTC session timezone so results are
comparable against the DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# The directory that contains the simtradedata_spark package.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Initial-shuffle-partition sizing target, in bytes of COMPRESSED parquet
# input per shuffle partition. 16 MB compressed ≈ 60-150 MB of shuffle
# working set on this engine's heavy families (zstd parquet decompresses
# ~4x and the gram/shingle shuffles amplify input a further ~2-4x), which
# is what stops the sf10 (100x) spills: the r7 measurement — 128
# partitions on 32 cores, −15% on the twin subset, −29% on dedup_clusters
# — is what a ~1.75 GB compressed replica derives under this target.
# Below ~cores partitions idle-core cost dominates; above ~4x cores the
# per-task overhead does — the same clamp a cluster job applies as "2-3x
# total cores".
SHUFFLE_TARGET_PARTITION_BYTES = 16 * 1024 * 1024

# Shuffle/spill codec and file-split size; get_spark's comments say why.
IO_CODEC = "zstd"
MAX_PARTITION_BYTES = 8 * 1024 * 1024


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def derive_shuffle_partitions(input_bytes: int, cores: int) -> int:
    """clamp(ceil(input_bytes / SHUFFLE_TARGET_PARTITION_BYTES = 16 MB),
    cores, 4*cores) — the initial
    (pre-AQE) shuffle-partition count an input of this size wants. AQE only
    coalesces DOWNWARD, so the initial value is the parallelism ceiling;
    deriving it from bytes makes the measured sf10 win the default instead
    of an env opt-in, while small inputs stay at cores (AQE coalesces the
    rest, so certification plans are unchanged)."""
    want = -(-input_bytes // SHUFFLE_TARGET_PARTITION_BYTES)
    return max(cores, min(4 * cores, want))


# Absolute input-size threshold for big_input_session, in bytes of
# COMPRESSED parquet input. Core-count-INDEPENDENT by design: the r10
# proxy (explicitly-set shuffle.partitions > defaultParallelism) inverted
# with core count — more cores raised the threshold, so exactly the
# high-parallelism runs that generate the most shuffle files were
# classified "small" (the r10 ADVICE item). 512 MiB keeps every
# certification scale (sf0.1 = 17.5 MB, the sf1.0 10x replica = 175 MB)
# on the small-input plans the oracle certifies, while the 100x/1000x
# replicas where the eager-checkpoint paths measurably win (the ~10 GB
# shingle-explode shuffle, r7-r9 disk walls) sit 3-30x above it.
BIG_INPUT_BYTES = 512 * 1024 * 1024


def big_input_session(spark: SparkSession) -> bool:
    """True when THIS session's input outgrew the certification scale.

    The one signal is ``spark.simtradedata.inputBytes`` — the actual
    compressed input size ``get_spark(input_dir=...)`` measured at session
    build time (callers that construct their own session can set the same
    key) — compared against the absolute ``BIG_INPUT_BYTES`` threshold, so
    the answer keys on DATA SIZE, not conf provenance or core count. A
    missing or malformed key means a small session: tiny inputs must NOT
    route through the big-input paths (eager checkpoints cost ~2 s each at
    certification scale while buying nothing), and every scale entry point
    passes ``input_dir``. Used by the minhash checkpoint gate
    (operators/dedup.py); the curation-chain barrier GC nudge
    (operators/pipeline.py) is deliberately NOT gated on this since r11."""
    v = spark.conf.get("spark.simtradedata.inputBytes", None)
    try:
        return int(v) >= BIG_INPUT_BYTES
    except (TypeError, ValueError):
        return False


def get_spark(
    app_name: str = "simtradedata_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
    input_dir: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Settings rationale (each matters at 100 TB, not just locally):
      - AQE enabled: runtime shuffle-partition coalescing and skew-join
        splitting replace hand-tuned partition counts.
      - ``spark.sql.shuffle.partitions``: initial value only — AQE adjusts.
        Locally = cores; on a cluster set ~2-3x total cores via extra_conf.
      - Arrow: vectorizes the pandas-UDF slow path (indicators, as-of fallback).
      - UTC timezone: parquet timestamps are naive; pinning UTC makes Spark
        and DuckDB read identical wall-clock values.
    """
    n = cpus or DEFAULT_CPUS
    # AQE COALESCES shuffle partitions downward from the initial value but
    # never splits above it (skew-join splitting aside) — so the initial
    # count is the ceiling on shuffle parallelism/granularity. It is
    # derive_shuffle_partitions(input_dir bytes), else cores; extra_conf
    # overrides it like any other conf. At the certification scales the
    # derivation floors at cores, so plans and oracle hashes are untouched;
    # at 10-100x replicas it raises the ceiling the way a cluster job sets
    # 2-3x total cores, and AQE still coalesces small stages back down.
    input_bytes: int | None = None
    if input_dir is not None and os.path.isdir(input_dir):
        input_bytes = _dir_bytes(input_dir)
    if input_bytes is not None:
        shuffle_parts = str(derive_shuffle_partitions(input_bytes, n))
    else:
        if input_dir is not None:
            import warnings

            warnings.warn(
                f"get_spark(input_dir={input_dir!r}): not a directory — "
                "shuffle-partition derivation skipped, falling back to "
                f"cores ({n}). Check the path.",
                stacklevel=2,
            )
        shuffle_parts = str(n)
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # zstd shuffle/spill compression: on this engine's gram-heavy
        # families the shuffle payload is text n-grams, where zstd is
        # 2-3x smaller than the lz4 default for a few % CPU. Found at the
        # 1000x curation point: the 8-stage chain's barriers keep every
        # stage's shuffle files alive until the scratch release, and the
        # lz4 total exceeded the disk (the same sum a cluster pays in
        # aggregate spill bandwidth). Override via extra_conf.
        .config("spark.io.compression.codec", IO_CODEC)
        # Serialized storage blocks (localCheckpoint barriers, DISK-spilled
        # caches) are UNcompressed by default; the curation chain's
        # checkpointed barriers carry full document text, which zstd cuts
        # ~4x. Pure win for disk-bound stages, trivial CPU.
        .config("spark.rdd.compress", "true")
        # Split small files across cores: the sf0.1 fact tables are ~10 MB,
        # so the default 128 MB split reads them in ONE task and the other 31
        # cores idle (measured 2-3x on the TPC-H-shape scans). On a real
        # cluster with TB-scale tables raise this back toward 128 MB via
        # extra_conf — more splits there just add scheduling overhead.
        .config("spark.sql.files.maxPartitionBytes", str(MAX_PARTITION_BYTES))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # The oracle harness collects full results for value comparison; at
        # the 30x scale replica a 54M-row frame tops Spark's 1 GB default.
        # Local-harness knob only — production code never collects results.
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.ui.enabled", "false")
        # Bound the in-memory status stores. Even with the UI disabled the
        # AppStatus/SQLAppStatus listeners retain up to 1000 jobs/stages/
        # SQL executions and 100k task infos (the REST status API's
        # backing store) — across a 189-query session that store's update
        # and cleanup cost competes with the task threads and ages the
        # session: a fixed probe query measured 2.6-6.3x slower after 80
        # queries than on a fresh session, and bounding the retention
        # removed the aging (tools/session_age_probe.py A/B; the r10
        # driver bench's mid-suite entries — cluster_representatives 32 s
        # in-suite vs 5.9 s solo — are this mechanism). Not a local-mode
        # tune: any long multi-query driver benefits identically; raise
        # via extra_conf when the status API history actually matters.
        # retainedTasks is the delicate one — measured at BOTH scales:
        # 2000 made eviction churn an episodic per-stage stall at
        # 10x-replica event rates (dedup_clusters sf1.0 interleaved A/B:
        # [22, 42] s vs [8, 11] s at the 100k default), while the 100k
        # default lets ~100k live task wrappers accumulate and restores
        # the sf0.1 session aging (probe ratio 2.5x). 20000 measured clean
        # at both: sf1.0 solo 9.6-11.6 s, sf0.1 aging ratio 0.8-0.9.
        .config("spark.sql.ui.retainedExecutions", "8")
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "200")
        .config("spark.ui.retainedTasks", "20000")
        .config("spark.ui.retainedDeadExecutors", "10")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The driver's events table stores TIMESTAMP(NANOS); Spark has no nanos
        # timestamp — read as long and convert in the catalog (micros trunc,
        # matching DuckDB's internal micros precision).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Python Data Source connectors (sources/pyds.py) push symbol/date
        # predicates into the provider scan.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Python workers (UDFs, Python Data Sources) must import this
        # package, but they only see the driver's working directory and
        # env PYTHONPATH — a driver that found the package through sys.path
        # from another directory would leave them with ModuleNotFoundError.
        # Spark adds this entry to every worker's PYTHONPATH.
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    if input_bytes is not None:
        # Measured input size for big_input_session — the data-derived
        # scale signal the eager-checkpoint paths key on. Runtime (non-
        # static) conf, so getOrCreate applies it to a reused session too.
        b = b.config("spark.simtradedata.inputBytes", str(input_bytes))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # getOrCreate() silently ignores builder confs when a session already
    # exists in the process — the derived shuffle-partition count and the
    # zstd io-codec / rdd.compress settings above are no-ops here. Compare
    # the RESULTING conf unconditionally (getActiveSession() is
    # thread-local — getOrCreate can reuse a DEFAULT session created on
    # another thread that an is-check would miss); a fresh session always
    # matches, so the warning fires exactly on silent reuse. Callers that
    # need the derived confs (the scale-point benches) must stop() first.
    # An extra_conf value wins over the derived count, so compare with it.
    want = (extra_conf or {}).get("spark.sql.shuffle.partitions", shuffle_parts)
    got = spark.conf.get("spark.sql.shuffle.partitions", None)
    if got != want:
        import warnings

        warnings.warn(
            "get_spark(): reusing an existing SparkSession — requested "
            f"spark.sql.shuffle.partitions={want} ignored "
            f"(session has {got}). stop() the old session first if the "
            "derived confs matter.",
            stacklevel=2,
        )
    spark.sparkContext.setLogLevel("WARN")
    return spark
