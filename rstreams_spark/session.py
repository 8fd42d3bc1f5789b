"""Tuned SparkSession builder.

One place to set the scale-oriented defaults so every entrypoint
(tests, bench, driver) runs the same engine configuration.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"

# generated classes Spark keeps compiled per JVM (see get_spark)
CODEGEN_CACHE_ENTRIES = 2048


def _default_driver_mem() -> str:
    """Driver heap default: 48g (sf1 broadcasts OOM at 8g) clamped to
    ~80% of physical RAM so hosts smaller than the dev box don't get
    OOM-killed by a lazily-committed Xmx they can't back. The
    SPARK_GRAFT_DRIVER_MEM env var always wins."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (ValueError, OSError, AttributeError):
        return "48g"
    return f"{max(2, min(48, int(phys * 0.8 / (1 << 30))))}g"


def get_spark(
    app_name: str = "rstreams_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    AQE is on so post-shuffle partition counts, skew joins and
    dynamic broadcast decisions adapt at runtime — the same configs
    we would ship to a 1000-executor cluster; only ``master`` is a
    local-mode artifact.

    ``spark.sql.shuffle.partitions`` defaults to the executor slots
    (``defaultParallelism``: the core count under ``local[N]``), so
    each streaming state operator runs one partition per core. An
    explicit ``shuffle_partitions`` or ``extra_conf`` entry wins. A
    query restarted from a checkpoint keeps the count it was started
    with (Spark restores it from the offset log), whatever the
    session says.

    Spark's codegen cache holds ``CODEGEN_CACHE_ENTRIES`` (2048)
    generated classes, above the whole catalog's ~1,120, so each class
    compiles once per JVM. At Spark's default of 100, evicted in use
    order, every repeated pass of the 17 TPC-H headliners (~205
    classes) recompiled ~200 of them. A retained class costs ~44 KB of
    heap and metaspace; ``codegen_stats`` reads the compile count.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # batch exchanges START wide and let AQE coalesce down by
        # advisory size — the 1000-executor discipline, and measured
        # locally at the third decade (r12): tpch_q5's 180M-row SMJ
        # sorts spill at 32 fixed partitions (5.6M rows/task; floor
        # 22.5 s, GCLocker alloc stalls) but run linear at 256
        # initial (16.2 s, 3.2× on 3× data). Small stages coalesce
        # to the same few partitions as before, so sf0.1 plans and
        # times are unchanged. Structured streaming turns AQE off, so
        # its shuffles and state stores use spark.sql.shuffle.partitions
        # instead: one partition per core (see the docstring), fixed
        # per query by its checkpoint.
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "256")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batches for mapInPandas/applyInPandasWithState: the
        # 10k default fragments a 2M-row trigger into 200 transfer
        # round-trips per partition; 100k measured ~1.4× on the
        # stateful streaming path with bounded per-batch memory
        # (rows × row-width per worker)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.sql.session.timeZone", "UTC")
        # Spark's compiled-code cache (one entry per generated class,
        # keyed by its source; static, so it must be set before the
        # JVM compiles anything) holds 100 classes by default and
        # evicts the least recently used. One pass of the 17 TPC-H
        # headliners generates ~205 distinct classes and the whole
        # catalog ~1,120, so at 100 a repeated pass finds every class
        # evicted and recompiles it with Janino: ~200 compiles of
        # 12-16 ms each per TPC-H pass at sf0.1, 1,516 (15 s) on a
        # second full-catalog pass at sf0.01, against 10 at 2048.
        # CODEGEN_CACHE_ENTRIES holds the whole catalog's working set:
        # after two full-catalog passes the retained classes cost
        # 35 MB of heap and 10 MB of metaspace more than 100 did
        # (~44 KB per entry, so ~90 MB if all 2048 ever fill)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # local mode: ONE JVM hosts the driver AND all executor
        # threads — 8g starved 32 concurrent tasks plus broadcast
        # builds at sf1 (notEnoughMemoryToBuildAndBroadcastTable).
        # Xmx is a cap, not an upfront allocation, but it is clamped
        # to ~80% of detected physical RAM so a smaller box fails
        # with a clear broadcast OOM instead of an OOM-kill; override
        # via SPARK_GRAFT_DRIVER_MEM.
        .config("spark.driver.memory", _default_driver_mem())
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # NOTE (r9): the ObjectHashAggregate sort-fallback threshold
        # deliberately stays at Spark's 128-key default here. r8
        # raised it session-globally for the minhash signature agg
        # (~1 KB/key buffers), but the global raise also applied to
        # LARGE-buffer collect aggs — ts_similarity_topk's per-key
        # series buffer is allowed up to ~800 KB (TSM_MAX_SERIES), so
        # 8192 keys/task could pin ~6.5 GB of hash-map buffers before
        # fallback (r8 ADVICE). The raise is now scoped to the
        # small-buffer minhash pipelines via ``oha_session`` below.
        .config("spark.ui.enabled", "false")
    )
    conf = dict(extra_conf or {})
    if shuffle_partitions is not None:
        conf.setdefault(SHUFFLE_PARTITIONS, str(shuffle_partitions))
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if SHUFFLE_PARTITIONS not in conf:
        # the slot count is only known once the context is up. More
        # partitions than slots run each micro-batch in waves of
        # near-empty tasks, whose scheduling and state-store commits,
        # not compute, set the trigger time (PERF.md)
        spark.conf.set(SHUFFLE_PARTITIONS, str(spark.sparkContext.defaultParallelism))
    return spark


def codegen_stats(spark: SparkSession) -> dict:
    """Whole-stage and expression codegen work so far in this JVM:
    ``compiles`` (Janino compilations, i.e. codegen cache misses) and
    ``ms`` (their total wall time). Take the difference of two reads
    to cost a stretch of work."""
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return {"compiles": int(compiles.getCount()), "ms": round(nanos / 1e6, 1)}


def gc_hygiene(spark: SparkSession) -> None:
    """Release dead lazy-localCheckpoint blocks before a measurement.

    Frames checkpointed by earlier queries in the same session pin
    RDD blocks until a JVM GC lets the ContextCleaner release them —
    with a large heap that GC may never happen on its own, so later
    heavy measurements land on a full block store and read as fake
    superlinear scale steps (r11: in-bench gate_minhash drew
    2.5-11k docs/s where a fresh session draws 23-25k; r12: the
    fact_sf30 probe drew tpch_q21 at 37.5 s where a fresh session
    draws 14.8 s — same code, same data). Collect the dead Python
    refs, then ask the JVM to GC. Every timing tool calls this
    before its timed draws; correctness paths never need it."""
    import gc

    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass


OHA_THRESHOLD = 8192


def oha_session(spark: SparkSession) -> SparkSession:
    """A sibling session (shared SparkContext, own SQLConf) with the
    ObjectHashAggregate sort-fallback threshold raised to
    ``OHA_THRESHOLD`` keys/task — scoped to SMALL-buffer collect
    aggregations only (the minhash signature agg: 64 min slots + the
    dedup'd hash set ≈ 1 KB/key, so 8192 keys ≈ 8 MB/task before
    fallback). Spark's threshold counts KEYS, not bytes, so a global
    raise would also let large-buffer aggs (ts_similarity_topk's
    ≤800 KB/key series buffers) pin gigabytes of hash-map state per
    task before the sort fallback rescues them — those stay on the
    parent session's 128-key default (r8 ADVICE item).

    A DataFrame executes under the SQLConf of the session that built
    it, even when the action fires later from other code — so the
    minhash catalog entries swap to this session for their table
    reads and every downstream frame inherits the raised threshold.
    Cached per parent session; callers never see more than one
    sibling. Measured (PERF.md r8/r9): fallback avoidance is worth
    ~35% of the signature stage at sf0.1.
    """
    cached = getattr(spark, "_rstreams_oha_session", None)
    if cached is not None:
        return cached
    sub = spark.newSession()
    sub.conf.set(
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        str(OHA_THRESHOLD),
    )
    spark._rstreams_oha_session = sub
    return sub


def register_tables(spark: SparkSession, sf_dir: str, *names: str) -> list[str]:
    """Register the sf tables as temp views so users can drive the
    engine with plain ``spark.sql(...)`` — the SQL face of the same
    Catalyst plans the DataFrame API builds. Returns view names."""
    tables = load_tables(spark, sf_dir, *names)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return list(tables)


def load_tables(spark: SparkSession, sf_dir: str, *names: str):
    """Load parquet tables from an sf dir; returns dict name->DataFrame.

    Scans stay columnar/pushdown-friendly: callers select/filter on
    the returned frames and Catalyst prunes at the parquet reader.
    """
    from .sources.files import read_parquet

    all_names = names or (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split()
    return {
        n: read_parquet(spark, f"{sf_dir}/{n}.parquet", nanos_cols={"ts": "ns"})
        for n in all_names
    }
