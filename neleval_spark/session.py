"""SparkSession factory tuned for this engine.

Local mode is used for tests/bench (one JVM, N threads); the same
configuration principles — AQE on, skew-join handling on, shuffle
partitions sized to the cluster, Arrow enabled for pandas UDFs —
carry to a multi-executor deployment via ``spark-submit --py-files``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def host_defaults(env=os.environ) -> tuple[str, str]:
    """(core count, driver heap) that fit the host: the cores this
    process may run on, and a quarter of physical memory (the JVM's
    own default heap share; at least 1g).  ``SPARK_GRAFT_CPUS`` and
    ``SPARK_GRAFT_MEM`` in ``env`` override them."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return (env.get("SPARK_GRAFT_CPUS",
                    str(len(os.sched_getaffinity(0)))),
            env.get("SPARK_GRAFT_MEM", f"{max(1, phys // 4 >> 30)}g"))


def get_spark(
    app_name: str = "neleval_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` and ``driver_memory`` default to :func:`host_defaults`
    (``local[<cores>]`` and a quarter of physical memory).

    The session turns off PySpark's DataFrame call-site capture
    (``spark.python.sql.dataFrameDebugging.enabled``): with it on,
    every ``F.*``/``Column``/``DataFrame`` call walks the Python stack
    and sets and clears the JVM's current origin, about ten py4j round
    trips per expression node (11.5k → 3.9k round trips to read two
    200-doc TSVs and score tac14 on them).  Plans, jobs and results
    are the same; a DataFrame error keeps its error class and message
    but its query context no longer names the Python ``file:line``.
    """
    cpus, mem = host_defaults()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            n = int(master.split("[", 1)[1].rstrip("]*"))
        except (IndexError, ValueError):
            n = 32
        shuffle_partitions = max(n, 4)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory or mem)
        .config("spark.ui.enabled", "false")
        # static: no per-expression stack capture (see the docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # broadcast dims (alias dict, type weights, mappings) aggressively;
        # at 100 TB the fact side never fits but dims stay small
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Arrow JVM→Python batch size: page rows carry ~7 KB of html,
        # so the 10k-row default makes ~70 MB batches whose allocator
        # churn anti-scales at high parallelism (measured 5× slower at
        # 32 workers than 8); 512-row ≈ 3.5 MB batches restore
        # scaling, and narrow-row stages are insensitive to the
        # smaller size. Session-level because the setting must be
        # live at EXECUTION time of lazily-built plans (a builder that
        # set-and-restored it around plan construction would undo it
        # before any action runs). Override via extra_conf if a
        # workload wants the default back.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        # scan parallelism: the heaviest stage (fused extract+NER
        # mapInPandas) runs on INPUT splits, not shuffle partitions.
        # The 128 MB default yields ~1 split/core at bench scale — a
        # one-straggler tail idles the whole pool. 16 MB keeps scan
        # tasks at several waves per core so the tail is <1 task;
        # per-task overhead stays negligible (splits are file-range
        # metadata, not small files).
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        # evaluation joins key on docid-PREFIXED superkeys
        # (docid, start, end, ...); storage bucketed by docid alone
        # must co-partition them (subset-key reuse — off by default
        # since Spark 3.3) so neither side of a bucketed sys×gold
        # join shuffles
        .config("spark.sql.requireAllClusterKeysForCoPartition",
                "false")
    )
    # Scratch space (shuffle files, DISK_ONLY blocks): opt-in via
    # SPARK_GRAFT_LOCAL_DIR.  The bench harness points this at tmpfs
    # as the stand-in for node-local NVMe (which scales with the node
    # count on a real cluster, unlike this sandbox's one shared
    # virtual disk); it is NOT a default — RAM-backed scratch on a
    # general host would defeat DISK_ONLY spill behavior for data
    # larger than memory.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warm_session(spark)
    return spark


def _warm_session(spark: SparkSession) -> None:
    """Run one tiny synthetic job at session-build time so the first
    USER query does not pay the one-off session costs: shuffle
    write/read machinery init, whole-stage-codegen/Janino compiler
    warm-up, and C2 JIT of the hot aggregate/join/sort paths
    (measured ~1.5-2 s shaved off the first real query on this box,
    r6 OPTIMIZATION notes).  Touches no input data, caches nothing,
    and is bounded (~100k synthetic longs); runs once per session —
    latency-sensitive services warm Spark the same way."""
    if spark.conf.get("spark.neleval.warmed", "0") == "1":
        return
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark.sparkContext.setJobDescription("neleval session warm-up")
    try:
        a = spark.range(0, 100_000).select(
            (F.col("id") % 997).cast("string").alias("k"),
            F.col("id").alias("v"))
        b = spark.range(0, 997).select(
            F.col("id").cast("string").alias("k2"))
        j = (a.join(b, a["k"].eqNullSafe(b["k2"]), "full_outer")
             .groupBy("k").agg(F.sum("v").alias("s")))
        w = Window.partitionBy("k").orderBy("s")
        (j.withColumn("rn", F.row_number().over(w)).where("rn = 1")
         .agg(F.count(F.lit(1)), F.sum("s")).collect())
        # second shape: struct-key repartition + in-partition dedup,
        # exchange-free struct equi-join, min_by/struct ordering,
        # broadcast + 1-row crossJoin tails, Arrow toPandas init.
        # ``evaluate`` no longer plans the repartition/dedup/join part
        # (it aggregates per key over one docid exchange); a shape
        # mirroring that plan instead was not faster in setup + first
        # run over 10 eval_tac14 pairs, so this one stays
        def side(shift):
            return spark.range(0, 50_000).select(
                F.struct(
                    ((F.col("id") + shift) % 777).cast("string")
                    .alias("k")).alias("_k"),
                (F.col("id") % 13).cast("string").alias("e")
            ).repartition(F.col("_k")).dropDuplicates()
        c1, c2 = side(0), side(3)
        i = (c1.join(c2.withColumnRenamed("e", "e2"), "_k")
             .groupBy("e", "e2").agg(F.count(F.lit(1)).alias("i")))
        sz = (c1.groupBy("e")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.min_by("e", F.struct(F.col("e"))).alias("mb")))
        (i.join(F.broadcast(sz), "e")
         .agg(F.sum(F.col("i") * F.col("i") / F.col("n")).alias("x"))
         .crossJoin(sz.agg(F.sum("n").alias("t")))
         .toPandas())
    finally:
        spark.sparkContext.setJobDescription(None)
        spark.conf.set("spark.neleval.warmed", "1")
