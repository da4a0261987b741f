"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]``; the same config block is
what we would ship to a 1000-executor cluster (AQE, skew-join handling,
partition coalescing) — only ``master`` and memory sizing change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "atiesh-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession.

    Config choices (all hold at cluster scale, not just local):

    - AQE on: runtime coalescing of post-shuffle partitions, skew-join
      splitting, and dynamic join-strategy switches (sort-merge ->
      broadcast when the built side turns out small).
    - ``shuffle.partitions`` sized to the core count locally; on a real
      cluster this would be ~2-3x total cores — AQE coalesces the excess.
    - Arrow enabled for every pandas UDF / toPandas hop.
    - ``mapKeyDedupPolicy=LAST_WIN``: the reference's header-merge is an
      upsert fold (SimpleEvent.scala:23-26); map_concat must keep the
      last value for duplicate keys to match.
    - Session timezone pinned to UTC so timestamp semantics match the
      (naive-timestamp) parquet testdata and the DuckDB oracle.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Older driver testdata stored events.ts as TIMESTAMP(NANOS),
        # which Spark's reader rejects; this reads the raw int64 and the
        # loader converts. Harmless no-op on the current timestamp[us]
        # layout (load_table branches on the type in the parquet footer).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


_NARROW_PLAN_NODES = (
    # optimized-logical-plan nodes that never induce a shuffle or
    # broadcast stage: a plan made only of these is "scan-shaped" and
    # its partition count can be inspected without materializing
    # anything
    "Project",
    "Filter",
    "Relation",        # file sources ("Relation [cols] parquet")
    "LogicalRDD",      # localCheckpoint / createDataFrame results
    "LocalRelation",
    "InMemoryRelation",
    "Union",
    "Generate",        # explode — narrow
    "Sample",
    "SubqueryAlias",
    "Range",
    # Python evaluation stages are narrow: each task feeds its own
    # partition through the Python worker, no exchange is induced, so
    # .rdd on a plan made of these (over a scan) materializes nothing.
    # FlatMapGroupsInPandas is deliberately NOT here — groupBy().
    # applyInPandas realizes as an Exchange, the exact eager-AQE hazard
    # this gate exists to block. (Without these two entries the r14
    # gate silently stopped widening chained map stages — a GIF decode
    # fed by a mapInPandas synth stage ran one-task; measured q200
    # 3.2 -> 4.1 s solo at sf0.1, worse the heavier the codec.)
    "MapInPandas",
    "MapInArrow",
    # Scalar Python-UDF projections (Arrow or pickled) are narrow too:
    # each task feeds its own partition through the Python worker, no
    # exchange. Missing entries here were a FALSE NEGATIVE the r15
    # registry-wide node-classification gate caught on its first run —
    # every plan carrying a scalar UDF was classified wide and the
    # widen gate silently refused to spread it (the q200 class).
    "ArrowEvalPython",
    "BatchEvalPython",
)


def shuffle_free_scan(df) -> bool:
    """True iff the optimized logical plan is scan-shaped (no node that
    can induce a shuffle or broadcast stage). Plan analysis only —
    never touches ``df.rdd``, so nothing executes. The gate every
    partition-count probe must pass first: under AQE, ``df.rdd``
    finalizes the adaptive plan by EXECUTING upstream shuffle/broadcast
    stages as real jobs, and that work is recomputed by the later
    action because exchange reuse does not span QueryExecutions."""
    try:
        tree = df._jdf.queryExecution().optimizedPlan().treeString()
    except Exception:  # Spark Connect / plan access unavailable: assume wide
        return False
    for line in tree.splitlines():
        node = line.lstrip(" :+-")
        if not node:
            continue
        # a shuffle=false Repartition ("Repartition 1, false") is a
        # narrow coalesce; "Repartition N, true" is a real exchange
        if node.startswith("Repartition ") and node.rstrip().endswith("false"):
            continue
        if not node.startswith(_NARROW_PLAN_NODES):
            return False
    return True


def widen_for_python_stage(df, min_partitions: int | None = None):
    """Give a CPU-bound Arrow/pandas stage (codec decode, perceptual
    hashing, archive parsing) enough partitions to use every core.

    A narrow scan — one small parquet file, one kafka partition —
    yields one split, and every operator until the next shuffle runs
    on ONE core; for a Python decode stage that turns a 32-core box
    into a 1-core box. At warehouse scale inputs arrive in thousands
    of files and this is a plan-analysis no-op (the partition count is
    already >= cores, nothing is added). On narrow inputs it inserts
    one round-robin shuffle of the already-pruned (id, blob) columns —
    cheap next to the decode it unblocks. Widening only, never a
    coalesce: an already-wide layout passes through untouched, so
    blob-sized rows are never shuffled at scale.

    SCAN-SHAPED INPUTS ONLY (round 14, the ``_fanout`` fix): the
    partition probe is gated on :func:`shuffle_free_scan`, so a frame
    downstream of a join/aggregate — which already arrives at
    ``spark.sql.shuffle.partitions`` width — passes through untouched
    and ``df.rdd`` never finalizes AQE eagerly. A caller with a
    narrow-but-shuffled frame should widen explicitly.
    """
    if not shuffle_free_scan(df):
        return df
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
