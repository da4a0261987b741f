"""Training-shard export: the last step of a curation pipeline, where a
trainer's data loader takes over.

At 100 TB a pipeline's dominant operational failure is its OUTPUT
layout: a wide final stage writes one file per task into every shard
directory (thousands of tiny files that choke metastores and
downstream scans). ``export_training_shards`` routes each shard's rows
to its own writer tasks first, so each shard directory gets a few
well-sized files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def export_training_shards(
    df: DataFrame,
    path: str,
    weight_col: str,
    id_col: str,
    num_shards: int = 64,
    fmt: str = "json",
    shard_col: str = "shard",
) -> DataFrame:
    """Write the finished corpus as BYTE-BALANCED training shards plus
    a manifest — the last step of the pipeline, where a trainer's data
    loader takes over. Rows are assigned by ``sampling.balanced_shards``
    (serpentine over weight order: every shard gets the same cost
    profile, so no data-loader worker starves), written as one
    directory per shard (``shard=N/``, JSONL by default — the format
    trainers stream — or parquet), and the returned MANIFEST DataFrame
    (shard, n_rows, total_weight, weight_share) is also persisted as
    ``_manifest.parquet`` under ``path`` so a loader can size its work
    without listing files.

    Write path: ``partitionBy(shard)`` with an explicit
    ``repartition(shard)`` first, so each shard's rows converge to its
    writer tasks instead of every task opening every shard directory
    (the small-files failure).
    """
    from atiesh_spark.operators.sampling import balanced_shards
    from atiesh_spark.operators.sampling import shard_report

    if fmt not in ("json", "parquet"):
        raise ValueError(f"fmt must be 'json' or 'parquet', got {fmt!r}")
    sharded = balanced_shards(
        df, weight_col, num_shards, id_col, shard_col=shard_col
    )
    writer = (
        sharded.repartition(F.col(shard_col))
        .write.mode("overwrite")
        .partitionBy(shard_col)
    )
    (writer.json(path) if fmt == "json" else writer.parquet(path))
    manifest = shard_report(sharded, weight_col, shard_col=shard_col)
    manifest.write.mode("overwrite").parquet(f"{path}/_manifest.parquet")
    return manifest
