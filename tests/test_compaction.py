"""Training-shard export: one directory per shard, every row round-trips,
and the manifest is persisted and balanced."""

from __future__ import annotations


def test_export_training_shards_layout_and_manifest(spark, tmp_path):
    import glob
    import os

    from atiesh_spark.operators.compaction import export_training_shards

    df = spark.createDataFrame(
        [(i, f"doc {i}", (i % 7 + 1) * 100) for i in range(200)],
        "doc_id long, text string, n_bytes long",
    )
    out = str(tmp_path / "shards")
    manifest = export_training_shards(
        df, out, "n_bytes", "doc_id", num_shards=4, fmt="json"
    )
    # one directory per shard, all rows round-trip
    dirs = sorted(
        d for d in os.listdir(out) if d.startswith("shard=")
    )
    assert dirs == ["shard=0", "shard=1", "shard=2", "shard=3"]
    back = spark.read.json(f"{out}/shard=*")
    assert back.count() == 200
    # manifest persisted and balanced within the serpentine bound
    m = {r["shard"]: r for r in manifest.collect()}
    assert len(m) == 4
    stored = spark.read.parquet(f"{out}/_manifest.parquet")
    assert stored.count() == 4
    weights = [m[s]["total_weight"] for s in sorted(m)]
    assert max(weights) - min(weights) <= 700  # one max-weight row
    import pytest as _pt

    with _pt.raises(ValueError):
        export_training_shards(df, out, "n_bytes", "doc_id", fmt="csvx")
