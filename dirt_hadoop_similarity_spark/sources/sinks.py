"""Sinks: TSV export (human-readable, the reference's inter-job format —
S3 §2.1) and the sharded parquet layout.

The reference materializes every stage as `key \\t value` text on S3
(DirtDriver.java:1009-1014); the DIRT job writes its outputs the same
way for downstream consumers of the reference's files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_tsv(df: DataFrame, path: str,
              coalesce: int | None = None) -> None:
    """Tab-separated text export, reference-compatible (no header,
    no quoting — path strings contain no tabs by construction);
    replaces ``path``."""
    out = df.coalesce(coalesce) if coalesce else df
    (
        out.write.mode("overwrite")
        .option("sep", "\t")
        .option("emptyValue", "")
        .csv(path)
    )


def write_shards(df: DataFrame, path: str, key: str, num_shards: int,
                 salt: str = "shard", mode: str = "overwrite") -> None:
    """Materialize the deterministic shard layout of
    ``sampling.shard_assignments``: one parquet directory per shard
    (``shard=<n>/``), rows stored in shard order.  repartition on the
    shard column co-locates each shard in one task, and the
    within-partition sort is shard-local — no global sort at any scale."""
    from dirt_hadoop_similarity_spark.operators.sampling import shard_assignments

    out = shard_assignments(df, key, num_shards, salt=salt)
    (
        out.repartition(num_shards, "shard")
        .sortWithinPartitions("shard", "pos")
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(path)
    )
