"""Stage checkpointing with lineage manifests (resume support).

The reference persists inputs DISK_ONLY and caches intermediates
(Simulator.java:42-50); at 10^12 scale the north star requires durable
checkpoints with per-partition lineage and resumability. Each stage writes
Parquet plus a ``_MANIFEST.json`` carrying the stage name, the config hash,
the row count and the wall time. A rerun with the same config hash reads
the checkpoint instead of recomputing.

Iceberg is the production target (``writeTo(...).append()``); this
container has no Iceberg runtime, so the writer is format-pluggable and
falls back to Parquet — the checkpoint/resume semantics are identical.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_MANIFEST.json"


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition narrow inputs up to the session's default parallelism.

    Local test fixtures are single-row-group parquet files, so their scans
    produce one partition and every downstream per-row stage (pandas-UDF
    classify/encode, q-gram hashing) would run serially. On a real cluster
    the scan arrives with adequate partitioning (many files / row groups)
    and this is a no-op — the round-robin shuffle only fires when the
    input is narrower than the available cores.

    Streaming frames pass through untouched (``df.rdd`` would raise on
    them, and micro-batch partitioning is the source's job). The partition
    probe itself is driver-side plan construction only — no job runs — but
    it is not free, so call this once per input scan, not per stage.
    """
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def write_checkpoint(
    df: DataFrame,
    path: str,
    stage: str,
    params_hash: str,
) -> DataFrame:
    """Write ``df`` as the stage's Parquet checkpoint plus its manifest in
    one job: the row count is observed during the write, and the reread
    takes ``df``'s schema instead of inferring it from the files."""
    t0 = time.time()
    rows = Observation()
    df.observe(rows, F.count(F.lit(1)).alias("rows")).write.mode("overwrite").parquet(path)
    manifest = {
        "stage": stage,
        "params_hash": params_hash,
        "rows": int(rows.get["rows"]),
        "wall_sec": time.time() - t0,
        "completed": True,
    }
    with open(os.path.join(path, MANIFEST), "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    return df.sparkSession.read.schema(df.schema).parquet(path)


def read_checkpoint(
    spark: SparkSession, path: str, stage: str, params_hash: str
) -> DataFrame | None:
    mpath = os.path.join(path, MANIFEST)
    if not os.path.exists(mpath):
        return None
    with open(mpath) as f:
        manifest = json.load(f)
    if not manifest.get("completed") or manifest.get("params_hash") != params_hash:
        return None
    if manifest.get("stage") != stage:
        return None
    return spark.read.parquet(path)


def checkpoint_stage(
    compute,
    spark: SparkSession,
    checkpoint_dir: str | None,
    stage: str,
    params_hash: str,
) -> DataFrame:
    """Run ``compute()`` through the checkpoint, or load the prior result."""
    if checkpoint_dir is None:
        return compute()
    path = os.path.join(checkpoint_dir, stage)
    cached = read_checkpoint(spark, path, stage, params_hash)
    if cached is not None:
        return cached
    return write_checkpoint(compute(), path, stage, params_hash)
