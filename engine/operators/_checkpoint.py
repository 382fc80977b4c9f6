"""Round-state materialization and resumable snapshots for iterative kernels.

`checkpoint(df, P, *keys)` materializes one round's state with an eager
localCheckpoint and rebuilds it with fresh Catalyst statistics: a plain
localCheckpoint carries the size estimate forward, and a kernel that reads
its previous round k times per round compounds it until planning stalls.

`resume_point(checkpoint_dir, kernel, **identity)` is the one resume guard
of the kernels that write iteration-stamped Parquet snapshots plus a JSON
manifest through `snapshot_state` (pagerank, label propagation, CC, SCC),
so a killed run resumes from the last completed iteration with identical
results. The manifest carries per-iteration metrics and the per-partition
lineage of the latest snapshot (part-file name, bytes): enough to audit
which partition wrote what and to detect partial writes.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession


def partition_lineage(path: str) -> list[dict]:
    """Per-partition file stats of a Parquet snapshot directory."""
    out = []
    try:
        for name in sorted(os.listdir(path)):
            if name.startswith("part-") and not name.endswith(".crc"):
                out.append(
                    {"file": name, "bytes": os.path.getsize(os.path.join(path, name))}
                )
    except OSError:
        pass
    return out


def checkpoint(df: DataFrame, P: int, *keys: str) -> DataFrame:
    """Materialize a round's state with truncated lineage AND truncated
    Catalyst statistics; repartitions on `keys` first when any are given.

    `localCheckpoint` truncates the lineage but PASSES THE OPTIMIZED
    PLAN'S COMPUTED STATS into the resulting LogicalRDD — and the default
    size estimator multiplies child sizeInBytes through every join, so an
    iterative kernel that references its previous round k times per round
    compounds the estimate into a BigInteger whose DIGIT COUNT grows
    k-fold per round. After a few tens of compounding rounds the driver
    spends minutes inside BigInteger.multiply in
    SizeInBytesOnlyStatsPlanVisitor while every executor sits idle
    (observed: 0.3 s → 3 s → 19 s → 100 s per round on a 300-vertex
    graph; jstack showed 109 s of Toom-Cook BigInteger CPU). Rebuilding
    the DataFrame from the checkpointed internal RDD resets the stats to
    the default leaf estimate, which is what AQE's runtime re-planning
    uses anyway.

    The rebuild uses private Spark APIs (SparkSession.internalCreateDataFrame,
    queryExecution().toRdd()), checked on Spark 4.1.2 and pinned by
    tests/test_kernels.py::test_checkpoint_resets_statistics. The returned
    frame scans as UnknownPartitioning, so a consumer joining or grouping on
    `keys` plans its own exchange; on Spark 4.1.2 a plain localCheckpoint
    under AQE scans the same way, so the rebuild drops no partitioning."""
    if keys:
        df = df.repartition(P, *keys)
    ck = df.localCheckpoint(eager=True)
    spark = df.sparkSession
    jdf = ck._jdf
    return DataFrame(
        spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        ),
        spark,
    )


def resume_point(checkpoint_dir: str | None, kernel: str, **identity) -> dict | None:
    """Create `checkpoint_dir` and return its manifest if `kernel` wrote it
    for the same input (every `identity` field equal), else None: a fresh
    start. Identity fields are counts the kernel already has, so the guard
    runs no Spark job, and it cannot tell apart inputs of equal counts."""
    if not checkpoint_dir:
        return None
    os.makedirs(checkpoint_dir, exist_ok=True)
    man = load_manifest(checkpoint_dir)
    if man is None or man.get("kernel") != kernel:
        return None
    if any(man.get(k) != v for k, v in identity.items()):
        return None
    return man


def load_manifest(checkpoint_dir: str) -> dict | None:
    path = os.path.join(checkpoint_dir, "manifest.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return None


def save_manifest(checkpoint_dir: str, manifest: dict) -> None:
    path = os.path.join(checkpoint_dir, "manifest.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, path)  # atomic: a crash never leaves a torn manifest


def snapshot_state(
    state: DataFrame,
    checkpoint_dir: str,
    it: int,
    manifest: dict,
) -> str:
    """Write `state` as the iteration-`it` snapshot, then publish the manifest
    (snapshot first, manifest second — the manifest only ever names complete
    snapshots). Adds completed_iter + per-partition lineage to `manifest`.
    Returns the snapshot path."""
    snap = os.path.join(checkpoint_dir, f"iter={it}")
    state.write.mode("overwrite").parquet(snap)
    manifest = dict(manifest)
    manifest["completed_iter"] = it
    manifest["snapshot_partitions"] = partition_lineage(snap)
    save_manifest(checkpoint_dir, manifest)
    return snap


def read_snapshot(spark: SparkSession, checkpoint_dir: str, it: int) -> DataFrame:
    return spark.read.parquet(os.path.join(checkpoint_dir, f"iter={it}"))
