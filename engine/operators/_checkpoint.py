"""Round-state materialization and resumable snapshots for iterative kernels.

`checkpoint(df, P, *keys)` materializes one round's state with an eager
localCheckpoint and rebuilds it with fresh Catalyst statistics: a plain
localCheckpoint carries the size estimate forward, and a kernel that reads
its previous round k times per round compounds it until planning stalls.

`checkpoint_observed(df, P, key, observe)` materializes state that the next
round reads once, and returns aggregates observed on its own job. With a
`key` it writes the state hash-partitioned by that key into P partitions
and the result scans that way, so a next round that joins on `key` against
a table in the same partitioning plans no exchange for the state.

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
import threading

from pyspark.sql import Column, DataFrame, Observation, SparkSession

_AQE = "spark.sql.adaptive.enabled"
_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
# keyed checkpoints in several threads take turns: two that overlap would
# each restore the settings the other one set
_CONF_LOCK = threading.Lock()


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


def checkpoint_observed(
    df: DataFrame,
    P: int,
    key: str | None = None,
    observe: tuple[Column, ...] = (),
    columns: tuple[str, ...] | None = None,
) -> tuple[DataFrame, dict]:
    """Eager localCheckpoint of `df` (only `columns` when given) and the
    aggregates `observe` over `df`, observed on the checkpoint job itself.

    Without a `key` this is a plain localCheckpoint: under AQE it scans as
    UnknownPartitioning(0) and carries the plan's size estimate forward.

    With a `key` the frame is repartitioned to hashpartitioning(key, P), and
    the job runs with spark.sql.adaptive.enabled=false and
    spark.sql.shuffle.partitions=P (restored afterwards, also when the job
    raises; keyed checkpoints in several threads take turns, but the
    settings are session-wide, so another query planned concurrently in
    the session sees them). Without AQE the
    checkpoint records the final plan's partitioning, so the result scans
    as hashpartitioning(key, P), and a child that already lands in that
    partitioning (an aggregate by `key`) needs no exchange for the
    repartition. The statistics are not reset: this serves state the next
    round reads once, where the carried estimate does not compound."""
    obs = Observation() if observe else None
    if obs is not None:
        df = df.observe(obs, *observe)
    if columns:
        df = df.select(*columns)
    if key is None:
        state = df.localCheckpoint(eager=True)
    else:
        conf = df.sparkSession.conf
        with _CONF_LOCK:
            saved = {k: conf.get(k) for k in (_AQE, _SHUFFLE_PARTITIONS)}
            conf.set(_AQE, "false")
            conf.set(_SHUFFLE_PARTITIONS, str(P))
            try:
                state = df.repartition(P, key).localCheckpoint(eager=True)
            finally:
                for k, v in saved.items():
                    conf.set(k, v)
    return state, ({} if obs is None else obs.get)


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
