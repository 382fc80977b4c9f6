"""Connected components: large-star / small-star alternation.

Implementation of the published MapReduce CC algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", the alternating variant) as
pure DataFrame rounds — no reference implementation exists (SURVEY §7 Phase 3);
the oracle is a union-find in tests/oracle.py. Converges in O(log n) rounds to
a star forest rooted at each component's minimum node id; the returned label
is that minimum (exact-match contract of BASELINE.json).

Each round is two join+min-aggregate passes over the edge set; convergence is
an exact set-equality check (count equality + one anti-join), no hashing
shortcuts. Edge sets are kept in canonical (big, small) orientation.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, functions as F

from engine.operators._checkpoint import read_snapshot, resume_point, snapshot_state
from engine.operators._pins import pin as _pin


def _canonical(edges: DataFrame) -> DataFrame:
    """(src,dst) -> undirected canonical pairs (b > s), self-loops dropped."""
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("b"),
            F.least("src", "dst").alias("s"),
        )
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """For every node a: m = min(Γ(a) ∪ {a}); emit (v, m) for v ∈ Γ(a), v > a."""
    sym = e.select(F.col("b").alias("a"), F.col("s").alias("n")).union(
        e.select(F.col("s").alias("a"), F.col("b").alias("n"))
    )
    m = sym.groupBy("a").agg(F.least(F.min("n"), F.first("a")).alias("m"))
    return (
        sym.join(m, "a")
        .filter(F.col("n") > F.col("a"))
        .select(F.col("n").alias("b"), F.col("m").alias("s"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Group by the larger endpoint: m = min of its smaller neighbors; emit
    (small_i, m) for every small plus (big, m); drop self-pairs."""
    m = e.groupBy("b").agg(F.min("s").alias("m"))
    with_m = e.join(m, "b")
    out = with_m.select(F.col("s").alias("b"), F.col("m").alias("s")).union(
        m.select(F.col("b").alias("b"), F.col("m").alias("s"))
    )
    return out.filter(F.col("b") != F.col("s")).distinct()


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    max_rounds: int = 50,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 3,
) -> DataFrame:
    """Returns (id BIGINT, label BIGINT), label = min node id in component.

    nodes: optional single-column (id) universe; isolated nodes label
    themselves. Default universe = edge endpoints.

    checkpoint_dir: round-stamped Parquet snapshots of the alternation's
    edge-set state + manifest (per-round edge counts, per-partition
    lineage), resumed through _checkpoint.resume_point; the alternation is
    deterministic, so a resumed run converges to the same star forest.
    """
    spark = edges.sparkSession
    P = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    start_round = 0
    round_metrics: list[dict] = []
    m_raw = edges.count() if checkpoint_dir else None
    man = resume_point(checkpoint_dir, "cc", input_edges=m_raw)
    if man:
        start_round = man["completed_iter"] + 1
        round_metrics = man.get("iterations", [])
        e = (
            read_snapshot(spark, checkpoint_dir, man["completed_iter"])
            .repartition(P, "b")
            .localCheckpoint(eager=True)
        )
    else:
        # tracked pin (releasable): unpersisted in the round loop; when the
        # loop never runs (resumed-converged manifests) pin_scope /
        # release_all_pins frees it
        e = _pin(_canonical(edges).repartition(P, "b"))
    n_edges = e.count()

    if nodes is None:
        nodes = (
            edges.select(F.col("src").alias("id"))
            .union(edges.select(F.col("dst").alias("id")))
            .distinct()
        )
    nodes = _pin(nodes.select("id"))

    if n_edges == 0:
        return nodes.select("id", F.col("id").alias("label"))

    if not (man and man.get("converged")):
        for rnd in range(start_round, max_rounds):
            t0 = time.time()
            # ONE materialization per round: the eager localCheckpoint both
            # truncates lineage and stores the blocks the convergence counts
            # read (a persist+count THEN checkpoint pays a second full pass)
            e_new = _small_star(_large_star(e)).repartition(P, "b").localCheckpoint(
                eager=True
            )
            cnt_new = e_new.count()
            # exact convergence: same cardinality and E_new ⊆ E  ⇒  E_new == E
            stable = cnt_new == n_edges and e_new.join(
                e, ["b", "s"], "left_anti"
            ).count() == 0
            e.unpersist()  # frees the round-0 canonical cache; no-op on checkpointed frames
            e, n_edges = e_new, cnt_new
            round_metrics.append(
                {"iter": rnd, "edges": n_edges, "wall_sec": round(time.time() - t0, 4)}
            )
            if checkpoint_dir and (
                stable or rnd == max_rounds - 1 or rnd % checkpoint_every == checkpoint_every - 1
            ):
                snapshot_state(
                    e,
                    checkpoint_dir,
                    rnd,
                    {
                        "kernel": "cc",
                        "input_edges": m_raw,
                        "converged": stable,
                        "iterations": round_metrics,
                    },
                )
            if stable:
                break

    # converged star forest: (b=node, s=root). Roots/isolated label themselves.
    labels = nodes.join(
        e.select(F.col("b").alias("id"), F.col("s").alias("label")), "id", "left"
    ).select("id", F.coalesce("label", "id").alias("label"))
    return labels


def incremental_components(
    new_edges: DataFrame,
    prior_labels: DataFrame,
    **cc_kwargs,
) -> DataFrame:
    """Warm-start CC for APPEND-ONLY growth (the monthly-crawl case): given
    snapshot A's converged labelling and only the edges ADDED since, return
    snapshot B's labelling without re-reading A's edge set.

    A converged labelling IS a star forest — every (id, label≠id) row is a
    same-component fact — so running the large-star/small-star alternation
    over star_edges(prior) ∪ new_edges reproduces CC of the full union.
    The input is O(|V| + |Δ|) rows instead of O(|E|): at 10¹²-edge scale
    with a ~1% monthly delta that is the difference between shuffling the
    whole crawl and shuffling the node table.

    VALIDITY CAVEAT (published limitation — CC is not decremental): prior
    labels are same-component FACTS, valid only while every edge of A still
    exists in B. If B removed edges, components can only have split, and a
    stale fact would glue them back together — recompute from scratch (or
    from the last snapshot known to be a subset). The node universe is
    prior ∪ new endpoints, so A's isolated nodes keep their labels.
    """
    star = prior_labels.filter(F.col("id") != F.col("label")).select(
        F.col("label").alias("src"), F.col("id").alias("dst")
    )
    nodes = (
        prior_labels.select("id")
        .union(new_edges.select(F.col("src").alias("id")))
        .union(new_edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    return connected_components(
        new_edges.select("src", "dst").union(star), nodes=nodes, **cc_kwargs
    )
