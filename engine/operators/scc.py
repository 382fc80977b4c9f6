"""Strongly connected components over the directed link graph.

The directed-web-graph counterpart of components.py: the web's bowtie
structure (Broder et al., "Graph structure in the Web", WWW 2000) is an SCC
decomposition — the giant core plus IN/OUT/tendrils. No reference
implementation exists (beyond-reference graph operator, same family as
components.py / kcore.py); the exact-match contract is the same as CC's:
every vertex labelled with the minimum vertex id of its SCC.

Algorithm: trim + forward-coloring + backward-restricted reachability —
the distributed FB/coloring scheme (Orzan 2004; McLendon et al. 2005;
Slota, Rajamanickam, Madduri, IPDPS 2014), as pure DataFrame rounds:

1. **Trim**: a vertex with no in-edge or no out-edge in the current induced
   subgraph is a singleton SCC; peel to fixpoint. On web graphs this
   removes the huge IN/OUT/tendril DAG periphery for the cost of a degree
   semi-join per round.
2. **Color (forward max-propagation)**: color(v) = max vertex id that
   reaches v, to fixpoint. Each round is one src-keyed join + max
   aggregate — the same gather shape as a PageRank iteration, so the same
   partitioning/skew strategies apply.
3. **Backward sweep within color**: every color class has exactly one root
   r (color(r) = r); the SCC of r is the set of vertices of color r that
   reach r. Found by reverse-edge frontier expansion restricted to equal
   color — each vertex has one color, so membership is unambiguous.
4. Peel the found SCCs from the graph, repeat from 1.

Every pass is a join + aggregate over the (shrinking) edge set; rounds are
materialised with an eager localCheckpoint (lineage truncation, see
components.py) and multi-use frames are tracked via _pins for release.
Worst case is high-diameter cycles (coloring then needs O(diameter)
rounds — the known FB/coloring bound); on bowtie-shaped web graphs the
trim phase removes the periphery and one coloring round-trip finds the
giant core, so outer rounds are few.

Output contract: (id BIGINT, label BIGINT), label = min vertex id in the
SCC; singleton vertices (including pure-DAG vertices and self-loop-only
vertices) label themselves. Exactly the CC contract, directed.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, functions as F

from engine.operators._checkpoint import checkpoint, read_snapshot, resume_point, snapshot_state
from engine.operators._pins import pin as _pin


def _max_prop_jump(
    edges: DataFrame,
    frm: str,
    to: str,
    init: DataFrame,
    P: int,
    max_inner: int,
) -> tuple[DataFrame, int, bool]:
    """Fixpoint of  val(v) = max id that reaches v along `edges` (frm→to),
    starting from val(v) = v, by synchronous rounds with POINTER JUMPING:

        val'(v) = max( val(v),  max over edges (u→v) of val(u),  val(val(v)) )

    The jump term is sound because values are always vertex ids of the same
    graph with "val(v) reaches v" as the invariant: val(v)=c means c
    reaches v, and val(c)=c' means c' reaches c, so c' reaches v — a valid
    (possibly larger) value for v. Jumping squares the propagation
    distance per round, so convergence takes O(log D) rounds instead of
    O(D) edge-relaxation rounds (the CC large-star trick applied to
    reachability coloring); the fixpoint is unchanged — it is the unique
    fixpoint of the edge-relaxation recurrence, which the combined
    operator also satisfies.

    A changed-frontier (delta) variant was tried and REVERTED: on
    max-id propagation over a dense random digraph the changed set stays
    near the full vertex set for most rounds (vertices re-change as larger
    maxes arrive), so the delta bookkeeping cost exceeds the join savings
    (measured 36 s → 56 s at 10M edges).

    edges: frame with columns {frm, to}; init: checkpointed (id, val) with
    val = id, every vertex present. Returns (final (id, val) checkpoint,
    rounds, converged).
    """
    # shuffle_hash hints: every round's joins carry a vertex-state side
    # that fits per-partition memory (the kernel's standing assumption for
    # vertex state), and SMJ would re-SORT the edge set every round —
    # measured 34 s -> 28.5 s over the 10-round coloring at 10M edges.
    # The jump term is ADAPTIVE: rounds 0-2 are relax-only, so the common
    # short-diameter case (small peels, web cores after trim) never pays
    # the extra self-join, while deep graphs still collapse to O(log D)
    # once jumping starts.
    JUMP_AFTER = 3
    val = init
    rounds = 0
    converged = False
    for rnd in range(max_inner):
        in_max = (
            edges.join(
                val.select(F.col("id").alias(frm), "val").hint("shuffle_hash"), frm
            )
            .groupBy(F.col(to).alias("id"))
            .agg(F.max("val").alias("c_in"))
        )
        upd = (
            val.select("id", F.col("val").alias("c_old"))
            .join(in_max.hint("shuffle_hash"), "id", "left")
        )
        terms = ["c_old", F.coalesce("c_in", "c_old")]
        if rnd >= JUMP_AFTER:
            jump = (
                val.select("id", F.col("val").alias("_v"))
                .join(
                    val.select(
                        F.col("id").alias("_v"), F.col("val").alias("c_jump")
                    ).hint("shuffle_hash"),
                    "_v",
                )
                .select("id", "c_jump")
            )
            upd = upd.join(jump.hint("shuffle_hash"), "id", "left")
            terms.append(F.coalesce("c_jump", "c_old"))
        # carry the previous value through the checkpoint so the
        # convergence count is one scan over the just-stored blocks
        val_new = checkpoint(
            upd.select("id", F.greatest(*terms).alias("val"), "c_old"),
            P,  # already hash-partitioned by id from the join exchange —
                # an explicit repartition would add a full extra shuffle
        )
        changed = val_new.filter(F.col("val") != F.col("c_old")).count()
        val = val_new.select("id", "val")
        rounds += 1
        if changed == 0:
            converged = True
            break
    return val, rounds, converged


def strongly_connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    max_outer: int = 50,
    max_inner: int = 200,
    num_partitions: int | None = None,
    metrics: list | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """SCC labels for every vertex: (id BIGINT, label BIGINT).

    edges: (src, dst) directed; duplicates and self-loops allowed (a
    self-loop does not merge anything — a singleton is a singleton).
    nodes: optional (id) universe; default = all edge endpoints.
    metrics: optional list; appended one dict per outer round with the
    trim/color/backward round counts and wall seconds (the per-iteration
    metrics contract of pagerank/components). On resume it carries the
    prior rounds from the manifest followed by the new ones.

    checkpoint_dir: round-stamped Parquet snapshots of the peel state —
    the three frames (labels-so-far, remaining vertices, induced edges)
    encoded in one part-discriminated table — plus a manifest with
    per-round metrics and per-partition lineage (the CC/LP/pagerank
    contract), resumed through _checkpoint.resume_point; the peel is
    deterministic, so a resumed run produces identical labels.

    Raises RuntimeError if the decomposition hasn't finished after
    max_outer peels (wrong labels are never returned).
    """
    spark = edges.sparkSession
    P = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    # simple directed edge set: dups and self-loops dropped (neither affects
    # strong connectivity between distinct vertices)
    e = edges.filter(F.col("src") != F.col("dst")).select("src", "dst").distinct()
    if nodes is None:
        nodes = (
            edges.select(F.col("src").alias("id"))
            .union(edges.select(F.col("dst").alias("id")))
            .distinct()
        )
    else:
        # explicit universe: edges touching vertices outside it don't count
        nodes = nodes.select("id").distinct()
        e = e.join(nodes.select(F.col("id").alias("src")), "src", "left_semi").join(
            nodes.select(F.col("id").alias("dst")), "dst", "left_semi"
        ).select("src", "dst")

    # accumulated (id, label) output; unioned once per outer round and
    # re-checkpointed so the plan never grows past one node per round
    done: DataFrame | None = None
    all_metrics: list[dict] = []
    start_round = 0
    m_raw = edges.count() if checkpoint_dir else None
    man = resume_point(checkpoint_dir, "scc", input_edges=m_raw)
    if man:
        snap = read_snapshot(spark, checkpoint_dir, man["completed_iter"])
        done = snap.filter(F.col("part") == "done").select(
            F.col("a").alias("id"), F.col("b").alias("label")
        )
        remaining = checkpoint(
            snap.filter(F.col("part") == "rem").select(F.col("a").alias("id")),
            P,
            "id",
        )
        e = checkpoint(
            snap.filter(F.col("part") == "e").select(
                F.col("a").alias("src"), F.col("b").alias("dst")
            ),
            P,
            "src",
        )
        all_metrics = list(man.get("iterations", []))
        if metrics is not None:
            metrics.extend(all_metrics)
        start_round = man["completed_iter"] + 1
        if man.get("finished"):
            return done.select("id", "label")
    else:
        e = checkpoint(e, P, "src")
        remaining = checkpoint(nodes, P, "id")
    n_remaining = remaining.count()

    def _add(labels: DataFrame) -> None:
        nonlocal done
        done = labels if done is None else done.union(labels)

    def _snapshot(rnd: int, finished: bool) -> None:
        if not checkpoint_dir:
            return
        empty = spark.createDataFrame([], "id bigint, label bigint")
        state = (
            (done if done is not None else empty)
            .select(
                F.lit("done").alias("part"),
                F.col("id").alias("a"),
                F.col("label").alias("b"),
            )
            .union(
                remaining.select(
                    F.lit("rem").alias("part"),
                    F.col("id").alias("a"),
                    F.lit(None).cast("bigint").alias("b"),
                )
            )
            .union(
                e.select(
                    F.lit("e").alias("part"),
                    F.col("src").alias("a"),
                    F.col("dst").alias("b"),
                )
            )
        )
        snapshot_state(
            state,
            checkpoint_dir,
            rnd,
            {
                "kernel": "scc",
                "input_edges": m_raw,
                "finished": finished,
                "iterations": all_metrics,
            },
        )

    for rnd in range(start_round, max_outer):
        if n_remaining == 0:
            break
        t0 = time.time()
        stats = {"outer": rnd, "remaining": n_remaining}

        # ---- 1. trim: peel no-in / no-out vertices (singleton SCCs) ----
        # Decremental-degree fixpoint: ONE edge-sized degree pass up front;
        # each later round touches only the edges incident to just-trimmed
        # vertices plus a vertex-sized degree update, and the edge set is
        # never rewritten inside the loop (the old per-round re-induction
        # paid a full edge shuffle + checkpoint per trim round — deep-DAG
        # graphs trim for O(diameter) rounds). e is induced once at the
        # fixpoint.
        trims = 0
        deg = checkpoint(
            e.select(F.col("src").alias("id"), F.lit(1).alias("o"), F.lit(0).alias("i"))
            .union(
                e.select(F.col("dst").alias("id"), F.lit(0).alias("o"), F.lit(1).alias("i"))
            )
            .groupBy("id")
            .agg(F.sum("o").alias("outd"), F.sum("i").alias("ind")),
            P,
            "id",
        )
        # vertices of `remaining` with no edges at all never enter deg; they
        # are singleton SCCs and die in the first round with the
        # degree-deficient ones (matches the old keep-from-endpoints logic)
        pending_iso = remaining.join(deg.select("id"), "id", "left_anti")
        while True:
            dead_deg = deg.filter((F.col("outd") <= 0) | (F.col("ind") <= 0)).select("id")
            dead = _pin(
                dead_deg if pending_iso is None else dead_deg.union(pending_iso)
            )
            pending_iso = None
            n_dead = dead.count()
            if n_dead == 0:
                dead.unpersist()
                break
            _add(dead.select("id", F.col("id").alias("label")))
            # every edge releases one degree unit at its OTHER endpoint in
            # the round its endpoint dies (dead sets are disjoint across
            # rounds, so each edge decrements each endpoint at most once);
            # decrements aimed at vertices that died this same round find no
            # deg row — the alive filter below already removed it
            dec_in = (
                e.join(dead.select(F.col("id").alias("src")), "src", "left_semi")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.count(F.lit(1)).alias("d_in"))
            )
            dec_out = (
                e.join(dead.select(F.col("id").alias("dst")), "dst", "left_semi")
                .groupBy(F.col("src").alias("id"))
                .agg(F.count(F.lit(1)).alias("d_out"))
            )
            # alive-filter + two left joins against the (small) decrement
            # aggregates: AQE broadcasts them, so the update is map-side
            # over the checkpointed deg blocks — no vertex-sized shuffle,
            # hence no repartition before the checkpoint
            deg = checkpoint(
                deg.filter((F.col("outd") > 0) & (F.col("ind") > 0))
                .join(dec_in, "id", "left")
                .join(dec_out, "id", "left")
                .select(
                    "id",
                    (F.col("outd") - F.coalesce("d_out", F.lit(0))).alias("outd"),
                    (F.col("ind") - F.coalesce("d_in", F.lit(0))).alias("ind"),
                ),
                P,
            )
            dead.unpersist()
            n_remaining -= n_dead
            trims += 1
            # deep-DAG graphs (chains) trim for O(diameter) rounds; the done
            # union grows one node per round and its anti-join inputs are
            # replaced frames — compact periodically to bound plan depth
            # (the BFS visited-compaction rule, bfs.py)
            if done is not None and trims % 25 == 0:
                done = checkpoint(done, P, "id")
        if trims > 0:
            # alive fixpoint: every surviving deg row has in+out degree
            remaining = checkpoint(deg.select("id"), P, "id")
        if trims > 0 and n_remaining > 0:
            # induce the surviving edge set ONCE at the fixpoint
            e = checkpoint(
                e.join(remaining.select(F.col("id").alias("src")), "src", "left_semi")
                .join(remaining.select(F.col("id").alias("dst")), "dst", "left_semi")
                .select("src", "dst"),
                P,
                "src",
            )
        stats["trim_rounds"] = trims
        stats["trim_sec"] = round(time.time() - t0, 4)
        if n_remaining == 0:
            if done is not None:
                done = checkpoint(done, P, "id")
            stats["wall_sec"] = round(time.time() - t0, 4)
            all_metrics.append(stats)
            if metrics is not None:
                metrics.append(stats)
            _snapshot(rnd, finished=True)
            break

        # ---- 2. forward coloring: color(v) = max id reaching v ----
        # pointer-jumping max-propagation (see _max_prop_jump): O(log D)
        # rounds, identical fixpoint to the plain synchronous recurrence
        t_color = time.time()
        init = checkpoint(remaining.select("id", F.col("id").alias("val")), P, "id")
        color_v, c_rounds, colors_done = _max_prop_jump(
            e, "src", "dst", init, P, max_inner
        )
        stats["color_rounds"] = c_rounds
        if not colors_done:
            raise RuntimeError(
                f"SCC coloring did not converge within max_inner={max_inner} rounds"
            )
        color = color_v.select("id", F.col("val").alias("color"))
        stats["color_sec"] = round(time.time() - t_color, 4)
        t_back = time.time()

        # ---- 3. backward sweep restricted to equal color ----
        # The sweep only ever follows edges whose endpoints share a color:
        # any v→r path from a vertex colored r stays inside color class r
        # (if it passed through w with fcolor(w) = c > r, then c reaches r
        # and fcolor(r) >= c > r, contradicting fcolor(r) = r). So the
        # intra-color edge set is computed ONCE up front and the per-round
        # color join + filter of the naive form disappears.
        ecc = checkpoint(
            e.join(
                color.select(F.col("id").alias("src"), F.col("color").alias("c_s")),
                "src",
            )
            .join(
                color.select(F.col("id").alias("dst"), F.col("color").alias("c_d")),
                "dst",
            )
            .filter(F.col("c_s") == F.col("c_d"))
            .select("src", "dst"),
            P,
            "dst",
        )
        # frontier BFS from the roots over reversed intra-color edges: per
        # round the join touches only edges INTO the new members (a
        # bcolor-style full-table max-propagation was tried and reverted —
        # its rounds stay vertex-sized while the giant core fills in,
        # measured 45 s vs 27 s at 10M edges). Membership dedupe is the
        # members anti-join; the accumulator is a lazy union of per-round
        # checkpointed frames, compacted every 8 rounds (bfs.py
        # visited-compaction rule) instead of being rewritten every round.
        roots = color.filter(F.col("color") == F.col("id")).select(
            F.col("id").alias("member"), F.col("id").alias("root")
        )
        members = checkpoint(roots, P, "member")
        frontier = members
        for bk in range(max_inner):
            preds = (
                ecc.join(
                    frontier.select(F.col("member").alias("dst"), "root"), "dst"
                )
                .select(F.col("src").alias("member"), "root")
                .distinct()
            )
            new = checkpoint(preds.join(members, "member", "left_anti"), P)
            n_new = new.count()
            stats["backward_rounds"] = stats.get("backward_rounds", 0) + 1
            if n_new == 0:
                break
            members = members.union(new)
            if (bk + 1) % 8 == 0:
                members = checkpoint(members, P, "member")
            frontier = new
        else:
            raise RuntimeError(
                f"SCC backward sweep did not finish within max_inner={max_inner} rounds"
            )
        # materialize the accumulated membership once for its three readers
        # (scc_min, the done union, the remaining anti-join)
        members = checkpoint(members, P, "member")

        stats["backward_sec"] = round(time.time() - t_back, 4)

        # ---- 4. label found SCCs with their min member id; peel ----
        scc_min = members.groupBy("root").agg(F.min("member").alias("label"))
        _add(
            members.join(scc_min, "root").select(
                F.col("member").alias("id"), "label"
            )
        )
        remaining = checkpoint(
            remaining.join(
                members.select(F.col("member").alias("id")), "id", "left_anti"
            ),
            P,
            "id",
        )
        n_remaining = remaining.count()
        if n_remaining > 0:
            # skip the edge re-induction when the peel emptied the graph
            e = checkpoint(
                e.join(remaining.select(F.col("id").alias("src")), "src", "left_semi")
                .join(remaining.select(F.col("id").alias("dst")), "dst", "left_semi")
                .select("src", "dst"),
                P,
                "src",
            )
        done = checkpoint(done, P, "id")
        stats["wall_sec"] = round(time.time() - t0, 4)
        all_metrics.append(stats)
        if metrics is not None:
            metrics.append(stats)
        _snapshot(rnd, finished=n_remaining == 0)
    else:
        if n_remaining != 0:
            raise RuntimeError(
                f"SCC did not finish within max_outer={max_outer} peels "
                f"({n_remaining} vertices remaining)"
            )

    if done is None:
        return nodes.select("id", F.col("id").alias("label"))
    return done.select("id", "label")


def condensation(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    labels: DataFrame | None = None,
    **scc_kwargs,
) -> DataFrame:
    """Condensation (component) DAG of the directed graph: one row per
    ordered pair of DISTINCT SCCs connected by at least one original edge,
    with the cross-edge multiplicity as weight.

    Returns (src_comp BIGINT, dst_comp BIGINT, weight BIGINT). Acyclic by
    the SCC contraction theorem — a cycle between two components would
    merge them into one SCC. This is the web bowtie's macro-structure
    artifact (Broder et al., WWW 2000): IN -> CORE -> OUT as a DAG whose
    node ids are SCC labels (min vertex id per component), ready for
    topological scheduling or reachability rollups.

    labels: optionally pass a precomputed (id, label) SCC labelling (e.g.
    from a checkpointed run) to skip recomputing it. Physical shape: the
    edge list is mapped through the label table twice — two hash joins on
    the vertex id — then one groupBy(src_comp, dst_comp) count; weight
    counts original edge instances (duplicates included — link
    multiplicity between the two components), self-pairs (same component)
    are dropped.
    """
    if labels is None:
        labels = strongly_connected_components(edges, nodes=nodes, **scc_kwargs)
    return (
        edges.select("src", "dst")
        .join(labels.select(F.col("id").alias("src"), F.col("label").alias("src_comp")), "src")
        .join(labels.select(F.col("id").alias("dst"), F.col("label").alias("dst_comp")), "dst")
        .filter(F.col("src_comp") != F.col("dst_comp"))
        .groupBy("src_comp", "dst_comp")
        .agg(F.count(F.lit(1)).alias("weight"))
    )
