"""Repository benchmark: the engine's two user paths, link-graph ranking and
corpus search, each driven from one process on local[nproc].

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The driver calls only the public engine
functions (engine.session, engine.datagen and
engine.operators.{graph, pagerank, components, labelprop, tfidf}).

  rank_shuffle   a seeded, Zipf-skewed table of EDGES edges over NODES nodes;
                 a pass runs pagerank on the shuffle gather with Parquet
                 checkpoint snapshots, then connected_components, then
                 label_propagation.
  corpus_search  PAGES synthetic pages; a pass extracts text and links (Arrow
                 UDF), builds and encodes the link graph, runs PAGERANK_ROUNDS
                 PageRank rounds (the broadcast gather at this size), builds
                 the TF-IDF index joined to the ranks, then answers the
                 workload's queries one at a time.

Set-up is session start, the seeded input generated and materialized
SETUP_REPEATS times (the median counts) and one untimed warm-up pass with
every kernel capped at WARMUP_ROUNDS rounds and one query. Passes then
repeat until --seconds have elapsed (at least one). The first pass's outputs are checked
outside the timed window against tests/oracle.py. The last stdout line is
the result JSON; with --trace 1 its metrics are the per-layer span metrics
read from Spark's status REST API (see layers.py).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".bench_work"

SETUP_REPEATS = 3
# the second round of an iterative kernel is the first to run on its own
# output, so the warm-up pass runs two rounds
WARMUP_ROUNDS = 2

# rank_shuffle: at this size edge work is about 40% of a shuffle-gather
# round on 4 CPUs, so a per-edge regression moves the round time
EDGES, NODES = 200_000, 20_000
TOL = 1e-6
LP_ITER = 5

# corpus_search: PageRank runs a fixed number of rounds, so every seed does
# the same work; the queries are the first three fixed ones plus seeded ones
PAGES = 1_000
PAGERANK_ROUNDS = 10
TOP_K = 10
FIXED_QUERIES = ("graph", "spark shuffle", "w007 rank index")
SEEDED_QUERIES = 5

E2E_UNITS = {
    "setup_s": "s",
    "pagerank_round_ms": "ms",
    "pass_s": "s",
    "peak_rss_mb": "MB",
}


def _prepare_env(run_dir: Path) -> None:
    """Everything Spark, the JVM and Python workers write goes under
    run_dir, and Python workers import `engine` from this checkout whatever
    the caller's cwd."""
    (run_dir / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    # the short-lived JVM that spark-submit runs to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}"
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    sys.dont_write_bytecode = True
    sys.path[:0] = [str(ROOT), str(ROOT / "tests")]


def _session(run_dir: Path, cpus: int):
    from engine.session import build_session

    # C1-only JIT: on a 4-CPU host the C2 compiler threads compete with the
    # task threads for most of a one-minute run, which made set-up about a
    # third longer and round times markedly less steady. The heap is fixed
    # at its maximum and touched at start, so neither GC frequency nor the
    # JVM's resident size depends on when the heap happened to grow
    return build_session(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.local.dir": str(run_dir / "local"),
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            "spark.hadoop.hadoop.tmp.dir": str(run_dir / "hadoop"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData -XX:TieredStopAtLevel=1 -Xms1g -XX:+AlwaysPreTouch",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


@contextmanager
def _timed(out: dict, key: str, rec, span: str):
    """Span `span` around a block whose wall time lands in out[key]."""
    with rec.span(span):
        t = time.perf_counter()
        try:
            yield
        finally:
            out[key] = time.perf_counter() - t


def _labels(df) -> dict[int, int]:
    d = df.toPandas()
    return dict(zip(d["id"].tolist(), d["label"].tolist()))


def _ranks(df, n: int):
    import numpy as np

    ranks = np.zeros(n)
    r = df.toPandas()
    ranks[r["id"].to_numpy()] = r["rank"].to_numpy()
    return ranks


def _pairs(edges) -> list[tuple[int, int]]:
    pdf = edges.toPandas()
    return list(zip(pdf["src"].tolist(), pdf["dst"].tolist()))


class RankShuffle:
    """PageRank on the shuffle gather with checkpoint snapshots, then
    connected components and label propagation, over one edge table."""

    input_span = "datagen.edges"

    def generate(self, spark, seed: int, cpus: int):
        """Zipf-skewed edge table from JVM column expressions: src uniform,
        dst ~ u^3 toward low ids (hubs), self-loops dropped, duplicates
        kept. Returns the persisted table and its input sizes."""
        from pyspark.sql import functions as F

        def unit(salt):
            return F.pmod(F.xxhash64("id", F.lit(seed), F.lit(salt)), F.lit(1 << 30)) / float(1 << 30)

        edges = (
            spark.range(0, EDGES, 1, cpus)
            .select(
                F.floor(unit(17) * NODES).cast("long").alias("src"),
                F.floor(F.pow(unit(23), F.lit(3.0)) * NODES).cast("long").alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
            .persist()
        )
        self.nodes = spark.range(0, NODES, 1, cpus)
        return edges, {"edges": edges.count(), "nodes": NODES}

    def run_pass(self, rec, edges, pass_dir: Path, warmup: bool) -> dict:
        """Each kernel is timed until its output is materialized. A warm-up
        pass caps every kernel at WARMUP_ROUNDS rounds: it runs every plan
        shape without paying for every round."""
        from engine.operators import components, labelprop, pagerank

        out: dict = {}
        with _timed(out, "pagerank_s", rec, "pagerank.call"):
            res = pagerank.pagerank(
                edges,
                self.nodes,
                tol=TOL,
                max_iter=WARMUP_ROUNDS if warmup else 100,
                broadcast_ranks=False,
                checkpoint_dir=str(pass_dir),
            )
            ranks = res.ranks.localCheckpoint(eager=True)
        with _timed(out, "cc_s", rec, "components.call"):
            cc = components.connected_components(edges, self.nodes, max_rounds=WARMUP_ROUNDS if warmup else 50)
            cc = cc.localCheckpoint(eager=True)
        with _timed(out, "lp_s", rec, "labelprop.call"):
            lp = labelprop.label_propagation(edges, self.nodes, max_iter=WARMUP_ROUNDS if warmup else LP_ITER)
            lp = lp.localCheckpoint(eager=True)
        out["pass_s"] = out["pagerank_s"] + out["cc_s"] + out["lp_s"]
        out["ops"] = 3
        out.update(res=res, ranks=ranks, cc=cc, lp=lp)
        return out

    def check(self, p: dict, edges) -> dict[str, list[str]]:
        import gates

        pairs = _pairs(edges)
        return {
            "pagerank": gates.check_pagerank(p["res"], _ranks(p["ranks"], NODES), pairs, NODES, TOL, 100),
            "cc": gates.check_components(_labels(p["cc"]), pairs, NODES),
            "lp": gates.check_labelprop(_labels(p["lp"]), pairs, NODES, LP_ITER),
        }


class CorpusSearch:
    """Pages → extracted text and links → link graph → PageRank → TF-IDF
    index joined to the ranks → one query at a time, each answered in the
    /api/search response shape."""

    input_span = "datagen.pages"

    def generate(self, spark, seed: int, cpus: int):
        from engine import datagen

        pages = datagen.generate_pages_df(spark, PAGES, seed=seed, partitions=cpus).persist()
        pages.count()
        # seeded query mix: 1-3 terms from the generator's vocabulary. Every
        # vocabulary term occurs in roughly 16-23% of the pages, so a query's
        # cost follows its number of terms, not their rarity
        rng = random.Random(seed)
        self.queries = list(FIXED_QUERIES) + [
            " ".join(rng.sample(datagen._VOCAB, rng.randint(1, 3))) for _ in range(SEEDED_QUERIES)
        ]
        return pages, {"pages": PAGES, "queries": len(self.queries)}

    def run_pass(self, rec, pages, pass_dir: Path, warmup: bool) -> dict:
        """Ingest, PageRank and index are each timed until materialized;
        every query until its response rows are collected."""
        from pyspark.sql import functions as F

        from engine import datagen
        from engine.operators import graph, pagerank, tfidf

        out: dict = {}
        with _timed(out, "extract_s", rec, "functions.extract"):
            extracted = graph.extract_pages(pages).localCheckpoint(eager=True)
        with _timed(out, "build_edges_s", rec, "graph.build_edges"):
            edges_url = graph.build_edges_url(extracted, base_domain=datagen.BASE_DOMAIN)
            nodes = graph.build_nodes(extracted.select("url"), edges_url).localCheckpoint(eager=True)
            edges = graph.encode_edges(edges_url, nodes).localCheckpoint(eager=True)
        out["ingest_s"] = out["extract_s"] + out["build_edges_s"]
        with _timed(out, "pagerank_s", rec, "pagerank.call"):
            res = pagerank.pagerank(edges, nodes.select("id"), tol=0.0, max_iter=WARMUP_ROUNDS if warmup else PAGERANK_ROUNDS)
            ranks = res.ranks.localCheckpoint(eager=True)
        with _timed(out, "index_s", rec, "tfidf.index"):
            postings, idf, _ = tfidf.build_postings_with_idf(extracted)
            postings = postings.localCheckpoint(eager=True)
            idf = idf.localCheckpoint(eager=True)
            scores = ranks.join(nodes, "id").select("url", F.col("rank").alias("score")).localCheckpoint(eager=True)
        responses, search_ms = [], []
        for q in self.queries[:1] if warmup else self.queries:
            t = time.perf_counter()
            with rec.span("tfidf.search"):
                responses.append(tfidf.search_api(postings, idf, scores, extracted, q, top_k=TOP_K).collect())
            search_ms.append((time.perf_counter() - t) * 1000.0)
        out["search_ms"] = search_ms
        out["pass_s"] = out["ingest_s"] + out["pagerank_s"] + out["index_s"] + sum(search_ms) / 1000.0
        out["ops"] = 3 + len(responses)
        out.update(res=res, ranks=ranks, edges=edges, responses=responses)
        return out

    def check(self, p: dict, pages) -> dict[str, list[str]]:
        """PageRank against the NumPy oracle on the encoded graph, and every
        response against the reference TF-IDF over the generator's planted
        text (independent of the engine's HTML parser)."""
        import gates

        n = p["res"].num_nodes
        errors = {
            "pagerank": gates.check_pagerank(
                p["res"], _ranks(p["ranks"], n), _pairs(p["edges"]), n, 0.0, PAGERANK_ROUNDS
            )
        }
        pdf = pages.select("url", "text").toPandas()
        docs = dict(zip(pdf["url"].tolist(), pdf["text"].tolist()))
        for i, (q, rows) in enumerate(zip(self.queries, p["responses"])):
            errors[f"search{i}"] = gates.check_search(rows, docs, q, TOP_K)
        return errors


WORKLOADS = {"rank_shuffle": RankShuffle, "corpus_search": CorpusSearch}


def _stop_spark(spark) -> None:
    """Stop the context, close the gateway JVM and wait for it, and the
    Python workers it forked, to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "engine" / "__init__.py").is_file():
        print(f"engine package not found under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]()
    run_dir = WORK / args.workload
    shutil.rmtree(run_dir, ignore_errors=True)
    _prepare_env(run_dir)

    from layers import PeakRss, SpanRecorder, cpu_ticks, host_facts

    cpus = len(os.sched_getaffinity(0))
    with PeakRss() as rss:
        t0, t_setup = time.time(), time.perf_counter()
        spark = _session(run_dir, cpus)
        session_s = time.perf_counter() - t_setup
        try:
            rec = SpanRecorder(spark, traced=bool(args.trace))
            rec.spans.append(("session.start", "", t0, time.time()))
            gen_s, data = [], None
            for _ in range(SETUP_REPEATS):
                if data is not None:
                    data.unpersist()
                t = time.perf_counter()
                with rec.span(wl.input_span):
                    data, sizes = wl.generate(spark, args.seed, cpus)
                gen_s.append(time.perf_counter() - t)
            t = time.perf_counter()
            with rec.span("warmup"):
                wl.run_pass(SpanRecorder(spark, traced=False), data, run_dir / "warmup", warmup=True)
            warmup_s = time.perf_counter() - t
            setup_s = session_s + statistics.median(gen_s) + warmup_s

            passes, errors, measured_s = [], {}, 0.0
            ticks0 = cpu_ticks()
            while not passes or measured_s < args.seconds:
                pass_dir = run_dir / f"pass{len(passes)}"
                t = time.perf_counter()
                try:
                    passes.append(wl.run_pass(rec, data, pass_dir, warmup=False))
                except Exception:
                    traceback.print_exc()
                    errors[f"pass{len(passes)}"] = ["pass raised"]
                    break
                measured_s += time.perf_counter() - t
                _checkpoint_sizes(passes[-1], pass_dir)
                if len(passes) == 1:
                    errors.update(wl.check(passes[0], data))
            ticks1 = cpu_ticks()
            span_aggs = rec.aggregate()
            facts = host_facts(spark)
        finally:
            _stop_spark(spark)
    shutil.rmtree(run_dir, ignore_errors=True)

    # gates cover the first pass; a pass that raised counts as one failure
    attempted = sum(p["ops"] for p in passes) + sum(1 for k in errors if k.startswith("pass"))
    failed = sum(1 for e in errors.values() if e)
    for msgs in errors.values():
        for msg in msgs:
            print("GATE FAIL", msg, file=sys.stderr)

    def med(key):
        vals = [p[key] for p in passes if key in p]
        return statistics.median(vals) if vals else None

    # PageRank rounds pool over passes
    rounds_ms = [m["wall_sec"] * 1000.0 for p in passes for m in p["res"].metrics]
    e2e = {"setup_s": setup_s}
    if passes:
        e2e["pagerank_round_ms"] = statistics.median(rounds_ms)
        e2e["pass_s"] = med("pass_s")
    e2e["peak_rss_mb"] = rss.peak_mb
    search_ms = [ms for p in passes for ms in p.get("search_ms", [])]
    print(
        json.dumps(
            {
                "workload": args.workload,
                "seed": args.seed,
                "host": facts,
                "inputs": {
                    **sizes,
                    "pagerank_iterations": passes[0]["res"].iterations if passes else None,
                    "passes": len(passes),
                },
                "pagerank_rounds_ms": [round(ms, 1) for ms in rounds_ms],
                "calls_s": {
                    k: med(k) for k in ("pagerank_s", "cc_s", "lp_s", "ingest_s", "index_s") if k in passes[0]
                }
                if passes
                else None,
                "search_ms": {
                    "p50": statistics.median(search_ms),
                    "p80": statistics.quantiles(search_ms, n=5)[3],
                }
                if len(search_ms) > 1
                else None,
                "setup": {"session_s": session_s, "generate_s": gen_s, "warmup_s": warmup_s},
                # share of host CPU time the hypervisor gave other guests while
                # the passes and gates ran
                "steal_pct": 100.0 * (ticks1[1] - ticks0[1]) / max(ticks1[0] - ticks0[0], 1),
                "error_rate": failed / max(attempted, 1),
            }
        )
    )
    if args.trace:
        metrics = _layer_metrics(span_aggs, passes, e2e)
        _compare_counts(args, metrics)
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    result = {"correct": failed == 0, "attempted": max(attempted, 1), "failed": failed, "metrics": metrics}
    print(json.dumps(result))
    return 0


def _checkpoint_sizes(p: dict, pass_dir: Path) -> None:
    """Counts and sizes the Parquet snapshots PageRank wrote for one pass,
    then removes them."""
    snapshots = list(pass_dir.glob("iter=*"))
    p["checkpoint.snapshots"] = len(snapshots)
    p["checkpoint.bytes"] = sum(f.stat().st_size for d in snapshots for f in d.rglob("*") if f.is_file())
    shutil.rmtree(pass_dir, ignore_errors=True)


# every span either workload records, with the fields reported for it; the
# fields left out of the input and set-up spans are zero or constant here.
# A span the workload does not run reports zeros
SPAN_FIELDS = {
    "session.start": ("wall_ms",),
    "warmup": ("wall_ms",),
    "datagen.edges": ("wall_ms", "jobs", "stages", "tasks", "executor_run_ms"),
    "datagen.pages": ("wall_ms", "jobs", "stages", "tasks", "executor_run_ms"),
    "pagerank.call": None,
    "components.call": None,
    "labelprop.call": None,
    "functions.extract": None,
    "graph.build_edges": None,
    "tfidf.index": None,
    "tfidf.search": None,
}


def _layer_metrics(span_aggs: dict, passes: list[dict], e2e: dict) -> dict:
    from layers import COUNT_FIELDS, FIELDS

    metrics = {}
    for name, fields in SPAN_FIELDS.items():
        agg = span_aggs.get(name, {})
        for f in fields or FIELDS:
            unit = "bytes" if f.endswith("bytes") else ("count" if f in COUNT_FIELDS else "ms")
            metrics[f"{name}.{f}"] = {"value": agg.get(f, 0), "unit": unit}
    if passes:
        pr = span_aggs["pagerank.call"]
        res = passes[0]["res"]
        iters = res.iterations
        prep_ms = [p["pagerank_s"] * 1000.0 - sum(m["wall_sec"] * 1000.0 for m in p["res"].metrics) for p in passes]
        metrics.update(
            {
                "pagerank.iterations": {"value": iters, "unit": "count"},
                "pagerank.prep_ms": {"value": statistics.median(prep_ms), "unit": "ms"},
                "pagerank.jobs_per_iter": {"value": pr["jobs"] / iters, "unit": "count"},
                "pagerank.driver_ms_per_iter": {"value": pr["driver_ms"] / iters, "unit": "ms"},
                "checkpoint.bytes": {"value": passes[0]["checkpoint.bytes"], "unit": "bytes"},
                "checkpoint.snapshots": {"value": passes[0]["checkpoint.snapshots"], "unit": "count"},
            }
        )
    for k, v in e2e.items():
        metrics[f"traced.{k}"] = {"value": v, "unit": E2E_UNITS[k]}
    return metrics


def _compare_counts(args, metrics: dict) -> None:
    """Keeps the exact counts of each traced run per (workload, seed) under
    .bench_work and prints which differ from the previous traced run of the
    same checkout."""
    counts = {k: m["value"] for k, m in metrics.items() if m["unit"] in ("count", "bytes")}
    path = WORK / "counts" / f"{args.workload}-{args.seed}.json"
    if path.exists():
        prev = json.loads(path.read_text())
        diff = sorted(k for k in counts.keys() | prev.keys() if counts.get(k) != prev.get(k))
        print(json.dumps({"counts_repeat": not diff, "counts_differ": diff}))
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(counts, sort_keys=True))


if __name__ == "__main__":
    sys.exit(main())
