"""End-to-end `spark-submit --py-files` launch parity.

The north rule requires runs to be launched "via spark-submit --py-files on
multi-executor clusters". No cluster exists in this sandbox, so this test
exercises the exact launch path in local mode: the engine package is zipped,
shipped with --py-files (NOT importable from the working directory), and
jobs/pagerank_job.py must reproduce the reference's committed output_1k.txt
top-10 (backend/output_1k.txt) from a cold process.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
REF_1K = "/root/reference/backend/data/random_1k_10k.txt"
GOLDEN_1K = "/root/reference/backend/output_1k.txt"


def _spark_submit() -> str:
    exe = shutil.which("spark-submit")
    if exe:
        return exe
    import pyspark

    cand = Path(pyspark.__file__).parent / "bin" / "spark-submit"
    if cand.exists():
        return str(cand)
    pytest.skip("spark-submit binary not found")


@pytest.mark.skipif(not os.path.exists(REF_1K), reason="reference fixtures absent")
def test_spark_submit_pyfiles_golden_1k(tmp_path):
    # package the engine exactly as a cluster submit would
    zpath = tmp_path / "engine.zip"
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        for p in sorted((REPO / "engine").rglob("*.py")):
            z.write(p, p.relative_to(REPO))

    out = tmp_path / "out"
    # cwd = tmp_path so `engine` is ONLY importable via the shipped zip;
    # jobs/pagerank_job.py also prepends its repo parent to sys.path, so copy
    # the job file out of the repo to keep the zip the sole import source
    job = tmp_path / "pagerank_job.py"
    job.write_text((REPO / "jobs" / "pagerank_job.py").read_text())
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable)
    proc = subprocess.run(
        [
            _spark_submit(),
            "--master", "local[4]",
            "--py-files", str(zpath),
            str(job),
            "--edges", REF_1K,
            "--format", "text",
            "--out", str(out),
            "--tol", "1e-8",
            "--max-iter", "100",
            "--partitions", "8",
        ],
        capture_output=True, text=True, cwd=str(tmp_path), timeout=600, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]

    report = (out / "topk.txt").read_text()
    golden = [
        (int(m.group(1)), float(m.group(2)))
        for m in re.finditer(r"node\s+(\d+)\s*:\s*([0-9.eE+-]+)", open(GOLDEN_1K).read())
    ]
    got = [
        (int(m.group(1)), float(m.group(2)))
        for m in re.finditer(r"node\s+(\d+)\s*:\s*([0-9.eE+-]+)", report)
    ]
    assert [g[0] for g in got] == [g[0] for g in golden]
    for (gid, gscore), (_, score) in zip(golden, got):
        assert abs(score - gscore) < 5e-10, (gid, gscore, score)

    metrics = json.loads((out / "metrics.json").read_text())
    assert metrics["n"] == 1000 and metrics["converged"]
    assert metrics["metrics"][-1]["delta_l1"] < 1e-8


@pytest.fixture(scope="module")
def pipeline_run(spark, tmp_path_factory):
    """(out dir, process) of ONE pipeline_job.py run with every optional
    stage on; each pipeline test below asserts on its own stage's artifacts
    and manifest entries. The decontamination benchmark is a verbatim slice
    of the same corpus — the realistic leakage case (benchmark text copied
    into the crawl), so contamination is guaranteed by construction. Pages
    are deterministic per (seed, id), so the slice is written from the test
    session and matches the job's own generation."""
    from pyspark.sql import functions as F

    from engine import datagen
    from engine.operators import graph

    base = tmp_path_factory.mktemp("pipeline")
    bench_dir, out = base / "bench", base / "pipe"
    pages = datagen.generate_pages_df(spark, 300, seed=42, partitions=2)
    bench = graph.extract_pages(pages).where(F.crc32(F.col("url")) % 7 == 0)
    bench.select("text").write.mode("overwrite").parquet(str(bench_dir))
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable)
    proc = subprocess.run(
        [
            sys.executable, str(REPO / "jobs" / "pipeline_job.py"),
            "--gen-pages", "300", "--out", str(out),
            "--near-dedupe", "--dedupe-max-bucket", "50",
            "--quality-filter", "--scrub-pii",
            "--decontaminate", str(bench_dir),
            "--host-ranks",
            "--master", "local[8]", "--partitions", "8",
        ],
        capture_output=True, text=True, timeout=900, env=env,
    )
    return out, proc


def _pipeline_summary(pipeline_run) -> dict:
    out, proc = pipeline_run
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads((out / "summary.json").read_text())


def test_pipeline_job_near_dedupe_manifest(pipeline_run):
    """VERDICT r3 #7: the flagship pipeline surfaces the LSH cap drop
    counts in its manifest (no silent caps in the job, not just the
    library)."""
    out = pipeline_run[0]
    summary = _pipeline_summary(pipeline_run)
    dm = summary["dedupe_metrics"]
    for key in (
        "minhash_buckets_total", "minhash_buckets_dropped",
        "minhash_bucket_rows_dropped", "near_dup_pairs", "survivors",
        "threshold", "max_bucket_size",
    ):
        assert key in dm, f"missing manifest key {key}"
    assert dm["max_bucket_size"] == 50
    assert 0 < dm["survivors"] <= summary["pages"]
    assert (out / "pages_dedup").exists()


def test_pipeline_job_quality_and_decontamination(pipeline_run):
    """--quality-filter, --scrub-pii and --decontaminate write their
    artifacts and put attributable counts in the manifest (no silent drops
    in the flagship job)."""
    out = pipeline_run[0]
    summary = _pipeline_summary(pipeline_run)
    qf = summary["quality_filter"]
    assert qf["kept"] + qf["dropped"] > 0
    assert sum(qf["drop_reasons"].values()) == qf["dropped"]
    assert all(reason for reason in qf["drop_reasons"])  # every drop attributed
    cm = summary["contamination"]
    assert cm["contaminated"] > 0  # verbatim slice guarantees overlap
    pm = summary["pii_scrub"]
    assert pm["docs"] > 0
    assert all(k in pm for k in ("emails_scrubbed", "phones_scrubbed", "ips_scrubbed"))
    assert (out / "pages_quality").exists() and (out / "contamination").exists()
    assert (out / "pages_scrubbed").exists()
    import duckdb

    kept_rows = duckdb.sql(
        f"SELECT count(*) FROM parquet_scan('{out}/pages_quality/*.parquet')"
    ).fetchone()[0]
    assert kept_rows == qf["kept"]


def test_pipeline_job_host_ranks_artifact(pipeline_run):
    """--host-ranks writes the Common Crawl-style host-graph artifact:
    rollup → weighted PageRank, Σ rank = 1 over the hosts."""
    out = pipeline_run[0]
    summary = _pipeline_summary(pipeline_run)
    assert summary["host_ranks"]["hosts"] > 0
    import duckdb

    tot, n = duckdb.sql(
        f"SELECT sum(rank), count(*) FROM parquet_scan('{out}/host_ranks/*.parquet')"
    ).fetchone()
    assert n == summary["host_ranks"]["hosts"]
    assert abs(tot - 1.0) < 1e-9


def test_bucketize_then_kernels_table_roundtrip(tmp_path):
    """Bucketize job writes the src-bucketed table; kernels_job reads it via
    --edges-table and runs the k-core/coreness kernels end-to-end — the
    ingest-once-shuffle-never-again workflow at job granularity."""
    import pyarrow.parquet as pq

    edges_dir = tmp_path / "edges"
    wh = tmp_path / "wh"
    out = tmp_path / "kern"
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable)
    # small deterministic edge parquet from the reference 1k graph
    import pandas as pd

    rows = []
    for ln in Path(REF_1K).read_text().splitlines():
        a, b = ln.split()[:2]
        rows.append((int(a), int(b)))
    import pyarrow as pa

    pq.write_table(
        pa.Table.from_pandas(pd.DataFrame(rows, columns=["src", "dst"])),
        tmp_path / "e.parquet",
    )
    edges_dir.mkdir()
    os.rename(tmp_path / "e.parquet", edges_dir / "part-0.parquet")

    proc = subprocess.run(
        [
            sys.executable, str(REPO / "jobs" / "bucketize_job.py"),
            "--edges", str(edges_dir), "--table", "t_e2e_bucketed",
            "--buckets", "8", "--path", str(tmp_path / "tbl"),
            "--warehouse", str(wh), "--metastore-dir", str(tmp_path / "ms"),
            "--master", "local[8]", "--partitions", "8",
        ],
        capture_output=True, text=True, timeout=600, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    meta = json.loads(line)
    assert meta["edges"] == len(rows)
    # bucketed layout on disk: parquet file names carry the bucket id suffix
    files = list((tmp_path / "tbl").glob("*.parquet"))
    assert files, "no bucketed files written"

    # a DIFFERENT process resolves the table through the shared persistent
    # metastore — the cross-job contract of the ingest-once story
    proc2 = subprocess.run(
        [
            sys.executable, str(REPO / "jobs" / "kernels_job.py"),
            "--edges-table", "t_e2e_bucketed", "--out", str(out),
            "--kernels", "kcore,coreness,scc,salsa,bowtie,condense,mis,matching,coloring,densest,simrank,louvain",
            "--kcore-k", "3",
            "--warehouse", str(wh), "--metastore-dir", str(tmp_path / "ms"),
            "--master", "local[8]", "--partitions", "8",
        ],
        capture_output=True, text=True, timeout=600, env=env,
        cwd=str(tmp_path),
    )
    assert proc2.returncode == 0, proc2.stderr[-4000:]
    kc = pq.read_table(out / "kcore").to_pandas()
    cn = pq.read_table(out / "coreness").to_pandas()
    assert len(cn) > 0 and cn["core"].min() >= 0
    assert len(kc) >= 0 and (len(kc) == 0 or kc["degree"].min() >= 3)
    # scc output: exact-label match against the iterative-Tarjan oracle
    from oracle import scc_py

    sc = pq.read_table(out / "scc").to_pandas()
    assert dict(zip(sc["id"], sc["label"])) == scc_py(rows)
    meta2 = json.loads(
        [l for l in proc2.stdout.splitlines() if l.startswith("{")][-1]
    )
    assert meta2["scc_outer_rounds"] >= 1
    # late-r4 kernels through the same job CLI + bucketed-table path
    sal = pq.read_table(out / "salsa").to_pandas()
    assert set(sal.columns) == {"id", "hub", "authority"}
    assert abs(sal["hub"].sum() - 1.0) < 1e-9 and abs(sal["authority"].sum() - 1.0) < 1e-9
    bt = pq.read_table(out / "bowtie").to_pandas()
    assert set(bt["region"]) <= {"CORE", "IN", "OUT", "TENDRIL", "DISCONNECTED"}
    assert len(bt) == len(sc)
    dag = pq.read_table(out / "condense").to_pandas()
    lv = pq.read_table(out / "dag_levels").to_pandas()
    comp_edges = set(zip(dag["src_comp"], dag["dst_comp"]))
    lab = scc_py(rows)
    assert comp_edges == {(lab[u], lab[v]) for u, v in rows if lab[u] != lab[v]}
    # a fully-strongly-connected input condenses to a single node: the DAG
    # (and its levels) are then legitimately empty
    if comp_edges:
        assert lv["level"].min() == 0
    else:
        assert len(lv) == 0
    # end-of-r4 kernels through the same job CLI: symmetry-breaking trio
    # (independence/validity/properness on the simple undirected graph)
    # + densest subgraph (non-empty member set)
    und: dict = {}
    for u, v in rows:
        if u != v:
            und.setdefault(u, set()).add(v)
            und.setdefault(v, set()).add(u)
    mi = pq.read_table(out / "mis").to_pandas()
    in_mis = set(mi[mi["status"] == "mis"]["id"])
    assert in_mis and all(
        w not in in_mis for v in in_mis for w in und.get(v, ())
    )
    mm = pq.read_table(out / "matching").to_pandas()
    touched: list = []
    for a, b in zip(mm["a"], mm["b"]):
        assert b in und.get(a, set())
        touched += [a, b]
    assert len(touched) == len(set(touched))
    col = pq.read_table(out / "coloring").to_pandas()
    cmap = dict(zip(col["id"], col["color"]))
    assert all(
        cmap[u] != cmap[w] for u in und for w in und[u]
    )
    dn = pq.read_table(out / "densest").to_pandas()
    assert len(dn) > 0
    assert meta2["densest_best_density"] > 0
    # simrank through the same job CLI: exact match vs the Python twin
    from test_kernels import _simrank_py

    sr = pq.read_table(out / "simrank").to_pandas()
    got_sr = {(a, b): s for a, b, s in zip(sr["a"], sr["b"], sr["s"])}
    want_sr = _simrank_py(rows, iters=2)
    assert set(got_sr) == set(want_sr)
    assert all(abs(got_sr[p] - want_sr[p]) < 1e-9 for p in want_sr)
    assert meta2["simrank_iterations"] == 2
    # louvain through the same job CLI: every node labeled, communities
    # never split a level-1 assignment (multi-level only coarsens), and the
    # per-level round metrics land in the manifest
    from oracle import louvain_rounds_py

    lu = pq.read_table(out / "louvain").to_pandas()
    lumap = dict(zip(lu["id"], lu["label"]))
    assert set(lumap) == set(und) | {u for u, v in rows} | {v for u, v in rows}
    l1 = louvain_rounds_py(rows, rounds=5)
    tops = {}
    for i, c in l1.items():
        tops.setdefault(c, set()).add(lumap[i])
    assert all(len(s) == 1 for s in tops.values())
    assert len(meta2["louvain_levels"]) == 2


def test_pagerank_job_warm_start_roundtrip(tmp_path):
    # the incremental workflow end-to-end through the job CLI: run once,
    # feed {out}/ranks back via --init-ranks, expect the same topk report
    # and fewer (or equal) iterations in the second manifest
    import json as _json

    out1 = tmp_path / "run1"
    out2 = tmp_path / "run2"
    base = [
        sys.executable, str(REPO / "jobs" / "pagerank_job.py"),
        "--edges", REF_1K, "--format", "text",
        "--tol", "1e-8", "--max-iter", "100",
        "--partitions", "8", "--master", "local[4]",
    ]
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable)
    p1 = subprocess.run(base + ["--out", str(out1)], capture_output=True,
                        text=True, timeout=600, env=env)
    assert p1.returncode == 0, p1.stderr[-4000:]
    p2 = subprocess.run(
        base + ["--out", str(out2), "--init-ranks", str(out1 / "ranks")],
        capture_output=True, text=True, timeout=600, env=env,
    )
    assert p2.returncode == 0, p2.stderr[-4000:]
    # same fixpoint within tol (the warm run stops one update past the
    # seed, so the last 10-dp digit may differ; byte-equality is the
    # checkpoint-resume guarantee, not the warm-start one)
    parse = lambda p: [
        (int(m.group(1)), float(m.group(2)))
        for m in re.finditer(
            r"node\s+(\d+)\s*:\s*([0-9.eE+-]+)", (p / "topk.txt").read_text()
        )
    ]
    got1, got2 = parse(out1), parse(out2)
    assert [g[0] for g in got1] == [g[0] for g in got2]
    for (_, s1), (_, s2) in zip(got1, got2):
        assert abs(s1 - s2) < 1e-8
    m1 = _json.loads((out1 / "metrics.json").read_text())
    m2 = _json.loads((out2 / "metrics.json").read_text())
    assert m2["converged"]
    assert m2["iterations"] <= 2  # seeded AT the fixpoint
    assert m1["iterations"] > m2["iterations"]


def test_corpus_hygiene_job_end_to_end(spark, tmp_path):
    """The training-corpus hygiene chain: every stage's drop is counted in
    the manifest, the boilerplate block collapses in exact dedupe, the
    verbatim-slice benchmark decontaminates, and split+packing cover every
    surviving doc exactly once."""
    from engine import datagen

    out = tmp_path / "corpus"
    bench_dir = tmp_path / "bench"
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable)
    # docs are deterministic per (seed, doc_id), so the test session writes
    # the same slice the job generates
    docs = datagen.generate_boilerplate_docs(spark, 1000, 100, seed=42)
    docs.where("doc_id % 11 = 3").select("text").write.mode("overwrite").parquet(str(bench_dir))
    proc = subprocess.run(
        [
            sys.executable, str(REPO / "jobs" / "corpus_job.py"),
            "--gen-docs", "1000", "--gen-boiler", "100", "--seed", "42",
            "--near-dedupe", "--benchmark", str(bench_dir),
            "--bpe-merges", "20",
            "--out", str(out), "--master", "local[8]", "--partitions", "8",
        ],
        capture_output=True, text=True, timeout=600, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    m = json.loads((out / "manifest.json").read_text())

    assert m["input_docs"] == 1000
    q = m["quality"]
    assert q["kept"] + q["dropped"] == 1000
    assert sum(q["drop_reasons"].values()) == q["dropped"]
    # the 100-identical boilerplate block must collapse to ONE doc
    assert m["exact_dedup_survivors"] == q["kept"] - 99
    assert m["near_dedupe"]["survivors"] <= m["exact_dedup_survivors"]
    d = m["decontamination"]
    # the benchmark is a verbatim slice -> its surviving members drop
    assert d["contaminated_dropped"] > 0
    assert d["clean"] + d["contaminated_dropped"] == m["near_dedupe"]["survivors"]
    assert m["final_docs"] == d["clean"]
    assert sum(m["splits"].values()) == m["final_docs"]
    assert m["packed_chunks"] > 0 and m["total_tokens"] > 0
    # BPE tokenizer artifacts: ranked merge table + subword vocab next to
    # the corpus, counts in the manifest (exact merge semantics are gated
    # by tests/oracle.py:bpe_train_py elsewhere)
    assert 0 < m["bpe"]["merges_learned"] <= 20
    assert m["bpe"]["vocab_size"] > 0
    import pyarrow.parquet as _pq

    mg = _pq.read_table(out / "bpe_merges").to_pandas().sort_values("rank")
    assert list(mg["rank"]) == list(range(m["bpe"]["merges_learned"]))
    assert (mg["pair_count"] >= 2).all()

    import duckdb

    n, toks, chunks = duckdb.sql(
        f"SELECT count(*), sum(n_tokens), count(DISTINCT (bucket, chunk_id)) "
        f"FROM parquet_scan('{out}/corpus/*.parquet')"
    ).fetchone()
    assert n == m["final_docs"] and toks == m["total_tokens"]
    assert chunks == m["packed_chunks"]


def test_corpus_job_line_dedupe_stage(spark, tmp_path):
    """--line-dedupe drops every repeated line corpus-wide (keep the min
    (doc,pos) occurrence), counts lines and emptied docs in the manifest,
    and feeds the cleaned text into the doc-level stages."""
    docs_dir = tmp_path / "docs"
    out = tmp_path / "corpus"
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable)
    rows = [
        (1, "unique alpha line one\nshared boiler line\nunique alpha line two"),
        (2, "unique beta line\nshared boiler line"),
        (3, "shared boiler line"),  # emptied -> dropped, counted
        (4, "unique gamma line"),
        (5, "unique delta line\nunique delta line"),  # within-doc dup
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(docs_dir))
    proc = subprocess.run(
        [
            sys.executable, str(REPO / "jobs" / "corpus_job.py"),
            "--docs", str(docs_dir), "--line-dedupe",
            "--min-tokens", "1", "--min-quality", "0",
            "--max-dup-ngram-frac", "1.0",
            "--out", str(out), "--master", "local[4]", "--partitions", "4",
        ],
        capture_output=True, text=True, timeout=600, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    m = json.loads((out / "manifest.json").read_text())
    assert m["quality"]["kept"] == 5
    # 9 lines total: doc3's only line and doc2's boiler line lose to doc1,
    # doc5's second copy loses to its first -> 6 kept / 3 dropped / 1 empty
    assert m["line_dedupe"] == {
        "lines_kept": 6, "lines_dropped": 3, "emptied_docs_dropped": 1
    }
    assert m["exact_dedup_survivors"] == 4
    assert m["final_docs"] == 4

    import duckdb

    texts = dict(
        duckdb.sql(
            f"SELECT doc_id, text FROM parquet_scan('{out}/corpus/*.parquet')"
        ).fetchall()
    )
    assert texts[2] == "unique beta line"
    assert texts[5] == "unique delta line"
    assert "shared boiler line" in texts[1]


@pytest.mark.skipif(not os.path.exists(REF_1K), reason="reference fixtures absent")
def test_eval_job_suite(tmp_path):
    """The eval-suite job runs the measurement family end-to-end and its
    JSON cross-checks the library ops it composes."""
    out = tmp_path / "ev"
    proc = subprocess.run(
        [
            sys.executable, str(REPO / "jobs" / "eval_job.py"),
            "--edges", REF_1K, "--format", "text",
            "--embeddings", "/root/testdata/sf0.001/embeddings.parquet",
            "--out", str(out), "--master", "local[8]", "--partitions", "8",
        ],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    ev = json.loads((out / "eval.json").read_text())
    assert ev["edges"] == 10000
    a = ev["linkpred_auc"]
    assert a["n_pos"] <= a["n_test"] and 0.0 <= a["auc"] <= 1.0
    assert ev["rank_agreement"]["n"] == 1000
    assert -1.0 <= ev["rank_agreement"]["spearman"] <= 1.0
    assert 0.0 <= ev["rank_gini"] <= 1.0
    k = ev["knn_accuracy"]
    assert k["n"] > 0 and abs(k["acc"] - k["agree"] / k["n"]) < 1e-6
    import pyarrow.parquet as pq

    assert len(pq.read_table(out / "ranks").to_pandas()) == 1000
    assert len(pq.read_table(out / "knn_labels").to_pandas()) == k["n"]
