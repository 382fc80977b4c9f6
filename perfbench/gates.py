"""Output gates: each checks one operation's result against the repo's
independent oracles (tests/oracle.py) and returns a list of failure
messages, empty when the output is right. They run outside the timed
window."""

from __future__ import annotations

import numpy as np

from oracle import connected_components_py, label_propagation_py, pagerank_numpy, tfidf_search_py


def check_pagerank(res, ranks: np.ndarray, edges, n: int, tol: float, max_iter: int) -> list[str]:
    """Ranks sum to 1 and match the NumPy oracle run with the same tol and
    max_iter, after the same number of iterations; with tol > 0 the run must
    have converged."""
    errs = []
    if abs(ranks.sum() - 1.0) > 1e-9:
        errs.append(f"pagerank: sum of ranks {ranks.sum()!r} is not 1")
    if tol > 0 and not res.converged:
        errs.append("pagerank: did not converge")
    want, iters, _ = pagerank_numpy(edges, n=n, tol=tol, max_iter=max_iter)
    if iters != res.iterations:
        errs.append(f"pagerank: {res.iterations} iterations, oracle took {iters}")
    if not np.allclose(ranks, want, rtol=1e-6, atol=0.0):
        errs.append("pagerank: ranks differ from the NumPy oracle beyond rtol 1e-6")
    return errs


def check_components(labels: dict[int, int], edges, n: int) -> list[str]:
    """Every edge joins one label, and each label is the minimum id of its
    component (the union-find oracle's labelling)."""
    errs = []
    split = sum(labels[u] != labels[v] for u, v in edges)
    if split:
        errs.append(f"cc: {split} edges join different labels")
    want = connected_components_py(edges, range(n))
    wrong = sum(labels.get(x) != lbl for x, lbl in want.items()) + len(labels.keys() - want.keys())
    if wrong:
        errs.append(f"cc: {wrong} labels differ from the union-find oracle")
    return errs


def check_labelprop(labels: dict[int, int], edges, n: int, max_iter: int) -> list[str]:
    want = label_propagation_py(edges, range(n), max_iter=max_iter)
    wrong = sum(labels.get(x) != lbl for x, lbl in want.items()) + len(labels.keys() - want.keys())
    return [f"lp: {wrong} labels differ from the Python oracle"] if wrong else []


def check_search(rows, docs: dict[str, str], query: str, k: int) -> list[str]:
    """One /api/search response: at most k rows, sorted by combined_score,
    and every row's tfidf_score equal to the reference TF-IDF score of its
    url for this query."""
    errs = []
    if len(rows) > k:
        errs.append(f"search {query!r}: {len(rows)} rows, more than {k}")
    combined = [r["combined_score"] for r in rows]
    if combined != sorted(combined, reverse=True):
        errs.append(f"search {query!r}: rows not sorted by combined_score")
    want = dict(tfidf_search_py(docs, query, top_k=len(docs)))
    missing = [r["url"] for r in rows if r["url"] not in want]
    if missing:
        errs.append(f"search {query!r}: {len(missing)} rows the reference does not match")
    elif rows and not np.allclose(
        [r["tfidf_score"] for r in rows], [want[r["url"]] for r in rows], rtol=1e-9, atol=0.0
    ):
        errs.append(f"search {query!r}: tfidf_score differs from the reference beyond rtol 1e-9")
    return errs
