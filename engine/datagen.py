"""Deterministic synthetic Common-Crawl-style pages table.

Generates the engine's input table (url, warc_ts, html, text, lang) — the
shape fixed by BASELINE.json input_hint — with properties per FIXTURES.md §1:

- Zipf-skewed in-degree (low page ids are hubs) so hub-skew handling in the
  PageRank gather is actually exercised,
- a dangling fraction (pages with no surviving outlinks),
- cross-domain links (dropped by the same-domain filter F2),
- mailto:/javascript: anchors (dropped by the scheme filter F3),
- URL-variant duplicates (#fragment, trailing slash, uppercase host) that
  collapse under normalization (F1),
- anchors inside boilerplate (nav/footer) that the extractor decomposes away
  (never become edges), and anchors in non-boilerplate side regions outside
  <main> (become edges but not text) — the reference's exact asymmetry
  (crawler/core.py:292-296: text decompose happens on the same soup before
  link parsing; text region selection at core.py:137-153).

Every page is a pure function of (seed, page_id, n_pages), so generation is
embarrassingly parallel: `generate_pages_df` uses spark.range(n).mapInPandas —
the identical mechanism scales to any cluster size, no driver materialization.
The stored `text` column is the *expected* extraction result built from the
planted token stream (independent of the engine's HTML parser), which makes
the byte-identical-extraction test non-circular.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta, timezone

from pyspark.sql import functions as F

from engine.functions.urls import normalize_url

BASE_DOMAIN = "example.org"
SUBDOMAINS = ("www", "en", "docs", "blog")
OTHER_DOMAIN = "other.net"
LANGS = ("en", "en", "en", "en", "en", "en", "en", "en", "de", "fr")
_EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)

_VOCAB = [f"w{i:03d}" for i in range(180)] + [
    "graph", "rank", "page", "link", "crawl", "search", "index", "node",
    "edge", "spark", "shuffle", "vector", "query", "term", "score", "web",
    "data", "table", "batch", "stream",
]


def _rng(seed: int, page_id: int) -> random.Random:
    return random.Random((seed * 1_000_003 + page_id) & 0x7FFFFFFFFFFFFFFF)


def page_url(page_id: int, seed: int = 42) -> str:
    sub = SUBDOMAINS[_rng(seed, page_id).randrange(len(SUBDOMAINS))]
    return f"https://{sub}.{BASE_DOMAIN}/page/{page_id}"


def _sentence(rng: random.Random, lo=5, hi=12) -> list[str]:
    return [_VOCAB[rng.randrange(len(_VOCAB))] for _ in range(rng.randint(lo, hi))]


def page_spec(page_id: int, n_pages: int, seed: int = 42) -> dict:
    """Full deterministic spec for one page.

    Returns dict with url, lang (may be None), html (str), expected_text,
    content_hrefs (raw href strings surviving decomposition, document order),
    all_hrefs (including boilerplate ones), warc_ts.
    """
    rng = _rng(seed, page_id)
    url = page_url(page_id, seed)
    lang = None if rng.random() < 0.03 else LANGS[rng.randrange(len(LANGS))]

    # ---- choose outlink targets (Zipf-skewed toward low ids = hubs) ----
    dangling = rng.random() < 0.08
    n_links = 0 if dangling else rng.randint(1, 14)
    links = []  # (href_string, placement) placement: content|side|boiler
    for _ in range(n_links):
        r = rng.random()
        if r < 0.04:
            href = "mailto:admin@example.org" if rng.random() < 0.5 else "javascript:void(0)"
        elif r < 0.12:
            href = f"https://{OTHER_DOMAIN}/p/{rng.randrange(n_pages)}"
        else:
            t = int(n_pages * (rng.random() ** 3.0))
            if t >= n_pages:
                t = n_pages - 1
            if t == page_id:
                t = (t + 1) % n_pages
            target = page_url(t, seed)
            v = rng.random()
            if v < 0.06:
                href = target + "#section-" + str(rng.randrange(5))
            elif v < 0.12:
                href = target + "/"
            elif v < 0.18:
                href = target.replace("https://", "HTTPS://").replace(
                    f"{target.split('/')[2]}", target.split("/")[2].upper(), 1
                )
            elif v < 0.55 and target.split("/")[2] == url.split("/")[2]:
                href = "/page/" + target.rsplit("/", 1)[1]  # relative, same host
            else:
                href = target
        p = rng.random()
        placement = "boiler" if p < 0.15 else ("side" if p < 0.25 else "content")
        links.append((href, placement))

    # ---- build HTML + expected token stream ----
    wrapper = rng.choice(("main", "content-div", "none"))
    boiler_tokens = _sentence(rng, 3, 6)
    title_tokens = _sentence(rng, 2, 4)

    head = "<head><title>" + " ".join(title_tokens) + "</title><script>var x=1;</script>"
    head += '<meta charset="utf-8"></head>'
    lang_attr = f' lang="{lang}{"-US" if lang == "en" and rng.random() < 0.3 else ""}"' if lang else ""

    header = (
        '<header class="site-header"><h1>'
        + " ".join(boiler_tokens)
        + "</h1></header>"
    )
    nav_links = "".join(
        f'<a href="{h}">navlink</a>' for h, p in links if p == "boiler"
    )
    nav = f'<nav class="navbar">{nav_links}<span>menu items here</span></nav>'
    footer = '<footer id="footer"><p>copyright boilerplate</p></footer>'

    content_parts = []  # html fragments inside the main region
    content_tokens: list[str] = []  # expected visible tokens (document order)
    content_hrefs: list[str] = []  # hrefs surviving decomposition, doc order

    n_paras = rng.randint(2, 6)
    content_anchor_iter = iter([(h, p) for h, p in links if p == "content"])
    for _ in range(n_paras):
        toks = _sentence(rng)
        content_parts.append("<p>" + " ".join(toks) + "</p>")
        content_tokens.extend(toks)
        a = next(content_anchor_iter, None)
        if a is not None:
            atoks = _sentence(rng, 1, 3)
            content_parts.append(f'<a href="{a[0]}">' + " ".join(atoks) + "</a>")
            content_tokens.extend(atoks)
            content_hrefs.append(a[0])
    for a in content_anchor_iter:  # leftovers
        atoks = _sentence(rng, 1, 2)
        content_parts.append(f'<a href="{a[0]}">' + " ".join(atoks) + "</a>")
        content_tokens.extend(atoks)
        content_hrefs.append(a[0])

    side_links = [(h, _sentence(rng, 1, 2)) for h, p in links if p == "side"]
    # document order inside .related: the <span> text, then the anchors
    side_tokens = (["related", "pages"] + [t for _, toks in side_links for t in toks]) if side_links else []
    side = (
        '<div class="related"><span>related pages</span>'
        + "".join(f'<a href="{h}">' + " ".join(toks) + "</a>" for h, toks in side_links)
        + "</div>"
        if side_links
        else ""
    )

    # body order: header nav [wrapper content] side footer. The side region is
    # outside the main-like wrapper, so its text only shows when region=<body>;
    # its anchors survive decomposition always (it's not boilerplate).
    if wrapper == "main":
        body_mid = "<main>" + "".join(content_parts) + "</main>" + side
        expected_tokens = content_tokens
    elif wrapper == "content-div":
        body_mid = '<div class="content">' + "".join(content_parts) + "</div>" + side
        expected_tokens = content_tokens
    else:
        body_mid = "<div>" + "".join(content_parts) + "</div>" + side
        expected_tokens = content_tokens + side_tokens

    # hrefs in document order over the decomposed tree (nav decomposed):
    # content anchors then side anchors
    all_content_hrefs = content_hrefs + [h for h, _ in side_links]

    html = (
        f"<!DOCTYPE html><html{lang_attr}>{head}<body>{header}{nav}"
        f"{body_mid}{footer}<script>track();</script></body></html>"
    )

    return {
        "page_id": page_id,
        "url": url,
        "lang": lang,
        "html": html,
        "expected_text": " ".join(expected_tokens),
        "content_hrefs": all_content_hrefs,
        "all_hrefs": [h for h, _ in links],
        "warc_ts": _EPOCH + timedelta(seconds=page_id),
    }


PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def generate_pages_df(spark, n_pages: int, seed: int = 42, partitions: int | None = None):
    """Distributed deterministic generation: spark.range → mapInPandas."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            rows = [page_spec(int(i), n_pages, seed) for i in pdf["id"]]
            yield pd.DataFrame(
                {
                    "url": [r["url"] for r in rows],
                    "warc_ts": [r["warc_ts"] for r in rows],
                    "html": [r["html"].encode("utf-8") for r in rows],
                    "text": [r["expected_text"] for r in rows],
                    "lang": [r["lang"] for r in rows],
                }
            )

    rng = spark.range(0, n_pages, 1, partitions or spark.sparkContext.defaultParallelism)
    return rng.mapInPandas(gen, schema=PAGES_SCHEMA)


def generate_boilerplate_docs(
    spark,
    n_docs: int,
    n_boiler: int,
    seed: int = 42,
    partitions: int | None = None,
):
    """Adversarial dedup corpus: (doc_id, text) where doc_ids [0, n_boiler)
    all carry ONE identical boilerplate text (the hot-bucket worst case —
    every band/chunk of an LSH scheme collides for all of them, k² candidate
    pairs uncapped) and the rest are distinct ~30-token documents.
    Deterministic per (seed, doc_id); distributed via spark.range →
    mapInPandas like generate_pages_df."""
    import pandas as pd

    boiler = " ".join(
        _sentence(random.Random(seed * 7 + 1), 28, 32)
    )  # one fixed ~30-token page shared verbatim by the block

    def gen(batches):
        for pdf in batches:
            ids = [int(i) for i in pdf["id"]]
            texts = [
                boiler
                if i < n_boiler
                else " ".join(_sentence(_rng(seed, i), 28, 32)) + f" uniq{i}"
                for i in ids
            ]
            yield pd.DataFrame({"doc_id": ids, "text": texts})

    rng = spark.range(0, n_docs, 1, partitions or spark.sparkContext.defaultParallelism)
    return rng.mapInPandas(gen, schema="doc_id long, text string")


def write_pages(spark, path: str, n_pages: int, seed: int = 42, partitions: int | None = None):
    """Materialize the pages table as partitioned Parquet (Iceberg-style
    layout: partitioned by lang; plain Parquet — no Iceberg runtime here)."""
    df = generate_pages_df(spark, n_pages, seed, partitions)
    df.write.mode("overwrite").parquet(path)
    return path


def generate_embeddings_df(
    spark,
    n_vectors: int,
    dim: int = 64,
    n_clusters: int = 200,
    noise: float = 0.35,
    seed: int = 42,
    partitions: int | None = None,
):
    """Deterministic synthetic embeddings (vec_id, embedding array<float>)
    for ANN benchmarks: each vector is a hash-assigned cluster center plus
    hash-uniform noise, all generated executor-side from pure xxhash64
    column expressions (spark.range → transform(sequence) — no driver
    materialization, no RNG state, scales to any n). Clustered geometry
    matters: uniform vectors are the degenerate ANN case where neither IVF
    cells nor LSH buckets separate anything; planted clusters exercise the
    realistic path INCLUDING hot cells/buckets (cluster sizes are
    hash-multinomial, not balanced)."""

    def u(*cols):  # hash-uniform in [-1, 1)
        h = F.xxhash64(*[F.lit(c) if isinstance(c, (int, str)) else c for c in cols])
        return (F.pmod(h, F.lit(2_000_001)).cast("double") / F.lit(1_000_000.0)) - F.lit(1.0)

    rng = spark.range(0, n_vectors, 1, partitions or spark.sparkContext.defaultParallelism)
    cid = F.pmod(F.xxhash64(F.lit(seed), F.col("id")), F.lit(n_clusters))
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda pos: (u(seed * 3 + 1, cid, pos) + F.lit(noise) * u(seed * 3 + 2, F.col("id"), pos)).cast("float"),
    )
    return rng.select(F.col("id").alias("vec_id"), vec.alias("embedding"))


def random_graph_edges(
    n_nodes: int = 1000, n_edges: int = 10_000, seed: int = 1
) -> list[tuple[int, int]]:
    """Seeded uniform random digraph with the edge-fixture properties of
    FIXTURES.md §2 (the shape of the reference's random_1k_10k.txt):
    `n_edges` distinct (src, dst) pairs, no self-loops, in draw order, so a
    prefix is a uniform sample. The defaults touch every id 0..n_nodes-1."""
    rng = random.Random(seed)
    seen: set[tuple[int, int]] = set()
    out = []
    while len(out) < n_edges:
        e = (rng.randrange(n_nodes), rng.randrange(n_nodes))
        if e[0] != e[1] and e not in seen:
            seen.add(e)
            out.append(e)
    return out

