"""Seeded input generators and their ground truth.

Every input is a pure function of ``(workload, seed)``. The program under
test only ever sees the parquet files written here; the truth arrays next
to them are computed independently with numpy and DuckDB and read back by
the oracle checks in ``oracles.py``.

Run as a script to build one workload's inputs into a directory::

    python3 perfbench/inputs.py <workload> <seed> <out_dir>

``run.py`` does this in a child process, so the generator's and oracles'
memory never counts towards the measured peak RSS.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401  (pa.compute)
import pyarrow.parquet as pq

# -- sizes ------------------------------------------------------------------
# Chosen so that a run of every workload, set-up included, fits the
# benchmark's time budget on a shared 4-core box; see README.md.
PAGES = 15_000
PAGES_AVG_LINKS = 10
WEB_V, WEB_E = 8_000, 80_000
DENSE_V, DENSE_CORE = 1_500, 600

# -- algorithm parameters shared by the workloads and the oracles -----------
ALPHA = 0.85
PR_ROUNDS = 5            # pagerank, personalized_pagerank, hits, pagerank_kernel
CKPT_FIRST = 1           # checkpointed pagerank: first call's rounds ...
CKPT_TOTAL = 2           # ... then resumed to this many
PPR_SEEDS = 8            # the smallest vertex ids
LPA_ROUNDS = 3

PART_FILES = 8           # inputs are written as this many parquet files

_WORDS = [
    "crawl", "graph", "vertex", "edge", "spark", "arrow", "kernel", "rank",
    "intersect", "cluster", "shard", "index", "query", "batch", "anchor",
    "page", "link", "hub", "tail", "bitmap", "merge", "sorted", "list",
    "café", "größe", "数据", "naïve", "señal",
]
_LANGS = np.array(["en", "de", "fr", "es", "zh"])


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def _write_parts(table: pa.Table, path: str) -> None:
    """Write ``table`` as PART_FILES parquet files under directory ``path``
    (a multi-file table scans with more than one partition, as a crawl
    export or a graph dump would)."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, PART_FILES + 1).astype(int)
    for i in range(PART_FILES):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


# -- pages ------------------------------------------------------------------

def gen_pages(seed: int, n_pages: int):
    """Pages table plus the generator's own knowledge of every page.

    Returns (table, anchors_src_url, anchors_dst_url). ``table`` has the
    pages contract columns (url, warc_ts, html, text, lang); ``text`` is
    the body text the generator put between the tags, so it is known
    without running any extractor. About a tenth of the links point at
    external urls that are not pages themselves."""
    rng = _rng(seed, 1)
    ids = np.arange(n_pages)
    sites = rng.integers(0, 97, n_pages)
    urls = [f"https://site{s}.example/p/{i}" for s, i in zip(sites, ids)]
    n_ext = max(1, n_pages // 20)
    ext_urls = [f"https://ext{j}.example/" for j in range(n_ext)]

    n_links = 1 + np.floor(rng.random(n_pages) * 2 * (PAGES_AVG_LINKS - 1)).astype(int)
    total = int(n_links.sum())
    internal = rng.random(total) < 0.9
    tgt_int = np.floor(n_pages * rng.random(total) ** 3).astype(np.int64)
    tgt_ext = np.floor(n_ext * rng.random(total) ** 2).astype(np.int64)
    anchor_words = rng.integers(0, len(_WORDS), total)
    n_body = rng.integers(20, 60, n_pages)
    body_words = rng.integers(0, len(_WORDS), int(n_body.sum()))
    langs = _LANGS[rng.integers(0, len(_LANGS), n_pages)]

    htmls, texts, src_urls, dst_urls = [], [], [], []
    li = bi = 0
    for i in range(n_pages):
        title = f"Page {i}"
        body = " ".join(_WORDS[w] for w in body_words[bi:bi + n_body[i]])
        bi += n_body[i]
        parts = [
            f"<html><head><title>{title}</title><script>var x={i};</script>"
            f"<style>.c{i}{{color:red}}</style></head><body><h1>{title}</h1>"
            f"<p>{body}</p>\n"
        ]
        text = [title, title, body]
        for _ in range(n_links[i]):
            dst = urls[tgt_int[li]] if internal[li] else ext_urls[tgt_ext[li]]
            word = _WORDS[anchor_words[li]]
            parts.append(f'<p>See <a class="x" href="{dst}">{word}</a> now.</p>\n')
            text.append(f"See {word} now.")
            src_urls.append(urls[i])
            dst_urls.append(dst)
            li += 1
        parts.append("</body></html>")
        htmls.append("".join(parts).encode("utf-8"))
        texts.append(" ".join(text))

    ts = np.datetime64("2024-01-01T00:00:00", "us") + ids.astype("timedelta64[m]")
    table = pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us")),
        "html": pa.array(htmls, pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
    })
    return table, src_urls, dst_urls


def relabelled_link_keys(src_urls, dst_urls) -> np.ndarray:
    """The ingest pipeline's expected output, computed without Spark:
    url dictionary ordered by url, degree-descending relabel with the
    dictionary id as tie-break, every anchor kept. Returns the sorted
    ``src * n + dst`` keys of the relabelled edge multiset and ``n``."""
    all_urls, inv = np.unique(np.array(src_urls + dst_urls, dtype=object), return_inverse=True)
    m = len(src_urls)
    s, d = inv[:m].astype(np.int64), inv[m:].astype(np.int64)
    n = len(all_urls)
    deg = np.bincount(s, minlength=n) + np.bincount(d, minlength=n)
    order = np.lexsort((np.arange(n), -deg))     # (deg desc, vid asc)
    new_id = np.empty(n, dtype=np.int64)
    new_id[order] = np.arange(n)
    return np.sort(new_id[s] * n + new_id[d]), n


# -- graphs -----------------------------------------------------------------

def gen_web(seed: int, v: int, e: int) -> np.ndarray:
    """Zipf web graph: ``e`` distinct directed edges over ``v`` vertices, no
    self loops. Sources are uniform, targets follow ``floor(v * u**3)`` so
    small ids are heavy in-degree hubs. Returns an (e, 2) int64 array in
    random row order."""
    rng = _rng(seed, 2)
    keys = np.empty(0, dtype=np.int64)
    while len(keys) < e:
        m = int((e - len(keys)) * 1.5) + 1000
        src = rng.integers(0, v, m)
        dst = np.floor(v * rng.random(m) ** 3).astype(np.int64)
        k = src * v + dst
        keys = np.unique(np.concatenate([keys, k[src != dst]]))
    keys = rng.permutation(keys)[:e]
    return np.stack([keys // v, keys % v], axis=1)


def gen_dense(seed: int, v: int, core: int) -> np.ndarray:
    """Dense hub core plus a sparse Zipf tail. The first ``core`` vertices
    are linked to each other with probability 0.6 in each direction; every
    other vertex sends 4..40 links to targets drawn ``floor(v * u**2)``
    (mostly into the core). Distinct directed edges, no self loops."""
    rng = _rng(seed, 3)
    a = rng.random((core, core)) < 0.6
    np.fill_diagonal(a, False)
    cs, cd = np.nonzero(a)
    tail = np.arange(core, v)
    outs = rng.integers(4, 41, len(tail))
    ts = np.repeat(tail, outs)
    td = np.floor(v * rng.random(len(ts)) ** 2).astype(np.int64)
    src = np.concatenate([cs, ts]).astype(np.int64)
    dst = np.concatenate([cd, td]).astype(np.int64)
    keep = src != dst
    keys = np.unique(src[keep] * v + dst[keep])
    keys = rng.permutation(keys)
    return np.stack([keys // v, keys % v], axis=1)


def edge_table(edges: np.ndarray) -> pa.Table:
    return pa.table({"src": pa.array(edges[:, 0], pa.int64()),
                     "dst": pa.array(edges[:, 1], pa.int64())})


# -- input sets per workload ---------------------------------------------------

def build_crawl_ingest(seed: int, out: str) -> dict:
    table, src_urls, dst_urls = gen_pages(seed, PAGES)
    _write_parts(table, os.path.join(out, "pages"))
    keys, n_urls = relabelled_link_keys(src_urls, dst_urls)
    np.savez(os.path.join(out, "links.npz"), keys=keys, n=n_urls)
    html_mb = pa.compute.sum(pa.compute.binary_length(table["html"])).as_py() / 1e6
    return {"pages": {"pages": PAGES, "links": len(src_urls), "urls": n_urls,
                      "html_mb": round(html_mb, 2)}}


def build_rank_iterations(seed: int, out: str) -> dict:
    from oracles import truth_rank

    web = gen_web(seed, WEB_V, WEB_E)
    _write_parts(edge_table(web), os.path.join(out, "web"))
    truth_rank(web, out)
    return {"web": {"vertices": int(len(np.unique(web))), "edges": len(web)}}


def build_graph_structure(seed: int, out: str) -> dict:
    from oracles import truth_structure

    web = gen_web(seed, WEB_V, WEB_E)
    dense = gen_dense(seed, DENSE_V, DENSE_CORE)
    for name, e in (("web", web), ("dense", dense)):
        _write_parts(edge_table(e), os.path.join(out, name))
    truth_structure(web, dense, out)
    return {"web": {"vertices": int(len(np.unique(web))), "edges": len(web)},
            "dense": {"vertices": int(len(np.unique(dense))), "edges": len(dense)}}


def build_crawl_structure(seed: int, out: str) -> dict:
    return {**build_crawl_ingest(seed, out), **build_graph_structure(seed, out)}


INPUT_SETS = {
    "rank_iterations": build_rank_iterations,
    "crawl_structure": build_crawl_structure,
}


def main(argv: list[str]) -> int:
    workload, seed, out = argv[0], int(argv[1]), argv[2]
    sizes = INPUT_SETS[workload](seed, out)
    with open(os.path.join(out, "sizes.json"), "w") as f:
        json.dump(sizes, f)
    # written last: its presence marks a complete input directory
    with open(os.path.join(out, "READY"), "w") as f:
        f.write("ok\n")
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    sys.exit(main(sys.argv[1:]))
