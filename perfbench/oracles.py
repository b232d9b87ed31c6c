"""Independent oracles: numpy/DuckDB ground truth and the checks that compare
the program's results with it.

``truth_*`` run in the generator's child process (``inputs.py``) and save
their answers next to the inputs. ``check_*`` run in the benchmark process,
outside every timed section, on results the timed calls already collected.
Each check returns an error string, or None when the result is correct.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow.parquet as pq

from inputs import ALPHA, CKPT_FIRST, CKPT_TOTAL, LPA_ROUNDS, PPR_SEEDS, PR_ROUNDS

RTOL = 1e-6      # float scores: sums reassociate across partitionings
ATOL = 1e-12


class Graph:
    """Vertex-indexed view of a directed edge array: ``ids`` are the sorted
    distinct endpoint ids and ``s``/``d`` index into them."""

    def __init__(self, edges: np.ndarray):
        self.ids, inv = np.unique(edges, return_inverse=True)
        inv = inv.reshape(edges.shape)
        self.s, self.d = inv[:, 0], inv[:, 1]
        self.n = len(self.ids)

    def undirected_pairs(self) -> tuple[np.ndarray, np.ndarray]:
        """Both directions of every distinct undirected edge, no loops."""
        a = np.minimum(self.s, self.d)
        b = np.maximum(self.s, self.d)
        k = np.unique(a * self.n + b)
        a, b = k // self.n, k % self.n
        return np.concatenate([a, b]), np.concatenate([b, a])


# -- power iterations ---------------------------------------------------------

def pagerank(g: Graph, rounds: int, p: np.ndarray | None = None) -> np.ndarray:
    """Textbook power iteration with dangling mass redistributed along the
    restart vector ``p`` (uniform when None); starts from ``p``."""
    n = g.n
    outdeg = np.bincount(g.s, minlength=n).astype(np.float64)
    dang = outdeg == 0
    safe = np.where(dang, 1.0, outdeg)
    restart = np.full(n, 1.0 / n) if p is None else p
    r = restart.copy()
    for _ in range(rounds):
        contrib = np.bincount(g.d, weights=(r / safe)[g.s], minlength=n)
        r = (1 - ALPHA) * restart + ALPHA * (contrib + r[dang].sum() * restart)
    return r


def hits(g: Graph, rounds: int) -> tuple[np.ndarray, np.ndarray]:
    hub = np.ones(g.n)
    for _ in range(rounds):
        auth = np.bincount(g.d, weights=hub[g.s], minlength=g.n)
        auth /= np.linalg.norm(auth)
        hub = np.bincount(g.s, weights=auth[g.d], minlength=g.n)
        hub /= np.linalg.norm(hub)
    return hub, auth


def ppr_restart(g: Graph) -> np.ndarray:
    p = np.zeros(g.n)
    p[:PPR_SEEDS] = 1.0 / PPR_SEEDS      # ids are sorted: the smallest ids
    return p


def truth_rank(edges: np.ndarray, out: str) -> None:
    g = Graph(edges)
    hub, auth = hits(g, PR_ROUNDS)
    np.savez(
        os.path.join(out, "truth.npz"),
        ids=g.ids,
        pagerank=pagerank(g, PR_ROUNDS),
        ppr=pagerank(g, PR_ROUNDS, ppr_restart(g)),
        hub=hub,
        auth=auth,
        ckpt_first=pagerank(g, CKPT_FIRST),
        ckpt_total=pagerank(g, CKPT_TOTAL),
        seeds=g.ids[:PPR_SEEDS],
    )


# -- structure ----------------------------------------------------------------

def triangles_dense(g: Graph) -> int:
    """trace(A^3)/6 of the undirected simple graph, as a BLAS product."""
    a = np.zeros((g.n, g.n), dtype=np.float32)
    u, v = g.undirected_pairs()
    a[u, v] = 1.0
    return int(round(float(((a @ a) * a).sum(dtype=np.float64)) / 6))


def triangles_duckdb(g: Graph) -> int:
    """Triangles of the undirected simple graph, each edge oriented from the
    lower to the higher (degree, id) rank so no vertex fans out widely."""
    import duckdb
    import pyarrow as pa

    u, v = g.undirected_pairs()
    deg = np.bincount(u, minlength=g.n)
    rank = np.empty(g.n, dtype=np.int64)
    rank[np.lexsort((np.arange(g.n), deg))] = np.arange(g.n)
    fwd = rank[u] < rank[v]
    o = pa.table({"a": rank[u][fwd], "b": rank[v][fwd]})  # noqa: F841 (scanned by name)
    con = duckdb.connect()
    try:
        con.execute("set threads = 2")
        return int(con.execute(
            "select count(*) from o o1 join o o2 on o1.b = o2.a "
            "join o o3 on o3.a = o1.a and o3.b = o2.b"
        ).fetchone()[0])
    finally:
        con.close()


def components(g: Graph) -> np.ndarray:
    """Min-id component label per vertex: min-label propagation with
    pointer jumping until nothing changes."""
    u, v = g.undirected_pairs()
    lab = np.arange(g.n)
    while True:
        new = lab.copy()
        np.minimum.at(new, v, lab[u])
        new = new[new]
        if np.array_equal(new, lab):
            return g.ids[lab]
        lab = new


def label_propagation(g: Graph, rounds: int) -> np.ndarray:
    """Synchronous LPA over distinct undirected neighbours: each vertex
    takes the label most of its neighbours hold, the smallest such label on
    a tie (``operators.labelprop``'s rule)."""
    u, v = g.undirected_pairs()
    lab = np.arange(g.n)
    for _ in range(rounds):
        k = np.unique(v * g.n + lab[u], return_counts=True)
        kv, kl, cnt = k[0] // g.n, k[0] % g.n, k[1]
        o = np.lexsort((kl, -cnt, kv))
        first = np.unique(kv[o], return_index=True)[1]
        new = lab.copy()
        new[kv[o][first]] = kl[o][first]
        lab = new
    return g.ids[lab]


def truth_structure(web: np.ndarray, dense: np.ndarray, out: str) -> None:
    gw, gd = Graph(web), Graph(dense)
    np.savez(
        os.path.join(out, "truth.npz"),
        ids=gw.ids,
        components=components(gw),
        labels=label_propagation(gw, LPA_ROUNDS),
    )
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump({"tc_web": triangles_duckdb(gw),
                   "tc_dense": triangles_dense(gd)}, f)


# -- checks (benchmark process) ---------------------------------------------------

def _ordered(pdf, ids: np.ndarray, cols: list[str]):
    """Columns of a collected (v, ...) frame in ``ids`` order, or an error
    string when the vertex sets differ."""
    pdf = pdf.sort_values("v")
    if len(pdf) != len(ids) or not np.array_equal(pdf["v"].to_numpy(), ids):
        return f"vertex set differs: {len(pdf)} rows vs {len(ids)} expected"
    return [pdf[c].to_numpy() for c in cols]


def check_scores(pdf, ids, expected: dict[str, np.ndarray]) -> str | None:
    got = _ordered(pdf, ids, list(expected))
    if isinstance(got, str):
        return got
    for (name, want), have in zip(expected.items(), got):
        if not np.allclose(have, want, rtol=RTOL, atol=ATOL):
            err = float(np.max(np.abs(have - want)))
            return f"{name} differs from the numpy power iteration (max abs err {err:.3g})"
    return None


def check_labels(pdf, ids, col: str, want: np.ndarray) -> str | None:
    got = _ordered(pdf, ids, [col])
    if isinstance(got, str):
        return got
    bad = int((got[0] != want).sum())
    return f"{bad} vertices have the wrong {col}" if bad else None


def check_count(name: str, got: int, want: int) -> str | None:
    return None if int(got) == int(want) else f"{name}: {got} != {want}"


def check_text(out_dir: str, pages_dir: str) -> str | None:
    """Extracted text byte-identical per url to the generator's text."""
    got = pq.read_table(out_dir, columns=["url", "text"]).to_pydict()
    want = pq.read_table(pages_dir, columns=["url", "text"]).to_pydict()
    have = dict(zip(got["url"], got["text"]))
    if len(have) != len(got["url"]) or set(have) != set(want["url"]):
        return "extracted url set differs from the pages"
    bad = sum(have[u] != t for u, t in zip(want["url"], want["text"]))
    return f"{bad} pages have different extracted text" if bad else None


def check_degrees(deg_df, want: np.ndarray) -> str | None:
    """Sorted total-degree sequence of the ingested multigraph."""
    got = np.sort(deg_df.select("deg").toPandas()["deg"].to_numpy())
    if len(got) != len(want) or not np.array_equal(got, want):
        return "sorted degree sequence differs from the generator's links"
    return None


def check_edges(out_dir: str, keys: np.ndarray, n: int) -> str | None:
    """The saved relabelled edge multiset equals the one derived from the
    generator's links (``keys`` = sorted ``src * n + dst``). This also pins
    the distinct-edge count and the degree-descending id order."""
    t = pq.read_table(out_dir, columns=["src", "dst"])
    src, dst = t["src"].to_numpy(), t["dst"].to_numpy()
    if len(src) != len(keys):
        return f"{len(src)} edges saved, {len(keys)} expected"
    if len(src) and (min(src.min(), dst.min()) < 0 or max(src.max(), dst.max()) >= n):
        return "relabelled vertex ids are not 0..n-1"
    got = np.sort(src * n + dst)
    if len(np.unique(got)) != len(np.unique(keys)):
        return "distinct-edge count differs from the generator's links"
    if not np.array_equal(got, keys):
        return "relabelled edge multiset differs from the generator's links"
    return None
