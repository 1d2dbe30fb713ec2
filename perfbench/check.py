"""Output checks of the benchmark.

Each `check_*` function returns a list of problems; an empty list means
the output is correct. The graph oracles are exact in-process reference
implementations in numpy (the graphs are small enough to hold in one
process); the query check replays each query's DuckDB oracle SQL with the
comparison `tools/check_oracle.py` uses.
"""
import duckdb
import numpy as np
import pandas as pd

PR_TELEPORT, PR_DAMPING = 0.15, 0.85


# ---- reading dumps ----

def read_parquet(path):
    """A parquet file or directory of part files as a pandas frame."""
    return duckdb.sql(f"SELECT * FROM read_parquet('{path}/**/*.parquet')"
                      if not path.endswith(".parquet")
                      else f"SELECT * FROM read_parquet('{path}')").df()


def read_edges(path):
    """Canonical (src < dst) edge dump as two int64 arrays."""
    df = read_parquet(path)
    return (df["src"].to_numpy(np.int64), df["dst"].to_numpy(np.int64))


def read_labels(path, column):
    """(vid, value) dump as arrays sorted by vid."""
    df = read_parquet(path).sort_values("vid")
    return df["vid"].to_numpy(np.int64), df[column].to_numpy()


# ---- path co-occurrence edges, from the corpus table ----

_M64 = (1 << 64) - 1
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
SPARK_HASH_SEED = 42


def _rotl(x, r):
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc, lane):
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def _merge(h, v):
    return ((h ^ _round(0, v)) * _P1 + _P4) & _M64


def xxhash64(data, seed=SPARK_HASH_SEED):
    """XXH64 of `data` (bytes) as a signed 64-bit integer: Spark's
    `xxhash64` of a string is this over its UTF-8 bytes, of a long this
    over its 8 little-endian bytes, both with seed 42."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed & _M64,
             (seed - _P1) & _M64]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(data[i + 8 * j:i + 8 * j + 8],
                                                   "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M64
        for x in v:
            h = _merge(h, x)
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h = ((_rotl(h ^ _round(0, int.from_bytes(data[i:i + 8], "little")), 27)
              * _P1) + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def path_edges(corpus_dir, cap):
    """The canonical path co-occurrence edges `EdgeDeriver.pathEdges`
    must derive from a corpus table, computed here without the engine:
    vertex id = xxhash64("repo:path") masked to 63 bits; per commit, the
    distinct items, capped to the `cap` smallest (xxhash64(id), id); every
    pair a < b of a commit is an edge. Returns (src, dst) sorted by
    (src, dst) and the corpus counts (groups, capped groups, pairs
    expanded, edges)."""
    df = duckdb.sql(f"""SELECT DISTINCT "commit", repo || ':' || path AS name
                        FROM read_parquet('{corpus_dir}/**/*.parquet')""").df()
    ids = {n: xxhash64(n.encode()) & (_M64 >> 1) for n in df["name"].unique()}
    items = pd.DataFrame({"g": df["commit"], "item": df["name"].map(ids)})
    items = items.drop_duplicates()
    sizes = items.groupby("g")["item"].transform("size")
    big = sizes > cap
    n_capped = items.loc[big, "g"].nunique()
    if n_capped:
        capped = items[big].assign(h=[xxhash64(int(x).to_bytes(8, "little"))
                                      for x in items.loc[big, "item"]])
        capped = capped.sort_values(["g", "h", "item"]).groupby("g").head(cap)
        items = pd.concat([items[~big], capped[["g", "item"]]])
    kept = items.groupby("g").size().to_numpy(np.int64)
    con = duckdb.connect()
    con.register("items", items)
    e = con.execute("""SELECT DISTINCT a.item AS src, b.item AS dst
                       FROM items a JOIN items b ON a.g = b.g AND a.item < b.item
                       ORDER BY src, dst""").df()
    counts = {"groups": len(kept), "capped_groups": n_capped,
              "pairs_expanded": int(np.sum(kept * (kept - 1) // 2)),
              "edges_out": len(e)}
    return (e["src"].to_numpy(np.int64), e["dst"].to_numpy(np.int64)), counts


def check_edges(src, dst, expected):
    """The derived canonical edge set against the one computed from the
    corpus (both as arrays; `src`/`dst` in any order)."""
    es, ed = expected
    if len(src) != len(es):
        return [f"{len(src)} canonical edges, expected {len(es)}"]
    order = np.lexsort((dst, src))
    diff = int(np.sum((src[order] != es) | (dst[order] != ed)))
    return [f"{diff} edges differ from the corpus's"] if diff else []


# ---- graph oracles ----

def _index(src, dst):
    """Sorted vertex ids and the edge endpoints as indices into them (index
    order is id order, so a minimum over indices is a minimum over ids)."""
    vids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    return vids, inv[:len(src)], inv[len(src):]


def cc_oracle(src, dst):
    """Min-vertex-id label of every vertex's connected component."""
    vids, s, d = _index(src, dst)
    lab = np.arange(len(vids))
    while True:
        new = lab.copy()
        np.minimum.at(new, s, lab[d])
        np.minimum.at(new, d, lab[s])
        new = new[new]  # pointer jumping: labels stay inside the component
        if np.array_equal(new, lab):
            return vids, vids[lab]
        lab = new


def lp_oracle(src, dst, iterations):
    """Synchronous label propagation: each vertex adopts the most frequent
    label among its neighbours, ties to the smallest label."""
    vids, s, d = _index(src, dst)
    n = len(vids)
    frm, to = np.concatenate([s, d]), np.concatenate([d, s])
    lab = np.arange(n)
    for _ in range(iterations):
        keys, cnt = np.unique(to * n + lab[frm], return_counts=True)
        v, lv = keys // n, keys % n
        order = np.lexsort((lv, -cnt, v))
        v, lv = v[order], lv[order]
        first = np.ones(len(v), bool)
        first[1:] = v[1:] != v[:-1]
        new = lab.copy()
        new[v[first]] = lv[first]
        if np.array_equal(new, lab):
            break
        lab = new
    return vids, vids[lab]


def pagerank_oracle(src, dst, iterations):
    """`iterations` supersteps of uniform-teleport PageRank on the
    undirected graph (no dangling vertices: every vertex has an edge)."""
    vids, s, d = _index(src, dst)
    n = len(vids)
    frm, to = np.concatenate([s, d]), np.concatenate([d, s])
    share = 1.0 / np.bincount(frm, minlength=n)[frm]
    r = np.full(n, 1.0 / n)
    for _ in range(iterations):
        r = PR_TELEPORT / n + PR_DAMPING * np.bincount(
            to, weights=r[frm] * share, minlength=n)
    return vids, r


def triangle_oracle(src, dst):
    """Triangle count of the undirected graph, by DuckDB over the edges
    oriented from the lower-degree endpoint."""
    con = duckdb.connect()
    con.register("e0", pd.DataFrame({"src": src, "dst": dst}))
    return con.execute("""
        WITH deg AS (SELECT v, count(*) AS k FROM
                       (SELECT src AS v FROM e0 UNION ALL SELECT dst FROM e0)
                     GROUP BY v),
             o AS (SELECT CASE WHEN a.k < b.k OR (a.k = b.k AND src < dst)
                               THEN src ELSE dst END AS x,
                          CASE WHEN a.k < b.k OR (a.k = b.k AND src < dst)
                               THEN dst ELSE src END AS y
                   FROM e0 JOIN deg a ON a.v = src JOIN deg b ON b.v = dst)
        SELECT count(*) FROM o p JOIN o q ON q.x = p.y
                               JOIN o r ON r.x = p.x AND r.y = q.y""").fetchone()[0]


# ---- checks ----

def _same_vertices(vids, src, dst):
    expect = np.unique(np.concatenate([src, dst]))
    if len(vids) != len(expect) or not np.array_equal(np.sort(vids), expect):
        return [f"vertex set differs: {len(vids)} labelled, {len(expect)} in graph"]
    return []


def check_cc(vids, labels, src, dst):
    """Labels agree across every edge, each label is the min vid of its
    class, and the classes are exactly the connected components."""
    bad = _same_vertices(vids, src, dst)
    if bad:
        return bad
    order = np.argsort(vids)
    vids, labels = vids[order], np.asarray(labels)[order]
    split = int(np.sum(labels[np.searchsorted(vids, src)] !=
                       labels[np.searchsorted(vids, dst)]))
    if split:
        bad.append(f"{split} edges join different labels")
    # vids ascend, so a label's first position holds its class's min vid
    classes, first = np.unique(labels, return_index=True)
    wrong = int(np.sum(vids[first] != classes))
    if wrong:
        bad.append(f"{wrong} labels are not their class's min vid")
    _, ref = cc_oracle(src, dst)
    if not bad and not np.array_equal(labels, ref):
        bad.append(f"{len(classes)} classes, {len(np.unique(ref))} components")
    return bad


def check_pagerank(vids, ranks, converged, src, dst, iterations=None,
                   tol=1e-9):
    """Converged, ranks sum to 1 within `tol`, and (with `iterations`)
    every rank within `tol` of the in-process power iteration."""
    bad = [] if converged else ["not converged"]
    bad += _same_vertices(vids, src, dst)
    total = float(np.sum(ranks))
    if abs(total - 1.0) > tol:
        bad.append(f"ranks sum to {total!r}")
    if iterations is not None and not bad:
        order = np.argsort(vids)
        _, ref = pagerank_oracle(src, dst, iterations)
        err = float(np.max(np.abs(np.asarray(ranks)[order] - ref)))
        if err > tol:
            bad.append(f"max |rank - oracle| = {err:.3g}")
    return bad


def check_lp(vids, labels, src, dst, iterations):
    bad = _same_vertices(vids, src, dst)
    if not bad:
        order = np.argsort(vids)
        _, ref = lp_oracle(src, dst, iterations)
        wrong = int(np.sum(np.asarray(labels)[order] != ref))
        if wrong:
            bad.append(f"{wrong} labels differ from the oracle")
    return bad


def check_same(a, b, tol=0.0):
    """Two (vids, values) results agree: bitwise, or within `tol`."""
    (va, xa), (vb, xb) = a, b
    if not np.array_equal(va, vb):
        return ["vertex sets differ"]
    xa, xb = np.asarray(xa), np.asarray(xb)
    if tol == 0.0:
        n = int(np.sum(xa != xb))
        return [f"{n} values differ"] if n else []
    err = float(np.max(np.abs(xa - xb))) if len(xa) else 0.0
    return [f"max difference {err:.3g}"] if err > tol else []


def check_triangles(count, src, dst, reference=None):
    ref = triangle_oracle(src, dst) if reference is None else reference
    return [] if count == ref else [f"{count} triangles, expected {ref}"]


# ---- queries ----

def _canon(df):
    """Columns by name, rows as sorted '|'-joined strings (the
    tools/check_oracle.py comparison)."""
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) == 0:
        return list(df.columns), []
    rows = df.astype(str).apply(lambda r: "|".join(r.values), axis=1)
    return list(df.columns), sorted(rows.tolist())


def check_query(got, expected):
    """A query result against its oracle result; `expected` None means
    the query has no oracle and must return rows."""
    if expected is None:
        return [] if len(got) else ["no rows"]
    (cg, rg), (ce, re_) = _canon(got), _canon(expected)
    if cg != ce:
        return [f"columns {cg} != {ce}"]
    if len(rg) != len(re_):
        return [f"{len(rg)} rows, expected {len(re_)}"]
    diff = [(a, b) for a, b in zip(rg, re_) if a != b]
    return [f"{len(diff)} rows differ, e.g. {diff[0]}"] if diff else []


class Oracle:
    """DuckDB over the query tables, for the queries' oracle SQL."""

    TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings")

    def __init__(self, data_dir):
        import os
        self.con = duckdb.connect()
        for t in self.TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    def run(self, sql):
        return self.con.execute(sql).df()
