"""Seeded input generators and ground truth for the three workloads.

Each generator writes its inputs once per (workload, seed, size) into a
cache directory and returns the truth the checks compare against. The same
seed always gives byte-identical inputs and the same truth.

The shape of an input (grid surfaces, graph structure, document texts and
vectors) comes from a fixed generator; the seed relabels and reorders it:
which species gets which grid and mirror image, node ids, document and
vector ids, row order. Every seed thus gives different inputs with the same
sizes, skew and duplicate structure, so run-to-run differences come from
the program and the machine, not from one seed's input being easier.

  species_etl      Esri ASCII grids (batch A + one corrupt file, batch B)
  graph_iterative  directed edge list where one hub holds ~10 % of edges
  llm_dedup        documents with planted near-duplicates and exact copies,
                   plus embeddings with planted near-identical vectors
"""
import hashlib
import json
import os
import pickle
from collections import Counter, defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Per-size knobs. "full" is what the benchmark measures; "tiny" is the
# self-check's quick mode.
SIZES = {
    "full": {
        "species": {"grids_a": 8, "grids_b_old": 2, "grids_b_new": 2, "side": 48},
        "graph": {"nodes": 6000, "edges": 30000, "hub_share": 0.10},
        "dedup": {"docs": 2000, "tokens": 60, "clusters": 60, "variants": 2,
                  "copies": 60, "vecs": 3000, "dim": 32, "planted": 150},
    },
    "tiny": {
        "species": {"grids_a": 3, "grids_b_old": 1, "grids_b_new": 1, "side": 12},
        "graph": {"nodes": 400, "edges": 2000, "hub_share": 0.10},
        "dedup": {"docs": 200, "tokens": 30, "clusters": 8, "variants": 2,
                  "copies": 8, "vecs": 300, "dim": 32, "planted": 12},
    },
}

# Operator parameters shared with the JVM side (passed through params.json).
PARAMS = {
    "species_etl": {"thresholds": [0.25, 0.5, 0.75], "cellsize": 0.25},
    "graph_iterative": {"pr_iters": 2, "ppr_iters": 2, "ppr_seeds": 8,
                        "hits_iters": 2, "lpa_iters": 2, "kcore_k": 3,
                        "kcore_rounds": 2, "landmarks": 4, "lm_rounds": 2,
                        "bip_rounds": 2},
    "llm_dedup": {"k": 3, "num_hashes": 16, "band_size": 4, "min_jaccard": 0.7,
                  "sim_num": 7, "sim_den": 10, "max_hamming": 3,
                  "lsh_planes": 8, "ivf_centroids": 32, "min_cosine": 0.99},
}

GEN_VERSION = "4"
_SHAPE_SEED = 20260101


def generate(workload, seed, size, cache_root):
    """Return (input_dir, truth), generating into the cache on first use."""
    d = os.path.join(cache_root, f"{workload}-s{seed}-{size}-v{GEN_VERSION}")
    truth_path = os.path.join(d, "truth.pkl")
    if not os.path.exists(truth_path):
        tmp = d + ".tmp"
        _rmtree(tmp)
        os.makedirs(tmp)
        salt = _WORKLOAD_SALT[workload]
        rng = np.random.default_rng([seed, salt])
        shape = np.random.default_rng([_SHAPE_SEED, salt])
        truth = _GENERATORS[workload](rng, shape, SIZES[size], tmp)
        truth["params"] = PARAMS[workload]
        with open(os.path.join(tmp, "params.json"), "w") as f:
            json.dump({**PARAMS[workload], **truth.get("jvm_params", {})}, f)
        with open(os.path.join(tmp, "truth.pkl"), "wb") as f:
            pickle.dump(truth, f)
        _rmtree(d)
        os.rename(tmp, d)
    with open(truth_path, "rb") as f:
        return d, pickle.load(f)


def _rmtree(p):
    if not os.path.exists(p):
        return
    for root, dirs, files in os.walk(p, topdown=False):
        for n in files:
            os.remove(os.path.join(root, n))
        for n in dirs:
            os.rmdir(os.path.join(root, n))
    os.rmdir(p)


_WORKLOAD_SALT = {"species_etl": 1, "graph_iterative": 2, "llm_dedup": 3}


# ---------------------------------------------------------------- species_etl

def _grid(rng, side):
    """Probability surface of a few Gaussian bumps, 3 decimals, NODATA corner.

    The main bump peaks near 0.95, so every species has cells at or above
    every threshold and the pipeline emits one row per (species, threshold).
    """
    yy, xx = np.mgrid[0:side, 0:side].astype(float)
    z = np.zeros((side, side))
    for b in range(4):
        cy, cx = rng.uniform(0.15, 0.85, 2) * side
        w = rng.uniform(0.06, 0.2) * side
        amp = 0.95 if b == 0 else rng.uniform(0.3, 0.8)
        z = np.maximum(z, amp * np.exp(-((yy - cy) ** 2 + (xx - cx) ** 2) / (2 * w * w)))
    z = np.clip(z + rng.uniform(-0.04, 0.04, z.shape), 0.0, 1.0)
    text = np.char.mod("%.3f", z)
    vals = text.astype(float)
    nod = np.zeros_like(vals, dtype=bool)
    k = max(1, side // 8)
    nod[:k, :k] = True
    text[nod] = "-9999"
    return text, np.where(nod, np.nan, vals)


def _regions(mask):
    """Sizes of the 4-connected regions of a boolean grid, sorted."""
    side_r, side_c = mask.shape
    seen = np.zeros_like(mask)
    sizes = []
    for r0 in range(side_r):
        for c0 in range(side_c):
            if not mask[r0, c0] or seen[r0, c0]:
                continue
            stack, n = [(r0, c0)], 0
            seen[r0, c0] = True
            while stack:
                r, c = stack.pop()
                n += 1
                for rr, cc in ((r - 1, c), (r + 1, c), (r, c - 1), (r, c + 1)):
                    if 0 <= rr < side_r and 0 <= cc < side_c and mask[rr, cc] and not seen[rr, cc]:
                        seen[rr, cc] = True
                        stack.append((rr, cc))
            sizes.append(n)
    return sorted(sizes)


def _species(rng, shape, size, out):
    cfg, p = size["species"], PARAMS["species_etl"]
    side, cs = cfg["side"], p["cellsize"]
    names_a = [f"sp_{i:03d}" for i in range(cfg["grids_a"])]
    names_b = names_a[: cfg["grids_b_old"]] + [f"sp_{500 + i:03d}" for i in range(cfg["grids_b_new"])]
    truth = {"batches": {}}
    for batch, names in (("a", names_a), ("b", names_b)):
        bdir = os.path.join(out, f"grids_{batch}")
        os.makedirs(bdir)
        per = {}
        grids = [_grid(shape, side) for _ in names]
        order = rng.permutation(len(names))
        for i, name in enumerate(names):
            # a mirror image keeps every cell count, region and row run
            text, vals = grids[order[i]]
            if rng.random() < 0.5:
                text, vals = text[:, ::-1], vals[:, ::-1]
            if rng.random() < 0.5:
                text, vals = text[::-1], vals[::-1]
            xll, yll = -120 + (i % 8) * 20, 30 + (i // 8) * 20
            with open(os.path.join(bdir, f"{name}.asc"), "w") as f:
                f.write(f"ncols {side}\nnrows {side}\nxllcorner {xll}\nyllcorner {yll}\n"
                        f"cellsize {cs}\nNODATA_value -9999\n")
                f.write("\n".join(" ".join(row) for row in text) + "\n")
            per[name] = {}
            for t in p["thresholds"]:
                mask = np.nan_to_num(vals, nan=-1.0) >= t
                per[name][str(int(t * 100))] = {
                    "cells": int(mask.sum()), "area": float(mask.sum()) * cs * cs,
                    "regions": [n * cs * cs for n in _regions(mask)]}
        truth["batches"][batch] = {"species": per, "cells": len(names) * side * side}
    # one corrupt grid in batch A: the header promises more values than the body has
    with open(os.path.join(out, "grids_a", "sp_corrupt.asc"), "w") as f:
        f.write("ncols 4\nnrows 4\nxllcorner 0\nyllcorner 0\ncellsize 1\n1 2 3\n")
    truth["corrupt_files"] = 1
    truth["input_rows"] = truth["batches"]["a"]["cells"] + truth["batches"]["b"]["cells"]
    return truth


# ------------------------------------------------------------ graph_iterative

S40 = float(2 ** 40)


def _snap(x):
    return np.floor(x * S40 + 0.5).astype(np.int64)


def _graph(rng, shape, size, out):
    cfg, p = size["graph"], PARAMS["graph_iterative"]
    n, m = cfg["nodes"], cfg["edges"]
    hub_edges = int(m * cfg["hub_share"])
    # skewed endpoint popularity (Zipf-like) for the non-hub edges; node 0 is the hub
    w = 1.0 / np.arange(1, n) ** 0.6
    w /= w.sum()
    pairs = set()
    others = shape.permutation(np.arange(1, n))
    for j in range(hub_edges):
        v = int(others[j % len(others)])
        pairs.add((0, v) if j % 2 == 0 else (v, 0))
    while len(pairs) < m:
        k = (m - len(pairs)) * 2
        src = shape.choice(np.arange(1, n), size=k, p=w)
        dst = shape.integers(1, n, size=k)
        for s, t in zip(src.tolist(), dst.tolist()):
            if s != t:
                pairs.add((s, t))
                if len(pairs) >= m:
                    break
    e = np.array(sorted(pairs), dtype=np.int64)
    nodes = np.unique(e)
    seeds = [0] + shape.choice(nodes[nodes != 0], p["ppr_seeds"] - 1, replace=False).tolist()
    landmarks = shape.choice(nodes[nodes != 0], p["landmarks"], replace=False).tolist()
    bip_source = int(shape.choice(nodes[nodes != 0]))
    # the seed relabels the nodes and reorders the edges
    label = rng.permutation(n).astype(np.int64)
    e = label[e][rng.permutation(len(e))]
    seeds, landmarks = sorted(label[seeds].tolist()), sorted(label[landmarks].tolist())
    bip_source = int(label[bip_source])
    pq.write_table(pa.table({"src": e[:, 0], "dst": e[:, 1]}),
                   os.path.join(out, "edges.parquet"))
    src, dst = e[:, 0], e[:, 1]
    nodes = np.unique(e)
    truth = {
        "input_rows": int(len(e)),
        "pageRank": _pagerank(src, dst, nodes, p["pr_iters"]),
        "personalizedPageRank": _ppr(src, dst, nodes, seeds, p["ppr_iters"]),
        "hits": _hits(src, dst, nodes, p["hits_iters"]),
        "labelPropagation": _lpa(src, dst, p["lpa_iters"]),
        "kCore": _kcore(src, dst, p["kcore_k"], p["kcore_rounds"]),
        "landmarkCloseness": _landmarks(src, dst, landmarks, p["lm_rounds"]),
        "bipartiteCheck": _bipartite(src, dst, bip_source, p["bip_rounds"]),
        "components": _components(src, dst),
        "jvm_params": {"ppr_seed_nodes": seeds, "landmark_nodes": landmarks,
                       "bip_source": bip_source},
    }
    return truth


def _index(nodes, ids):
    return np.searchsorted(nodes, ids)


def _pagerank(src, dst, nodes, iters):
    n = len(nodes)
    si, di = _index(nodes, src), _index(nodes, dst)
    outdeg = np.bincount(si, minlength=n)
    rank = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = rank[si] / outdeg[si]
        in_sum = np.zeros(n, dtype=np.int64)
        np.add.at(in_sum, di, _snap(contrib))
        rank = 0.125 / n + 0.875 * (in_sum.astype(float) / S40)
    return dict(zip(nodes.tolist(), rank.tolist()))


def _ppr(src, dst, nodes, seeds, iters):
    n = len(nodes)
    si, di = _index(nodes, src), _index(nodes, dst)
    outdeg = np.bincount(si, minlength=n)
    tp = np.zeros(n)
    tp[_index(nodes, np.array(seeds))] = 1.0 / len(seeds)
    rank = tp.copy()
    for _ in range(iters):
        contrib = rank[si] / outdeg[si]
        in_sum = np.zeros(n, dtype=np.int64)
        np.add.at(in_sum, di, _snap(contrib))
        rank = 0.125 * tp + 0.875 * (in_sum.astype(float) / S40)
    return dict(zip(nodes.tolist(), rank.tolist()))


def _hits(src, dst, nodes, iters):
    n = len(nodes)
    si, di = _index(nodes, src), _index(nodes, dst)
    has_out = np.bincount(si, minlength=n) > 0
    has_in = np.bincount(di, minlength=n) > 0
    hub = np.ones(n)
    for _ in range(iters):
        a_raw = np.zeros(n, dtype=np.int64)
        np.add.at(a_raw, di, _snap(hub[si]))
        a_raw = a_raw.astype(float) / S40
        auth = np.where(has_in, a_raw / (_snap(a_raw[has_in]).sum() / S40), 0.0)
        h_raw = np.zeros(n, dtype=np.int64)
        np.add.at(h_raw, si, _snap(auth[di]))
        h_raw = h_raw.astype(float) / S40
        hub = np.where(has_out, h_raw / (_snap(h_raw[has_out]).sum() / S40), 0.0)
    return {int(v): (float(h), float(a)) for v, h, a in zip(nodes, hub, auth)}


def _undirected(src, dst):
    u, v = np.minimum(src, dst), np.maximum(src, dst)
    keep = u != v
    pairs = np.unique(np.stack([u[keep], v[keep]], 1), axis=0)
    return pairs


def _lpa(src, dst, iters):
    import pandas as pd
    und = _undirected(src, dst)
    nbr = pd.DataFrame({"node": np.concatenate([und[:, 0], und[:, 1]]),
                        "peer": np.concatenate([und[:, 1], und[:, 0]])})
    lbl = pd.Series(np.unique(nbr["node"]), index=np.unique(nbr["node"]))
    for _ in range(iters):
        c = nbr.assign(lbl=lbl.reindex(nbr["peer"]).to_numpy())
        c = c.dropna().astype({"lbl": np.int64})
        cnt = c.groupby(["node", "lbl"]).size().reset_index(name="cnt")
        cnt = cnt.sort_values(["node", "cnt", "lbl"], ascending=[True, False, True])
        best = cnt.drop_duplicates("node")
        lbl = pd.Series(best["lbl"].to_numpy(), index=best["node"].to_numpy())
    return {int(k): int(v) for k, v in lbl.items()}


def _sym(src, dst):
    return np.unique(np.concatenate([np.stack([src, dst], 1), np.stack([dst, src], 1)]), axis=0)


def _kcore(src, dst, k, rounds):
    e = _sym(src, dst)
    for _ in range(rounds):
        ids, deg = np.unique(e[:, 0], return_counts=True)
        keep = ids[deg >= k]
        e = e[np.isin(e[:, 0], keep) & np.isin(e[:, 1], keep)]
    ids, deg = np.unique(e[:, 0], return_counts=True)
    return dict(zip(ids.tolist(), deg.tolist()))


def _adjacency(src, dst):
    adj = defaultdict(list)
    for a, b in _sym(src, dst).tolist():
        adj[a].append(b)
    return adj


def _bfs(adj, source, rounds):
    depth, frontier = {source: 0}, [source]
    for d in range(1, rounds + 1):
        nxt = []
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in depth:
                    depth[v] = d
                    nxt.append(v)
        frontier = nxt
    return depth


def _landmarks(src, dst, landmarks, rounds):
    from math import gcd
    lcm = 1
    for b in range(1, rounds + 1):
        lcm = lcm // gcd(lcm, b) * b
    adj = _adjacency(src, dst)
    out = defaultdict(lambda: [0, 0])
    for lm in landmarks:
        for v, d in _bfs(adj, lm, rounds).items():
            if d > 0:
                out[v][0] += 1
                out[v][1] += lcm // d
    return {"lcm": lcm, "nodes": {int(v): (a, b) for v, (a, b) in out.items()}}


def _bipartite(src, dst, source, rounds):
    depth = _bfs(_adjacency(src, dst), source, rounds)
    e = _sym(src, dst)
    both = [(depth[a], depth[b]) for a, b in e.tolist() if a in depth and b in depth]
    conflicts = sum(1 for du, dv in both if (du + dv) % 2 == 0)
    return {"n_reached": len(depth), "n_edges_x2": len(both),
            "n_conflicts_x2": conflicts, "is_bipartite_ball": conflicts == 0}


def _components(src, dst):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(src.tolist(), dst.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in list(parent)}


# ------------------------------------------------------------------ llm_dedup

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]


def _dedup(rng, shape, size, out):
    cfg, p = size["dedup"], PARAMS["llm_dedup"]
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = sorted({"".join(shape.choice(letters, shape.integers(3, 10))) for _ in range(6000)}
                   - set(STOPWORDS))

    def doc():
        toks = shape.choice(vocab, cfg["tokens"]).tolist()
        for i in np.nonzero(shape.random(cfg["tokens"]) < 0.15)[0]:
            toks[i] = STOPWORDS[shape.integers(len(STOPWORDS))]
        return toks

    n_plain = cfg["docs"] - cfg["clusters"] * cfg["variants"] - cfg["copies"]
    texts = [doc() for _ in range(n_plain)]
    for base in range(cfg["clusters"]):          # near-duplicate clusters
        for _ in range(cfg["variants"]):
            v = list(texts[base])
            v[shape.integers(len(v))] = vocab[shape.integers(len(vocab))]
            texts.append(v)
    for j in shape.choice(n_plain, cfg["copies"], replace=False):   # exact copies
        texts.append(list(texts[j]))
    texts = [" ".join(t) for t in texts]
    order = rng.permutation(len(texts))
    docs = [texts[i] for i in order]
    ids = np.arange(1, len(docs) + 1, dtype=np.int64)
    pq.write_table(pa.table({"doc_id": ids, "text": docs}), os.path.join(out, "docs.parquet"))

    vecs = shape.standard_normal((cfg["vecs"], cfg["dim"])).astype(np.float32)
    src = shape.choice(cfg["vecs"] - cfg["planted"], cfg["planted"], replace=False)
    noise = shape.standard_normal((cfg["planted"], cfg["dim"])) * 1e-3
    vecs[cfg["vecs"] - cfg["planted"]:] = (vecs[src] * (1 + noise)).astype(np.float32)
    perm = rng.permutation(cfg["vecs"])
    vecs = vecs[perm]
    vec_ids = np.arange(cfg["vecs"], dtype=np.int64)
    pq.write_table(pa.table({"vec_id": vec_ids,
                             "embedding": pa.array(list(vecs), type=pa.list_(pa.float32()))}),
                   os.path.join(out, "vecs.parquet"))

    shingles = [_shingles(t, p["k"]) for t in docs]
    return {
        "input_rows": len(docs) + cfg["vecs"],
        "exact": _exact(docs, ids),
        "setsim": _jaccard_pairs(shingles, ids, p["sim_num"] / p["sim_den"]),
        "minhash": _jaccard_pairs(shingles, ids, p["min_jaccard"]),
        "simhash": _simhash_pairs(docs, ids, p["max_hamming"]),
        "cosine": _cosine_pairs(vecs.astype(np.float64), vec_ids, p["min_cosine"]),
        "textStats": {int(i): _text_stats(t) for i, t in zip(ids, docs)},
        "jvm_params": {"dim": cfg["dim"]},
    }


def _shingles(text, k):
    toks = text.split(" ")
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def _exact(docs, ids):
    groups = defaultdict(list)
    for i, t in zip(ids.tolist(), docs):
        groups[hashlib.md5(t.encode()).hexdigest()].append(i)
    return {h: (min(v), len(v)) for h, v in groups.items()}


def _jaccard_pairs(shingles, ids, t):
    """Every pair with exact Jaccard >= t, as {(a, b): (inter, union)}."""
    post = defaultdict(list)
    for i, s in enumerate(shingles):
        for x in s:
            post[x].append(i)
    overlap = Counter()
    for lst in post.values():
        for x in range(len(lst)):
            for y in range(x + 1, len(lst)):
                overlap[(lst[x], lst[y])] += 1
    out = {}
    for (x, y), inter in overlap.items():
        union = len(shingles[x]) + len(shingles[y]) - inter
        if inter >= t * union:
            a, b = sorted((int(ids[x]), int(ids[y])))
            out[(a, b)] = (inter, union)
    return out


def _md5_64(tok):
    return int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")


def _simhash(text, cache):
    votes = np.zeros(64, dtype=np.int64)
    for tok in text.split(" "):
        bits = cache.get(tok)
        if bits is None:
            h = _md5_64(tok)
            bits = cache[tok] = np.array([1 if (h >> j) & 1 else -1 for j in range(64)])
        votes += bits
    return sum(1 << j for j in range(64) if votes[j] > 0)


def _simhash_pairs(docs, ids, max_h):
    cache = {}
    sh = np.array([_simhash(t, cache) for t in docs], dtype=np.uint64)
    popcount8 = np.array([bin(b).count("1") for b in range(256)], dtype=np.int64)
    out = {}
    for x in range(len(sh) - 1):
        diff = np.bitwise_xor(sh[x], sh[x + 1:])
        ham = popcount8[diff.view(np.uint8).reshape(-1, 8)].sum(1)
        for off in np.nonzero(ham <= max_h)[0]:
            a, b = sorted((int(ids[x]), int(ids[x + 1 + off])))
            out[(a, b)] = int(ham[off])
    return out


def _cosine_pairs(v, ids, t):
    unit = v / np.linalg.norm(v, axis=1, keepdims=True)
    out = {}
    for start in range(0, len(v), 512):
        c = unit[start:start + 512] @ unit.T
        for x, y in zip(*np.nonzero(c >= t - 1e-6)):
            i, j = start + x, y
            if i < j:
                out[(int(ids[i]), int(ids[j]))] = float(c[x, y])
    return out


def _text_stats(t):
    toks = t.split(" ")
    return (len(t), len(toks), len(set(toks)), sum(1 for x in toks if x in STOPWORDS),
            sum(len(x) for x in toks) / len(toks))


_GENERATORS = {"species_etl": _species, "graph_iterative": _graph, "llm_dedup": _dedup}
