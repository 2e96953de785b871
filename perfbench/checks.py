"""Truth checks of the warm pass's outputs against the generator's truth.

`verify(workload, truth, ops, warm_dir)` returns {op name: error or None}
for the warm pass. Timed passes are checked in the JVM against the warm
pass (same rows, checksum and counters), so a warm-pass failure fails every
pass of that op.
"""
import math
import os

import pyarrow.parquet as pq

REL_TOL = 1e-9
# LSH and IVF are approximate: they may miss a planted pair, never invent one.
MIN_RECALL = {"operators.Dedup.minhashPairs": 0.95,
              "operators.Similarity.lshPairs": 0.9,
              "operators.Similarity.ivfPairs": 0.9}


def _rows(warm_dir, name):
    path = os.path.join(warm_dir, name)
    return pq.read_table(path).to_pylist()


def _close(a, b):
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-12)


def _same_map(got, want, close=False):
    if set(got) != set(want):
        missing, extra = set(want) - set(got), set(got) - set(want)
        return f"{len(missing)} keys missing (e.g. {sorted(missing)[:3]}), {len(extra)} unexpected (e.g. {sorted(extra)[:3]})"
    for k, v in want.items():
        g = got[k]
        ok = all(_close(x, y) for x, y in zip(g, v)) if close and isinstance(v, tuple) else \
            _close(g, v) if close else g == v
        if not ok:
            return f"value for {k}: got {g}, want {v}"
    return None


# ---------------------------------------------------------------- species_etl

def _species(truth, ops, warm):
    p = truth["params"]
    a, b = truth["batches"]["a"]["species"], truth["batches"]["b"]["species"]
    new_b = {s: v for s, v in b.items() if s not in a}
    n_thr = len(p["thresholds"])

    def dissolved(rows, want_batches):
        # sid is unique per write; an appended batch numbers its rows afresh
        for batch in want_batches:
            sids = [r["sid"] for r in rows if r["species"] in batch]
            if len(set(sids)) != len(sids):
                return "sid values of one batch are not unique"
        got = {(r["species"], r["threshold"]): r for r in rows}
        want = {(s, t): v["area"] for batch in want_batches for s, per in batch.items()
                for t, v in per.items()}
        err = _same_map({k: r["area"] for k, r in got.items()}, want, close=True)
        if err:
            return err
        for batch in want_batches:
            # species_id ranks species within the whole batch that was written
            whole = a if set(batch) <= set(a) else b
            ranks = {s: i + 1 for i, s in enumerate(sorted(whole))}
            for s in batch:
                for t in batch[s]:
                    if got[(s, t)]["species_id"] != ranks[s]:
                        return f"species_id of {s}: got {got[(s, t)]['species_id']}, want {ranks[s]}"
        return None

    def exact(rows):
        if len({r["sid"] for r in rows}) != len(rows):
            return "sid values are not unique"
        got = {}
        for r in rows:
            got.setdefault((r["species"], r["threshold"]), []).append(r)
        want = {(s, t): v["regions"] for s, per in a.items() for t, v in per.items()}
        err = _same_map({k: len(v) for k, v in got.items()}, {k: len(v) for k, v in want.items()})
        if err:
            return "regions per (species, threshold): " + err
        for k, regions in want.items():
            areas = sorted(r["area"] for r in got[k])
            if not all(_close(x, y) for x, y in zip(areas, regions)):
                return f"region areas of {k}: got {areas[:5]}..., want {regions[:5]}..."
            if sorted(r["species_id"] for r in got[k]) != list(range(1, len(regions) + 1)):
                return f"region ids of {k} are not 1..{len(regions)}"
        return None

    cells = truth["batches"]["a"]["cells"]
    return {
        "sources.EsriAsciiGrid.readCells": None if (
            ops["sources.EsriAsciiGrid.readCells"]["rows"] == cells and
            ops["sources.EsriAsciiGrid.readCells"]["extras"].get("corrupt_files") == truth["corrupt_files"])
        else f"want {cells} cells and {truth['corrupt_files']} corrupt file, got "
             f"{ops['sources.EsriAsciiGrid.readCells']['rows']} and "
             f"{ops['sources.EsriAsciiGrid.readCells']['extras']}",
        "operators.SpeciesPipeline.speciesData":
            dissolved(_rows(warm, "operators.SpeciesPipeline.speciesData"), [a]),
        "operators.SpeciesPipeline.speciesDataExact":
            exact(_rows(warm, "operators.SpeciesPipeline.speciesDataExact")),
        "operators.Raster.writeSpeciesData": _sink_rows(
            ops["operators.Raster.writeSpeciesData"], len(a) * n_thr),
        "operators.Raster.incrementalAntiJoin": _sink_rows(
            ops["operators.Raster.incrementalAntiJoin"], (len(a) + len(new_b)) * n_thr),
        "operators.Raster.readback":
            dissolved(_rows(warm, "operators.Raster.readback"), [a, new_b]),
    }


def _sink_rows(op, want):
    got = op["extras"].get("sink_rows")
    return None if got == want else f"sink holds {got} rows, want {want}"


# ------------------------------------------------------------ graph_iterative

def _graph(truth, ops, warm):
    def rows(name):
        return _rows(warm, "operators.Graph." + name)

    def float_map(name, col):
        return _same_map({r["node"]: r[col] for r in rows(name)}, truth[name], close=True)

    lm = truth["landmarkCloseness"]
    bip = rows("bipartiteCheck")
    return {
        "operators.Graph.pageRank": float_map("pageRank", "rank"),
        "operators.Graph.personalizedPageRank": float_map("personalizedPageRank", "rank"),
        "operators.Graph.hits": _same_map(
            {r["node"]: (r["hub"], r["auth"]) for r in rows("hits")}, truth["hits"], close=True),
        "operators.Graph.labelPropagation": _labels(rows("labelPropagation"), truth),
        "operators.Graph.kCore": _same_map(
            {r["node"]: r["degree"] for r in rows("kCore")}, truth["kCore"]),
        "operators.Graph.landmarkCloseness": _same_map(
            {r["node"]: (r["n_lm"], r["h_scaled"]) for r in rows("landmarkCloseness")},
            lm["nodes"]) or next((f"harmonic of {r['node']}" for r in rows("landmarkCloseness")
                                  if not _close(r["harmonic"], r["h_scaled"] / lm["lcm"])), None),
        "operators.Graph.bipartiteCheck": None if len(bip) == 1 and all(
            bip[0][k] == v for k, v in truth["bipartiteCheck"].items())
        else f"got {bip}, want {truth['bipartiteCheck']}",
    }


def _labels(rows, truth):
    """Exact labels, each naming a node of the labelled node's component."""
    comp = truth["components"]
    stray = [r for r in rows if comp.get(r["label"]) != comp.get(r["node"])]
    if stray:
        return f"label {stray[0]['label']} of node {stray[0]['node']} is outside its component"
    return _same_map({r["node"]: r["label"] for r in rows}, truth["labelPropagation"])


# ------------------------------------------------------------------ llm_dedup

def _pairs(got, want, value, min_recall=None):
    """got: {(a, b): value}; want: {(a, b): truth}. Exact unless min_recall."""
    extra = set(got) - set(want)
    if extra:
        return f"{len(extra)} pairs not in truth, e.g. {sorted(extra)[:3]}"
    for k, v in got.items():
        if not value(v, want[k]):
            return f"pair {k}: got {v}, truth {want[k]}"
    if min_recall is None:
        missing = set(want) - set(got)
        return f"{len(missing)} true pairs missing, e.g. {sorted(missing)[:3]}" if missing else None
    recall = len(got) / max(1, len(want))
    return None if recall >= min_recall else f"recall {recall:.3f} < {min_recall}"


def _dedup(truth, ops, warm):
    p = truth["params"]

    def rows(name):
        return _rows(warm, name)

    def jacc(v, w):
        return _close(v, w[0] / w[1])

    cos_t = p["min_cosine"]
    cosine_truth = {k: v for k, v in truth["cosine"].items() if v >= cos_t - 1e-6}
    # a pair within 1e-6 of the cut may fall on either side of it
    sure = {k: v for k, v in cosine_truth.items() if v >= cos_t + 1e-6}

    def cosine(name):
        got = {(r["a_id"], r["b_id"]): r["cosine"] for r in rows(name)}
        extra = set(got) - set(cosine_truth)
        if extra:
            return f"{len(extra)} pairs below cosine {cos_t}, e.g. {sorted(extra)[:3]}"
        bad = [k for k, v in got.items() if abs(v - cosine_truth[k]) > 1e-5]
        if bad:
            return f"cosine of {bad[0]}: got {got[bad[0]]}, truth {cosine_truth[bad[0]]}"
        recall = len(set(got) & set(sure)) / max(1, len(sure))
        return None if recall >= MIN_RECALL[name] else f"recall {recall:.3f} < {MIN_RECALL[name]}"

    stats = {r["doc_id"]: (r["n_chars2"], r["n_tokens"], r["n_distinct"], r["n_stop"],
                           r["mean_token_len"]) for r in rows("operators.TextAnalysis.textStats")}
    return {
        "operators.Dedup.exact": _same_map(
            {r["content_hash"]: (r["keep_id"], r["n_copies"]) for r in rows("operators.Dedup.exact")},
            truth["exact"]),
        "operators.Dedup.minhashPairs": _pairs(
            {(r["a_id"], r["b_id"]): r["jaccard"] for r in rows("operators.Dedup.minhashPairs")},
            truth["minhash"], jacc, MIN_RECALL["operators.Dedup.minhashPairs"]),
        "operators.Dedup.setSimJoin": _pairs(
            {(r["a_id"], r["b_id"]): (r["inter"], r["n_union"])
             for r in rows("operators.Dedup.setSimJoin")}, truth["setsim"], lambda v, w: v == w),
        "operators.Dedup.simhashPairs": _pairs(
            {(r["a_id"], r["b_id"]): r["hamming"] for r in rows("operators.Dedup.simhashPairs")},
            truth["simhash"], lambda v, w: v == w),
        "operators.Similarity.lshPairs": cosine("operators.Similarity.lshPairs"),
        "operators.Similarity.ivfPairs": cosine("operators.Similarity.ivfPairs"),
        "operators.TextAnalysis.textStats": _same_map(stats, truth["textStats"], close=True),
    }


_CHECKS = {"species_etl": _species, "graph_iterative": _graph, "llm_dedup": _dedup}


def verify(workload, truth, ops, warm_dir):
    """ops: {name: warm-pass outcome}. Returns {name: error string or None}."""
    try:
        out = _CHECKS[workload](truth, ops, warm_dir)
    except Exception as e:  # a missing or malformed dump fails every op
        return {name: f"truth check crashed: {type(e).__name__}: {e}" for name in ops}
    return {name: out.get(name, "no truth check") for name in ops}
