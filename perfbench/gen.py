"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical inputs. Counts are exact (shares are rounded once, never
sampled), so every seed carries the same amount of work and only the
content moves. The dials below are the generators' whole configuration;
README.md restates them.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# grid_refresh: a NESO-shaped half-hourly landing stream (all strings, as
# the reference lands it). The first `seed_periods` rows seed the sink;
# `batches` keyset pages of `batch_rows` rows replay the rest.
GRID = {
    "seed_periods": 6000,
    "batches": 48,
    "batch_rows": 100,
    "correction_share": 0.06,   # re-sent settlement periods -> merge updates
    "duplicate_share": 0.04,    # same DATETIME twice in a page -> keep-last
    "malformed_share": 0.02,    # unparseable numerics in WIND / GAS
    "inconsistent_share": 0.10,  # *_perc off by more than the 1.0 tolerance
    "retract_rows": 4,          # older periods every batch also retracts
}

# corpus_dedup: token-edited replicas of seeded base documents.
CORPUS = {
    "base_docs": 320,
    "near_dup_share": 0.25,   # of the final corpus: edited copies of a base doc
    "exact_dup_share": 0.10,  # of the final corpus: verbatim copies
    "edit_share": 0.05,       # tokens substituted per near-duplicate
    "min_tokens": 40,
    "max_tokens": 90,
}

# vector_dials: jittered replicas of seeded unit vectors (dim 64, the
# registry queries' fixed dimension).
VECTORS = {
    "base_vectors": 75,
    "replication": 4,
    "jitter": 0.02,
    "dim": 64,
    "labels": 10,
}

FUELS = ["GAS", "COAL", "NUCLEAR", "WIND", "SOLAR"]
PERC_FUELS = ["GAS", "WIND", "SOLAR"]
MALFORMED = ["n/a", "", "--", "1,2"]
VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small customer query "
         "big stream filter group vector index shard frame cache page commit "
         "delta state feed probe bucket split token corpus rank score").split()


def _rng(seed, salt):
    return np.random.default_rng([int(seed), salt])


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def gen_grid(seed, out):
    """landing.parquet (the log), retractions.parquet (batch, DATETIME)."""
    g = GRID
    r = _rng(seed, 1)
    t0 = dt.datetime(2024, 1, 1)
    rows = []  # (_id, period, batch)
    n_corr = round(g["batch_rows"] * g["correction_share"])
    n_dup = round(g["batch_rows"] * g["duplicate_share"])
    n_new = g["batch_rows"] - n_corr - n_dup
    nxt = 0
    for p in range(g["seed_periods"]):
        rows.append((p, -1))
        nxt += 1
    retract = []
    touched_at = {}
    for b in range(g["batches"]):
        new = list(range(nxt, nxt + n_new))
        nxt += n_new
        corr = sorted(r.choice(np.arange(nxt - n_new - 300, nxt - n_new), n_corr, replace=False).tolist())
        dups = sorted(r.choice(new, n_dup, replace=False).tolist())
        page = [(p, b) for p in corr] + [(p, b) for p in new]
        # a duplicate lands right after its first copy, so it carries the higher id
        for p in dups:
            i = page.index((p, b))
            page.insert(i + 1, (p, b))
        rows.extend(page)
        for p, _ in page:
            touched_at[p] = b
        # old periods not touched by this page: their rows never hold the
        # sink's max(_id), so the resume cursor never moves backwards
        pool = [p for p in range(0, nxt - 400) if touched_at.get(p) != b]
        for p in sorted(r.choice(pool, g["retract_rows"], replace=False).tolist()):
            retract.append((b, p))
    n = len(rows)
    period = np.array([p for p, _ in rows])
    gas = r.uniform(2000, 9000, n)
    coal = r.uniform(0, 800, n)
    nuc = r.uniform(3000, 5000, n)
    wind = r.uniform(0, 14000, n)
    solar = r.uniform(0, 6000, n)
    vals = {"GAS": gas, "COAL": coal, "NUCLEAR": nuc, "WIND": wind, "SOLAR": solar}
    strs = {f: [f"{v:.2f}" for v in vals[f]] for f in FUELS}
    gen = sum(np.round(vals[f], 2) for f in FUELS)
    gen_s = [f"{v:.2f}" for v in gen]
    perc = {}
    for f in PERC_FUELS:
        calc = np.round(vals[f], 2) / np.array([float(x) for x in gen_s]) * 100
        off = r.random(n) < g["inconsistent_share"]
        noise = r.uniform(3, 12, n) * np.where(r.random(n) < 0.5, -1, 1)
        perc[f] = [f"{c + (d if o else 0):.2f}" for c, d, o in zip(calc, noise, off)]
    n_bad = round(n * g["malformed_share"])
    for f in ("WIND", "GAS"):
        for i in r.choice(n, n_bad, replace=False).tolist():
            strs[f][i] = MALFORMED[i % len(MALFORMED)]
    ids = [f"{1000000 + i}" for i in range(n)]
    stamps = [(t0 + dt.timedelta(minutes=30 * int(p))).strftime("%Y-%m-%dT%H:%M:%S") for p in period]
    cols = {"_id": ids, "DATETIME": stamps}
    cols.update({f: strs[f] for f in FUELS})
    cols["GENERATION"] = gen_s
    cols.update({f + "_perc": perc[f] for f in PERC_FUELS})
    cols["batch"] = [b for _, b in rows]
    _write(pa.table(cols), f"{out}/landing.parquet")
    _write(pa.table({
        "batch": pa.array([b for b, _ in retract], pa.int32()),
        "DATETIME": [(t0 + dt.timedelta(minutes=30 * p)).strftime("%Y-%m-%dT%H:%M:%S")
                     for _, p in retract]}), f"{out}/retractions.parquet")
    return {"landing_rows": n, "seed_rows": g["seed_periods"],
            "replay_rows": n - g["seed_periods"], "retractions": len(retract)}


def gen_corpus(seed, out):
    """documents.parquet (doc_id, text) with planted near and exact dups."""
    c = CORPUS
    r = _rng(seed, 2)
    base = []
    for _ in range(c["base_docs"]):
        n = int(r.integers(c["min_tokens"], c["max_tokens"] + 1))
        base.append(r.choice(VOCAB, n).tolist())
    total = round(c["base_docs"] / (1 - c["near_dup_share"] - c["exact_dup_share"]))
    n_near = round(total * c["near_dup_share"])
    n_exact = total - c["base_docs"] - n_near
    docs = [" ".join(t) for t in base]
    for src in r.choice(c["base_docs"], n_near).tolist():
        toks = list(base[src])
        k = max(1, round(len(toks) * c["edit_share"]))
        for i in r.choice(len(toks), k, replace=False).tolist():
            toks[i] = VOCAB[(VOCAB.index(toks[i]) + 1 + int(r.integers(len(VOCAB) - 1))) % len(VOCAB)]
        docs.append(" ".join(toks))
    for src in r.choice(c["base_docs"] + n_near, n_exact).tolist():
        docs.append(docs[src])
    ids = r.permutation(len(docs)) + 1000
    _write(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": docs}),
           f"{out}/documents.parquet")
    return {"docs": len(docs), "near_dups": n_near, "exact_dups": n_exact}


def gen_vectors(seed, out):
    """embeddings.parquet (vec_id, embedding float[64], label) in the testdata layout."""
    v = VECTORS
    r = _rng(seed, 3)
    base = r.normal(size=(v["base_vectors"], v["dim"]))
    labels = r.integers(0, v["labels"], v["base_vectors"])
    reps = np.repeat(base, v["replication"], axis=0)
    reps = reps / np.linalg.norm(reps, axis=1, keepdims=True)
    reps = reps + r.normal(scale=v["jitter"], size=reps.shape)
    reps = (reps / np.linalg.norm(reps, axis=1, keepdims=True)).astype(np.float32)
    n = reps.shape[0]
    order = r.permutation(n)
    emb = pa.array([row.tolist() for row in reps[order]], pa.list_(pa.float32()))
    _write(pa.table({"vec_id": pa.array(np.arange(n), pa.int64()), "embedding": emb,
                     "label": pa.array(np.repeat(labels, v["replication"])[order], pa.int32())}),
           f"{out}/embeddings.parquet")
    return {"vectors": n}


def gen_llm(seed, out):
    return {**gen_corpus(seed, out), **gen_vectors(seed, out)}


GENERATORS = {"grid_refresh": (gen_grid, {"grid": GRID}),
              "llm_data": (gen_llm, {"corpus": CORPUS, "vectors": VECTORS})}


def generate(workload, seed, out):
    fn, dials = GENERATORS[workload]
    sizes = fn(seed, out)
    # written last, and atomically: its presence says the inputs are complete
    with open(f"{out}/inputs.json.tmp", "w") as f:
        json.dump({"seed": seed, "dials": dials, "sizes": sizes}, f)
    os.replace(f"{out}/inputs.json.tmp", f"{out}/inputs.json")
    return sizes
