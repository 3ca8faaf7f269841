"""Seeded input generator for the benchmark workloads.

Every input is a pure function of (workload, seed): the same seed writes
byte-identical files, another seed writes another corpus, delta stream and
op stream of the same sizes.

Layout written under <out>:

  refresh/cycle_<nnnn>/listing.parquet   full NAS listing of cycle n
  refresh/cycle_<nnnn>/content.parquet   text of the files new or modified in n
  refresh/expected.json                  per-cycle delta mix (the CDC oracle)
  sf/<table>.parquet                     analytics tables   (serve-mix only)
  ops.json                               the seeded op stream (serve-mix only)
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Vocabulary shaped like the sf0.1 `documents` table: short lowercase
# engine words, Zipf-weighted so BM25 terms have a real df spread.
VOCAB = ("spark batch part line column order small sort fast value scan hash "
         "slow group agg filter query big key window row table stream merge "
         "data join vector customer index page chunk section summary refresh "
         "master upsert export embed token shard delta record file stage "
         "catalog source report review audit ledger policy").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
BASE_EPOCH_S = 1_704_067_200  # 2024-01-01T00:00:00Z

# Workload parameters, each with its source and reason: workloads.json.
with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "workloads.json")) as _f:
    PARAMS = {w: {k: v["value"] for k, v in p.items()}
              for w, p in json.load(_f).items() if w not in ("_doc", "common")}
WORKLOADS = list(PARAMS)


def _text(rng):
    n_words = int(rng.integers(10, 70))
    p = 1.0 / np.arange(1, len(VOCAB) + 1)
    idx = rng.choice(len(VOCAB), size=n_words, p=p / p.sum())
    return " ".join(VOCAB[i] for i in idx)


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _ts(seconds):
    return pa.array(np.asarray(seconds, dtype="int64") * 1_000_000,
                    type=pa.timestamp("us", tz="UTC"))


def _listing(files):
    keys = sorted(files)
    names = [f"doc_{k}.pdf" for k in keys]
    return pa.table({
        "file_name": names,
        "file_path": [f"/nas/src{k % 20}/doc_{k}.pdf" for k in keys],
        "file_size": pa.array([files[k]["size"] for k in keys], pa.int64()),
        "date_created": _ts([files[k]["created"] for k in keys]),
        "date_last_modified": _ts([files[k]["mtime"] for k in keys]),
    })


def _content(files, keys):
    keys = sorted(keys)
    return pa.table({
        "file_name": [f"doc_{k}.pdf" for k in keys],
        "doc_key": pa.array(keys, pa.int64()),
        "text": [files[k]["text"] for k in keys],
    })


def gen_refresh(rng, out, n_docs, n_cycles, delta, delta_mix):
    """Cycle 0 is the initial load; each later cycle applies a delta of
    about `delta` of the live corpus, split by the shares of `delta_mix`."""
    files = {}
    for k in range(n_docs):
        # whole minutes plus 0-29 s: a touch of 1-30 s stays in the minute
        t = BASE_EPOCH_S + int(rng.integers(0, 30 * 24 * 60)) * 60 \
            + int(rng.integers(0, 30))
        text = _text(rng)
        files[k] = {"text": text, "created": t, "mtime": t,
                    "size": len(text.encode()) + 1024}
    next_key = n_docs
    now = BASE_EPOCH_S + 31 * 24 * 3600
    expected = []
    for c in range(n_cycles):
        changed = list(files) if c == 0 else []
        mix = {"new": 0, "modified": 0, "touched": 0, "deleted": 0}
        if c > 0:
            now += 24 * 3600
            n = max(1, round(len(files) * delta))
            want = {m: round(n * s) for m, s in delta_mix.items()}
            live = sorted(files)
            pick = rng.permutation(len(live))
            cursor = 0
            for _ in range(want["modified"]):
                k = live[pick[cursor]]
                cursor += 1
                f = files[k]
                f["text"] = _text(rng)
                f["size"] = len(f["text"].encode()) + 1024
                f["mtime"] = now + int(rng.integers(0, 600)) * 60 \
                    + int(rng.integers(0, 30))
                changed.append(k)
                mix["modified"] += 1
            rest = [live[i] for i in pick[cursor:]]
            touched = [k for k in rest if files[k]["mtime"] % 60 < 30]
            touched = touched[:want["touched"]]
            for k in touched:
                files[k]["mtime"] += int(rng.integers(1, 31))
                mix["touched"] += 1
            spared = set(touched)
            for k in [k for k in rest if k not in spared][:want["deleted"]]:
                del files[k]
                mix["deleted"] += 1
            for _ in range(want["new"]):
                t = now + int(rng.integers(0, 600)) * 60 + int(rng.integers(0, 30))
                text = _text(rng)
                files[next_key] = {"text": text, "created": t, "mtime": t,
                                   "size": len(text.encode()) + 1024}
                changed.append(next_key)
                next_key += 1
                mix["new"] += 1
        else:
            mix["new"] = len(files)
        mix["listing"] = len(files)
        mix["unchanged"] = len(files) - mix["new"] - mix["modified"]
        expected.append(mix)
        d = os.path.join(out, "refresh", f"cycle_{c:04d}")
        _write(_listing(files), os.path.join(d, "listing.parquet"))
        _write(_content(files, changed), os.path.join(d, "content.parquet"))
    with open(os.path.join(out, "refresh", "expected.json"), "w") as f:
        json.dump(expected, f, sort_keys=True)


def gen_sf(rng, out, n_orders):
    """TPC-H-shaped analytics tables (schemas of the engine's testdata)."""
    d = os.path.join(out, "sf")
    n_cust, n_part, n_supp = n_orders // 10, 400, 20
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"]}),
           os.path.join(d, "region.parquet"))
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)],
                                             pa.int32())}),
           os.path.join(d, "nation.parquet"))
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    _write(pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": [segs[i] for i in rng.integers(0, 5, n_cust)]}),
        os.path.join(d, "customer.parquet"))
    _write(pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)}),
        os.path.join(d, "supplier.parquet"))
    adj = ["small", "red", "large", "blue", "steel", "green"]
    noun = ["ring", "widget", "bolt", "gear", "panel", "valve"]
    types = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "PROMO"]
    _write(pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 6, n_part), rng.integers(0, 6, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [types[i] for i in rng.integers(0, 5, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2)}),
        os.path.join(d, "part.parquet"))
    day = 86400
    odate = BASE_EPOCH_S - (29 * 365 - rng.integers(0, 6 * 365, n_orders)) * day
    _write(pa.table({
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": pa.array(odate * 1_000_000, pa.timestamp("us")),
        "o_orderpriority": [("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                             "5-LOW")[i] for i in rng.integers(0, 5, n_orders)]}),
        os.path.join(d, "orders.parquet"))
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders), lines)
    lnum = np.concatenate([np.arange(1, n + 1) for n in lines])
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(float)
    _write(pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array((odate[okey] + rng.integers(1, 120, n_li) * day)
                               * 1_000_000, pa.timestamp("us"))}),
        os.path.join(d, "lineitem.parquet"))
    n_ev, n_users = 4000, 150
    ts = np.sort(BASE_EPOCH_S * 1_000_000
                 + rng.integers(0, 30 * day * 1_000_000, n_ev))
    _write(pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [("click", "error", "purchase", "signup", "view")[i]
                       for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0, 20, n_ev), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]}),
        os.path.join(d, "events.parquet"))
    n_docs = 500
    texts = [_text(rng) for _ in range(n_docs)]
    _write(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        os.path.join(d, "documents.parquet"))
    n_vec, dims = 500, 64
    centers = rng.normal(size=(10, dims))
    label = rng.integers(0, 10, n_vec)
    emb = (centers[label] + 0.5 * rng.normal(size=(n_vec, dims))).astype("float32")
    _write(pa.table({
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())}),
        os.path.join(d, "embeddings.parquet"))


def gen_ops(rng, p):
    """Closed-loop op stream as rounds of a fixed mix: every analytics query
    once, `ann_per_round` ANN probes and `bm25_per_round` BM25 probes, in
    seeded order, with an index write after every `write_every` - 1 reads.
    One round more than `timed_rounds` is generated; the last one is the
    set-up warm-up. Op shapes: ["ann", rank, seed] perturbs the live vector
    of Zipf popularity `rank` with noise `seed`; ["bm25", term, ...];
    ["sql", i, 0] runs analytics query i; ["write", seed, n] upserts a
    seeded batch of n new vectors."""
    out = []
    every = p["write_every"]
    for _ in range(p["timed_rounds"] + 1):
        reads = [["sql", int(i), 0] for i in rng.permutation(p["analytics_per_round"])]
        for _ in range(p["ann_per_round"]):
            reads.append(["ann", int(rng.zipf(p["zipf_a"])) - 1,
                          int(rng.integers(0, 2**31))])
        for _ in range(p["bm25_per_round"]):
            terms = rng.choice(len(VOCAB), size=p["bm25_terms"], replace=False)
            reads.append(["bm25"] + sorted(VOCAB[i] for i in terms))
        ops = []
        for i in rng.permutation(len(reads)):
            ops.append(reads[i])
            if len(ops) % every == every - 1:
                ops.append(["write", int(rng.integers(0, 2**31)), p["write_batch"]])
        out.append(ops)
    return out


def generate(workload, seed, out):
    if workload not in PARAMS:
        raise ValueError(f"unknown workload {workload!r}")
    p = PARAMS[workload]
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    if workload == "refresh-daily":
        # cycle 0 is the initial load, in set-up
        gen_refresh(rng, out, p["docs"], 1 + p["timed_cycles"], p["delta"],
                    p["delta_mix"])
    else:
        # serve-mix serves the state of one initial load
        gen_refresh(rng, out, p["docs"], 1, 0.0, {})
        gen_sf(rng, out, p["orders"])
        with open(os.path.join(out, "ops.json"), "w") as f:
            json.dump(gen_ops(rng, p), f)
