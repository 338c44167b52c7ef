"""Seeded, single-process input generator for the graft benchmark.

Every input a run uses comes from here and from ``--seed`` alone: the same
seed writes byte-identical parquet files, a different seed different ones.
The program under test only ever sees the files written below.

    python3 perfbench/gen.py <ingest|corpus|tables> <out_dir> <seed>
"""
import datetime as dt
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

UTC = dt.timezone.utc
DAY_US = 86_400_000_000

# ingest_watermark shape: a day-file holds one day of the bench-scale
# (sf0.1) fixture's events table, 100,000 rows over 30 days
INGEST = dict(history_days=8, batch_days=100, rows_per_day=3333,
              late_share=0.05, null_share=0.02, boundary_rows=3)
# corpus_lifecycle shape: the base corpus is as large as the oracle-scale
# (sf0.01) fixture's documents and embeddings tables (500 rows each); a
# batch is a fifth of it
CORPUS = dict(base_docs=500, batch_docs=100, batches=20, planted_share=0.2,
              takedown_windows=8, takedown_size=10, dim=64, clusters=16,
              vocab=4000)
# analytics_mix table sizes: the row counts of the oracle-scale (sf0.01)
# fixture, whose lineitem has ~60,000 rows (4 per order on average), with
# the same schemas and value domains as the registry fixtures
TABLES = dict(customer=1500, supplier=100, part=2000, orders=15000,
              events=10000, documents=500, embeddings=500, near_dup_share=0.1)


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _json(obj, path):
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)


# ---------------------------------------------------------------- ingest

def _events(rng, first_id, n, lo_us, hi_us):
    """n events with ts uniform in [lo_us, hi_us) µs since 1970."""
    ts = np.sort(rng.integers(lo_us, hi_us, n))
    return dict(
        event_id=np.arange(first_id, first_id + n, dtype=np.int64),
        ts=ts,
        user_id=rng.integers(0, 150, n).astype(np.int64),
        event_type=rng.choice(["click", "view", "purchase", "signup", "error"], n),
        value=np.round(rng.uniform(0.01, 490.02, n), 2),
        props=np.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)]))


def _event_table(cols, null_mask):
    ts = pa.array(cols["ts"], pa.int64(), mask=null_mask).cast(
        pa.timestamp("us", tz="UTC"))
    return pa.table({
        "event_id": pa.array(cols["event_id"], pa.int64()),
        "ts": ts,
        "user_id": pa.array(cols["user_id"], pa.int64()),
        "event_type": pa.array(cols["event_type"], pa.string()),
        "value": pa.array(cols["value"], pa.float64()),
        "props": pa.array(cols["props"], pa.string()),
    })


def gen_ingest(out, seed, shape=INGEST):
    """One parquet file per day of `events`-schema rows. Day d's on-time
    rows lie strictly inside day d, so each day-file is strictly newer
    than every earlier one. A `late_share` of each file lies at or below
    the first watermark (2024-01-01; `boundary_rows` sit exactly on it, the
    strict-`>` trap), and a `null_share` has a null `ts`. So the rows the
    table must end with are exactly those with ts non-null and
    ts > first watermark."""
    rng = _rng(seed, 1)
    n = shape["rows_per_day"]
    days = shape["history_days"] + shape["batch_days"]
    late, nulls = 0, 0
    wm = first_watermark_us()
    for d in range(days):
        cols = _events(rng, d * n, n, wm + d * DAY_US + 1, wm + (d + 1) * DAY_US)
        k_late = int(round(n * shape["late_share"]))
        idx = rng.choice(n, k_late, replace=False)
        cols["ts"][idx] = rng.integers(wm - 20 * DAY_US, wm + 1, k_late)
        cols["ts"][idx[:shape["boundary_rows"]]] = wm
        null_mask = np.zeros(n, bool)
        null_mask[rng.choice(n, int(round(n * shape["null_share"])),
                             replace=False)] = True
        late += k_late
        nulls += int(null_mask.sum())
        sub = "history" if d < shape["history_days"] else "batches"
        _write(_event_table(cols, null_mask), f"{out}/{sub}/day_{d:05d}.parquet")
    manifest = dict(shape, seed=seed, first_watermark="2024-01-01T00:00:00.000000Z",
                    rows_total=days * n, late_rows=late, null_ts_rows=nulls)
    _json(manifest, f"{out}/manifest.json")
    return manifest


def first_watermark_us():
    """The table's `ref_first_value`, 2024-01-01T00:00:00.000000Z."""
    return _ts_us(2024, 1, 1)


# ---------------------------------------------------------------- corpus

def _zipf_tokens(rng, vocab, n):
    ranks = np.minimum(rng.zipf(1.15, n), len(vocab)) - 1
    return [vocab[r] for r in ranks]


def _edit(rng, toks, vocab, edits):
    toks = list(toks)
    for _ in range(edits):
        op, i = rng.integers(0, 3), int(rng.integers(0, len(toks)))
        if op == 0:
            toks[i] = vocab[int(rng.integers(0, len(vocab)))]
        elif op == 1 and len(toks) > 20:
            del toks[i]
        else:
            toks.insert(i, vocab[int(rng.integers(0, len(vocab)))])
    return toks


def _unit(v):
    return (v / np.linalg.norm(v, axis=-1, keepdims=True)).astype(np.float32)


def _doc_table(ids, texts, vecs, src):
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "embedding": pa.array([list(map(float, v)) for v in vecs],
                              pa.list_(pa.float32())),
        "planted_src": pa.array(src, pa.int64()),
    })


def gen_corpus(out, seed, shape=CORPUS):
    """A base corpus (indexed during set-up), `batches` landed batches and
    `takedown_windows` takedown sets. A `planted_share` of every batch is a
    near-duplicate of a base document (1-3 token edits, vector = source +
    small noise); `planted_src` names the source (-1 for fresh docs) and is
    read only by the benchmark's own accounting. Sources and takedown
    targets are disjoint base documents, so every planted duplicate's
    source is still indexed when the duplicate lands."""
    rng = _rng(seed, 2)
    vocab = ["w%04d" % i for i in range(shape["vocab"])]
    centers = _unit(rng.normal(size=(shape["clusters"], shape["dim"])))

    def fresh(n):
        texts = [" ".join(_zipf_tokens(rng, vocab, int(rng.integers(40, 81))))
                 for _ in range(n)]
        c = rng.integers(0, shape["clusters"], n)
        vecs = _unit(centers[c] + 0.35 * rng.normal(size=(n, shape["dim"])))
        return texts, vecs

    nb = shape["base_docs"]
    base_texts, base_vecs = fresh(nb)
    _write(_doc_table(np.arange(nb), base_texts, base_vecs, [-1] * nb),
           f"{out}/base.parquet")
    perm = rng.permutation(nb)
    n_take = shape["takedown_windows"] * shape["takedown_size"]
    takedown_pool, source_pool = perm[:n_take], perm[n_take:]
    bd = shape["batch_docs"]
    planted = int(round(bd * shape["planted_share"]))
    next_id = nb
    for b in range(shape["batches"]):
        texts, vecs = fresh(bd)
        src = np.full(bd, -1, np.int64)
        slots = rng.choice(bd, planted, replace=False)
        for j in slots:
            s = int(source_pool[rng.integers(0, len(source_pool))])
            src[j] = s
            texts[j] = " ".join(_edit(rng, base_texts[s].split(), vocab,
                                      int(rng.integers(1, 4))))
            vecs[j] = _unit(base_vecs[s] + 0.02 * rng.normal(size=shape["dim"]))
        _write(_doc_table(np.arange(next_id, next_id + bd), texts, vecs, src),
               f"{out}/batches/b_{b:05d}.parquet")
        next_id += bd
    takedowns = [sorted(int(x) for x in w) for w in
                 np.array_split(takedown_pool, shape["takedown_windows"])]
    _json(takedowns, f"{out}/takedowns.json")
    manifest = dict(shape, seed=seed, planted_per_batch=planted,
                    source_pool=len(source_pool), takedown_pool=n_take)
    _json(manifest, f"{out}/manifest.json")
    return manifest


# ---------------------------------------------------------------- tables

DOC_WORDS = ("row the query stream fast spark line small customer group "
             "value hash batch sort data big filter dup key agg scan slow "
             "table part a merge window order column join vector").split()


def _ts_us(year, month, day):
    return int(dt.datetime(year, month, day, tzinfo=UTC).timestamp() * 1e6)


def _naive_ts(us):
    return pa.array(us, pa.int64()).cast(pa.timestamp("us"))


def gen_tables(out, seed, sizes=TABLES):
    """The ten registry tables at `sizes`, with the fixtures' schemas and
    value domains (FIXTURES.md §A), one parquet file each."""
    rng = _rng(seed, 3)
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": ["NATION_%d" % i for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc, ns, npart, no = (sizes[k] for k in ("customer", "supplier", "part", "orders"))
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": ["Customer#%09d" % i for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], nc)})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": ["Supplier#%09d" % i for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)})
    adj = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": ["%s %s" % (adj[a], noun[b]) for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": ["Brand#%d" % b for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL",
                              "MEDIUM", "PROMO"], npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": [round(900 + (k % 1000) * 0.1, 1) for k in range(npart)]})
    lo, hi = _ts_us(1995, 1, 1) // DAY_US, _ts_us(2001, 8, 1) // DAY_US
    odays = rng.integers(lo, hi + 1, no)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": _naive_ts(odays * DAY_US),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)})
    lines = rng.integers(1, 8, no)
    okey = np.repeat(np.arange(no), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    nl = len(okey)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": _naive_ts((odays[okey] + rng.integers(1, 122, nl)) * DAY_US)})
    ne = sizes["events"]
    ev = _events(rng, 0, ne, 0, 30 * DAY_US)
    ev["ts"] = ev["ts"] + _ts_us(2024, 1, 1)
    tables["events"] = pa.table({
        "event_id": pa.array(ev["event_id"], pa.int64()),
        "ts": _naive_ts(ev["ts"]),
        "user_id": pa.array(ev["user_id"], pa.int64()),
        "event_type": ev["event_type"], "value": ev["value"],
        "props": ev["props"]})
    nd = sizes["documents"]
    texts = []
    for i in range(nd):
        if i and rng.random() < sizes["near_dup_share"]:
            # a near-duplicate of an earlier document: one or two words swapped
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), int(rng.integers(1, 3))):
                toks[j] = str(rng.choice(DOC_WORDS))
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(rng.choice(DOC_WORDS, int(rng.integers(10, 100)))))
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "de", "fr", "es", "zh"], nd),
        "source": ["src%d" % s for s in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    nv = sizes["embeddings"]
    vecs = _unit(rng.normal(size=(nv, 64)))
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array([list(map(float, v)) for v in vecs],
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
    for name, t in tables.items():
        _write(t, f"{out}/{name}.parquet")
    manifest = dict(seed=seed, near_dup_share=sizes["near_dup_share"],
                    rows={k: t.num_rows for k, t in tables.items()})
    _json(manifest, f"{out}/manifest.json")
    return manifest


GENERATORS = {"ingest": gen_ingest, "corpus": gen_corpus, "tables": gen_tables}

if __name__ == "__main__":
    kind, out, seed = sys.argv[1], sys.argv[2], int(sys.argv[3])
    print(json.dumps(GENERATORS[kind](out, seed)))
