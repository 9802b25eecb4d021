"""Deterministic inputs for the benchmark.

Two kinds of input, kept apart on purpose:

* the *warehouse*: TPC-H-shaped source tables (lineitem, orders, ...,
  documents, embeddings) from which the engine synthesizes its namespace.
  They come from a fixed data seed, so every run measures the same stored
  state and every recon-batch result can be checked against the DuckDB
  oracle on one known dataset;
* the *traffic*: the op stream of om-serve, the query order of recon-batch
  and the CDC deltas of cdc-ingest. These come from the run's --seed.

The namespace mapping mirrors ``graft.core.Tables.objectsView``:
volume = vol{orderkey % 4}, bucket = bucket{suppkey % 10},
key = warehouse/{returnflag}/{orderkey}/{linenumber}.dat, data_size =
floor(extendedprice), version = linenumber. The traffic generators use it
to pick keys and directories that exist; the engine never sees it.
"""
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "vector order line table data agg value key stream window spark a "
         "part group big sort query fast the").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
FLAGS = ["A", "N", "R"]
LINKS = {("vol1", "link-a"): ("vol0", "bucket0"),
         ("vol2", "link-b"): ("vol1", "link-a")}
VOLUMES = 4
BUCKETS_PER_VOLUME = 10
PAGE_SIZES = (10, 100, 1000)
OM_BLOCK = 40
LINK_SHARE = 0.10      # of om-serve ops, through vol1/link-a or vol2/link-b
MISSING_SHARE = 0.10   # of lookups, for a key that does not exist

OM_MIX = (("listKeys", 0.35), ("listObjectsV2", 0.20), ("lookupKey", 0.25),
          ("listStatus", 0.10), ("listStatusFso", 0.10))
RECON_QUERIES = (
    "q_list_objects_pages", "q_fso_list_pages",        # paged walks
    "q_ns_summary",                                    # Recon aggregate
    "q_balancer_moves",                                # SCM
    "q_embed_clusters", "q_substr_spans")              # LLM pipeline
CDC_READS = ("read_filesize", "read_counts", "read_nssummary")
DELTA_EVENTS = 1000
DELTA_PARTITIONS = 4


def sizes(sf):
    """Row counts per table at scale factor ``sf`` (TPC-H proportions)."""
    return {"customer": int(150000 * sf), "supplier": int(10000 * sf),
            "part": int(200000 * sf), "orders": int(1500000 * sf),
            "lineitem": int(6000000 * sf), "events": int(1000000 * sf),
            "documents": 500, "embeddings": 500}


def _ts(days_from, base):
    return (np.datetime64(base) + days_from.astype("timedelta64[D]")).astype(
        "datetime64[us]")


def _round2(x):
    return np.round(x, 2)


def _rng(seed, stream):
    """One independent stream per table, so any table can be regenerated
    alone (Namespace rebuilds lineitem without the others)."""
    return np.random.Generator(np.random.PCG64([seed, stream]))


def source_tables(sf, seed=DATA_SEED):
    """Every source table as a pyarrow Table, deterministic in (sf, seed)."""
    n = sizes(sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    nc = n["customer"]
    rng = _rng(seed, 1)
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _round2(rng.uniform(-999.99, 9999.99, nc)),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                                    "BUILDING", "FURNITURE"], nc)})
    ns = n["supplier"]
    rng = _rng(seed, 2)
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _round2(rng.uniform(-999.99, 9999.99, ns))})
    np_ = n["part"]
    rng = _rng(seed, 3)
    adj = np.array(["small", "hot", "old", "blue", "red", "new", "cold",
                    "large"])
    noun = np.array(["bolt", "gear", "anvil", "widget", "ring", "rod",
                     "plate", "gizmo"])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adj, np_),
                                              rng.choice(noun, np_))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL",
                              "MEDIUM", "PROMO"], np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": _round2(900.0 + (np.arange(np_) % 1000) * 0.1)})
    no = n["orders"]
    rng = _rng(seed, 4)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _round2(rng.uniform(1000.0, 500000.0, no)),
        "o_orderdate": pa.array(_ts(rng.integers(0, 2404, no), "1995-01-01")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)})
    t["lineitem"] = lineitem(sf, seed)
    ne = n["events"]
    rng = _rng(seed, 6)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
                       .astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": rng.choice(["click", "signup", "error", "view",
                                  "purchase"], ne),
        "value": _round2(rng.uniform(0.01, 490.0, ne)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    t["documents"] = documents(n["documents"], _rng(seed, 7))
    nv = n["embeddings"]
    rng = _rng(seed, 8)
    vec = rng.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
    return t


def lineitem(sf, seed=DATA_SEED):
    n = sizes(sf)
    rng = _rng(seed, 5)
    nl = n["lineitem"]
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _round2(rng.uniform(901.0, 105000.0, nl)),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(FLAGS, nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": pa.array(_ts(rng.integers(0, 2498, nl), "1995-01-02"))})


def documents(nd, rng):
    """Word-salad documents; about one in twenty is a near-duplicate of an
    earlier one (same text plus a trailing " dup"), so the dedup queries
    find pairs."""
    texts = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    return pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})


def write_sources(out_dir, sf):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in source_tables(sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---- the namespace, as the traffic generators see it ----------------------

class Namespace:
    """Keys per (volume, bucket) of the synthesized namespace, sorted."""

    def __init__(self, sf):
        li = lineitem(sf)
        ok = li["l_orderkey"].to_numpy()
        sk = li["l_suppkey"].to_numpy()
        ln = li["l_linenumber"].to_numpy()
        fl = li["l_returnflag"].to_numpy(zero_copy_only=False)
        price = li["l_extendedprice"].to_numpy()
        # the CDC log holds one PUT per object and one DELETE per object
        # whose version (= linenumber) is a multiple of 7
        self.log_head = int(len(ok) + np.count_nonzero(ln % 7 == 0))
        self.buckets = [(f"vol{v}", f"bucket{b}") for v in range(VOLUMES)
                        for b in range(BUCKETS_PER_VOLUME)]
        keys = {vb: [] for vb in self.buckets}
        live = {vb: [] for vb in self.buckets}
        for o, s, l, f, p in zip(ok.tolist(), sk.tolist(), ln.tolist(),
                                 fl.tolist(), price.tolist()):
            vb = (f"vol{o % VOLUMES}", f"bucket{s % BUCKETS_PER_VOLUME}")
            key = f"warehouse/{f}/{o}/{l}.dat"
            keys[vb].append(key)
            if l % 7 != 0:
                live[vb].append((key, int(math.floor(p))))
        self.keys = {vb: sorted(set(k)) for vb, k in keys.items()}
        # the log's net state per bucket, in a fixed order
        self.live = {vb: sorted(v) for vb, v in live.items()}


def zipf_weights(n, s=1.1):
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _hot_order(ns, rng):
    """Buckets in a seed-shuffled popularity order, so each seed has its own
    hot set."""
    return [ns.buckets[i] for i in rng.permutation(len(ns.buckets))]


def om_block():
    """One block of OM_BLOCK op types in exactly the OM_MIX shares."""
    return [k for k, p in OM_MIX for _ in range(round(p * OM_BLOCK))]


def _balanced(rng, n, values):
    """``n`` draws from ``values``, each value ``n // len(values)`` times or
    once more, in a seed-shuffled order."""
    vals = list(values) * (n // len(values))
    vals += [values[i] for i in rng.choice(len(values), n % len(values),
                                           replace=False)]
    return [vals[i] for i in rng.permutation(n)]


def om_ops(ns, seed, blocks):
    """om-serve op stream: (type, volume, bucket, arg, start, max_keys).

    Every block of OM_BLOCK ops holds the exact op mix; within each op type
    it holds equal shares of every page size, prefix depth and start-after
    setting; exactly LINK_SHARE of its ops go through a bucket link and
    MISSING_SHARE of its lookups miss. Runs then differ in which buckets
    and keys they touch, not in what kind of ops they time, which keeps the
    latency percentiles of one run comparable with another's. ``arg`` is
    the prefix (listKeys, listObjectsV2), the key (lookupKey) or the
    directory (listStatus, listStatusFso)."""
    rng = _rng(seed, 100)
    hot = _hot_order(ns, rng)
    w = zipf_weights(len(hot))
    links = sorted(LINKS)
    ops = []
    for _ in range(blocks):
        kinds = rng.permutation(om_block())
        via_link = rng.permutation(OM_BLOCK) < round(LINK_SHARE * OM_BLOCK)
        link_of = iter(_balanced(rng, int(via_link.sum()), range(len(links))))
        draws = {}
        for k, _ in OM_MIX:
            c = int((kinds == k).sum())
            draws[k] = iter(zip(
                _balanced(rng, c, PAGE_SIZES), _balanced(rng, c, (0, 1, 2)),
                _balanced(rng, c, (False, True)),
                rng.permutation(c) < round(MISSING_SHARE * c)))
        for kind, link in zip(kinds, via_link):
            page, level, with_start, missing = next(draws[kind])
            vol, bucket = (links[next(link_of)] if link
                           else hot[int(rng.choice(len(hot), p=w))])
            keys = ns.keys[resolve(vol, bucket)]
            key = keys[int(rng.integers(0, len(keys)))]
            parts = key.split("/")  # warehouse, flag, orderkey, file
            start, max_keys = "", int(page)
            if kind in ("listKeys", "listObjectsV2"):
                # listObjectsV2 always has a prefix ending in "/" so it groups
                arg = ["" if kind == "listKeys" else "warehouse/",
                       "/".join(parts[:2]) + "/",
                       "/".join(parts[:3]) + "/"][level]
                start = key if with_start else ""
            elif kind == "lookupKey":
                # linenumbers run 1..7, so a ".../9.dat" key never exists
                arg = "/".join(parts[:3]) + "/9.dat" if missing else key
                max_keys = 0
            else:
                arg = "/".join(parts[:level + 1])
                max_keys = 0
            ops.append((str(kind), vol, bucket, arg, start, max_keys))
    return ops


def resolve(vol, bucket):
    hops = 0
    while (vol, bucket) in LINKS and hops < 8:
        vol, bucket = LINKS[(vol, bucket)]
        hops += 1
    return vol, bucket


def recon_passes(seed, count):
    """recon-batch: ``count`` passes, each every query once in a seed-shuffled
    order."""
    rng = _rng(seed, 200)
    return [[RECON_QUERIES[i] for i in rng.permutation(len(RECON_QUERIES))]
            for _ in range(count)]


def cdc_cycles(ns, seed, count):
    """cdc-ingest: ``count`` cycles of (delta events, read volume, read bucket).

    Each delta holds DELTA_EVENTS PUT/DELETE events whose seqs continue past
    the CDC log head, spread over DELTA_PARTITIONS (volume, bucket)
    partitions drawn with Zipf-skewed popularity. A DELETE removes a key
    that is live in the log's net state (never the same one twice); a PUT
    adds a fresh key under warehouse/C/ (a flag the log never uses). Each
    cycle's reads address one Zipf-drawn bucket."""
    rng = _rng(seed, 300)
    hot = _hot_order(ns, rng)
    w = zipf_weights(len(hot))
    live = {vb: list(v) for vb, v in ns.live.items()}
    seq = ns.log_head
    ts = 2_000_000_000_000
    cycles = []
    for c in range(count):
        parts = rng.choice(len(hot), DELTA_PARTITIONS, replace=False, p=w)
        events = []
        for b, put, size in zip(rng.choice(parts, DELTA_EVENTS),
                                rng.random(DELTA_EVENTS) < 0.6,
                                rng.integers(901, 105000, DELTA_EVENTS)):
            vol, bucket = hot[b]
            pool = live[(vol, bucket)]
            seq += 1
            ts += 1
            if put or not pool:
                key = f"warehouse/C/{c}/{seq}.dat"
                events.append((seq, "PUT", vol, bucket, key, int(size), ts))
            else:
                key, dsize = pool.pop(int(rng.integers(0, len(pool))))
                events.append((seq, "DELETE", vol, bucket, key, dsize, ts))
        vol, bucket = hot[int(rng.choice(len(hot), p=w))]
        cycles.append((events, vol, bucket))
    return cycles


# ---- files handed to the engine-side runner -------------------------------

def write_om_ops(path, ops):
    with open(path, "w") as f:
        for op in ops:
            f.write("\t".join(str(x) for x in op) + "\n")


def write_recon_passes(path, passes):
    with open(path, "w") as f:
        for p in passes:
            f.write("\t".join(p) + "\n")


def write_cdc_cycles(path, cycles):
    """One parquet file: the events of every cycle (ChangeLog.Schema plus
    the cycle number) and, per cycle, the bucket its reads address."""
    cols = {k: [] for k in ("cycle", "seq", "op", "volume", "bucket", "key",
                            "data_size", "ts")}
    reads = []
    for c, (events, vol, bucket) in enumerate(cycles):
        for e in events:
            cols["cycle"].append(c)
            for k, v in zip(("seq", "op", "volume", "bucket", "key",
                             "data_size", "ts"), e):
                cols[k].append(v)
        reads.append((vol, bucket))
    types = {"cycle": pa.int32(), "seq": pa.int64(), "data_size": pa.int64(),
             "ts": pa.int64()}
    pq.write_table(pa.table({k: pa.array(v, types.get(k, pa.string()))
                             for k, v in cols.items()}), path)
    with open(path + ".reads", "w") as f:
        for vol, bucket in reads:
            f.write(f"{vol}\t{bucket}\n")
