#!/usr/bin/env python3
"""Seeded input generator for the graft benchmark.

Every input the program sees comes from here, and only from the seed:
the same seed gives byte-identical rows, another seed gives other rows.
The tables follow the star-schema + telemetry + corpus layout that
`graft.Tables` reads (one parquet file per table, with the column types
its loaders and oracle statements expect).

  gen.py tables --seed S --out DIR [--sf 0.1]
      all ten tables at scale factor SF.
  gen.py corpus --seed S --version V --base DIR --out DIR
      one corpus version: 5x the base documents as token shuffles
      with ~5% planted near-duplicates, 5x the base embeddings as
      noisy renormalised copies; the other eight tables are linked
      from BASE.
  gen.py stream --seed S --phase P --dir DIR --t0 EPOCH_S --ladder R:SECS,...
      open-loop event generator: lands one parquet file per 250 ms
      slice into DIR on a wall-clock schedule starting at T0, stepping
      through the rate ladder, for a fleet of 2,000 devices. Each
      event's ts is its scheduled creation time. Phase P keeps event
      ids and file names of successive invocations on one directory
      apart. One JSON line per landed file goes to DIR.manifest-P.jsonl.
"""
import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split())
LANGS = np.array(["en", "fr", "es", "zh", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
HEALTHY_TYPES = np.array(["signup", "click", "view", "purchase"])
T_EVENTS0 = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400_000_000
DEVICES = 2000
CORPUS_MULT = 5  # a corpus version is this many times its base
# One stream file per slice of this many milliseconds. A trigger of a
# few seconds then takes about a dozen files, well below the 32 at which
# Spark lists a batch's files with a job of its own
# (spark.sql.sources.parallelPartitionDiscovery.threshold); near that
# line a slower trigger takes more files, lists them with a job and
# slows further, and the run flips between two speeds.
FILE_MS = 250


def write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, path)


def ts_col(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def star(rng, out, sf):
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    write(pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    write(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
        f"{out}/nation.parquet")
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"])
    write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}), f"{out}/customer.parquet")
    write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)}), f"{out}/supplier.parquet")
    adj = np.array(["blue", "old", "small", "new", "large", "hot", "cold", "red"])
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"])
    types = np.array(["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"])
    pk = np.arange(n_part, dtype=np.int64)
    write(pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)}), f"{out}/part.parquet")
    day0 = np.datetime64("1995-01-01", "D").astype(np.int64)
    odays = rng.integers(0, 2404, n_ord) + day0
    write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": ts_col(odays * DAY_US),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n_ord)]}),
        f"{out}/orders.parquet")
    lok = rng.integers(0, n_ord, n_li, dtype=np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    write(pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": qty,
        "l_extendedprice": money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": ts_col((odays[lok] + rng.integers(-60, 122, n_li)) * DAY_US)}),
        f"{out}/lineitem.parquet")


def events_table(rng, out, n, n_users):
    ts = np.sort(rng.integers(0, 30 * DAY_US, n)) + T_EVENTS0.astype(np.int64)
    write(pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts_col(ts),
        "user_id": rng.integers(0, n_users, n, dtype=np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")}),
        f"{out}/events.parquet")


def doc_texts(rng, n):
    lens = rng.integers(10, 100, n)
    words = VOCAB[rng.integers(0, len(VOCAB), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    return [" ".join(w) for w in np.split(words, cuts)]


def documents_table(texts, rng, out):
    n = len(texts)
    write(pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(5, n, p=LANG_P)],
        "source": np.char.add("src", (np.arange(n) % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        f"{out}/documents.parquet")


def plant_near_dups(rng, texts, share=0.05):
    """Overwrite ~share of the documents with an earlier document plus a
    trailing token: near-duplicate pairs the dedup kernels must find."""
    n = len(texts)
    idx = rng.choice(np.arange(1, n), int(n * share), replace=False)
    for i in idx:
        texts[i] = texts[rng.integers(0, i)] + " dup"
    return texts


def embeddings_table(vecs, labels, out):
    flat = pa.array(vecs.astype(np.float32).ravel(), type=pa.float32())
    write(pa.table({
        "vec_id": np.arange(len(vecs), dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32)), flat),
        "label": pa.array(labels.astype(np.int32))}), f"{out}/embeddings.parquet")


def unit(v):
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def base_embeddings(rng, n, dim=64, k=10):
    centers = unit(rng.normal(size=(k, dim)))
    labels = rng.integers(0, k, n)
    return unit(centers[labels] + 0.6 * rng.normal(size=(n, dim)) / np.sqrt(dim)), labels


def cmd_tables(a):
    os.makedirs(a.out, exist_ok=True)
    rng = np.random.default_rng([a.seed, 1])
    star(rng, a.out, a.sf)
    events_table(rng, a.out, int(1_000_000 * a.sf), 1500)
    documents_table(plant_near_dups(rng, doc_texts(rng, int(50_000 * a.sf))), rng, a.out)
    embeddings_table(*base_embeddings(rng, int(20_000 * a.sf)), a.out)


def cmd_corpus(a):
    os.makedirs(a.out, exist_ok=True)
    rng = np.random.default_rng([a.seed, 2, a.version])
    base = pq.read_table(f"{a.base}/documents.parquet", columns=["text"]).column(0).to_pylist()
    texts = []
    for _ in range(CORPUS_MULT):
        for t in base:
            w = t.split(" ")
            rng.shuffle(w)
            texts.append(" ".join(w))
    documents_table(plant_near_dups(rng, texts), rng, a.out)
    emb = pq.read_table(f"{a.base}/embeddings.parquet")
    vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
    labels = emb.column("label").to_numpy()
    copies = np.concatenate([vecs] * CORPUS_MULT)
    embeddings_table(unit(copies + 0.05 * rng.normal(size=copies.shape) / np.sqrt(vecs.shape[1])),
                     np.concatenate([labels] * CORPUS_MULT), a.out)
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]:
        dst = f"{a.out}/{t}.parquet"
        if not os.path.exists(dst):
            os.link(f"{a.base}/{t}.parquet", dst)


class Fleet:
    """Devices with Zipf-skewed event rates and planted failure runs of
    length 1-12: a device in a run reports `error` until the run ends,
    then recovers, so runs cross the 3/6/9 ladder and its RECOVERED."""

    def __init__(self, rng, n_devices):
        self.rng = rng
        w = 1.0 / np.arange(1, n_devices + 1) ** 1.1
        self.p = w / w.sum()
        self.perm = rng.permutation(n_devices)
        self.left = [0] * n_devices

    def draw(self, n):
        devs = self.perm[self.rng.choice(len(self.p), n, p=self.p)]
        start = self.rng.random(n) < 0.04
        run_len = self.rng.integers(1, 13, n)
        types = HEALTHY_TYPES[self.rng.integers(0, 4, n)].astype(object)
        # the run state is sequential per device; plain lists keep the
        # loop fast enough for bursts of a few hundred thousand events
        left, starts, lens = self.left, start.tolist(), run_len.tolist()
        for i, d in enumerate(devs.tolist()):
            if left[d] == 0 and starts[i]:
                left[d] = lens[i]
            if left[d] > 0:
                types[i] = "error"
                left[d] -= 1
        return devs.astype(np.int64), types


def cmd_stream(a):
    rng = np.random.default_rng([a.seed, 3, a.phase])
    fleet = Fleet(rng, DEVICES)
    stage = a.dir.rstrip("/") + f"_staging{a.phase}"
    os.makedirs(a.dir, exist_ok=True)
    os.makedirs(stage, exist_ok=True)
    slice_us = FILE_MS * 1000
    t0_us = int(a.t0 * 1e6)
    next_id, k, step_start_us = a.phase * 1_000_000_000, 0, t0_us
    with open(a.dir.rstrip("/") + f".manifest-{a.phase}.jsonl", "w") as man:
        for step, spec in enumerate(a.ladder.split(",")):
            rate, secs = (float(x) for x in spec.split(":"))
            n_files = int(round(secs * 1e6 / slice_us))
            for j in range(n_files):
                lo = step_start_us + j * slice_us
                hi = lo + slice_us
                # ts is the scheduled creation time, unique per event
                n = int(rate * (j + 1) * slice_us / 1e6) - int(rate * j * slice_us / 1e6)
                ts = lo + (np.arange(n) * slice_us) // max(n, 1)
                devs, types = fleet.draw(n)
                order = rng.permutation(n)  # out of order only within a file
                ids = np.arange(next_id, next_id + n, dtype=np.int64)
                next_id += n
                table = pa.table({
                    "event_id": ids[order],
                    "ts": pa.array(ts[order].astype("datetime64[us]"), type=pa.timestamp("us", tz="UTC")),
                    "user_id": devs[order],
                    "event_type": pa.array(types[order], type=pa.string()),
                    "value": np.round(rng.exponential(50.0, n), 2)[order],
                    "props": pa.array(['{"k": %d}' % x for x in rng.integers(0, 100, n)[order].tolist()])})
                name = f"part-{a.phase}-{k:06d}.parquet"
                pq.write_table(table, f"{stage}/{name}", compression="snappy")
                wait = hi / 1e6 - time.time()
                if wait > 0:
                    time.sleep(wait)
                os.replace(f"{stage}/{name}", f"{a.dir}/{name}")
                landed = time.time()
                man.write(json.dumps({"file": name, "step": step, "rate": rate, "n": n,
                                      "due_s": hi / 1e6, "landed_s": landed}) + "\n")
                man.flush()
                k += 1
            step_start_us += n_files * slice_us
    os.rmdir(stage)


def main(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    t = sub.add_parser("tables")
    t.add_argument("--seed", type=int, required=True)
    t.add_argument("--out", required=True)
    t.add_argument("--sf", type=float, default=0.1)
    c = sub.add_parser("corpus")
    c.add_argument("--seed", type=int, required=True)
    c.add_argument("--version", type=int, required=True)
    c.add_argument("--base", required=True)
    c.add_argument("--out", required=True)
    s = sub.add_parser("stream")
    s.add_argument("--seed", type=int, required=True)
    s.add_argument("--phase", type=int, default=0)
    s.add_argument("--dir", required=True)
    s.add_argument("--t0", type=float, required=True)
    s.add_argument("--ladder", required=True)
    a = p.parse_args(argv)
    {"tables": cmd_tables, "corpus": cmd_corpus, "stream": cmd_stream}[a.cmd](a)


if __name__ == "__main__":
    main(sys.argv[1:])
