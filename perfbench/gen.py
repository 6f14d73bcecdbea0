#!/usr/bin/env python3
"""Seeded input generators for the benchmark workloads.

Everything is generated from one thread, from the seed alone: the same
seed gives a byte-identical tree (file contents, names and mtimes).

* ``bronze(root, workload, seed)`` writes a bronze JSON tree
  ``<root>/<source>_assets/part-NNNNN.json`` in the shapes of the engine's
  rapid7 and fortisiem sources (``graft.engine.Fixtures``) and returns the
  counts the output checks use; ``write_bronze`` also stores them as
  ``<root>/../expected.json``.
  - Each file is one JSON array (the sources read with ``multiLine=true``).
  - A fixed fraction of files is corrupt: the file ends inside a record, so
    the whole file becomes one ``_corrupt_record`` row.
  - One field drifts mid-stream: rapid7 ``osCertainty`` is a JSON string in
    the first half of the files and a JSON number after.
* ``board(root)`` writes the lakehouse corpus the ``graft.ops`` queries of
  the traced runs' query-board probe read (TPC-H-like tables plus events,
  documents and embeddings), always from the same fixed seed, so the
  board's expected row counts are fixed.

Usage: python3 perfbench/gen.py <ingest_backlog|ingest_trickle|board> <seed> <out_dir>
"""
import hashlib
import json
import os
import random
import shutil
import sys

# Per workload: source -> (files, events per file); corrupt-file fraction;
# asset pool per source (events pick assets from it, so assets recur).
SHAPES = {
    "ingest_backlog": {
        "sources": {"rapid7": (12, 1500), "fortisiem": (12, 1500)},
        "corrupt_fraction": 0.1,
        "assets": {"rapid7": 20000, "fortisiem": 5000},
    },
    "ingest_trickle": {
        "sources": {"rapid7": (10, 4)},
        "corrupt_fraction": 0.1,
        "assets": {"rapid7": 500},
    },
}
MTIME_BASE = 1_700_000_000  # fixed file mtimes keep the tree reproducible

OSES = [("Ubuntu Linux 22.04", "Linux", "Canonical", "Ubuntu", "22.04"),
        ("Windows Server 2019", "Windows", "Microsoft", "Windows Server", "2019"),
        ("Red Hat Enterprise Linux 9", "Linux", "Red Hat", "RHEL", "9.2"),
        ("macOS 14", "Mac OS X", "Apple", "macOS", "14.1")]
FORTI_MODELS = ["FortiGate-60F", "FortiGate-100F", "FortiSwitch-124F",
                "FortiAP-231F"]


def _uid(parts):
    """The silver ``asset_uid``: sha256 of the non-null, trimmed and
    lower-cased (hostname, ip) parts and the id, joined by '|'."""
    key = "|".join(p for p in parts if p is not None)
    return hashlib.sha256(key.encode()).hexdigest()


def _canon(s):
    return None if s is None else s.strip(" ").lower()


def _rapid7(rnd, k, drifted):
    host = f"host-{k:05d}.corp.example"
    if rnd.random() < 0.1:  # case/whitespace variant: same asset_uid
        host = "  " + host.upper() + " "
    rec = {"id": k}
    ip = f"10.{(k >> 16) & 255}.{(k >> 8) & 255}.{k & 255}"
    if rnd.random() < 0.95:
        rec["ip"] = ip
    else:
        ip = None
    rec["hostName"] = host
    if ip is not None:
        rec["addresses"] = [{"ip": ip}, {"ip": f"192.168.{k & 255}.7"}]
    os_name, fam, vendor, product, ver = OSES[k % len(OSES)]
    certainty = round(rnd.uniform(0.5, 1.0), 2)
    rec.update({
        "assessedForPolicies": rnd.random() < 0.5,
        "assessedForVulnerabilities": rnd.random() < 0.8,
        "os": os_name,
        "osCertainty": certainty if drifted else str(certainty),
        "osFingerprint": {"architecture": "x86_64", "family": fam,
                          "vendor": vendor, "product": product,
                          "cpe": {"version": ver}},
        "riskScore": round(rnd.uniform(0, 1000), 2),
        "rawRiskScore": round(rnd.uniform(0, 1200), 2),
        "vulnerabilities": {"total": rnd.randrange(40),
                            "critical": rnd.randrange(5),
                            "severe": rnd.randrange(10),
                            "moderate": rnd.randrange(20),
                            "exploits": rnd.randrange(3),
                            "malwareKits": rnd.randrange(2)},
    })
    return rec, _uid([_canon(host), _canon(ip), str(k)])


def _fortisiem(rnd, k, drifted):
    oid = f"{k:024x}"
    name = f"fw-{k:05d}"
    if rnd.random() < 0.1:
        name = " " + name.upper()
    ip = f"172.16.{(k >> 8) & 255}.{k & 255}"
    rec = {"_id": {"$oid": oid}, "accessIp": ip, "name": name,
           "naturalId": f"FGT{k:013d}", "approved": rnd.random() < 0.7,
           "unmanaged": rnd.random() < 0.1,
           "deviceType": {"vendor": "Fortinet",
                          "model": FORTI_MODELS[k % len(FORTI_MODELS)],
                          "version": f"7.{k % 5}.{k % 11}"}}
    return rec, _uid([_canon(name), _canon(ip), oid])


RECORD = {"rapid7": _rapid7, "fortisiem": _fortisiem}


def bronze(root, workload, seed, warm=False):
    """Write the bronze tree for `workload` under `root`; return the
    expected counts. The warm-up tree has the same shape, drawn from its own
    random stream, so the untimed warm-up drain runs the timed code path at
    the timed size."""
    shape = SHAPES[workload]
    exp = {"events": 0, "corrupt_files": 0, "files": 0, "sources": {}}
    uids = {}
    for src, (files, per_file) in shape["sources"].items():
        rnd = random.Random(f"{workload}:{src}:{seed}:{warm}")
        d = os.path.join(root, f"{src}_assets")
        os.makedirs(d, exist_ok=True)
        n_corrupt = max(1, round(files * shape["corrupt_fraction"]))
        corrupt = set(rnd.sample(range(files), n_corrupt))
        pool = shape["assets"][src]
        events = 0
        for i in range(files):
            recs = []
            file_uids = []
            for _ in range(per_file):
                rec, uid = RECORD[src](rnd, rnd.randrange(pool), i >= files // 2)
                recs.append(json.dumps(rec, separators=(",", ":")))
                file_uids.append(uid)
            body = "[\n" + ",\n".join(recs)
            if i in corrupt:
                body += ',\n{"id": 7, "ip": "10.0.0.9",\n'  # ends mid-record
            else:
                body += "\n]\n"
                events += per_file
                for u in file_uids:
                    uids[u] = uids.get(u, 0) + 1
            p = os.path.join(d, f"part-{i:05d}.json")
            with open(p, "w") as f:
                f.write(body)
            os.utime(p, (MTIME_BASE + i, MTIME_BASE + i))
        exp["sources"][src] = {"files": files, "events": events,
                               "corrupt_files": n_corrupt}
        exp["events"] += events
        exp["corrupt_files"] += n_corrupt
        exp["files"] += files
    exp["distinct_uids"] = len(uids)
    # The point-lookup key is the median clean asset_uid. A key from the
    # middle of the key space falls inside the min/max stats of about the
    # same share of files on every seed, so the lookup's pruning, and its
    # cost, do not hinge on where the seed happened to put the key.
    probe = sorted(uids)[len(uids) // 2]
    exp["probe_uid"] = probe
    exp["probe_rows"] = uids[probe]
    return exp


def write_bronze(out, workload, seed, warm=False):
    """Bronze tree under `<out>/bronze` plus `<out>/expected.json`."""
    if os.path.exists(out):
        shutil.rmtree(out)
    exp = bronze(os.path.join(out, "bronze"), workload, seed, warm)
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(exp, f, indent=1, sort_keys=True)
    return exp


# --- lakehouse board corpus ------------------------------------------------

BOARD_SEED = 42
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data column join small customer query order "
         "group stream filter big vector").split()
LANGS = ["en"] * 5 + ["de", "es", "fr", "zh"]


def board(root, scale=1.0):
    """Write the board corpus (one parquet file per table) under `root`.
    Sizes at scale 1.0 match the engine's sf0.01 test tables."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng(BOARD_SEED)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(root, f"{name}.parquet"))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def ts(days):
        return pa.array(np.datetime64("1995-01-01") +
                        days.astype("timedelta64[D]"), pa.timestamp("us"))

    n_cust, n_supp, n_part = int(1500 * scale), int(100 * scale), int(2000 * scale)
    n_ord, n_ev = int(15000 * scale), int(10000 * scale)
    n_doc, n_vec = 500, 500
    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)],
                                             pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = np.array(["small", "red", "blue", "green", "large", "steel"])
    noun = np.array(["ring", "widget", "bolt", "gear", "valve", "panel"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    write("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(adj[rng.integers(0, 6, n_part)],
                                              noun[rng.integers(0, 6, n_part)])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    odays = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": ts(odays),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    write("lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": ts(np.repeat(odays, lines) + rng.integers(1, 122, n_li))})
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") +
                       ev_us.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, max(2, int(150 * scale)), n_ev).astype(np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.lognormal(2.5, 1.0, n_ev), 2).clip(0.01, 490.02),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.08:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.16:  # near duplicate: one word replaced
            w = texts[int(rng.integers(0, i))].split(" ")
            w[int(rng.integers(0, len(w)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(w))
        else:
            n = int(rng.integers(10, 90))
            texts.append(" ".join(WORDS[j] for j in
                                  rng.integers(0, len(WORDS), n)))
    write("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{j}" for j in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_vec).astype(np.int32)
    centers = rng.normal(0, 1, (10, 64))
    vec = centers[labels] + 0.6 * rng.normal(0, 1, (n_vec, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": labels})


def main(argv):
    workload, seed, out = argv[1], int(argv[2]), argv[3]
    if workload == "board":
        board(os.path.join(out, "board"))
    else:
        print(json.dumps(write_bronze(out, workload, seed), sort_keys=True))


if __name__ == "__main__":
    main(sys.argv)
