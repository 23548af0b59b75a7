"""Seeded input generators. Everything here runs before the program starts
and outside any timed region; the same seed gives byte-identical inputs.

Each generator writes the program's inputs under `in_dir` and returns the
ground truth the checker needs (the generator's own records, never the
program's outputs).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# AliCCP KV blob separators: records, field id / feature id, weight.
REC, KV, WT = "\x01", "\x02", "\x03"

# field id -> silver column, the reference's projection order
SILVER_FIELDS = [
    ("101", "user_id"), ("109_14", "user_categories"), ("110_14", "user_shops"),
    ("127_14", "user_brands"), ("150_14", "user_intentions"),
    ("121", "user_profile"), ("122", "user_group"), ("124", "user_gender"),
    ("125", "user_age"), ("126", "user_consumption_1"),
    ("127", "user_consumption_2"), ("128", "user_is_occupied"),
    ("129", "user_geography"), ("205", "item_id"), ("206", "item_category"),
    ("207", "item_shop"), ("210", "item_intention"), ("216", "item_brand"),
    ("508", "user_item_categories"), ("509", "user_item_shops"),
    ("702", "user_item_brands"), ("853", "user_item_intentions"),
    ("301", "position"),
]
USER_FIELDS = SILVER_FIELDS[:13]
GOLD_KEEP = ["user_id", "item_id", "item_category", "item_shop", "item_brand",
             "user_shops", "user_profile", "user_group", "user_gender",
             "user_age", "user_consumption_2", "user_is_occupied",
             "user_geography", "user_intentions", "user_brands",
             "user_categories", "click"]
GOLD_INDEX = GOLD_KEEP[:-1]

# cardinality of each non-id attribute
CARD = {"user_categories": 40, "user_shops": 300, "user_brands": 250,
        "user_intentions": 60, "user_profile": 90, "user_group": 13,
        "user_gender": 2, "user_age": 7, "user_consumption_1": 4,
        "user_consumption_2": 4, "user_is_occupied": 3,
        "user_geography": 5, "item_category": 120, "item_shop": 900,
        "item_intention": 70, "item_brand": 600, "user_item_categories": 30,
        "user_item_shops": 30, "user_item_brands": 30,
        "user_item_intentions": 30, "position": 20}
# multi-valued user fields: the blob repeats them, the last one wins
MULTI = {"109_14", "110_14", "127_14", "150_14"}

# the item-embedding index: built at set-up, probed per op
ANN = dict(n=8000, dim=32, clusters=32, queries=256, query_batch=16, k=10,
           nlist=16, nprobe=4, pq_m=2, pq_ksub=16, pq_max_iter=5)
SIZES = {
    "medallion_batch": dict(users=6000, items=4000, rows=40000, files=8,
                            entity_rows=5000, ttl=10000),
    "stream_ingest": dict(users=4000, items=3000, silver_rows=40000,
                          batch=1000, batches=24, probe_keys=32),
    "online_serve": dict(ANN, users=2000, keys=16, requests=512, absent=0.125,
                         round_size=8, warmup_ops=6),
    "ann_index": dict(ANN, query_batch=32, warmup_ops=3),
}
# the int64 request set: fixed keys, present in every seed's table
INT64_KEYS = list(range(1, 17))


def zipf_ranks(rng, n, size, a=1.1):
    """`size` draws from 0..n-1 with Zipf(a) popularity over a seeded
    permutation of the ids."""
    w = 1.0 / np.arange(1, n + 1) ** a
    perm = rng.permutation(n)
    return perm[rng.choice(n, size=size, p=w / w.sum())]


def _attrs(rng, n, names):
    return {c: rng.integers(0, CARD[c], size=n) for c in names}


def _blob(pairs):
    return REC.join("%s%s%d%s1.0" % (f, KV, v, WT) for f, v in pairs)


def _write_lines(path, lines):
    with open(path, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")


# ---- medallion_batch --------------------------------------------------

def gen_medallion(rng, in_dir, s):
    users, items, rows = s["users"], s["items"], s["rows"]
    ua = _attrs(rng, users, [c for _, c in USER_FIELDS[1:]])
    ia = _attrs(rng, items, ["item_category", "item_shop", "item_intention",
                             "item_brand"])
    ckeys = ["%016x" % k for k in rng.integers(0, 2 ** 63, size=users)]

    os.makedirs(os.path.join(in_dir, "bronze", "common"))
    os.makedirs(os.path.join(in_dir, "bronze", "skeleton"))
    common = []
    for u in range(users):
        pairs = [("101", u)]
        for f, c in USER_FIELDS[1:]:
            if f in MULTI:  # an earlier value the later one overrides
                pairs.append((f, (ua[c][u] + 1) % CARD[c]))
            pairs.append((f, ua[c][u]))
        common.append("%s,%d,%s" % (ckeys[u], len(pairs), _blob(pairs)))
    half = users // 2
    _write_lines(os.path.join(in_dir, "bronze", "common", "part-0.csv"), common[:half])
    _write_lines(os.path.join(in_dir, "bronze", "common", "part-1.csv"), common[half:])

    uid = zipf_ranks(rng, users, rows)
    iid = zipf_ranks(rng, items, rows)
    click = (rng.random(rows) < 0.2).astype(int)
    conv = np.where(click == 1, rng.random(rows) < 0.1, 0).astype(int)
    invalid = rng.random(rows) < 0.04          # click=0, conversion=1: dropped
    click[invalid], conv[invalid] = 0, 1
    no_common = rng.random(rows) < 0.02        # dangling common key
    no_brand = rng.random(rows) < 0.03         # missing item_brand
    clash = rng.random(rows) < 0.05            # skeleton carries a user field
    cross = {c: rng.integers(0, CARD[c], size=rows)
             for c in ["user_item_categories", "user_item_shops",
                       "user_item_brands", "user_item_intentions", "position"]}
    sample0 = 10 ** 9
    skel = []
    for r in range(rows):
        i = iid[r]
        pairs = [("205", i), ("206", ia["item_category"][i]),
                 ("207", ia["item_shop"][i]), ("210", ia["item_intention"][i])]
        if not no_brand[r]:
            pairs.append(("216", ia["item_brand"][i]))
        pairs += [("508", cross["user_item_categories"][r]),
                  ("509", cross["user_item_shops"][r]),
                  ("702", cross["user_item_brands"][r]),
                  ("853", cross["user_item_intentions"][r]),
                  ("301", cross["position"][r])]
        if clash[r]:  # the common side must win
            pairs.append(("124", 1 - ua["user_gender"][uid[r]]))
        key = "ffff%012x" % r if no_common[r] else ckeys[uid[r]]
        skel.append("%d,%d,%d,%s,%d,%s" % (sample0 + r, click[r], conv[r], key,
                                           len(pairs), _blob(pairs)))
    per = -(-rows // s["files"])
    for f in range(s["files"]):
        _write_lines(os.path.join(in_dir, "bronze", "skeleton", "part-%d.csv" % f),
                     skel[f * per:(f + 1) * per])

    # as-of entity rows: (user, time) pairs spread over the sample range
    n = s["entity_rows"]
    ent = pa.table({
        "user_id": pa.array(zipf_ranks(rng, users, n).astype(np.int32)),
        "ts": pa.array(sample0 + rng.integers(0, rows + s["ttl"], size=n)),
    })
    os.makedirs(os.path.join(in_dir, "entity"))
    pq.write_table(ent, os.path.join(in_dir, "entity", "part-0.parquet"))
    return {"bronze_rows": rows, "ttl": s["ttl"]}


# ---- silver records (stream_ingest) -----------------------------------

def _silver_records(rng, n, items, uid, ua, ia, unseen=0.0):
    """Silver rows as dicts. `unseen` is the share of rows whose item_shop
    lies outside every vocabulary the setup table has."""
    iid = zipf_ranks(rng, items, n)
    click = (rng.random(n) < 0.2).astype(int)
    fresh = rng.random(n) < unseen
    recs = []
    for r in range(n):
        u, i = int(uid[r]), int(iid[r])
        rec = {"user_id": u}
        for _, c in USER_FIELDS[1:]:
            rec[c] = int(ua[c][u])
        rec["item_id"] = i
        for c in ("item_category", "item_shop", "item_intention", "item_brand"):
            rec[c] = int(ia[c][i])
        if fresh[r]:
            rec["item_shop"] = CARD["item_shop"] + int(rng.integers(0, 50))
        for c in ("user_item_categories", "user_item_shops", "user_item_brands",
                  "user_item_intentions", "position"):
            rec[c] = int(rng.integers(0, CARD[c]))
        rec["click"] = int(click[r])
        rec["conversion"] = int(click[r] and rng.random() < 0.1)
        recs.append(rec)
    return recs


def gen_stream(rng, in_dir, s):
    users, items = s["users"], s["items"]
    ua = _attrs(rng, users, [c for _, c in USER_FIELDS[1:]])
    ia = _attrs(rng, items, ["item_category", "item_shop", "item_intention",
                             "item_brand"])
    n = s["silver_rows"]
    setup = _silver_records(rng, n, items, zipf_ranks(rng, users, n), ua, ia)
    cols = ["sample_id"] + [c for _, c in SILVER_FIELDS] + ["click", "conversion"]
    data = {c: [] for c in cols}
    for j, rec in enumerate(setup):
        data["sample_id"].append(j)
        for c in cols[1:]:
            data[c].append(rec[c])
    table = pa.table({c: pa.array(v, type=pa.int64() if c == "sample_id" else pa.int32())
                      for c, v in data.items()})
    os.makedirs(os.path.join(in_dir, "silver"))
    pq.write_table(table, os.path.join(in_dir, "silver", "part-0.parquet"))

    d = os.path.join(in_dir, "stream")
    os.makedirs(d)
    # seed batch: one record for every user, so the table's size is fixed
    seed = _silver_records(rng, users, items, np.arange(users), ua, ia)
    _write_lines(os.path.join(d, "seed.jsonl"), [json.dumps(r) for r in seed])
    w = 1.0 / np.arange(1, users + 1) ** 1.1
    perm = rng.permutation(users)
    batches = []
    for b in range(s["batches"]):
        # distinct users inside a batch, Zipf-skewed across batches
        uid = perm[rng.choice(users, size=s["batch"], replace=False, p=w / w.sum())]
        recs = _silver_records(rng, s["batch"], items, uid, ua, ia,
                               unseen=0.01)
        _write_lines(os.path.join(d, "batch-%03d.jsonl" % b),
                     [json.dumps(r) for r in recs])
        batches.append(recs)
    return {"seed": seed, "batches": batches, "probe_keys": s["probe_keys"]}


# ---- online_serve -----------------------------------------------------

ENTITY_DDL = "user_id INT, ts BIGINT, ctr DOUBLE, clicks INT, segment STRING"


def gen_serve(rng, in_dir, s):
    users = s["users"]
    ts = 1_700_000_000_000_000 + rng.integers(0, 10 ** 9, size=users)
    latest = {}
    lines = []

    def row(u, t):
        return {"user_id": u, "ts": int(t),
                "ctr": float(np.round(rng.random(), 6)),
                "clicks": int(rng.integers(0, 500)),
                "segment": "s%02d" % rng.integers(0, 40)}
    for u in range(users):
        r = row(u, ts[u])
        latest[u] = r
        lines.append(json.dumps(r))
    # a share of keys also carries an older version: latest-per-key must
    # keep the newer one whatever the arrival order
    for u in rng.choice(users, size=users // 5, replace=False):
        lines.append(json.dumps(row(int(u), ts[u] - 1000)))
    order = rng.permutation(len(lines))
    _write_lines(os.path.join(in_dir, "entities.jsonl"), [lines[j] for j in order])

    k, absent = s["keys"], int(round(s["keys"] * s["absent"]))
    w = 1.0 / np.arange(1, users + 1) ** 1.1
    w /= w.sum()
    perm = rng.permutation(users)
    reqs = []
    for _ in range(s["requests"]):
        present = perm[rng.choice(users, size=k - absent, replace=False, p=w)]
        missing = users + rng.choice(users, size=absent, replace=False)
        keys = [int(x) for x in np.concatenate([present, missing])]
        reqs.append([keys[j] for j in rng.permutation(k)])
    with open(os.path.join(in_dir, "requests.json"), "w") as f:
        json.dump({"int_requests": reqs, "int64_keys": INT64_KEYS}, f)
    return {"latest": latest, "entity_ddl": ENTITY_DDL,
            "round_size": s["round_size"]}


# ---- ann_index --------------------------------------------------------

def gen_ann(rng, in_dir, s):
    n, dim, q = s["n"], s["dim"], s["queries"]
    centers = rng.normal(0, 1, size=(s["clusters"], dim))
    lab = rng.integers(0, s["clusters"], size=n + q)
    vecs = (centers[lab] + rng.normal(0, 0.35, size=(n + q, dim))).astype(np.float32)
    corpus, queries = vecs[:n], vecs[n:]
    qid0 = 10 ** 7

    def table(ids, vs, idn, vn):
        return pa.table({idn: pa.array(ids, type=pa.int64()),
                         vn: pa.array(list(vs), type=pa.list_(pa.float32()))})
    for name, t in (("corpus", table(np.arange(n), corpus, "nid", "nvec")),
                    ("queries", table(qid0 + np.arange(q), queries, "qid", "qvec"))):
        os.makedirs(os.path.join(in_dir, name))
        pq.write_table(t, os.path.join(in_dir, name, "part-0.parquet"))
    return {"corpus": corpus, "queries": queries, "qid0": qid0}


def gen_serving(rng, in_dir, s):
    truth = gen_serve(rng, in_dir, s)
    truth.update(gen_ann(rng, in_dir, s))
    return truth


GENERATORS = {"medallion_batch": gen_medallion, "stream_ingest": gen_stream,
              "online_serve": gen_serving, "ann_index": gen_ann}


def generate(workload, seed, in_dir):
    """Writes the workload's inputs; returns (program params, truth)."""
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    s = SIZES[workload]
    truth = GENERATORS[workload](rng, in_dir, s)
    params = {k: v for k, v in s.items() if isinstance(v, (int, float))}
    params.update({k: v for k, v in truth.items()
                   if isinstance(v, (int, str)) and not isinstance(v, bool)})
    return params, truth
