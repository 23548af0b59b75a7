"""Output checks. Every expected value is computed here, apart from the
program: by DuckDB over the same bronze files (medallion_batch), or from the
generator's own records (stream_ingest, online_serve), or by numpy
(ann_index). An op whose check fails counts as failed.
"""
import collections
import json
import math
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

from inputs import GOLD_INDEX, GOLD_KEEP, SILVER_FIELDS

RECALL_FLOOR = 0.9


class Verdict:
    def __init__(self):
        self.correct = True
        self.failed_ops = set()
        self.notes = []
        self.extra = {}

    @property
    def failed(self):
        return len(self.failed_ops)

    def fail(self, op, note=None):
        self.failed_ops.add(op)
        if note:
            self.notes.append(note)

    def bad(self, note):
        self.correct = False
        self.notes.append(note)


def _lines(path):
    if not os.path.isfile(path):
        return []
    with open(path) as f:
        return [json.loads(x) for x in f if x.strip()]


def _files(d):
    return sum(len(f) for _, _, f in os.walk(d))


# ---- medallion_batch --------------------------------------------------

def _kv_sql(table, blob):
    """(id, field id, value) per blob record, last record per field wins."""
    return f"""
      SELECT id, key, arg_max(val, pos) AS val FROM (
        SELECT id, pos, split_part(rec, chr(2), 1) AS key,
               list_last(string_split(split_part(rec, chr(3), 1), chr(2))) AS val
        FROM (SELECT id, unnest(string_split({blob}, chr(1))) AS rec,
                     unnest(range(1, len(string_split({blob}, chr(1))) + 1)) AS pos
              FROM {table})
        WHERE rec <> '') GROUP BY id, key"""


def _pivot(kv):
    cols = ", ".join(f"max(val) FILTER (WHERE key = '{f}') AS f_{f.replace('_', 'x')}"
                     for f, _ in SILVER_FIELDS)
    return f"SELECT id, {cols} FROM ({kv}) GROUP BY id"


def _medallion_oracle(con, in_dir, ttl):
    def csv(sub, n):
        cols = ", ".join(f"'c{j}': 'VARCHAR'" for j in range(n))
        return (f"read_csv('{in_dir}/bronze/{sub}/*.csv', header=false, delim=',', "
                f"quote='', escape='', auto_detect=false, columns={{{cols}}})")
    con.execute(f"CREATE TABLE sk AS SELECT c0 AS id, * FROM {csv('skeleton', 6)}")
    con.execute(f"CREATE TABLE cm AS SELECT c0 AS id, * FROM {csv('common', 3)}")
    con.execute(f"CREATE TABLE skf AS {_pivot(_kv_sql('sk', 'c5'))}")
    con.execute(f"CREATE TABLE cmf AS {_pivot(_kv_sql('cm', 'c2'))}")
    fields = ", ".join(
        f"TRY_CAST(coalesce(c.f_{f.replace('_', 'x')}, s.f_{f.replace('_', 'x')}) "
        f"AS INTEGER) AS {name}" for f, name in SILVER_FIELDS)
    con.execute(f"""
      CREATE TABLE x_silver AS
      SELECT CAST(k.c0 AS BIGINT) AS sample_id, {fields},
             CAST(k.c1 AS INTEGER) AS click, CAST(k.c2 AS INTEGER) AS conversion
      FROM sk k JOIN skf s ON s.id = k.id
      LEFT JOIN cm ON cm.c0 = k.c3 LEFT JOIN cmf c ON c.id = cm.id
      WHERE NOT (CAST(k.c1 AS INTEGER) = 0 AND CAST(k.c2 AS INTEGER) = 1)""")
    keep = " AND ".join(f"{c} IS NOT NULL" for c in GOLD_KEEP)
    con.execute(f"CREATE TABLE x_kept AS SELECT * FROM x_silver WHERE {keep}")
    # StringIndexer order: frequency descending, then value ascending
    con.execute("CREATE TABLE x_vocab AS " + " UNION ALL ".join(f"""
      SELECT '{c}' AS c, value, row_number() OVER (ORDER BY n DESC, value) - 1 AS idx
      FROM (SELECT CAST({c} AS VARCHAR) AS value, count(*) AS n
            FROM x_kept GROUP BY 1)""" for c in GOLD_INDEX))
    joins = " ".join(f"JOIN x_vocab v{j} ON v{j}.c = '{c}' AND "
                     f"v{j}.value = CAST(k.{c} AS VARCHAR)"
                     for j, c in enumerate(GOLD_INDEX))
    idx = ", ".join(f"CAST(v{j}.idx AS INTEGER) AS {c}" for j, c in enumerate(GOLD_INDEX))
    con.execute(f"""CREATE TABLE x_gold AS SELECT {idx}, k.click,
      k.user_id AS user_id_raw, k.item_id AS item_id_raw FROM x_kept k {joins}""")
    con.execute(f"""
      CREATE TABLE x_hist AS
      SELECT user_id, ts, sample_id, item_id, item_category, click FROM (
        SELECT e.user_id, e.ts, s.sample_id, s.item_id, s.item_category, s.click,
               row_number() OVER (PARTITION BY e.rid ORDER BY s.sample_id DESC) AS rn
        FROM (SELECT *, row_number() OVER () AS rid
              FROM read_parquet('{in_dir}/entity/*.parquet')) e
        LEFT JOIN x_silver s ON s.user_id = e.user_id
          AND s.sample_id <= e.ts AND s.sample_id >= e.ts - {ttl})
      WHERE rn = 1""")


def _same(con, expected, actual_sql):
    """Multiset equality of a table and a query with the same columns."""
    n = con.execute(f"""SELECT
        (SELECT count(*) FROM (SELECT * FROM {expected} EXCEPT ALL ({actual_sql}))) +
        (SELECT count(*) FROM (({actual_sql}) EXCEPT ALL SELECT * FROM {expected}))
      """).fetchone()[0]
    return n == 0


def check_medallion(truth, params, res, v):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    _medallion_oracle(con, params["in_dir"], params["ttl"])
    silver_cols = ", ".join(["sample_id"] + [n for _, n in SILVER_FIELDS] +
                            ["click", "conversion"])
    gold_cols = ", ".join(GOLD_INDEX + ["click", "user_id_raw", "item_id_raw"])
    for i in range(len(res["ops"])):
        d = os.path.join(params["out_dir"], "op%d" % i)

        def pq_(sub):
            return f"read_parquet('{d}/{sub}/*.parquet')"
        ok = (_same(con, "x_silver", f"SELECT {silver_cols} FROM {pq_('silver')}") and
              _same(con, "x_gold", f"SELECT {gold_cols} FROM {pq_('gold')}") and
              _same(con, "(SELECT * FROM x_gold WHERE click = 1)",
                    f"SELECT {gold_cols} FROM {pq_('gold-retrieval')}") and
              _same(con, "x_hist", "SELECT user_id, ts, sample_id, item_id, "
                    f"item_category, click FROM {pq_('hist')}") and
              all(_same(con, f"(SELECT value, idx FROM x_vocab WHERE c = '{c}')",
                        f"SELECT value, idx FROM {pq_('model/' + c)}")
                  for c in GOLD_INDEX))
        if not ok:
            v.fail(i, "medallion op %d: outputs differ from the DuckDB oracle" % i)


# ---- stream_ingest ----------------------------------------------------

def _vocab(records):
    """StringIndexer(frequencyDesc) vocabularies of the gold index columns."""
    out = {}
    for c in GOLD_INDEX:
        n = collections.Counter(str(r[c]) for r in records)
        out[c] = {val: j for j, (val, _) in
                  enumerate(sorted(n.items(), key=lambda kv: (-kv[1], kv[0])))}
    return out


def _gold_row(rec, vocab):
    row = {c: vocab[c].get(str(rec[c]), len(vocab[c])) for c in GOLD_INDEX}
    row.update(click=rec["click"], user_id_raw=rec["user_id"],
               item_id_raw=rec["item_id"])
    return row


def _proj(row):
    return tuple(row[c] for c in GOLD_INDEX + ["click", "user_id_raw", "item_id_raw"])


def check_stream(truth, params, res, v):
    out = params["out_dir"]
    silver = pq.read_table(os.path.join(params["in_dir"], "silver")).to_pylist()
    vocab = _vocab(silver)
    for c in GOLD_INDEX:
        t = pq.read_table(os.path.join(out, "model", c)).to_pylist()
        if {r["value"]: r["idx"] for r in t} != vocab[c]:
            v.bad("stream model for %s differs from the StringIndexer order" % c)
    batches, p = truth["batches"], truth["probe_keys"]
    probes = _lines(os.path.join(out, "probes.jsonl"))
    if len(probes) != len(res["ops"]):
        v.bad("stream: %d probe records for %d ops" % (len(probes), len(res["ops"])))
    for pr in probes:
        want = sorted(_proj(_gold_row(r, vocab)) for r in batches[pr["batch"]][:p])
        if sorted(_proj(r) for r in pr["rows"]) != want:
            v.fail(pr["op"], "stream op %d: probe rows differ" % pr["op"])
    latest = {r["user_id"]: r for r in truth["seed"]}
    for i in range(-1, len(res["ops"])):  # -1: the warm-up batch
        for r in batches[i % len(batches)]:
            latest[r["user_id"]] = r
    snap = pq.read_table(os.path.join(out, "snapshot")).to_pylist()
    if sorted(_proj(r) for r in snap) != sorted(_proj(_gold_row(r, vocab))
                                                for r in latest.values()):
        v.bad("stream: final OnlineTable.read snapshot differs from latest-per-key")
    v.extra["store.files"] = _files(os.path.join(out, "online"))


# ---- online_serve -----------------------------------------------------

def check_serve(truth, params, res, v):
    latest = truth["latest"]
    cols = ["user_id", "ts", "ctr", "clicks", "segment"]
    hits = present = 0
    responses = _lines(os.path.join(params["out_dir"], "responses.jsonl"))
    if len(responses) != len(res["ops"]):
        v.bad("serve: %d response records for %d ops" % (len(responses), len(res["ops"])))
    for r in responses:
        want = sorted(tuple(latest[k][c] for c in cols) for k in r["keys"] if k in latest)
        got = sorted(tuple(x[c] for c in cols) for x in r["rows"])
        present += len(want)
        hits += len(got)
        if got != want:
            v.fail(r["op"], None if r["kind"] == "int64" else
                   "serve op %d (int keys): rows differ" % r["op"])
    v.extra["store.hit_ratio"] = hits / max(1, present)
    v.extra["store.files"] = _files(os.path.join(params["out_dir"], "online"))
    walls = [o["wall_ms"] for o in res["ops"]]
    v.extra["store.lookup_p90_ms"] = float(np.percentile(walls, 90))


# ---- ann_index --------------------------------------------------------

def check_ann(truth, params, res, v):
    c = truth["corpus"].astype(np.float64)
    qv = truth["queries"].astype(np.float64)
    k = params["k"]
    cos = (qv @ c.T) / np.outer(np.linalg.norm(qv, axis=1), np.linalg.norm(c, axis=1))
    cos = np.floor(cos * 1e6 + 0.5) / 1e6
    exact = {}
    nid = np.arange(c.shape[0])
    for j in range(qv.shape[0]):
        order = np.lexsort((nid, -cos[j]))[:k]
        exact[truth["qid0"] + j] = set(order.tolist())
    recalls = []
    topk = _lines(os.path.join(params["out_dir"], "topk.jsonl"))
    if len(topk) != len(res["ops"]):
        v.bad("ann: %d top-k records for %d ops" % (len(topk), len(res["ops"])))
    for r in topk:
        by_q = collections.defaultdict(list)
        for qid, n, rank in r["rows"]:
            by_q[qid].append((rank, n))
        ok = True
        rec = []
        for qid in r["qids"]:
            got = sorted(by_q.get(qid, []))
            if [x[0] for x in got] != list(range(1, k + 1)):
                ok = False
            rec.append(len({x[1] for x in got} & exact[qid]) / k)
        recall = sum(rec) / len(rec)
        recalls.append(recall)
        if not ok or recall < RECALL_FLOOR:
            v.fail(r["op"], "ann op %d: ranks malformed or recall %.3f" % (r["op"], recall))
    v.extra["llm.recall_at_k"] = sum(recalls) / max(1, len(recalls))


def check_serving(truth, params, res, v):
    check_serve(truth, params, res, v)
    check_ann(truth, params, res, v)


CHECKS = {"medallion_batch": check_medallion, "stream_ingest": check_stream,
          "online_serve": check_serving, "ann_index": check_ann}


def check(workload, truth, params, res):
    v = Verdict()
    CHECKS[workload](truth, params, res, v)
    if not math.isfinite(sum(o["wall_ms"] for o in res["ops"])):
        v.bad("non-finite op times")
    return v
