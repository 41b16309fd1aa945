"""Answers computed outside the engine, and the comparison against them.

- analyst: each seeded cohort definition is translated to SQL here, from
  the definition itself, and run in DuckDB; fixed report/OLAP keys run
  graft's own DuckDB oracle SQL (`SparkEntry.oracleSql`).
- corpus: ANN answers against a numpy exact top-10; pipelines against
  their DuckDB oracles with the recursive component CTEs replaced by
  tools/localgate.py's union-find.
- ingest: a pandas replay of the same CDC batches.

References depend only on (workload, scale, seed) and are cached as
JSON under the benchmark's work dir.
"""
import datetime
import decimal
import json
import math
import os
import sys

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# recall bounds of docs/rowsonly_evidence.json
ANN_RECALL_BOUND = 0.7  # LSH, IVF, PQ
D04_RECALL_BOUND = 0.75


# ---------------------------------------------------------------- comparison

def norm_val(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
        return int(v) if v.is_integer() and abs(v) < 2 ** 53 else v
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return [norm_val(x) for x in v]
    return v


def _key(v):
    if isinstance(v, float):
        return float(f"{v:.9g}")
    if isinstance(v, list):
        return [_key(x) for x in v]
    return v


def canon(cols, rows):
    """Columns sorted by name, values normalized, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [[norm_val(r[i]) for i in order] for r in rows]
    out.sort(key=lambda r: json.dumps([_key(x) for x in r], default=str))
    return [cols[i] for i in order], out


def _eq(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if isinstance(a, (int, float)) and isinstance(b, (int, float)):
            return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
        return False
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_eq(x, y) for x, y in zip(a, b))
    return a == b


def compare(got_cols, got_rows, ref):
    """None when equal, else a one-line reason."""
    gc, gr = canon(got_cols, got_rows)
    rc, rr = ref["cols"], ref["rows"]
    if gc != rc:
        return f"columns {gc} vs {rc}"
    if len(gr) != len(rr):
        return f"{len(gr)} rows vs {len(rr)}"
    for a, b in zip(gr, rr):
        if not all(_eq(x, y) for x, y in zip(a, b)):
            return f"row {a} vs {b}"
    return None


def frame_ref(df):
    cols, rows = canon(list(df.columns), df.itertuples(index=False, name=None))
    return {"cols": cols, "rows": rows}


# ---------------------------------------------------------------- cache

class Refs:
    """A JSON dict of references, loaded once and saved when it grew."""

    def __init__(self, path):
        self.path = path
        self.data = json.load(open(path)) if os.path.exists(path) else {}
        self.dirty = False

    def get(self, key, compute):
        if key not in self.data:
            self.data[key] = compute()
            self.dirty = True
        return self.data[key]

    def save(self):
        if self.dirty:
            os.makedirs(os.path.dirname(self.path), exist_ok=True)
            tmp = self.path + ".tmp"
            json.dump(self.data, open(tmp, "w"))
            os.replace(tmp, self.path)


def duck(data_dir):
    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    con.execute("SET threads=4")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def sql_ref(con, sql):
    return frame_ref(con.execute(sql).df())


# ---------------------------------------------------------------- analyst

def _lit(v):
    return repr(float(v))


def _match(c):
    parts = [f"event_type = '{c['eventType']}'"]
    if "minValue" in c:
        parts.append(f"value >= {_lit(c['minValue'])}")
    if "maxValue" in c:
        parts.append(f"value < {_lit(c['maxValue'])}")
    if "codeIn" in c:
        codes = ", ".join(f"'{x}'" for x in c["codeIn"])
        parts.append(f"json_extract_string(props, '$.k') IN ({codes})")
    return "(" + " AND ".join(parts) + ")"


def _panel_cols(panels):
    cols = []
    for i, p in enumerate(panels):
        m = " OR ".join(_match(c) for c in p["concepts"])
        if p.get("perEncounter"):
            cols.append(f"COUNT(DISTINCT CASE WHEN {m} THEN encounter_id END) AS p{i}")
        else:
            cols.append(f"COUNT(CASE WHEN {m} THEN 1 END) AS p{i}")
    return cols


def _qualifies(panels):
    return " AND ".join(
        f"p{i} = 0" if p.get("negated") else f"p{i} >= {p.get('minOccurrences', 1)}"
        for i, p in enumerate(panels))


# 30-minute-gap visits, numbered per patient over the whole fact table
ENCOUNTERS = """(SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS encounter_id
  FROM (SELECT *, CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
      OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)))"""


def cohort_sql(op):
    """The i2b2 semantics of a seeded definition, written as DuckDB SQL."""
    d = json.loads(op["def"])
    panels = d["panels"]
    cols = ", ".join(_panel_cols(panels))
    if op["door"] == "anchored":
        a = _match(json.loads(op["anchor"]))
        return f"""WITH a AS (SELECT *, MIN(CASE WHEN {a} THEN ts END)
              OVER (PARTITION BY user_id) AS anchor_ts FROM events)
            SELECT user_id, strftime(MIN(anchor_ts), '%Y-%m-%d %H:%M:%S.%f') AS anchor, {cols}
            FROM a WHERE anchor_ts IS NOT NULL AND ts >= anchor_ts
              AND ts < anchor_ts + INTERVAL {int(op['days'])} DAY
            GROUP BY user_id HAVING {_qualifies(panels)}"""
    enc = d.get("scope") == "encounter" or any(p.get("perEncounter") for p in panels)
    src = ENCOUNTERS if enc else "events"
    where = []
    if "from" in d:
        where.append(f"ts >= TIMESTAMP '{d['from']}'")
    if "until" in d:
        where.append(f"ts < TIMESTAMP '{d['until']}'")
    where = ("WHERE " + " AND ".join(where)) if where else ""
    if d.get("scope") == "encounter":
        sums = ", ".join(f"SUM(p{i}) AS p{i}" for i in range(len(panels)))
        return f"""WITH g AS (SELECT user_id, encounter_id, {cols} FROM {src} f {where}
              GROUP BY user_id, encounter_id HAVING {_qualifies(panels)})
            SELECT user_id, COUNT(*) AS n_encounters, {sums} FROM g GROUP BY user_id"""
    return f"""SELECT user_id, {cols} FROM {src} f {where}
        GROUP BY user_id HAVING {_qualifies(panels)}"""


def check_analyst(ops, plan, data_dir, oracle_sql, refs, base_refs):
    """Check every measured op; returns a list of problems."""
    defs = {o["id"]: o for rnd in plan["rounds"] + [plan["warm"]] for o in rnd}
    con = duck(data_dir)
    problems = []
    for o in ops:
        if not o.get("ok"):
            continue
        if o["kind"] == "fixed":
            if not o["same_as_first"]:
                problems.append(f"{o['id']}: differs from the first run of {o['key']}")
            if "rows" in o:
                ref = base_refs.get(o["key"], lambda: sql_ref(con, oracle_sql[o["key"]]))
                why = compare(o["cols"], o["rows"], ref)
                if why:
                    problems.append(f"{o['id']}: {why}")
        elif o["kind"] == "cohort":
            d = defs[o["id"]]
            ref = refs.get(o["id"], lambda: sql_ref(con, cohort_sql(d)))
            why = compare(o["cols"], o["rows"], ref)
            if why:
                problems.append(f"{o['id']}: {why}")
    return problems


# ---------------------------------------------------------------- corpus

def _emb(data_dir):
    t = pd.read_parquet(os.path.join(data_dir, "embeddings.parquet"))
    v = np.stack(t["embedding"].to_numpy()).astype(np.float64)
    return t["vec_id"].to_numpy(), v


def cosines(v, q):
    """Exact cosine of every corpus vector against q (a float32 query)."""
    q = np.asarray(q, dtype=np.float32).astype(np.float64)
    return (v @ q) / (np.linalg.norm(v, axis=1) * np.linalg.norm(q))


def top10(ids, cos):
    """The exact top-10 ids, ties by vec_id."""
    return set(ids[np.lexsort((ids, -cos))[:10]].tolist())


def pipeline_refs(con, oracle_sql, data_dir):
    """p04/t08 oracles and d02's pairs, components by union-find."""
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.join(here, "..", "tools"))
    import localgate
    oracles = localgate.rewrite_uf(oracle_sql, con, True, data_dir)
    out = {k: sql_ref(con, oracles[k]) for k in ("p04_pipeline_release", "t08_pii_redaction")}
    pairs = con.execute(oracle_sql["d02_dedup_ngram_jaccard"]).df()
    out["d02_pairs"] = sorted([int(a), int(b)] for a, b in
                              zip(pairs["doc_a"], pairs["doc_b"]))
    return out


def check_corpus(ops, plan, data_dir, out_dir, oracle_sql, refs):
    """Returns (problems, failed op ids, recall@10 of every answer by index
    and query kind: "probe" or "seeded")."""
    ids, v = _emb(data_dir)
    pos = {int(i): n for n, i in enumerate(ids)}
    vecs = {f"r{r}.{q['id']}": q["vec"] for r, rnd in enumerate(plan["rounds"])
            for q in rnd["queries"]}
    problems, failed, recalls = [], [], {}
    pipes = None
    for o in ops:
        if not o.get("ok"):
            continue
        kind = o["kind"]
        if kind == "ann":
            tag, qn, ix = o["id"].split(".")
            cos = cosines(v, vecs[f"{tag}.{qn}"])
            exact = top10(ids, cos)
            got = {int(r[0]): r[1] for r in o["rows"]}
            # at most 10 distinct neighbours, each with its true cosine; an
            # IVF answer holds fewer when its probed cells do (seen at
            # sf0.001), which recall counts as misses, not as a wrong answer
            if len(got) != len(o["rows"]) or len(got) > 10:
                problems.append(f"{o['id']}: {len(o['rows'])} rows, "
                                f"{len(got)} distinct neighbours")
            for vid, c in got.items():
                if vid not in pos or abs(cos[pos[vid]] - c) > 2e-6:
                    problems.append(f"{o['id']}: vec {vid} cosine {c} is not its cosine")
            qkind = "probe" if qn.startswith("p") else "seeded"
            recalls.setdefault((ix, qkind), []).append(len(set(got) & exact) / 10)
        elif kind == "refresh_query":
            vid = int(o["id"].split(".")[2])
            top = o["rows"][0] if o["rows"] else None
            if not (top and int(top[0]) == vid and top[1] >= 0.999999):
                failed.append(o["id"])
        elif kind == "pipeline":
            if pipes is None:
                pipes = refs.get("pipelines", lambda: pipeline_refs(
                    duck(data_dir), oracle_sql, data_dir))
            tag = o["id"].split(".")[0]
            df = pd.read_parquet(os.path.join(out_dir, "pipelines", tag, o["key"]))
            if o["key"] == "d04_dedup_simhash":
                truth = {tuple(p) for p in pipes["d02_pairs"]}
                got = set(zip(df.iloc[:, 0].astype(int), df.iloc[:, 1].astype(int)))
                rec = len(got & truth) / len(truth) if truth else 1.0
                if rec < D04_RECALL_BOUND:
                    problems.append(f"{o['id']}: recall vs d02 {rec:.3f} < {D04_RECALL_BOUND}")
            else:
                why = compare(list(df.columns), df.itertuples(index=False, name=None),
                              pipes[o["key"]])
                if why:
                    problems.append(f"{o['id']}: {why}")
    # each index is held to its bound on the probes; the seeded answers'
    # recall depends on the seed (a random 64-d vector's ten nearest are
    # near-ties), so it is reported, not gated
    for ix in ("lsh", "ivf", "pq"):
        rec = recalls.get((ix, "probe"), [])
        if rec and sum(rec) / len(rec) < ANN_RECALL_BOUND:
            problems.append(f"{ix} mean recall@10 on the probes "
                            f"{sum(rec) / len(rec):.3f} < {ANN_RECALL_BOUND}")

    return problems, failed, recalls


# ---------------------------------------------------------------- ingest

def replay(data_dir, batch_dir, batches, head_def):
    """Expected HEAD, pinned-version and change-feed answers per batch; the
    HEAD cohort is the same SQL translation the analyst checks use."""
    head_sql = cohort_sql({"door": "api", "def": head_def})
    con = duckdb.connect()
    cols = ["event_id", "user_id", "event_type", "value"]
    state = pd.read_parquet(os.path.join(data_dir, "events.parquet"), columns=cols)
    exp = {}
    for b in batches:
        ins = pd.read_parquet(os.path.join(batch_dir, b["insert"]), columns=cols)
        state = pd.concat([state, ins], ignore_index=True)
        g = state.assign(c=np.rint(state["value"] * 100).astype(np.int64)) \
            .groupby("event_type").agg(n=("event_id", "size"), value_cents=("c", "sum"),
                                       users=("user_id", "nunique")).reset_index()
        exp[b["id"] + ".pinned"] = frame_ref(g)
        exp[b["id"] + ".changes"] = frame_ref(ins)
        upd = pd.read_parquet(os.path.join(batch_dir, b["update"]), columns=cols)
        state = pd.concat([state[~state["event_id"].isin(upd["event_id"])], upd],
                          ignore_index=True)
        if b["erase"]:
            state = state[~state["user_id"].isin(b["erase"])]
        con.register("events", state)
        exp[b["id"] + ".head"] = sql_ref(con, head_sql)
    return exp


def check_ingest(ops, batches, head_def, data_dir, batch_dir, refs):
    problems = []
    reads = [o for o in ops if o["kind"] in ("head_read", "version_read", "changes_read")]
    if not reads:
        return problems
    last = max(int(o["id"].split(".")[0][1:]) for o in reads)
    if any(f"b{i}.head" not in refs.data for i in range(last + 1)):
        refs.data.update(replay(data_dir, batch_dir, batches[:last + 1], head_def))
        refs.dirty = True
    for o in reads:
        if not o.get("ok"):
            continue
        # after compact, HEAD must still read as it did after its last batch
        ref = refs.data[o["id"].replace(".head_compacted", ".head")]
        why = compare(o["cols"], o["rows"], ref)
        if why:
            problems.append(f"{o['id']}: {why}")
    return problems
