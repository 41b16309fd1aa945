"""Seeded inputs for the three workloads.

Everything here is a pure function of (workload, scale, seed): the same
seed always gives the same cohort session, query vectors and CDC
batches. The engine receives only these generated inputs.
"""
import json
import os
import random
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]

# Fixed ED reports and star-join OLAP queries interleaved with the
# ad-hoc cohorts of every analyst round (graft's registered query keys).
FIXED_KEYS = ["c04_hourly_census", "c06_los_percentiles", "c18_monthly_report",
              "c16_sequence_within", "q01_pricing_summary", "q03_multijoin_revenue",
              "q12_rollup"]
ROUNDS = 12  # drawn ahead; a run stops at its time limit, far below this
# Each index serves, every round, the corpus vectors PROBE_IDS (the
# evidence's own query form: docs/rowsonly_evidence.json measures recall
# for corpus vector 0) and SEEDED_PER_ROUND seeded random vectors. The
# recall bound is held per index on the probes, whose answers do not
# depend on the seed; the seeded answers' recall is reported.
PROBE_IDS = [0, 1, 2, 3]
SEEDED_PER_ROUND = 1
# nightly imports between two compactions; README says where each rate
# of the ingest workload comes from
INGEST_BATCHES_PER_ROUND = 5
ERASED_PATIENTS = 5
BASE_SEED = 42  # the fixed sf tables every workload reads
REFRESH_SEED = 7  # refresh vectors do not depend on --seed (see README)
REFRESH_N = 1


def gen_tables(repo, scale, seed, out):
    """Generate the star schema with the repo's own generator."""
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    os.makedirs(out, exist_ok=True)
    subprocess.run([sys.executable, os.path.join(repo, "tools", "gen_sf.py"),
                    str(scale), out, str(seed)], check=True,
                   stdout=subprocess.DEVNULL)
    open(os.path.join(out, "_SUCCESS"), "w").close()
    return out


# ---------------------------------------------------------------- analyst

def _concept(rng, ranges=True):
    c = {"eventType": rng.choice(EVENT_TYPES)}
    if ranges and rng.random() < 0.3:
        lo = float(rng.choice([0, 10, 25, 50, 100]) + rng.randint(0, 9))
        c["minValue"] = lo
        if rng.random() < 0.6:
            c["maxValue"] = lo + rng.choice([25, 50, 100, 200])
    if ranges and rng.random() < 0.2:
        c["codeIn"] = sorted({str(rng.randrange(100))
                              for _ in range(rng.randint(3, 30))})
    return c


def _panel(rng, negated=False, per_encounter=False):
    p = {"concepts": [_concept(rng) for _ in range(rng.choice([1, 2, 3]))]}
    if negated:
        p["negated"] = True
    elif per_encounter:
        p["perEncounter"] = True
        p["minOccurrences"] = rng.choice([1, 2])
    else:
        p["minOccurrences"] = rng.choice([1, 2, 3, 5])
    return p


# The shape of every round's cohort i is fixed (front door, panel count,
# NOT panel, encounter scope, window); the seed draws concepts and every
# literal. A seed thus changes what is asked, never how much is asked.
SHAPES = [  # (door, panels, negated panel, per-encounter panel, window, scope)
    ("api", 1, False, False, True, "patient"),
    ("api", 2, True, True, False, "patient"),
    ("api", 3, True, False, True, "encounter"),
    ("sql", 1, False, False, False, "patient"),
    ("sql", 2, True, False, True, "patient"),
    ("sql", 2, False, False, True, "encounter"),
    ("anchored", 1, False, False, False, None),
]


def _cohort(rng, cid, shape):
    door, n, neg, per_enc, window, scope = shape
    panels = [_panel(rng, per_encounter=per_enc)] + \
        [_panel(rng, negated=neg and i == n - 2) for i in range(n - 1)]
    op = {"id": cid, "kind": "cohort", "door": door}
    if door == "anchored":
        op["anchor"] = json.dumps(_concept(rng, ranges=False))
        op["days"] = rng.choice([1, 3, 7, 14])
        op["def"] = json.dumps({"panels": panels})
        return op
    d = {"panels": panels}
    if window:
        start = rng.randint(1, 24)
        d["from"] = f"2024-01-{start:02d}"
        end = min(start + rng.randint(3, 14), 32)
        d["until"] = "2024-02-01" if end == 32 else f"2024-01-{end:02d}"
    if scope == "encounter":
        d["scope"] = "encounter"
    op["def"] = json.dumps(d)
    return op


def analyst_plan(seed):
    warm = [_cohort(random.Random(1234), "warm.c0", SHAPES[0])]
    rounds = []
    for r in range(ROUNDS):
        rng = random.Random(f"analyst/{seed}/{r}")
        cohorts = [_cohort(rng, f"r{r}.c{i}", sh) for i, sh in enumerate(SHAPES)]
        fixed = [{"id": f"r{r}.{k}", "kind": "fixed", "key": k} for k in FIXED_KEYS]
        # one order for every seed: the first run of each plan shape pays
        # JIT and codegen at the same place in every run
        rounds.append([o for pair in zip(fixed, cohorts) for o in pair])
    return {"warm": warm, "rounds": rounds}


# ---------------------------------------------------------------- corpus

def _unit(rng, n):
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return [[float(x) for x in row] for row in v.astype(np.float32)]


def corpus_plan(seed, data_dir):
    emb = pq.read_table(os.path.join(data_dir, "embeddings.parquet"))
    ids = emb["vec_id"].to_pylist()
    vec = dict(zip(ids, emb["embedding"].to_pylist()))
    n_emb = max(ids) + 1
    probes = [{"id": f"p{i}", "vec": vec[i]} for i in PROBE_IDS]
    rounds = [{"queries": probes + [
        {"id": f"q{j}", "vec": v}
        for j, v in enumerate(_unit(np.random.default_rng([seed, r]), SEEDED_PER_ROUND))]}
        for r in range(ROUNDS)]
    return {"rounds": rounds,
            "refresh_vectors": _unit(np.random.default_rng(REFRESH_SEED), REFRESH_N),
            "refresh_ids": [n_emb + i for i in range(REFRESH_N)]}


# ---------------------------------------------------------------- ingest

EVENT_SCHEMA = pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                          ("user_id", pa.int64()), ("event_type", pa.string()),
                          ("value", pa.float64()), ("props", pa.string())])


DAY_US = 86_400_000_000


def _events(rng, ids, n_users, day0_us, days):
    """Events with ids `ids`, spread over `days` days from `day0_us`."""
    n = len(ids)
    return pa.table({
        "event_id": np.asarray(ids, dtype=np.int64),
        "ts": pa.array(day0_us + rng.integers(0, days * DAY_US, n), type=pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
    }, schema=EVENT_SCHEMA)


def ingest_batches(seed, base_events, out):
    """Every round's CDC batches, in the order they are applied.

    Each batch is one nightly import: the next day's new events (the base
    table spans whole days, so a day is its row count over its day count),
    latest-wins corrections of earlier events through a merge on event_id,
    a tenth of the import's size, and on every third night an erasure of
    ERASED_PATIENTS patients. Returns the batch descriptors the JVM side
    applies in order.
    """
    done = os.path.join(out, "batches.json")
    if os.path.exists(done):
        return json.load(open(done))
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 17])
    ids = base_events["event_id"].to_numpy()
    users = int(base_events["user_id"].to_numpy().max()) + 1
    ts = base_events["ts"].cast(pa.int64()).to_numpy()
    day0 = int(ts.min()) // DAY_US
    days = int(ts.max()) // DAY_US - day0 + 1
    n_ins = round(len(ids) / days)
    n_upd = n_ins // 10
    next_id = int(ids.max()) + 1
    batches = []
    for b in range(ROUNDS * INGEST_BATCHES_PER_ROUND):
        ins = _events(rng, range(next_id, next_id + n_ins), users,
                      (day0 + days + b) * DAY_US, 1)
        next_id += n_ins
        # a correction may hit an erased event: the merge then re-inserts it
        upd = _events(rng, np.sort(rng.choice(next_id, n_upd, replace=False)), users,
                      day0 * DAY_US, days + b + 1)
        paths = {k: f"b{b}_{k}.parquet" for k in ("insert", "update")}
        pq.write_table(ins, os.path.join(out, paths["insert"]))
        pq.write_table(upd, os.path.join(out, paths["update"]))
        erase = []
        if b % 3 == 2:
            erase = sorted(int(u) for u in rng.choice(users, ERASED_PATIENTS, replace=False))
        batches.append({"id": f"b{b}", **paths, "erase": erase})
    json.dump(batches, open(done, "w"))
    return batches


# the HEAD read: patients with two or more purchases of 100 or more and
# no error of 150 or more (421 of the base table's 1500 patients), so the
# answer moves with every import, correction and erasure
INGEST_COHORT = {"panels": [
    {"concepts": [{"eventType": "purchase", "minValue": 100.0}], "minOccurrences": 2},
    {"concepts": [{"eventType": "error", "minValue": 150.0}], "negated": True}]}


def ingest_plan(batches, batch_dir):
    """Batches with their files resolved under the run's own copy."""
    batches = [dict(b, insert=os.path.join(batch_dir, b["insert"]),
                    update=os.path.join(batch_dir, b["update"])) for b in batches]
    per = INGEST_BATCHES_PER_ROUND
    return {"head_cohort": json.dumps(INGEST_COHORT),
            "rounds": [{"batches": batches[r * per: (r + 1) * per]}
                       for r in range(ROUNDS)]}
