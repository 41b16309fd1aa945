#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload analyst --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds graft offline (sbt compile, only
when the sources changed) and the benchmark's own JVM harness, makes the
seeded inputs, runs the workload in one JVM against local[nproc], checks
every answer outside the engine and prints, as its last line,
{"correct", "attempted", "failed", "metrics"}. --trace 1 adds the
Spark listeners and module spans and prints the per-layer metrics
instead of the end-to-end ones.

Other modes:
    --selftest       each workload briefly at sf0.001, plus a run with a
                     deliberately wrong answer and a deliberately failing
                     operation; exits 1 unless both are caught
    --rebuild-refs   drop the cached references of (workload, scale, seed)
                     so this run recomputes them
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
JARS = "/opt/spark/jars"
SCALA = "2.13.17"
DEADLINE_S = 165  # a run must end within 180 s (building aside)
sys.path.insert(0, HERE)
import inputs  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("analyst", "corpus", "ingest")
SCALE = {"analyst": 0.1, "corpus": 0.01, "ingest": 0.1}
# the read queries whose latency is query_gmean_s
QUERY_KINDS = {"analyst": ("fixed", "cohort"), "corpus": ("ann",),
               "ingest": ("head_read",)}
SPARK = ("planning_s", "codegen_compile_s", "codegen_compiles", "jobs", "stages",
         "tasks", "idle_s", "task_deser_s", "executor_run_s", "executor_cpu_s",
         "gc_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
         "scan_bytes")
MODULES = ("Panels.cohort", "GraftExtensions.graft_cohort", "Cohort.report",
           "Temporal.query", "Relational.query", "Similarity.index_build",
           "Dedup.index_build", "Similarity.serve", "Similarity.refresh",
           "Dedup.pipeline", "TextAnalysis.pipeline", "Pipeline.release",
           "Snapshots.commit", "Snapshots.merge", "Snapshots.delete",
           "Snapshots.read_head", "Snapshots.read_version", "Snapshots.changes",
           "Snapshots.compact")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def med(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------- build

def _digest(paths):
    h = hashlib.sha1()
    for p in sorted(paths):
        h.update(os.path.relpath(p, REPO).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _stamp_ok(name, digest):
    p = os.path.join(WORK, "build", name + ".stamp")
    return os.path.exists(p) and open(p).read() == digest


def _stamp(name, digest):
    open(os.path.join(WORK, "build", name + ".stamp"), "w").write(digest)


def build():
    """graft via its own offline sbt build, then the harness via scalac."""
    if not (os.path.isfile(os.path.join(REPO, "build.sbt"))
            and os.path.isdir(os.path.join(REPO, "src", "main", "scala"))):
        raise SystemExit("graft's sources (build.sbt, src/main/scala) are not "
                         "beside perfbench/; run from a full checkout")
    os.makedirs(os.path.join(WORK, "build"), exist_ok=True)
    srcs = [os.path.join(REPO, "build.sbt")] + \
        glob.glob(os.path.join(REPO, "project", "*.properties")) + \
        glob.glob(os.path.join(REPO, "project", "*.sbt")) + \
        [p for p in glob.glob(os.path.join(REPO, "src", "main", "**"), recursive=True)
         if os.path.isfile(p)]
    prog = _digest(srcs)
    classes = os.path.join(REPO, "target", "scala-2.13", "classes")
    if not (_stamp_ok("program", prog) and os.path.isdir(os.path.join(classes, "graft"))):
        log("building graft (sbt compile, offline)")
        env = dict(os.environ, COURSIER_MODE="offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = "-Xmx2g -Dsbt.offline=true" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
        with open(os.path.join(WORK, "build", "sbt.log"), "w") as out:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                                cwd=REPO, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=800).returncode
        if rc != 0:
            raise SystemExit(f"sbt compile failed; see {out.name}")
        _stamp("program", prog)
    hsrc = glob.glob(os.path.join(HERE, "harness", "*.scala"))
    hdig = _digest(hsrc) + prog
    hout = os.path.join(WORK, "build", "harness")
    if not _stamp_ok("harness", hdig):
        log("building the harness (scalac)")
        shutil.rmtree(hout, ignore_errors=True)
        os.makedirs(hout)
        jars = sorted(glob.glob(os.path.join(JARS, "*.jar")))
        comp = [os.path.join(JARS, f"scala-{n}-{SCALA}.jar")
                for n in ("compiler", "library", "reflect")]
        rc = subprocess.run(["java", "-Xss8m", "-cp", ":".join(comp), "scala.tools.nsc.Main",
                             "-d", hout, "-classpath", ":".join([classes] + jars)] + hsrc,
                            stdin=subprocess.DEVNULL, stdout=sys.stderr).returncode
        if rc != 0:
            raise SystemExit("harness compile failed")
        _stamp("harness", hdig)
    return [hout, classes, os.path.join(JARS, "*")]


# ---------------------------------------------------------------- inputs

def cache_dir(*parts):
    """Inputs and references, keyed by the code that makes them."""
    version = _digest([os.path.join(HERE, "inputs.py"), os.path.join(HERE, "oracle.py"),
                       os.path.join(REPO, "tools", "gen_sf.py")])[:12]
    return os.path.join(WORK, "cache", version, *parts)


def prepare(workload, seed, scale, run):
    """Seeded plan plus a private copy of every input under `run`."""
    src = inputs.gen_tables(REPO, scale, inputs.BASE_SEED,
                            cache_dir("tables", f"sf{scale}_s{inputs.BASE_SEED}"))
    if workload == "analyst":
        plan = inputs.analyst_plan(seed)
    elif workload == "corpus":
        plan = inputs.corpus_plan(seed, src)
    else:
        import pyarrow.parquet as pq
        cache = cache_dir("ingest", f"sf{scale}_s{seed}")
        batches = inputs.ingest_batches(
            seed, pq.read_table(os.path.join(src, "events.parquet")), cache)
        shutil.copytree(cache, os.path.join(run, "in", "batches"))
        plan = inputs.ingest_plan(batches, os.path.join(run, "in", "batches"))
        plan["batch_list"] = batches
    plan["data"] = os.path.join(run, "in", "data")
    shutil.copytree(src, plan["data"])
    return plan


# ---------------------------------------------------------------- the JVM

def run_jvm(cp, job_path, run, log_path, t0):
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    cmd = ["java", "-Xmx2g", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={run}/tmp", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", *opens,
           "-cp", ":".join(cp), "org.apache.spark.graftbench.Main", job_path]
    env = dict(os.environ, GRAFT_SCRATCH=os.path.join(run, "scratch"),
               SPARK_LOCAL_DIRS=os.path.join(run, "local"))
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env, start_new_session=True)

        def stop(*_):
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
            raise SystemExit("interrupted")
        old = signal.signal(signal.SIGTERM, stop)
        try:
            rc = p.wait(timeout=max(10.0, DEADLINE_S - (time.monotonic() - t0)))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit("the workload did not finish within the run deadline")
        except KeyboardInterrupt:
            stop()
        finally:
            signal.signal(signal.SIGTERM, old)
    if rc != 0:
        raise SystemExit(f"the JVM exited with {rc}; see {log_path}")


def steal_s():
    """CPU time the host took from this machine's CPUs, all CPUs summed."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def read_ops(out):
    setup, ops, footprints, phase = [], [], [], "setup"
    for line in open(os.path.join(out, "ops.jsonl")):
        o = json.loads(line)
        if o.get("phase") == "measure":
            phase = "measure"
        elif "footprint" in o:
            footprints.append(o["footprint"])
        elif "id" in o:
            (setup if phase == "setup" else ops).append(o)
    return setup, ops, footprints


# ---------------------------------------------------------------- reduce

def metrics_of(workload, trace, job, ops, failed_ids, summ, footprints, recalls):
    ok = [o for o in ops if o.get("ok") and o["id"] not in failed_ids]
    queries = [o["sec"] for o in ok if o["kind"] in QUERY_KINDS[workload]]
    if not trace:
        # a geometric mean, not a median: with 3-14 mixed queries a run's
        # median jumps between query classes (plan shapes an order of
        # magnitude apart), and every query's relative change counts alike
        return {"setup_s": (med(summ["setup_s"]), "s"),
                "live_mb": (summ["live_mb"], "MB"),
                "query_gmean_s": (math.exp(sum(map(math.log, queries)) / len(queries)), "s"),
                "round_s": (med(summ["round_s"]), "s"),
                "round_cpu_s": (med(summ["round_cpu_s"]), "s")}
    rounds = max(1, summ["rounds"])
    eng = summ["engine"]
    m = {f"spark.{k}": (eng.get(k, 0.0) / rounds,
                        "bytes" if k.endswith("bytes") else
                        "count" if k in ("jobs", "stages", "tasks", "codegen_compiles")
                        else "s") for k in SPARK}
    m["spark.scan_rows_per_result_row"] = (
        summ["read_scan_rows"] / max(1, summ["read_result_rows"]), "ratio")
    load = summ["setup_spans"].get("Tables.load", {"n": 1, "self_s": 0.0})
    m["Tables.load_s"] = (load["self_s"] / max(1, load["n"]), "s")
    for name in MODULES:
        sp = summ["spans"].get(name, {"n": 1, "self_s": 0.0})
        m[f"{name}_s"] = (sp["self_s"] / max(1, sp["n"]), "s")
    for ix in ("", ".lsh", ".ivf", ".pq"):
        rec = [r for (i, _), rs in recalls.items() if ix in ("", "." + i) for r in rs]
        m["Similarity.recall_at_10" + ix] = (sum(rec) / len(rec) if rec else 0.0, "ratio")
    m["Snapshots.dirs_at_head"] = (med([f["head_dirs"] for f in footprints]), "count")
    m["Snapshots.files_written"] = (med([f["files_written"] for f in footprints]), "count")
    m["Snapshots.bytes_written"] = (med([f["bytes_written"] for f in footprints]), "bytes")

    def secs(kind):
        return [o["sec"] for o in ok if o["kind"] == kind]
    by_round = {}
    for o in ok:
        if o["kind"] == "build":
            r = o["id"].split(".")[0]
            by_round[r] = by_round.get(r, 0.0) + o["sec"]
    pipe = secs("pipeline")
    n_docs = 0
    if workload == "corpus":
        import pyarrow.parquet as pq
        n_docs = pq.read_metadata(os.path.join(job["data"], "documents.parquet")).num_rows
    commits = [o for o in ok if o["kind"] == "commit"]
    rows_committed = 0
    if workload == "ingest":
        import pyarrow.parquet as pq
        sizes = {b["id"]: pq.read_metadata(b["insert"]).num_rows +
                 pq.read_metadata(b["update"]).num_rows
                 for rnd in job["rounds"] for b in rnd["batches"]}
        rows_committed = sum(sizes[o["id"].split(".")[0]] for o in commits
                             if o["id"].endswith(".append"))
    wl = {"queries_per_s": (len(queries) / summ["measure_s"], "1/s"),
          "index_build_s": (med(list(by_round.values())), "s"),
          "ann_query_p50_s": (med(secs("ann")), "s"),
          "pipeline_docs_per_s": (n_docs * len(pipe) / sum(pipe) if pipe else 0.0, "docs/s"),
          "commit_p50_s": (med([o["sec"] for o in commits]), "s"),
          "rows_committed_per_s": (rows_committed / sum(o["sec"] for o in commits)
                                   if commits else 0.0, "rows/s"),
          "head_read_p50_s": (med(secs("head_read")), "s"),
          "stored_bytes_per_live_byte": (med([f["head_bytes"] / f["live_bytes"]
                                              for f in footprints if f["live_bytes"]]),
                                         "ratio")}
    m.update(wl)
    return m


def one_run(cp, workload, seed, seconds, trace, scale, inject=""):
    """One run; `inject` plants a wrong answer and/or a failing operation
    (the self-test's "wrong,fail")."""
    t0 = time.monotonic()
    run = os.path.join(WORK, "runs", f"{workload}_s{seed}_t{trace}_{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    for d in ("scratch", "warehouse", "local", "tmp", "out", "work"):
        os.makedirs(os.path.join(run, d))
    job = prepare(workload, seed, scale, run)
    job.update(workload=workload, seconds=seconds, trace=trace,
               cpus=len(os.sched_getaffinity(0)), setups=3, inject=inject,
               out=os.path.join(run, "out"), work=os.path.join(run, "work"),
               warehouse=os.path.join(run, "warehouse"), local=os.path.join(run, "local"))
    job_path = os.path.join(run, "job.json")
    json.dump(job, open(job_path, "w"))
    steal0 = steal_s()
    run_jvm(cp, job_path, run, os.path.join(run, "jvm.log"), t0)
    steal = steal_s() - steal0

    out = os.path.join(run, "out")
    summ = json.load(open(os.path.join(out, "summary.json")))
    setup, ops, footprints = read_ops(out)
    oracle_sql = json.load(open(os.path.join(out, "oracle_sql.json")))
    ref_dir = cache_dir("refs")
    refs = oracle.Refs(os.path.join(ref_dir, f"{workload}_sf{scale}_s{seed}.json"))
    # fixed-key and pipeline answers do not depend on the seed
    base = oracle.Refs(os.path.join(ref_dir, f"{workload}_sf{scale}_base.json"))
    problems = [f"set-up {o['id']} failed: {o.get('err')}" for o in setup if not o.get("ok")]
    failed_ids, recalls = [], {}
    if workload == "analyst":
        problems += oracle.check_analyst(setup + ops, job, job["data"], oracle_sql, refs, base)
    elif workload == "corpus":
        p, failed_ids, recalls = oracle.check_corpus(ops, job, job["data"], out,
                                                     oracle_sql, base)
        problems += p
    else:
        problems += oracle.check_ingest(ops, job["batch_list"], job["head_cohort"],
                                        job["data"], os.path.join(run, "in", "batches"), refs)
    refs.save()
    base.save()
    failed_ids = set(failed_ids) | {o["id"] for o in ops if not o.get("ok")}
    m = metrics_of(workload, trace, job, ops, failed_ids, summ, footprints,
                   recalls)
    for p in problems[:10]:
        log(f"WRONG: {p}")
    info = {k: summ[k] for k in ("cpus", "nproc", "loadavg_before", "loadavg_after",
                                 "rounds", "measure_s", "context_s")}
    info.update(setup_s=summ["setup_s"], round_s=summ["round_s"], workload=workload, scale=scale, seed=seed,
                local=f"local[{summ['cpus']}]", steal_s=round(steal, 2), wrong=len(problems),
                failed_ids=sorted(failed_ids)[:8])
    print(json.dumps({"info": info}))
    result = {"correct": not problems, "attempted": len(ops), "failed": len(failed_ids),
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}}
    # the record (job, JVM log, out/) stays; a correct run's copies of the
    # inputs and its engine state go
    if not problems:
        for d in ("in", "scratch", "warehouse", "local", "tmp", "work"):
            shutil.rmtree(os.path.join(run, d), ignore_errors=True)
    return result


def selftest(cp):
    """Each workload at sf0.001: clean, then with a wrong answer and a
    failing operation injected. Both must be caught."""
    ok = True
    for w in WORKLOADS:
        res = {}
        for inject in ("", "wrong,fail"):
            res[inject] = one_run(cp, w, seed=3, seconds=1, trace=0, scale=0.001,
                                  inject=inject)
            log(f"selftest {w} inject={inject or 'none'}: "
                f"{json.dumps({k: res[inject][k] for k in ('correct', 'attempted', 'failed')})}")
        clean, bad = res[""], res["wrong,fail"]
        rounds = bad["attempted"] - clean["attempted"]  # one injected op per round
        checks = [clean["correct"], not bad["correct"], rounds >= 1,
                  bad["failed"] == clean["failed"] + rounds]
        log(f"selftest {w}: {'PASS' if all(checks) else 'FAIL'}")
        ok &= all(checks)
    print(json.dumps({"selftest": "pass" if ok else "fail"}))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--rebuild-refs", action="store_true")
    args = ap.parse_args()
    cp = build()
    if args.selftest:
        return selftest(cp)
    if not args.workload:
        ap.error("--workload is required")
    scale = SCALE[args.workload]
    if args.rebuild_refs:
        for p in glob.glob(cache_dir("refs", f"{args.workload}_sf{scale}_*")):
            os.remove(p)
    print(json.dumps(one_run(cp, args.workload, args.seed, args.seconds, args.trace, scale)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
