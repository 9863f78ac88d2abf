#!/usr/bin/env python3
"""rtbench — the repo benchmark.

    python3 rtbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  The first run builds the harness and
the engine from source (sbt, offline) into rtbench/target; later runs
reuse the build while the sources are unchanged.  Every run works in a
fresh directory under .bench_build/runs/ with fresh checkpoint and table
roots, generates its inputs from --seed, measures for --seconds (rtdw_live
lands waves for --seconds; warehouse_queries runs the whole passes that
take about --seconds, see PASS_S), checks the outputs, and prints one
JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(and writes the span artifact).  A full record of every run, with the
environment, tails, checks and (traced) spans with self times, is kept
in .bench_build/results/.  A failed correctness check or operation shows
as "correct": false and in "failed"; the run still exits 0.  It exits
non-zero, printing no result, when the engine sources are missing or a
run cannot complete.

Tests of the benchmark's own logic: python3 -m unittest discover -s rtbench

Workloads (see BENCHMARK.json for why each exists):
  rtdw_live          open loop: a wave every INTERVAL_MS through 5 live queries
  warehouse_queries  closed loop, one client, over WAREHOUSE_HEADS on generated tables
"""
import argparse
import contextlib
import fcntl
import hashlib
import importlib.util
import json
import math
import os
import shutil
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
# local[2]: on a 4-vCPU VM, local[4] left no core for the driver, stream
# execution, JIT and GC threads, and both workloads ran slower and less
# steadily there than at local[2] (5 seeds each, medians and quartiles in
# CHANGES.md)
CORES = min(2, os.cpu_count() or 1)
# fixed (-Xms = -Xmx) and pre-touched, so peak RSS follows neither G1's
# heap resizing nor how much of the heap a run happened to cycle through
# (without pre-touch it fell 200-400 MB short in about 1 run in 6); it
# moves with native memory: threads, metaspace, code cache, direct buffers
HEAP = "1536m"

# rtdw_live: one wave every INTERVAL_MS. The busiest hop (dwd_dws) is busy
# 3.5-4.0 s per wave at local[2] on a 4-vCPU VM (the union of its
# micro-batches in the progress events; `hop_busy_s` in the run record),
# and 6-7 s in the slow spells a shared VM goes through. At 8 s each of
# its triggers carries one wave even then, so every wave is its own
# visibility observation and a slower machine does not turn into a queue.
INTERVAL_MS = 8000
TRIGGER_MS = 100    # rtdw_live: processing-time trigger of the ODS->DWD->DWS queries
SERVING_TRIGGER_MS = 1000  # rtdw_live: the serving refresh runs at most once a second
WARMUP_WAVES = 3    # rtdw_live: waves drained in set-up, before timing
WAREHOUSE_SCALE = 1.0  # warehouse_queries: x the rows of the sf0.01 test data
WARM_PASSES = 1        # warehouse_queries: untimed passes after the result-writing one
PASS_S = 4.0           # warehouse_queries: a pass over the heads takes about 4 s at local[2],
                       # so a run of --seconds measures round(seconds / PASS_S) whole passes;
                       # at 17 s, 4 x 13 heads put 13 samples beyond p75
WAREHOUSE_HEADS = [
    "q1_pricing", "q3_shipping", "q5_local_supplier", "q6_forecast", "q12_late_shipping",
    "q14_promo_share", "q18_large_orders", "a1_window_count", "a2_keyed_window_agg",
    "a_pivot_daily", "a_meta_agg", "a_zones_topn", "j_asof_join",
]

JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", f"-Xms{HEAP}", f"-Xmx{HEAP}",
    "-XX:+AlwaysPreTouch", "-XX:-UsePerfData"]


def fail(msg):
    print(f"rtbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------------------
# build

def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile harness + engine once per source state; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {ROOT}/src/main/scala (run from a repo checkout)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = source_digest()
        cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "build.stamp")
        if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == digest:
            return open(cp_file).read()
        tmp = os.path.join(BUILD, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
            "-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData", "-Xmx2g"] + (
            ["-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")]
            if os.path.exists(os.path.expanduser("~/.sbt/repositories")) else [])))
        with open(os.path.join(BUILD, "build.log"), "w") as log:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                 "export Runtime/fullClasspath"], cwd=HERE, env=env, stdout=log,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=840).returncode
        lines = open(os.path.join(BUILD, "build.log")).read().splitlines()
        cp = [ln for ln in lines if ln.startswith("/") and "classes" in ln]
        if rc != 0 or not cp:
            fail(f"build failed (rc={rc}); see {BUILD}/build.log")
        with open(cp_file, "w") as f:
            f.write(cp[-1].strip())
        with open(stamp_file, "w") as f:
            f.write(digest)
        return cp[-1].strip()


# ---------------------------------------------------------------------------
# per-workload inputs and configs

def prep_live(cfg, work, seed, seconds, interval_ms):
    n_timed = max(1, math.ceil(seconds * 1000 / interval_ms))  # waves due in [0, seconds)
    waves, exp = gen.write_stream_waves(seed, WARMUP_WAVES + n_timed, os.path.join(work, "stage"))
    for w in waves:
        w["stage"] = os.path.join(work, "stage", f"wave-{w['wave']:05d}")
    cfg.update(warmup=waves[:WARMUP_WAVES], waves=waves[WARMUP_WAVES:], interval_ms=interval_ms,
               trigger_ms=TRIGGER_MS, serving_trigger_ms=SERVING_TRIGGER_MS, poll_ms=10, drain_timeout_s=60,
               expect_leaderboard_rows=len(exp.leaderboard_rows()))
    return {"expect": exp, "events": sum(w["events"] for w in waves[WARMUP_WAVES:]),
            "input_bytes": sum(w["bytes"] for w in waves)}


def prep_heads(cfg, work, seed, seconds):
    sf = os.path.join(work, "in", "sf")
    rows = gen.write_tables(seed, sf, WAREHOUSE_SCALE)
    out = os.path.join(work, "out")
    os.makedirs(out, exist_ok=True)
    cfg.update(sf_dir=sf, heads=WAREHOUSE_HEADS, out_dir=out, warm_passes=WARM_PASSES,
               passes=max(1, round(seconds / PASS_S)))
    size = sum(os.path.getsize(os.path.join(sf, f)) for f in os.listdir(sf))
    return {"rows": rows, "input_bytes": size}


def lander(cfg, work, proc, landed):
    """The open-loop generator: lands each timed wave at its due time,
    whatever the engine is doing, and records how late it ran."""
    ready = os.path.join(work, "ready.json")
    while not os.path.exists(ready):
        if proc.poll() is not None:
            return
        time.sleep(0.005)
    t0 = json.load(open(ready))["t0_ms"]
    for k, w in enumerate(cfg["waves"]):
        due = t0 + k * cfg["interval_ms"]
        while time.time() * 1000 < due:
            time.sleep(min(0.005, max(0.0, (due - time.time() * 1000) / 1000)))
        if proc.poll() is not None:
            return
        for t in ("topic_log", "topic_db"):
            os.replace(os.path.join(w["stage"], f"{t}.json"),
                       os.path.join(work, "ods", t, f"wave-{w['wave']:05d}.json"))
        landed.append((due, time.time() * 1000))


# ---------------------------------------------------------------------------
# checks

def rows_equal(got, want):
    norm = lambda rs: sorted(tuple(r) for r in rs)  # noqa: E731
    g, w = norm(got), norm(want)
    digest = lambda rs: hashlib.sha256(json.dumps(rs).encode()).hexdigest()[:16]  # noqa: E731
    return g == w, {"rows": len(g), "expected_rows": len(w), "sha": digest(g), "expected_sha": digest(w)}


def check_stream(dump, exp):
    checks = {}
    for name, want in (("sku", exp.sku_table()), ("uv", sorted(list(p) for p in exp.uv)),
                       ("leaderboard", exp.leaderboard_rows())):
        ok, detail = rows_equal(dump[name], want)
        checks[name] = dict(detail, ok=ok)
    return checks


def load_check_oracle():
    spec = importlib.util.spec_from_file_location("check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_heads(cfg):
    out, sf = cfg["out_dir"], cfg["sf_dir"]
    oracles = json.load(open(os.path.join(out, "oracle_sql.json")))
    checks = {"oracled": sorted(oracles)}
    with contextlib.redirect_stdout(sys.stderr):
        checks["oracle_ok"] = load_check_oracle().main(sf, out) == 0
    written = [h for h in cfg["heads"] if os.path.isdir(os.path.join(out, h))]
    checks["outputs_ok"] = len(written) == len(cfg["heads"])
    return checks


# ---------------------------------------------------------------------------
# metrics

def latency_stats(samples):
    """p50 and tail over samples where a failed operation is +inf."""
    p50 = stats.median(samples)
    p, tail, n = stats.tail(samples)
    return p50, {"percentile": p, "value": tail, "n": n}


def finite(x, fallback):
    return x if x != float("inf") else fallback


def hop_busy_s(res):
    """Wall seconds each hop spent in micro-batches inside the measured
    window: the union of its queries' trigger intervals."""
    names = res.get("query_names", {})
    lo, hi = res["setup_end_ms"], res["measured_end_ms"]
    spans = {}
    for p in res["progress"]:
        hop = names.get(p["query"], "").split(".")[0]
        if hop and lo <= p["start"] <= hi:
            spans.setdefault(hop, []).append((p["start"], p["start"] + p["durations"].get("triggerExecution", 0)))
    return {hop: stats.union_length(iv) / 1000 for hop, iv in spans.items()}


def end_to_end(workload, res, prep, setup_s):
    ops = res["ops"]
    lat = [o["latency_s"] if o["ok"] else float("inf") for o in ops]
    p50, tail = latency_stats(lat)
    if workload == "rtdw_live" and tail["value"] != float("inf"):
        # waves first seen by the same read are one observation
        tail["instants"] = len({o["visible_ms"] for o in ops if o["ok"] and o["latency_s"] >= tail["value"]})
    window = (res["measured_end_ms"] - res["setup_end_ms"]) / 1000
    if workload == "rtdw_live":
        # capacity: events landed over the busy time of the busiest hop.
        # The offered rate is fixed, so events over elapsed time would
        # only re-read the latency.
        thr = prep["events"] / max(hop_busy_s(res).values())
    else:
        thr = sum(1 for o in ops if o["ok"]) / window
    return {"setup_s": setup_s, "peak_rss_mb": res["peak_rss_mb"],
            "latency_p50_s": finite(p50, window), "latency_tail_s": finite(tail["value"], window),
            "throughput_per_s": thr}, tail


def build_spans(res):
    """Harness, micro-batch, job and stage spans with parents, and self times."""
    names = res.get("query_names", {})
    spans = [dict(s, kind="harness") for s in res["spans"]]
    nid = max([s["id"] for s in spans], default=0) + 1
    triggers = []
    for p in res["progress"]:
        d = p["durations"]
        trig = {"id": nid, "parent": 0, "name": "trigger:" + names.get(p["query"], p["name"] or "?"),
                "start": p["start"], "end": p["start"] + d.get("triggerExecution", 0), "kind": "trigger",
                "query": p["query"], "batch": p["batch"]}
        nid += 1
        triggers.append(trig)
    by_query = {}
    for t in triggers:
        by_query.setdefault(t["query"], []).append(t)
    inverse = {v: k for k, v in names.items()}

    def containing(cands, t):
        best = None
        for c in cands:
            if c["start"] <= t <= c["end"] and (best is None or c["start"] >= best["start"]):
                best = c
        return best

    # foreachBatch spans (attr "query") belong to their query's trigger
    for s in spans:
        q = s.get("query")
        if q and s["parent"] == 0:
            t = containing(by_query.get(inverse.get(q), []), s["start"])
            if t:
                s["parent"] = t["id"]
    main_thread = [s for s in spans if not s.get("query")]
    jobs = []
    for j in res["jobs"]:
        js = {"id": nid, "name": "job", "start": j["start"], "end": j["end"], "kind": "job",
              "job": j["job"], "parent": 0}
        nid += 1
        if j.get("query"):
            inner = [s for s in spans if s.get("query") and inverse.get(s["query"]) == j["query"]]
            par = containing(inner, j["start"]) or containing(by_query.get(j["query"], []), j["start"])
        else:
            par = containing(main_thread, j["start"])
        js["parent"] = par["id"] if par else 0
        jobs.append(js)
    job_ids = {j["job"]: j["id"] for j in jobs}
    stage_spans = []
    for st in res["stages"]:
        if st["start"] is None or st["end"] is None:
            continue
        stage_spans.append({"id": nid, "parent": job_ids.get(st["job"], 0), "name": "stage",
                            "start": st["start"], "end": st["end"], "kind": "stage",
                            "tasks": st["tasks"]})
        nid += 1
    allspans = spans + triggers + jobs + stage_spans
    selfs = stats.self_times(allspans)
    for s in allspans:
        s["self_ms"] = selfs[s["id"]]
    return allspans, triggers, jobs


def per_layer(res, prep, cores):
    lo, hi = res["setup_end_ms"], res["measured_end_ms"]
    inwin = lambda x: x["start"] is not None and lo <= x["start"] <= hi  # noqa: E731
    spans, triggers, jobs = build_spans(res)
    phases = [dict(p, name="plan." + p["phase"]) for p in res["query_phases"]] + \
        [s for s in res["spans"] if s["name"].startswith("plan.")]
    phases = [p for p in phases if inwin(p)]

    def phase_s(name):
        return sum(p["end"] - p["start"] for p in phases if p["name"] == name) / 1000

    analysis = [p for p in phases if p["name"] == "plan.analysis"]
    build_s = 0.0
    for b in (s for s in res["spans"] if s["name"] == "head.build" and inwin(s)):
        inside = sum(max(0.0, min(b["end"], a["end"]) - max(b["start"], a["start"])) for a in analysis)
        build_s += max(0.0, (b["end"] - b["start"]) - inside) / 1000
    win_triggers = [t for t in triggers if inwin(t)]
    stream_planning = sum(p["durations"].get("queryPlanning", 0) for p in res["progress"]
                          if lo <= p["start"] <= hi) / 1000
    # driver time inside the benchmark's units of work not covered by a job
    work = win_triggers or [s for s in res["spans"] if s["name"] == "head" and inwin(s)]
    win_jobs = [j for j in jobs if inwin(j)]
    gap = 0.0
    for w in work:
        covered = stats.union_length([(max(w["start"], j["start"]), min(w["end"], j["end"]))
                                       for j in win_jobs if j["end"] > w["start"] and j["start"] < w["end"]])
        gap += (w["end"] - w["start"]) - covered
    stg = [s for s in res["stages"] if s["start"] is not None and lo <= s["start"] <= hi]
    tasks = sum(s["tasks"] for s in stg)
    task_s = sum(s["task_ms"] for s in stg) / 1000
    window = (hi - lo) / 1000
    io = res["io"]
    return {
        "head.build_s": build_s,
        "plan.analysis_s": phase_s("plan.analysis"),
        "plan.optimization_s": phase_s("plan.optimization"),
        "plan.planning_s": phase_s("plan.planning") + stream_planning,
        "exec.driver_gap_s": gap / 1000,
        "sched.jobs": len(win_jobs),
        "sched.stages": len(stg),
        "sched.tasks": tasks,
        "sched.empty_task_ratio": (sum(s["empty_tasks"] for s in stg) / tasks) if tasks else 0.0,
        "exec.task_s": task_s,
        "exec.task_cpu_s": sum(s["cpu_ns"] for s in stg) / 1e9,
        "exec.gc_s": sum(s["gc_ms"] for s in stg) / 1000,
        "exec.input_bytes": sum(s["input_bytes"] for s in stg),
        "exec.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stg),
        "exec.shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in stg),
        "exec.spill_bytes": sum(s["spill_bytes"] for s in stg),
        "exec.core_utilization": task_s / (window * cores) if window > 0 else 0.0,
        "io.files": io.get("files", 0),
        "io.space_amp": io.get("bytes", 0) / prep["input_bytes"],
    }, spans


def stream_layers(res, prep, landed):
    """Hop, state, serve, io and generator numbers of a stream run."""
    names = res.get("query_names", {})
    lo, hi = res["setup_end_ms"], res["measured_end_ms"]
    out = {}
    for hop in ("ods_dwd", "dwd_dws", "dws_serving"):
        ps = [p for p in res["progress"] if names.get(p["query"], "").startswith(hop + ".")
              and lo <= p["start"] <= hi]
        d = lambda k: sum(p["durations"].get(k, 0) for p in ps) / 1000  # noqa: E731
        out[hop] = {"batches": len(ps), "rows_in": sum(p["rows_in"] for p in ps),
                    "trigger_s": d("triggerExecution"), "add_batch_s": d("addBatch"),
                    "planning_s": d("queryPlanning"), "offsets_s": d("latestOffset") + d("getBatch"),
                    "commit_s": d("walCommit") + d("commitOffsets")}
    ps = [p for p in res["progress"] if lo <= p["start"] <= hi]
    last = {}
    for p in res["progress"]:
        last[p["query"]] = p
    out["state"] = {"rows": sum(p["state_rows"] for p in last.values()),
                    "bytes": sum(p["state_bytes"] for p in last.values()),
                    "commit_s": sum(p["state_commit_ms"] for p in ps) / 1000,
                    "late_dropped": sum(p["late_dropped"] for p in ps)}
    if "serve_reads_s" in res:
        r = res["serve_reads_s"]
        out["serve"] = {"reads": len(r), "read_s": sum(r), "read_p50_s": stats.median(r) if r else None,
                        "reader_busy_share": sum(r) / ((hi - lo) / 1000)}
    out["hop_busy_s"] = hop_busy_s(res)
    io = res["io"]
    out["io"] = {"fact_deltas": io.get("fact_deltas"), "compactions_upto": io.get("compacted_upto"),
                 "files": io.get("files"), "space_amp": io.get("bytes", 0) / prep["input_bytes"]}
    if landed is not None:
        out["gen"] = {"events": prep["events"], "lag_max_s": max((a - d for d, a in landed), default=0) / 1000,
                      "landed": len(landed)}
    return out


# ---------------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True,
                    choices=["rtdw_live", "warehouse_queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--interval-ms", type=int, default=INTERVAL_MS,
                    help="rtdw_live: time between waves (default %(default)s)")
    a = ap.parse_args()

    classpath = build()
    start = time.time()  # set-up starts here: the build is not part of it
    runs = os.path.join(BUILD, "runs")
    work = os.path.join(runs, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cfg = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": bool(a.trace),
           "cores": CORES, "work": work}
    live = a.workload == "rtdw_live"
    prep = prep_live(cfg, work, a.seed, a.seconds, a.interval_ms) if live else prep_heads(cfg, work, a.seed, a.seconds)
    cfg_path, res_path = os.path.join(work, "config.json"), os.path.join(work, "result.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)

    with open(os.path.join(work, "jvm.log"), "w") as log:
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        proc = subprocess.Popen(["java", f"-Djava.io.tmpdir={tmp}"] + JVM_OPTS +
                                ["-cp", classpath, "rtbench.Main", cfg_path, res_path],
                                cwd=work, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        landed = [] if live else None
        t = None
        if landed is not None:
            t = threading.Thread(target=lander, args=(cfg, work, proc, landed), daemon=True)
            t.start()
        try:
            rc = proc.wait(timeout=170 - (time.time() - start))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
        if t is not None:
            t.join(timeout=5)
    if rc != 0 or not os.path.exists(res_path):
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        fail(f"engine run failed (rc={rc}):\n{tail}")
    res = json.load(open(res_path))
    res["exited_ms"] = time.time() * 1000

    setup_s = res["setup_end_ms"] / 1000 - start
    metrics, tail = end_to_end(a.workload, res, prep, setup_s)
    if live:
        checks = {"tables": check_stream(res["dump"], prep["expect"])}
        checks["ok"] = all(c["ok"] for c in checks["tables"].values())
    else:
        checks = check_heads(cfg)
        checks["ok"] = checks["oracle_ok"] and checks["outputs_ok"]
    failed = sum(1 for o in res["ops"] if not o["ok"])
    attempted = len(res["ops"])
    correct = bool(checks["ok"]) and failed == 0

    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "correct": correct, "attempted": attempted, "failed": failed,
              "failed_share": failed / attempted, "end_to_end": metrics, "latency_tail": tail,
              "checks": checks, "ops": res["ops"],
              "timeline_s": {k: round(v / 1000 - start, 3) for k, v in [
                  ("jvm_start", res["env"]["jvm_start_ms"]), ("setup_end", res["setup_end_ms"]),
                  ("measured_end", res["measured_end_ms"]), ("jvm_exit", res["exited_ms"])] +
                  list(res.get("teardown_ms", {}).items())},
              "env": dict(res["env"], nproc=os.cpu_count(), cores=CORES, heap=HEAP,
                          git_sha=git_sha(), source_digest=source_digest()[:16], input_bytes=prep["input_bytes"],
                          input_rows=prep.get("rows"), events=prep.get("events"))}
    if live:
        record["hop_busy_s"] = hop_busy_s(res)
        record["env"].update(interval_ms=a.interval_ms, trigger_ms=TRIGGER_MS, warmup_waves=WARMUP_WAVES)
    else:
        record["env"].update(heads=WAREHOUSE_HEADS, scale=WAREHOUSE_SCALE)
    if a.trace:
        layers, spans = per_layer(res, prep, CORES)
        record["per_layer"] = layers
        if live:
            record["stream_layers"] = stream_layers(res, prep, landed)
        record["tracing_overhead"] = tracing_overhead(a.workload, metrics)
        record["spans"] = spans
        out = report(layers, "per_layer")
    else:
        out = report(metrics, "end_to_end")
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    summary = {k: record[k] for k in ("correct", "attempted", "failed", "failed_share", "checks")}
    print(json.dumps(summary, default=str)[:4000], file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": out}))


def report(values, kind):
    """The metrics BENCHMARK.json declares under `kind`, with its units."""
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))[kind]
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}


def tracing_overhead(workload, traced):
    """Traced vs the median of the untraced runs of the same workload
    recorded so far, if any."""
    results = os.path.join(BUILD, "results")
    cands = [os.path.join(results, f) for f in os.listdir(results)
             if f.startswith(workload + "-") and f.endswith("-trace0.json")] if os.path.isdir(results) else []
    if not cands:
        return None
    base = [json.load(open(c))["end_to_end"] for c in cands]
    out = {"untraced_runs": len(base)}
    for k in traced:
        m = stats.median([b[k] for b in base if b.get(k)] or [0])
        if m:
            out[k] = traced[k] / m - 1
    return out


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


if __name__ == "__main__":
    main()
