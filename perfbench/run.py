"""Runs one graft benchmark workload and prints its metrics line.

    python3 perfbench/run.py --workload registry|stream --seed N \
        --seconds S --trace 0|1

Run from the root of a graft checkout. The first run compiles graft's
sources and the benchmark's own (perfbench/src) into $CARGO_TARGET_DIR
(default .bench_build) with the Scala compiler that ships in the Spark
distribution; later runs reuse the classes while the sources are
unchanged. Inputs are generated from the seed into the same directory,
before the JVM starts. The last stdout line is the JSON result; progress
and check failures go to stderr.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
with open(os.path.join(HERE, "..", "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)  # metric names and units

import gen  # noqa: E402
import stats  # noqa: E402

CORES = 4
HEAP = "3g"
JVM_TIMEOUT_S = 170
STREAM_P99_LIMIT_S = 5.0      # ladder rung latency limit
GENERATOR_LATE_LIMIT_MS = 250  # p99 generator lateness that invalidates a stream run
RUNG_GROWTH = 0.2  # backlog slope, as a share of the rate, that counts as growth
WARM_FROM = 2  # registry: pass 0 is cold, pass 1 still settles the JIT
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The jars of the Spark distribution: $SPARK_HOME's, else those of the
    first distribution whose bin/spark-submit is on the PATH."""
    homes = [os.environ.get("SPARK_HOME")] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    sys.exit("perfbench: no Spark distribution found (set SPARK_HOME)")


def _sources(base):
    found = []
    for d, _, files in os.walk(base):
        found += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(found)


def _compile(srcs, classpath, classes):
    """scalac then javac (for mixed sources) into `classes`, unless the
    stamp there matches the sources and classpath."""
    digest = hashlib.sha256(os.pathsep.join(classpath).encode())
    for p in srcs:
        digest.update(p.encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    stamp = classes + ".sha256"
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest.hexdigest():
                return False
    log(f"compiling {len(srcs)} sources into {classes}")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.pathsep.join(classpath)
    java_srcs = [p for p in srcs if p.endswith(".java")]
    subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp",
                    os.path.join(spark_jars(), "*"),
                    "scala.tools.nsc.Main", "-nowarn", "-classpath", cp, "-d", classes] + srcs,
                   check=True)
    if java_srcs:
        subprocess.run(["javac", "-J-XX:-UsePerfData", "-encoding", "UTF-8", "-nowarn", "-cp",
                        classes + os.pathsep + cp, "-d", classes] + java_srcs, check=True)
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return True


def build(root, out):
    """Compiles graft's main sources, then the benchmark's own against
    them; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(root, "src/main/scala/graft")):
        sys.exit("perfbench: run from the root of a graft checkout (src/main/scala/graft missing)")
    jars = os.path.join(spark_jars(), "*")
    graft = os.path.join(out, "classes", "graft")
    bench = os.path.join(out, "classes", "perfbench")
    changed = _compile(_sources(os.path.join(root, "src/main")), [jars], graft)
    resources = os.path.join(root, "src/main/resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, graft, dirs_exist_ok=True)
    if changed:
        shutil.rmtree(bench, ignore_errors=True)
        if os.path.exists(bench + ".sha256"):
            os.remove(bench + ".sha256")
    _compile(_sources(os.path.join(HERE, "src")), [graft, jars], bench)
    return os.pathsep.join([bench, graft, jars])


def launch(classes, workload, seed, seconds, trace, inputs, work):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java", "-XX:-UsePerfData"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              "-cp", classes,
              "perfbench.Main", workload, str(seed), str(seconds), str(trace), inputs, work,
              str(CORES), repr(time.time() * 1000)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"perfbench: JVM exited with {code}")
    with open(os.path.join(work, "raw.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------- metrics

def passes(ops, traced=False):
    """Wall (s) of each pass, keyed by pass number."""
    by = {}
    for o in ops:
        if o["traced"] == traced:
            s, e = by.get(o["pass"], (o["start"], o["end"]))
            by[o["pass"]] = (min(s, o["start"]), max(e, o["end"]))
    return {p: (e - s) / 1000 for p, (s, e) in sorted(by.items())}


def need(xs, what):
    """`xs`, unless it is empty: a metric made from no samples would read
    0 and pass unnoticed, so an empty sample list ends the run."""
    if not xs:
        sys.exit(f"perfbench: no samples for {what}; run invalid")
    return xs


def log_samples(lat):
    p = stats.tail_percentile(len(lat))
    log(f"latency samples: {len(lat)}; highest percentile with ten beyond it: "
        + (f"p{p:g}" if p else "none"))


def e2e_passes(raw, items_per_pass):
    ops = raw["ops"]
    walls = passes(ops)
    warm = need([w for p, w in walls.items() if p >= WARM_FROM], "warm passes")
    lat = need([(o["end"] - o["start"]) / 1000 for o in ops
                if o["pass"] >= WARM_FROM and not o["traced"]],
               "warm executions")
    log_samples(lat)
    pass_s = stats.median(warm)
    return {"cold_pass_s": walls[0], "pass_s": pass_s,
            "latency_p50_s": stats.percentile(lat, 50),
            "latency_p75_s": stats.percentile(lat, 75),
            "throughput_per_s": items_per_pass / pass_s}


def check_registry(raw, digests):
    fails = []
    for o in raw["ops"]:
        if o["error"]:
            fails.append(f"{o['name']} (pass {o['pass']}): {o['error']}")
        elif o["digest"] != digests.get(o["name"]):
            fails.append(f"{o['name']} (pass {o['pass']}): digest {o['digest']} != "
                         f"recorded {digests.get(o['name'])}")
    return len(raw["ops"]), fails


def stream_metrics(raw):
    c = raw["checks"]
    fails = []
    if not c["drained"]:
        fails.append("stream: the topology did not drain within its timeout")
    if c["sink_digest"] != c["expected_digest"]:
        fails.append(f"stream: sink {c['sink_digest']} != Link over offered {c['expected_digest']}")
    if c["folded_counts"] != c["batch_counts"]:
        fails.append(f"stream: folded counts {c['folded_counts']} != batch {c['batch_counts']}")
    late_p99 = stats.percentile(raw["late_ms"], 99)
    if late_p99 > GENERATOR_LATE_LIMIT_MS:
        fails.append(f"stream: generator p99 lateness {late_p99:.0f} ms > "
                     f"{GENERATOR_LATE_LIMIT_MS} ms, run invalid")
    nom = raw["nominal"]
    lat = need([(a - d) / 1000 for _, d, a in raw["arrivals"] if nom["start"] <= d < nom["end"]],
               "nominal-rate arrivals")
    log_samples(lat)
    sink = raw["progress"]["link_sink"]
    batches = need([p["duration_ms"]["triggerExecution"] / 1000 for p in sink
                    if nom["start"] <= p["start"] < nom["end"] and p["rows"] > 0],
                   "nominal-rate sink batches")
    m = {"cold_pass_s": raw["cold_ms"] / 1000, "pass_s": stats.median(batches),
         "latency_p50_s": stats.percentile(lat, 50), "latency_p75_s": stats.percentile(lat, 75),
         "throughput_per_s": stats.median([raw["burst_events"] / (b["drain_ms"] / 1000)
                                           for b in need(raw["bursts"], "bursts")])}
    attempted = c["offered"]
    failed = abs(c["expected_rows"] - c["downstream_rows"]) or (1 if fails else 0)
    return m, attempted, failed, fails


# ----------------------------------------------------------- per layer

def op_spans(op, ev, jobs_by_tag, stages_by_job):
    """The span tree of one traced op: the op itself (root), its build,
    the Catalyst phases, codegen compiles and SQL executions inside it,
    and its jobs and their stages."""
    tag = f"{op['pass']}:{op['name']}"
    within = (op["start"], op["end"])
    spans = [{"id": 0, "kind": "root", "start": op["start"], "end": op["end"]},
             {"id": 1, "kind": "build", "start": op["start"], "end": op["build_end"]}]

    def add(kind, s, e):
        s, e = stats.clip((s, e), within)
        if e > s:
            spans.append({"id": len(spans), "kind": kind, "start": s, "end": e})
    for q in ev["queries"]:
        if within[0] <= q["end"] <= within[1] + 1:
            for ph in q["phases"].values():
                add("phase", ph["start"], ph["end"])
    for cpl in ev["compiles"]:
        if within[0] <= cpl["end"] <= within[1]:
            add("compile", cpl["end"] - cpl["ms"], cpl["end"])
    for x in ev["executions"]:
        if within[0] <= x["start"] <= within[1]:
            add("execution", x["start"], x["end"])
    for j in jobs_by_tag.get(tag, []):
        add("job", j["start"], j["end"])
        for st in stages_by_job.get(j["job"], []):
            add("stage", st["start"], st["end"])
    return spans


def layer_metrics(raw):
    ev = raw["trace_events"]
    jobs_by_tag, stages_by_job = {}, {}
    for j in ev["jobs"]:
        jobs_by_tag.setdefault(j["tag"], []).append(j)
    for st in ev["stages"]:
        stages_by_job.setdefault(st["job"], []).append(st)
    m = {x["name"]: 0.0 for x in BENCH["per_layer"]}
    ops = [o for o in raw["ops"] if o["traced"]]
    n = max(1, len(ops))
    # counters sum over the traced window; per-op figures divide by the
    # number of traced ops (stream: sink micro-batches)
    per = n if ops else max(1, len([p for p in ev["progress"] if p["name"] == "link_sink"]))
    jobs = ev["jobs"]
    stages = ev["stages"]
    for st in stages:
        for k in ("run_ms", "cpu_ms", "gc_ms"):
            m["executor." + k] += st[k] / per
        for k in ("input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                  "output_bytes"):
            m["io." + k] += st[k] / per
        m["scheduler.tasks"] += st["tasks"] / per
        m["scheduler.delay_ms"] += st["delay_ms"] / per
        if len(st["task_ms"]) >= 2 and stats.median(st["task_ms"]) > 0:
            m["executor.task_skew"] = max(m["executor.task_skew"],
                                          max(st["task_ms"]) / stats.median(st["task_ms"]))
    m["scheduler.jobs"] = len(jobs) / per
    m["scheduler.stages"] = len(stages) / per
    for q in ev["queries"]:
        for ph, key in (("analysis", "analysis_ms"), ("optimization", "optimization_ms"),
                        ("planning", "planning_ms")):
            if ph in q["phases"]:
                m["catalyst." + key] += (q["phases"][ph]["end"] - q["phases"][ph]["start"]) / per
        m["catalog.files_read"] += q["files_read"] / per
        m["catalog.scans"] += q["scans"] / per
    m["codegen.compiles"] = len(ev["compiles"]) / per
    m["codegen.compile_ms"] = sum(c["ms"] for c in ev["compiles"]) / per
    m["executor.peak_heap_mb"] = ev["peak_heap_mb"]
    window = sum(o["end"] - o["start"] for o in ops)
    attribution = {}
    if ops:
        for o in ops:
            m["ops.build_ms"] += (o["build_end"] - o["start"]) / n
            tag = f"{o['pass']}:{o['name']}"
            m["ops.build_jobs"] += sum(1 for j in jobs_by_tag.get(tag, [])
                                       if j["start"] <= o["build_end"]) / n
            stage_iv = [(s["start"], s["end"]) for j in jobs_by_tag.get(tag, [])
                        for s in stages_by_job.get(j["job"], [])]
            wall = o["end"] - o["start"]
            m["scheduler.driver_gap_ms"] += (wall - stats.union_length(
                stats.clip(i, (o["start"], o["end"])) for i in stage_iv)) / n
            layers = stats.layer_self_times(op_spans(o, ev, jobs_by_tag, stages_by_job))
            attribution.setdefault(o["name"], []).append(
                (wall, 1 - layers.get("unattributed", 0.0) / wall if wall > 0 else 1.0, layers))
        txn = sum(o["end"] - o["start"] for o in ops if o["name"].startswith("txn"))
        m["txn.key_share"] = txn / window if window else 0.0
        untraced = [w for p, w in passes(raw["ops"]).items() if p >= WARM_FROM]
        traced = [w for p, w in passes(raw["ops"], traced=True).items() if p >= WARM_FROM]
        if untraced and traced:
            m["trace.overhead_ratio"] = stats.median(traced) / stats.median(untraced)
    busy = sum(st["run_ms"] for st in stages)
    if not ops and "bursts" in raw:
        last = raw["bursts"][-1]
        window = last["start"] + last["drain_ms"] - raw["nominal"]["traced_from"]
    m["executor.busy_ratio"] = busy / (CORES * window) if window else 0.0
    stream_layer_metrics(raw, ev, m, jobs_by_tag, stages_by_job)
    return m, attribution


def stream_layer_metrics(raw, ev, m, jobs_by_tag, stages_by_job):
    sink = [p for p in ev["progress"] if p["name"] == "link_sink" and p["rows"] > 0] or \
        [p for p in ev["progress"] if p["rows"] > 0]
    m["stream.batches"] = len(sink)
    for ph in ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit"):
        m[f"stream.{ph}_ms"] = stats.median([p["duration_ms"].get(ph, 0) for p in sink])
    m["stream.rows_per_batch"] = stats.median([p["rows"] for p in sink])
    if "checks" not in raw:
        return
    gaps = []
    for p in sink:
        wall = (p["start"], p["start"] + p["duration_ms"].get("triggerExecution", 0))
        stage_iv = [stats.clip((st["start"], st["end"]), wall)
                    for j in jobs_by_tag.get(f"stream:{p['query']}:{p['batch']}", [])
                    for st in stages_by_job.get(j["job"], [])]
        gaps.append(wall[1] - wall[0] - stats.union_length(stage_iv))
    m["scheduler.driver_gap_ms"] = stats.median(gaps)
    adds = [p["duration_ms"].get("addBatch", 0) for p in sink]
    m["txn.commit_p50_ms"] = stats.percentile(adds, 50)
    m["txn.commit_p99_ms"] = stats.percentile(adds, 99)
    # sink cost against sink history: at the nominal rate batches are alike,
    # and each adds one table version
    nom = raw["nominal"]
    steady = need([p for p in raw["progress"]["link_sink"]
                   if nom["start"] <= p["start"] < nom["end"] and p["rows"] > 0],
                  "nominal-rate sink batches")
    m["stream.addBatch_growth_ms_per_100v"] = 100 * stats.slope(
        [(p["batch"], p["duration_ms"].get("addBatch", 0)) for p in steady])
    untraced = [p["duration_ms"]["triggerExecution"] for p in steady
                if p["start"] < nom["traced_from"]]
    traced = [p["duration_ms"]["triggerExecution"] for p in steady
              if p["start"] >= nom["traced_from"]]
    if untraced and traced:
        m["trace.overhead_ratio"] = stats.median(traced) / stats.median(untraced)
    txn = raw["txn"]
    m["txn.versions"] = txn["versions"]
    m["txn.bytes_per_user_byte"] = txn["meta_bytes"] / txn["data_bytes"] if txn["data_bytes"] else 0
    backlog = [s["backlog"] for s in raw["series"]
               if s["phase"] == "nominal" and s["t"] >= nom["traced_from"]]
    m["stream.backlog_events"] = stats.median(backlog)
    c = raw["checks"]
    m["stream.link_in"] = c["offered"]
    m["stream.link_out"] = c["expected_rows"]
    m["stream.link_dropped"] = c["dropped"]
    m["stream.generator_late_ms"] = stats.percentile(raw["late_ms"], 99)
    lat_all = [(d, (a - d) / 1000) for _, d, a in raw["arrivals"]]
    m["stream.latency_p99_s"] = stats.percentile(
        [x for d, x in lat_all if nom["start"] <= d < nom["end"]], 99)
    ok = 0.0
    for r in [{"rate": nom["rate"], "start": nom["start"], "end": nom["end"]}] + raw["rungs"]:
        # the backlog left after each downstream fold (the low point of
        # its saw-tooth), over the last two thirds of the rate: the step
        # up to the new rate is a transient, not growth. A rate with fewer
        # than two folds there is not sustained. Over a rung this short the
        # backlog is still rising to its new level at rates that are
        # sustained (by 12-16% of the rate per second at 25k and 50k
        # ev/s), so growth means more than a fifth of the rate.
        settled = r["start"] + (r["end"] - r["start"]) / 3
        pts = [((t - r["start"]) / 1000, b) for t, b in raw["folds"] if settled <= t <= r["end"]]
        p99 = stats.percentile([x for d, x in lat_all if r["start"] <= d < r["end"]], 99)
        log(f"rate {r['rate']:g}/s: p99 {p99:.2f} s, backlog after folds "
            + " ".join(f"{b:.0f}" for _, b in pts))
        if len(pts) >= 2 and not stats.backlog_grows(pts, r["rate"], RUNG_GROWTH) \
                and p99 <= STREAM_P99_LIMIT_S:
            ok = max(ok, r["rate"])
    m["stream.sustained_eps"] = ok


def attribution_summary(attribution, m):
    per_key = {k: (stats.median([w for w, _, _ in v]), stats.median([a for _, a, _ in v]))
               for k, v in attribution.items()}
    flagged = sorted(k for k, (_, a) in per_key.items() if a < 0.9)
    top = sorted(per_key.items(), key=lambda kv: -kv[1][0])[:20]
    m["attr.flagged_keys"] = len(flagged)
    m["attr.attributed_min_top20"] = min((a for _, (_, a) in top), default=0.0)
    for k, (w, a) in top:
        log(f"attribution {k}: wall {w:.0f} ms, {100 * a:.1f}% attributed")
    if flagged:
        log(f"keys with more than 10% of their wall unattributed: {', '.join(flagged)}")


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["registry", "stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.time()
    root = os.getcwd()
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classes = build(root, out)
    inputs, props = gen.ensure(a.workload, os.path.join(out, "inputs"), a.seed)
    work = os.path.join(out, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    with open(os.path.join(HERE, "registry_keys.json")) as f:
        recorded = json.load(f)
    with open(os.path.join(work, "keys.txt"), "w") as f:
        f.write("\n".join(recorded["keys"]))
    launched = time.time()
    raw = launch(classes, a.workload, a.seed, a.seconds, a.trace, inputs, work)
    exited = time.time()
    shutil.copy(os.path.join(work, "raw.json"), os.path.join(out, f"last_{a.workload}.json"))
    shutil.rmtree(work, ignore_errors=True)

    if a.workload == "stream":
        m, attempted, failed, fails = stream_metrics(raw)
    else:
        attempted, fails = check_registry(raw, recorded["digests"])
        failed = len(fails)
        m = None if a.trace else e2e_passes(raw, len(recorded["keys"]))
    for msg in fails:
        log("CHECK FAILED " + msg)
    if a.workload == "stream":
        props = dict(props, offered_rate=raw["nominal"]["rate"],
                     ladder_rates=[r["rate"] for r in raw["rungs"]],
                     bursts=[raw["burst_events"]] * len(raw["bursts"]))
    log(f"inputs: {json.dumps(props)}")
    log(f"timeline: inputs and build {launched - started:.1f} s; JVM ready after "
        f"{raw['ready_ms'] / 1000:.1f} s, workload done after {raw['done_ms'] / 1000:.1f} s, "
        f"exited after {exited - launched:.1f} s; run.py total {time.time() - started:.1f} s")
    log(f"conf: {json.dumps(raw['conf'], sort_keys=True)}")
    if a.trace:
        m, attribution = layer_metrics(raw)
        if a.workload == "registry":
            attribution_summary(attribution, m)
    else:
        m["setup_s"] = (raw["jvm_start_ms"] + raw["setup_ms"]) / 1000
    metrics = {x["name"]: {"value": m[x["name"]], "unit": x["unit"]}
               for x in BENCH["per_layer" if a.trace else "end_to_end"]}
    print(json.dumps({"correct": not fails, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
