#!/usr/bin/env python3
"""The repo benchmark: one command per workload.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 24 --trace 0

Run from the root of a checkout. It builds the program and the harness
from source with sbt (perfbench/build.sbt depends on the root build; sbt's
global state and the inputs go under $CARGO_TARGET_DIR or .bench_build),
generates the seeded inputs, runs the workload in one JVM started with the
root project's javaOptions on the shipped session conf (`graft.Bench.session`),
checks every op type's result against its DuckDB oracle, and prints one
JSON object as the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

--trace 0 prints the end-to-end metrics; --trace 1 runs the same window
again with listeners on and prints the per-layer metrics. The full report
(environment fingerprint, input sizes, per-workload metrics, trend check,
oracle verdicts, tracing overhead) goes to <build>/reports/, the traced
run's spans next to it.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("dashboard", "lake")
# set-ups per run: the first counts from JVM process start (cold), the
# second builds a fresh session in the warm JVM. setup_s is their median,
# with two their mean, so a cold-start change shows at half weight; the
# cold one alone is reported as cold_start_s. The second also warms the JIT.
SETUPS = {"dashboard": 2, "lake": 2}
# then an untimed closed-loop window, so the timed one shows no warm-up
# trend; lake's second set-up already is a full steady tick
WARMUP_S = {"dashboard": 8, "lake": 0}
BASE_SCALE = 0.1     # x sf0.1 row counts: 60 000 lineitem rows
DOC_SCALE = 0.1      # 500 documents per variant
DOC_VARIANTS = 6     # more than the dedup memo's 4 dirs
RUN_LIMIT_S = 170    # every run ends within 180 s ...
BUILD_LIMIT_S = 880  # ... except one that builds first
CHECK_RESERVE_S = 15  # kept back from the JVM for the oracle check

T_START = time.time()


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


# ---------------------------------------------------------------- build
# What the build reads: the root build, the program, and the benchmark's
# own sbt project (perfbench/build.sbt depends on the root build).
BUILD_TREES = ("src/main", "perfbench/harness")
BUILD_FILES = ("build.sbt", "project", "perfbench/build.sbt", "perfbench/project")


def build_inputs(root):
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail(f"program sources not found under {root}/src/main/scala; run from the repo root")
    out = []
    for t in BUILD_TREES:
        for d, _, files in os.walk(os.path.join(root, t)):
            out += [os.path.join(d, f) for f in files]
    for f in BUILD_FILES:   # a directory counts with its top-level files only
        p = os.path.join(root, f)
        out += ([os.path.join(p, x) for x in os.listdir(p) if os.path.isfile(os.path.join(p, x))]
                if os.path.isdir(p) else [p])
    return sorted(out)


def build(root, build_dir):
    """Build program + harness with sbt once per digest of the build
    inputs. Returns the JVM options the build exports (the root project's
    javaOptions, then -cp and the full classpath), the digest, and whether
    this call built."""
    h = hashlib.sha256()
    for p in build_inputs(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    # build.sbt reads the driver heap into javaOptions when it loads
    h.update(os.environ.get("SPARK_DRIVER_MEM", "").encode())
    digest = h.hexdigest()[:16]
    spec = os.path.join(build_dir, f"launch-{digest}.txt")
    if not os.path.exists(spec):
        tmp = os.path.join(build_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        log("perfbench: building with sbt")
        # sbt's global state (boot, runtime jar, ivy lock) and temp files
        # live in the build dir
        cmd = ["sbt", "-batch", f"-Dsbt.global.base={os.path.join(build_dir, 'sbt')}",
               f"-Dsbt.ivy.home={os.path.join(build_dir, 'ivy')}", f"-Djna.tmpdir={tmp}",
               "-Dsbt.server.autostart=false", "-J-XX:-UsePerfData",
               f"-J-Djava.io.tmpdir={tmp}", "launchSpec"]
        try:
            r = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                               text=True, timeout=BUILD_LIMIT_S - 120,
                               # also for the JVMs the sbt script starts itself
                               env=dict(os.environ, JAVA_TOOL_OPTIONS="-XX:-UsePerfData"))
        except subprocess.TimeoutExpired:
            fail("sbt build timed out", 3)
        if r.returncode != 0:
            log(r.stdout[-4000:])
            fail("sbt build failed", 3)
        for old in os.listdir(build_dir):   # keep one build
            if old.startswith("launch-"):
                os.remove(os.path.join(build_dir, old))
        shutil.copy(os.path.join(HERE, "target", "launch.txt"), spec)
        built = True
    else:
        built = False
    with open(spec) as f:
        return [line for line in f.read().splitlines() if line], digest, built


# ---------------------------------------------------------------- inputs
def inputs(build_dir, seed):
    import gen
    root = os.path.join(build_dir, "data", f"v{gen.GEN_VERSION}-s{seed}")
    if not os.path.exists(os.path.join(root, ".done")):
        tmp = root + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(os.path.join(tmp, "base"), seed << 8, BASE_SCALE)
        for i in range(DOC_VARIANTS):
            gen.generate(os.path.join(tmp, f"docs{i}"), (seed << 8) + 1 + i,
                         DOC_SCALE, documents_only=True)
        open(os.path.join(tmp, ".done"), "w").close()
        shutil.rmtree(root, ignore_errors=True)
        os.rename(tmp, root)
    sizes = {}
    for d in sorted(os.listdir(root)):
        p = os.path.join(root, d, "_inputs.json")
        if os.path.exists(p):
            with open(p) as f:
                sizes[d] = json.load(f)["tables"]
    return root, sizes


# ---------------------------------------------------------------- JVM
def run_jvm(launch, args, run_dir, limit_s):
    """The harness, started with the options the build exported; temp
    files (and no hsperfdata file) stay inside the run dir."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + launch + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                                f"-Dspark.local.dir={tmp}", "perfbench.Harness"] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    logf = os.path.join(run_dir, "jvm.log")
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env)
        try:
            rc = p.wait(timeout=max(10, limit_s))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(logf) as f:
            log("".join(f.readlines()[-40:]))
    return rc


# ---------------------------------------------------------------- stats
def med(xs):
    return statistics.median(xs) if xs else float("nan")


def pct(xs, q):
    """q-th percentile (0-100), linear between closest ranks."""
    if not xs:
        return float("nan")
    s = sorted(xs)
    k = (len(s) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def union_ms(intervals):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def window_metrics(raw, phase):
    """The user-visible numbers of one timed window."""
    ops = [o for o in raw["ops"] if o["phase"] == phase]
    win = raw["window"] if phase == "timed" else raw["traced"]
    lat = [o["end"] - o["start"] for o in ops]
    wall_s = (win["end"] - win["start"]) / 1000.0
    return {"op_p50_ms": med(lat), "op_p90_ms": pct(lat, 90),
            "ops_per_s": len(ops) / wall_s if wall_s > 0 else float("nan"),
            "n_ops": len(ops), "window_s": wall_s}


def trend(raw, phase):
    """Median latency of the window's second half over its first half,
    and the number of ops it compares."""
    ops = sorted((o for o in raw["ops"] if o["phase"] == phase), key=lambda o: o["start"])
    if len(ops) < 2:
        return None, len(ops)
    h = len(ops) // 2
    first = med([o["end"] - o["start"] for o in ops[:h]])
    second = med([o["end"] - o["start"] for o in ops[h:]])
    return second / first, len(ops)


def workload_metrics(raw, phase):
    """The workload's own user-facing numbers: cards, or refresh, cycle and micro-batch."""
    ops = [o for o in raw["ops"] if o["phase"] == phase]
    ids = {o["id"] for o in ops}
    calls = [c for c in raw["calls"] if c["op"] in ids]
    win = raw["window"] if phase == "timed" else raw["traced"]
    wall_s = (win["end"] - win["start"]) / 1000.0
    lat = [o["end"] - o["start"] for o in ops]
    out = {}
    if raw["workload"] == "dashboard":
        out["card_p50_ms"] = med(lat)
        out["card_p95_ms"] = pct(lat, 95)
        out["card_n"] = len(lat)
        out["card_n_beyond_p95"] = sum(1 for x in lat if x > out["card_p95_ms"])
        out["cards_per_s"] = len(lat) / wall_s
        out["card_p50_ms_by_card"] = {
            k: med([o["end"] - o["start"] for o in ops if o["kind"] == k])
            for k in sorted({o["kind"] for o in ops})}
    else:
        by = {}
        for c in calls:
            by.setdefault(c["name"], []).append(c["end"] - c["start"])
        cyc = {}
        for c in calls:
            if c["name"] != "p1_pipeline_e2e":
                cyc[c["op"]] = cyc.get(c["op"], 0.0) + c["end"] - c["start"]
        out["tick_p50_s"] = med(lat) / 1000
        out["refresh_p50_s"] = med(by.get("p1_pipeline_e2e", [])) / 1000
        out["cycle_p50_s"] = med(list(cyc.values())) / 1000
        t0, t1 = win["start"], win["end"]
        trig = [p["durationMs"]["triggerExecution"] for p in raw["progress"]
                if t0 <= _iso_ms(p["timestamp"]) <= t1]
        out["microbatch_p50_ms"] = med(trig)
        out["microbatches"] = len(trig)
        out["call_p50_s"] = {k: med(v) / 1000 for k, v in sorted(by.items())}
    return out


def _iso_ms(ts):
    from datetime import datetime, timezone
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp() * 1000


# ---------------------------------------------------------------- tracing
CALL_LAYER = {"p1_pipeline_e2e": "pipeline", "p5_stream_curation": "streaming",
              "p3_incremental_ingest": "dedup", "p4_curation_pipeline": "text"}


def trace_report(raw, tr, cpus, sizes):
    """Spans (op > public call > action/streaming batch) and layer metrics
    of the traced window."""
    ops = {o["id"]: o for o in raw["ops"] if o["phase"] == "traced"}
    n = max(1, len(ops))
    calls = [c for c in raw["calls"] if c["op"] in ops]
    t0, t1 = raw["traced"]["start"], raw["traced"]["end"]

    def op_at(t):
        hit = [o["id"] for o in ops.values() if o["start"] <= t <= o["end"]]
        return hit[0] if len(hit) == 1 else -1

    by_ref = {q["ref"]: q for q in tr["qe"]}
    qe = {e["id"]: by_ref[e["qe"]] for e in tr["executions"] if e.get("qe") in by_ref}
    execs = {}
    for e in tr["executions"]:
        if e["end"] is None:
            continue
        op = e["op"] if e["op"] in ops else op_at(e["start"])
        if op in ops:
            execs[e["id"]] = dict(e, op=op)
    for e in execs.values():   # nested executions inherit their root's op
        r = execs.get(e["root"])
        if r:
            e["op"] = r["op"]
    jobs = {}
    for j in tr["jobs"]:
        op = j["op"] if j["op"] in ops else execs.get(j["exec"], {}).get("op", op_at(j["start"]))
        if op in ops:
            jobs[j["id"]] = dict(j, op=op)
    stage_job = {}
    for j in sorted(jobs.values(), key=lambda j: j["id"]):
        for s in j["stages"]:
            stage_job.setdefault(s, j)
    stages = [dict(s, job=stage_job[s["id"]]) for s in tr["stages"] if s["id"] in stage_job]

    # ---- spans ----
    spans = []
    for o in ops.values():
        spans.append({"id": f"op{o['id']}", "parent": None, "op": o["id"], "name": o["kind"],
                      "layer": "bench", "start": o["start"], "end": o["end"]})
    call_spans = []
    for i, c in enumerate(calls):
        sp = {"id": f"call{i}", "parent": f"op{c['op']}", "op": c["op"],
              "name": c["name"], "layer": CALL_LAYER.get(c["name"], "analytics"),
              "start": c["start"], "end": c["end"]}
        call_spans.append(sp)
    spans += call_spans

    def parent_call(op, t):
        for sp in call_spans:
            if sp["op"] == op and sp["start"] <= t <= sp["end"]:
                return sp
        return None

    batch_spans = []
    for p in tr["progress"]:
        st = _iso_ms(p["timestamp"])
        if not (t0 <= st <= t1):
            continue
        op = op_at(st)
        par = parent_call(op, st)
        batch_spans.append({"id": f"batch{len(batch_spans)}", "parent": par["id"] if par else f"op{op}",
                            "op": op, "name": f"microbatch {p['batchId']}", "layer": "streaming.batch",
                            "start": st, "end": st + p["durationMs"]["triggerExecution"],
                            "duration_ms": p["durationMs"]})
    spans += batch_spans
    for e in execs.values():
        if e["root"] != e["id"] and e["root"] in execs:
            par = f"exec{e['root']}"
        else:
            b = [s for s in batch_spans if s["op"] == e["op"] and s["start"] <= e["start"] <= s["end"]]
            c = parent_call(e["op"], e["start"])
            par = b[0]["id"] if b else (c["id"] if c else f"op{e['op']}")
        q = qe.get(e["id"], {})
        spans.append({"id": f"exec{e['id']}", "parent": par, "op": e["op"],
                      "name": q.get("func") or e["desc"], "layer": "engine",
                      "start": e["start"], "end": e["end"],
                      "phases_ms": q.get("phases"), "writes": q.get("writes")})

    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    self_ms = {}
    for s in spans:
        kids = [(max(k["start"], s["start"]), min(k["end"], s["end"])) for k in children.get(s["id"], [])]
        self_ms[s["layer"]] = self_ms.get(s["layer"], 0.0) + (s["end"] - s["start"]) - union_ms(kids)
    layer_self = {k: v / n for k, v in sorted(self_ms.items())}

    # ---- generic per-op engine / io numbers ----
    roots = [e for e in execs.values() if e["root"] == e["id"] or e["root"] not in execs]
    def phase_sum(e):
        ph = qe.get(e["id"], {}).get("phases") or {}
        return sum(ph.get(k, 0.0) for k in ("analysis", "optimization", "planning"))
    tot = lambda key: sum(s[key] for s in stages)
    tasks = tot("tasks")
    gap = []
    for o in ops.values():
        iv = [(max(e["start"], o["start"]), min(e["end"], o["end"])) for e in execs.values() if e["op"] == o["id"]]
        gap.append((o["end"] - o["start"]) - union_ms(iv))
    j0, j1 = raw["traced"]["jvm0"], raw["traced"]["jvm1"]
    win_ms = t1 - t0
    per_layer = {
        "engine.plan_ms_per_op": sum(phase_sum(e) for e in execs.values()) / n,
        "engine.exec_ms_per_op": sum(qe.get(e["id"], {}).get("duration_ms", 0.0) for e in roots) / n,
        "engine.actions_per_op": len(roots) / n,
        "engine.jobs_per_op": len(jobs) / n,
        "engine.tasks_per_op": tasks / n,
        "engine.task_wait_ms": tot("wait_ms") / tasks if tasks else 0.0,
        "engine.task_cpu_ms_per_op": tot("cpu_ms") / n,
        "engine.shuffle_bytes_per_op": tot("shuffle_write") / n,
        "engine.core_util": tot("run_ms") / (win_ms * cpus) if win_ms > 0 else 0.0,
        "io.input_bytes_per_op": tot("input_bytes") / n,
        "io.scan_tasks_per_op": tot("scan_tasks") / n,
        "bench.driver_gap_ms_per_op": sum(gap) / n,
        "jvm.gc_ms_per_op": (j1["gc_ms"] - j0["gc_ms"]) / n,
        "jvm.jit_ms": j1["jit_ms"] - j0["jit_ms"],
        "jvm.heap_used_mb": med([o["heap_mb"] for o in ops.values()]),
    }

    named = named_layer_metrics(raw["workload"], ops, calls, execs, stages, qe, batch_spans,
                                tr["persisted"], cpus, per_layer, sizes)
    return spans, per_layer, named, layer_self


def named_layer_metrics(workload, ops, calls, execs, stages, qe, batches, persisted,
                        cpus, generic, sizes):
    """The per-module numbers, each named by the layer it measures."""
    n = max(1, len(ops))
    out = {}
    stage_sum = lambda pred, key: sum(s[key] for s in stages if pred(s["job"]))
    if workload == "dashboard":
        out["analytics.plan_ms"] = generic["engine.plan_ms_per_op"]
        out["analytics.exec_ms"] = generic["engine.exec_ms_per_op"]
        out["analytics.jobs_per_card"] = generic["engine.jobs_per_op"]
        out["analytics.tasks_per_card"] = generic["engine.tasks_per_op"]
        out["analytics.task_wait_ms"] = generic["engine.task_wait_ms"]
    else:
        def writes(pred):
            ws = []
            for e in execs.values():
                for w in (qe.get(e["id"], {}).get("writes") or []):
                    if pred(w["path"]):
                        ws.append((e, w))
            return ws
        dur = lambda e: (e["end"] - e["start"]) / 1000.0
        zones = {"raw": "/raw-zone/", "clean": "/clean-zone/",
                 "curated": "/curated-zone/", "serving": "/serving/"}
        for z, key in zones.items():
            zw = writes(lambda p: key in p)
            if z != "curated":   # the curated write is prescriptive.score_s
                out[f"ops.{z}_write_s"] = sum(dur(e) for e, _ in zw) / n
            out[f"ops.{z}_bytes"] = sum(w["bytes"] for _, w in zw) / n
        score = writes(lambda p: "/curated-zone/prescriptive_hygiene" in p)
        score_ids = {e["id"] for e, _ in score}
        out["prescriptive.score_s"] = sum(dur(e) for e, _ in score) / n
        out["prescriptive.shuffle_bytes"] = stage_sum(lambda j: j["exec"] in score_ids, "shuffle_write") / n
        # the refresh: actions inside the p1 call
        p1 = [c for c in calls if c["name"] == "p1_pipeline_e2e"]
        acts, crit, gapv, ovl, util, spill = [], [], [], [], [], []
        for c in p1:
            inside = [e for e in execs.values() if e["op"] == c["op"]
                      and c["start"] <= e["start"] <= c["end"] and e["root"] == e["id"]]
            iv = [(e["start"], min(e["end"], c["end"])) for e in inside]
            u = union_ms(iv)
            wall = c["end"] - c["start"]
            ids = {e["id"] for e in inside}
            acts.append(len(inside))
            crit.append(u / 1000)
            gapv.append((wall - u) / 1000)
            ovl.append(sum(b - a for a, b in iv) / u if u else 0.0)
            util.append(stage_sum(lambda j: j["exec"] in ids, "run_ms") / (wall * cpus))
            spill.append(stage_sum(lambda j: j["exec"] in ids, "spill"))
        out["pipeline.actions_per_refresh"] = med(acts)
        out["pipeline.critical_path_s"] = med(crit)
        out["pipeline.driver_gap_s"] = med(gapv)
        out["pipeline.overlap_ratio"] = med(ovl)
        out["pipeline.core_util"] = med(util)
        out["pipeline.spill_bytes"] = med(spill)
        p5 = [c for c in calls if c["name"] == "p5_stream_curation"]
        firsts = []
        for c in p5:
            bs = [b["start"] for b in batches if c["start"] <= b["start"] <= c["end"]]
            if bs:
                firsts.append(min(bs) - c["start"])
        d = lambda k: [b["duration_ms"].get(k, 0) for b in batches]
        out["streaming.start_ms"] = med(firsts)
        out["streaming.plan_ms"] = med(d("queryPlanning"))
        out["streaming.add_batch_ms"] = med(d("addBatch"))
        out["streaming.commit_ms"] = med([a + b for a, b in zip(d("walCommit"), d("commitOffsets"))])
        out["streaming.batches_per_cycle"] = len(batches) / n
        call_s = lambda name: med([(c["end"] - c["start"]) / 1000 for c in calls if c["name"] == name])
        out["dedup.p3_s"] = call_s("p3_incremental_ingest")
        out["text.p4_s"] = call_s("p4_curation_pipeline")
        out["dedup.memo_builds_per_cycle"] = med([p["new_rdds"] for p in persisted if p["op"] in ops])
        out["dedup.cached_mb"] = med([p["cached_mb"] for p in persisted if p["op"] in ops])
        merge = writes(lambda p: p.rstrip("/").endswith("/next"))
        out["maintenance.merge_write_s"] = sum(dur(e) for e, _ in merge) / n
        cur_calls = [c for c in calls if c["name"] != "p1_pipeline_e2e"]
        def in_curation(j):
            return any(c["op"] == j["op"] and c["start"] <= j["start"] <= c["end"] for c in cur_calls)
        out["curation.task_cpu_s"] = stage_sum(in_curation, "cpu_ms") / 1000 / n
        out["curation.shuffle_bytes"] = stage_sum(in_curation, "shuffle_write") / n
        # the tables a refresh reads
        in_bytes = sum(sizes["base"][t]["bytes"] for t in ("lineitem", "orders", "events", "part"))
        written = sum(out[f"ops.{z}_bytes"] for z in ("raw", "clean", "curated", "serving"))
        out["bytes_written_per_input_byte"] = written / in_bytes if in_bytes else float("nan")
    out["io.input_bytes_per_op"] = generic["io.input_bytes_per_op"]
    out["io.scan_tasks_per_op"] = generic["io.scan_tasks_per_op"]
    for k in ("jvm.gc_ms_per_op", "jvm.jit_ms", "jvm.heap_used_mb"):
        out[k] = generic[k]
    return out


# ---------------------------------------------------------------- main
def git_commit(root):
    """HEAD of the checkout when it is a git work tree of its own."""
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "--show-toplevel", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        top, head = r.stdout.split()
        return head if os.path.realpath(top) == os.path.realpath(root) else None
    except Exception:
        return None


def load_spec(root):
    """BENCHMARK.json: the metric names, units and bounds the result line carries."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    spec = load_spec(root)
    build_inputs(root)   # fail fast outside a checkout of the program
    bdir = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    bdir = os.path.abspath(os.path.join(root, bdir))
    os.makedirs(bdir, exist_ok=True)
    launch, digest, built = build(root, bdir)
    deadline = T_START + (BUILD_LIMIT_S if built else RUN_LIMIT_S)
    phase_s = {"build": time.time() - T_START}
    data, sizes = inputs(bdir, a.seed)
    phase_s["inputs"] = time.time() - T_START - sum(phase_s.values())

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    run_dir = os.path.join(bdir, "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    mem = next((o[len("-Xmx"):] for o in launch if o.startswith("-Xmx")), None)
    rc = run_jvm(launch, [a.workload, data, run_dir, str(a.seed), str(a.seconds),
                                 str(a.trace), str(cpus), str(SETUPS[a.workload]),
                                 str(WARMUP_S[a.workload])],
                 run_dir, deadline - time.time() - CHECK_RESERVE_S)
    raw_p = os.path.join(run_dir, "raw.json")
    if rc != 0 or not os.path.exists(raw_p):
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        fail(f"harness exited with {rc}", 1)
    with open(raw_p) as f:
        raw = json.load(f)
    phase_s["jvm"] = time.time() - T_START - sum(phase_s.values())

    # ---- correctness: the oracle once per op type; every repetition's
    # result hash against the first (checked in the harness) ----
    import check
    verdicts = check.check_results(raw["results"], raw["oracle_sql"])
    phase_s["check"] = time.time() - T_START - sum(phase_s.values())
    bad = {key for key, v in verdicts.items() if v}
    op_calls = {}
    for c in raw["calls"]:
        op_calls.setdefault(c["op"], set()).add((c["name"], c["dir"]))
    failed_ops = [o for o in raw["ops"] if not o["ok"] or op_calls.get(o["id"], set()) & bad]
    attempted = len(raw["ops"])
    failed = len(failed_ops)

    # ---- metrics ----
    setups = [(s["end"] - s["start"]) / 1000.0 for s in raw["setups"]]
    wm = window_metrics(raw, "timed")
    e2e = {"op_p50_ms": wm["op_p50_ms"], "ops_per_s": wm["ops_per_s"],
           "setup_s": med(setups), "heap_live_mb": raw["heap_live_mb"]}
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    tr_ratio, tr_n = trend(raw, "timed")
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "correct": failed == 0 and not bad, "attempted": attempted, "failed": failed,
        "fail_ratio": failed / attempted if attempted else 1.0,
        "oracle": {f"{k[0]}@{os.path.basename(k[1])}": (v or "ok") for k, v in sorted(verdicts.items())},
        "errors": [c["error"] for c in raw["calls"] if c["error"]][:10],
        "end_to_end": e2e,
        "window": wm, "setups_s": setups, "cold_start_s": setups[0],
        "session_build_s": [s["session_ms"] / 1000.0 for s in raw["setups"]],
        "peak_rss_mb": raw["vm_hwm_kb"] / 1024.0,
        "trend_second_over_first_half": tr_ratio, "trend_n_ops": tr_n,
        "trend_ok": tr_ratio is None or abs(tr_ratio - 1) <= bounds["op_p50_ms"],
        "workload_metrics": workload_metrics(raw, "timed"),
        "inputs": sizes, "phase_s": phase_s,
        "env": {"nproc": os.cpu_count(), "cpus_used": cpus,
                "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
                "driver_memory": mem, "jdk": raw["env"]["java"], "spark": raw["env"]["spark"],
                "max_heap_mb": raw["env"]["max_heap_mb"],
                "git_commit": git_commit(root), "source_digest": digest,
                "seed": a.seed, "clients": raw["clients"], "setups": SETUPS[a.workload]},
    }
    metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
               for m in spec["end_to_end"]}

    if a.trace:
        with open(os.path.join(run_dir, "trace_raw.json")) as f:
            tr = json.load(f)
        spans, per_layer, named, layer_self = trace_report(raw, tr, cpus, sizes)
        tw = window_metrics(raw, "traced")
        report["trace"] = {
            "per_layer": per_layer, "layers": named, "self_ms_per_op": layer_self,
            "traced_window": tw, "traced_workload_metrics": workload_metrics(raw, "traced"),
            # set-up and the live heap are measured before the listeners
            # exist, so they carry no tracing cost by construction
            "overhead": {k: tw[k] - wm[k] for k in ("op_p50_ms", "op_p90_ms", "ops_per_s")}
            | {"setup_s": 0.0, "heap_live_mb": 0.0},
        }
        sp_path = os.path.join(bdir, "reports", f"{tag}.spans.jsonl")
        os.makedirs(os.path.dirname(sp_path), exist_ok=True)
        with open(sp_path, "w") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")
        report["trace"]["spans_file"] = os.path.relpath(sp_path, root)
        shutil.copy(os.path.join(run_dir, "trace_raw.json"),
                    os.path.join(bdir, "reports", f"{tag}.trace_raw.json"))
        metrics = {m["name"]: {"value": per_layer[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}

    rep_path = os.path.join(bdir, "reports", f"{tag}.json")
    os.makedirs(os.path.dirname(rep_path), exist_ok=True)
    with open(rep_path, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    log(json.dumps({k: report[k] for k in ("fail_ratio", "oracle", "errors", "window", "phase_s",
                                          "setups_s", "trend_second_over_first_half", "trend_n_ops",
                                          "workload_metrics")}, default=str))
    if a.trace:
        log(json.dumps({k: report["trace"][k] for k in ("layers", "self_ms_per_op", "overhead")}))
    log(f"perfbench: report {os.path.relpath(rep_path, root)}")
    print(json.dumps({"correct": report["correct"], "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
