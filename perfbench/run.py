#!/usr/bin/env python3
"""CDC replication benchmark for the graft engine.

One run:
    python3 perfbench/run.py --workload ct_bulk --seed 1 --seconds 10 --trace 0

builds the program from source (perfbench/build.py; skipped when
unchanged), runs one workload in one JVM at local[$SPARK_GRAFT_CPUS]
(default: the CPUs this process may use), checks every output against
the generator's model and prints two JSON lines on stdout. The last line
is the result: {"correct", "attempted", "failed", "metrics"}, where the
metrics are the end-to-end metrics (--trace 0) or the per-layer metrics
of the traced run (--trace 1). The line before it names the workload,
seed, sample counts, fail ratio and ingest rate beside the reference's
8.3 rec/s floor. Full detail (spans included) goes to
.bench_build/results/. Exit code 0 means every output matched the model.

Other modes:
    --repeat N --workload a,b  N seeds per workload; prints median,
                               quartiles and IQR/median of every metric
                               (add --trace 1 for traced runs, or
                               --overhead 1 for a traced and an untraced
                               run of each seed: the tracing overhead)
    --smoke                    a short self-check of the benchmark itself

Workloads: ct_bulk, ct_trickle and gg_bulk (see perfbench/README.md).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

REFERENCE_FLOOR_REC_S = 8.3
RUN_TIMEOUT_S = 170
SMOKE_SCALE = 0.05  # smoke runs use batches 1/20 of the benchmark's
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def spec(root):
    """Metric names and units, from the BENCHMARK.json beside perfbench/."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(root, workload, seed, seconds, trace, corrupt=False, tag="", scale=1.0):
    """Runs one workload in a fresh JVM; returns its result dict, or
    None when the JVM produced no result line."""
    results = os.path.join(root, build.BUILD_DIR, "results")
    os.makedirs(results, exist_ok=True)
    name = "%s-s%d-n%d-t%d%s" % (workload, seed, seconds, trace, tag)
    work = os.path.join(root, build.BUILD_DIR, "work", "%s-%d" % (name, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(cpus()))
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    cmd = (["java", "-Xmx3g", "-Xss4m", "-XX:+UseParallelGC"]
           + ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in JDK_OPENS]
           + ["-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
              "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-cp", build.classpath(root), "graftbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--work", work,
              "--detail", os.path.join(results, name + ".json"),
              "--corrupt-model", "1" if corrupt else "0", "--scale", str(scale)])
    log_path = os.path.join(results, name + ".log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.communicate()
            out = ""
            print("run timed out after %ds; log: %s" % (RUN_TIMEOUT_S, log_path), file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if not lines:
        print("no result from the JVM (exit %s); log tail:\n%s" % (p.returncode, tail(log_path)), file=sys.stderr)
        return None
    res = json.loads(lines[-1])
    res["detail"] = os.path.relpath(os.path.join(results, name + ".json"), root)
    return res


def tail(path, n=30):
    try:
        with open(path) as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def result_line(root, res, trace):
    """The contract's last line: correct, attempted, failed, metrics —
    every end-to-end metric, or with --trace 1 every per-layer metric."""
    e2e, layers = spec(root)
    if trace:
        got = res.get("per_layer", {})
        metrics = {k: {"value": got.get(k), "unit": u} for k, u in layers.items()}
    else:
        got = res.get("end_to_end", {})
        metrics = {k: {"value": got.get(k, {}).get("value"), "unit": u} for k, u in e2e.items()}
    return {"correct": bool(res["correct"]) and res["failed"] == 0, "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}


def summary_line(root, res):
    e2e = res.get("end_to_end", {})
    s = {"workload": res["workload"], "seed": res["seed"], "seconds": res["seconds"], "trace": res["trace"],
         "runs": 1, "cpus": res.get("cpus"), "samples": res.get("samples", {}),
         "fail_ratio": res.get("fail_ratio"), "failures": res.get("failures", [])[:3]}
    ingest = e2e.get("ingest_rec_s", {}).get("value")
    if ingest is not None:
        s["ingest_vs_reference_floor"] = {"rec_s": round(ingest, 1), "floor_rec_s": REFERENCE_FLOOR_REC_S,
                                          "x_floor": round(ingest / REFERENCE_FLOOR_REC_S, 1)}
    s["detail"] = res.get("detail")
    return s


def one(root, args):
    res = run_jvm(root, args.workload, args.seed, args.seconds, args.trace)
    if res is None:
        return 1
    print(json.dumps(summary_line(root, res), separators=(",", ":")))
    line = result_line(root, res, args.trace)
    print(json.dumps(line, separators=(",", ":")))
    return 0 if line["correct"] else 1


def spread(values):
    values = [v for v in values if v is not None]
    if len(values) < 2:
        return None
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": round(med, 4), "q1": round(q1, 4), "q3": round(q3, 4),
            "iqr_over_median": round((q3 - q1) / med, 4) if med else None}


def repeat(root, args):
    seeds = range(args.seed, args.seed + args.repeat)
    traces = [0, 1] if args.overhead else [args.trace]
    report, status = {}, 0
    for wl in args.workload.split(","):
        runs = {t: [] for t in traces}
        for seed in seeds:
            for t in traces:
                t0 = time.time()
                res = run_jvm(root, wl, seed, args.seconds, t)
                if res is None or not result_line(root, res, t)["correct"]:
                    status = 1
                    print("%s seed %d trace %d FAILED %s" % (wl, seed, t, res and res.get("failures")), file=sys.stderr)
                    continue
                runs[t].append(res)
                print("%s seed=%d trace=%d wall=%.1fs %s" % (wl, seed, t, time.time() - t0, json.dumps(
                    {k: round(v["value"], 3) for k, v in res["end_to_end"].items()})), file=sys.stderr)
        out = {}
        for t in traces:
            key = "per_layer" if t else "end_to_end"
            names = sorted({k for r in runs[t] for k in r.get(key, {})})
            for k in names:
                v = [(r[key][k]["value"] if not t else r[key][k]) for r in runs[t] if k in r.get(key, {})]
                out[("traced." if t and args.overhead else "") + k] = spread(v)
        if args.overhead:
            untraced = {r["seed"]: r for r in runs[0]}
            pairs = [(untraced[b["seed"]], b) for b in runs[1] if b["seed"] in untraced]
            for k in spec(root)[0]:
                d = [b["end_to_end"][k]["value"] - a["end_to_end"][k]["value"] for a, b in pairs]
                out["overhead." + k] = spread(d) if len(d) > 1 else d
        report[wl] = out
        for k, v in out.items():
            print("%-12s %-34s %s" % (wl, k, json.dumps(v)), file=sys.stderr)
    print(json.dumps(report, separators=(",", ":")))
    return status


def smoke(root):
    """Checks the benchmark itself, on batches scaled down to 1/20: every
    metric name and unit is emitted as a number on every workload, a
    different seed changes the inputs, and the gate catches a corrupted
    model."""
    problems = []
    digests = []
    for seed in (1, 2):
        r = subprocess.run(["java", "-cp", build.classpath(root), "graftbench.Inputs", str(seed)],
                           cwd=root, capture_output=True, text=True, timeout=60)
        digests.append(r.stdout.strip())
    if not digests[0] or digests[0] == digests[1]:
        problems.append("seeds 1 and 2 give the same inputs: %s" % digests)
    e2e, _ = spec(root)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        workloads = [w["name"] for w in json.load(f)["workloads"]]
    for wl in workloads:
        res = run_jvm(root, wl, 1, 1, 1, tag="-smoke", scale=SMOKE_SCALE)
        line = res and result_line(root, res, 1)
        if not line or not line["correct"]:
            problems.append("clean traced %s run failed: %s" % (wl, res and res.get("failures")))
            continue
        got = dict(line["metrics"])
        got.update(res["end_to_end"])
        for name, m in got.items():
            if not isinstance(m["value"], (int, float)):
                problems.append("%s: metric %s missing or not a number" % (wl, name))
            elif name in e2e and m["unit"] != e2e[name]:
                problems.append("%s: metric %s has unit %s, BENCHMARK.json says %s" % (wl, name, m["unit"], e2e[name]))
        missing = set(e2e) - set(res["end_to_end"])
        if missing:
            problems.append("%s: end-to-end metrics not emitted: %s" % (wl, sorted(missing)))
    bad = run_jvm(root, workloads[0], 1, 1, 0, corrupt=True, tag="-corrupt", scale=SMOKE_SCALE)
    if bad is None or result_line(root, bad, 0)["correct"]:
        problems.append("the gate passed a corrupted model")
    print(json.dumps({"smoke": "ok" if not problems else "failed", "problems": problems}))
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", default="ct_bulk")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=0)
    ap.add_argument("--overhead", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    root = os.getcwd()
    try:
        build.build(root)
    except RuntimeError as e:
        print(e, file=sys.stderr)
        return 2
    if args.smoke:
        return smoke(root)
    if args.repeat:
        return repeat(root, args)
    return one(root, args)


if __name__ == "__main__":
    sys.exit(main())
