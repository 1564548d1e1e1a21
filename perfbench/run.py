#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl211 --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run compiles the program
(`src/main/scala`) and the harness (`perfbench/src`) into
`perfbench/.build`; later runs reuse them while the sources are
unchanged. Inputs are generated from the seed before the measured JVM
starts. The last line of standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}` — the end-to-end metrics
of BENCHMARK.json with `--trace 0`, its per-layer metrics with
`--trace 1`. Lines before it list every metric that applies to the
workload, with units and sample counts. The exit code is 0 only if
every op ran and every output passed its check.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

JVM_HEAP = "4g"
# seconds from the end of the build to the end of the measured JVM: a
# listed workload's run ends within 180 s (its first run may add the
# build); an analytics run is one cold set-up pass plus a timed pass
DEADLINE_S = dict(etl211=170, curation=170, analytics=600)


def jvm_command(cp, args):
    opens = [
        "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
        "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar",
    ]
    work = args["work"]
    cmd = ["java", "-Xmx" + JVM_HEAP, "-Xss16m", "-XX:-UsePerfData",
           "-XX:-UseDynamicNumberOfCompilerThreads"]
    for p in opens:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dderby.system.home=" + os.path.join(work, "derby"),
            "-cp", cp, "graft.perfbench.Main"]
    for k, v in args.items():
        cmd += ["--" + k, str(v)]
    return cmd


def q(xs, p):
    """Linear-interpolated quantile of a non-empty list."""
    s = sorted(xs)
    pos = p * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def units(rec, phase, workload):
    """Wall seconds of each whole, successful step of the loop in a
    phase: a batch cycle (extract, load, three serves) on etl211, a
    query on analytics, a job on curation."""
    steps = {}
    for o in rec["ops"]:
        if o["phase"] == phase:
            steps.setdefault(o["step"], []).append(o)
    whole = 5 if workload == "etl211" else 1
    return [sum(o["s"] for o in g) for g in steps.values()
            if len(g) == whole and all(o["ok"] for o in g)]


def end_to_end(rec, workload):
    """Every end-to-end metric that applies to the workload:
    name -> (value, unit, samples)."""
    ops = [o for o in rec["ops"] if o["phase"] == "timed"]
    ok = [o for o in ops if o["ok"]]
    out = {}

    def lat(prefix, sel):
        xs = [o["s"] for o in ok if sel(o["kind"])]
        if xs:
            out[prefix + "_p50_s"] = (q(xs, 0.5), "s", len(xs))
            out[prefix + "_p90_s"] = (q(xs, 0.9), "s", len(xs))

    busy = sum(o["s"] for o in ok)
    if workload == "etl211":
        lat("extract", lambda k: k == "extract")
        lat("load", lambda k: k == "load")
        lat("serve", lambda k: k.startswith("serve_"))
        rows = sum(o["rows"] for o in ok if o["kind"] == "extract")
        out["rows_per_s"] = (rows / busy, "rows/s", len(ok))
    elif workload == "analytics":
        lat("query", lambda k: True)
        out["queries_per_s"] = (len(ok) / busy, "1/s", len(ok))
    else:
        out["job_p50_s"] = (q([o["s"] for o in ok], 0.5), "s", len(ok))
        out["rows_per_s"] = (sum(o["rows"] for o in ok) / busy, "rows/s", len(ok))
    us = units(rec, "timed", workload)
    out["unit_p50_s"] = (q(us, 0.5), "s", len(us))
    out["unit_p90_s"] = (q(us, 0.9), "s", len(us))
    out["setup_s"] = (rec["setup_s"], "s", 1)
    out["cpu_per_op_s"] = (sum(o["cpu_s"] for o in ok) / len(ok), "s", len(ok))
    out["live_heap_mb"] = (rec["live_heap_mb"], "MB", 1)
    out["fail_ratio"] = ((len(ops) - len(ok)) / len(ops), "ratio", len(ops))
    # every op is checked, set-up and probe ops too
    checked = [o for o in rec["ops"] if o["ok"]]
    out["wrong_ratio"] = (sum(1 for o in checked if not o["correct"]) / len(checked), "ratio",
                          len(checked))
    return out


def overhead(rec, workload):
    """Tracing overhead: median traced step minus median untraced step."""
    traced, untraced = units(rec, "traced", workload), units(rec, "timed", workload)
    return q(traced, 0.5) - q(untraced, 0.5) if traced and untraced else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", help="write the expected outputs here instead of checking"
                    " them: analytics key digests, or the curation set-up ledger")
    a = ap.parse_args()
    os.chdir(ROOT)
    with open("BENCHMARK.json") as f:
        spec = json.load(f)

    cp = build.build()  # raises (exit 1) where the program sources are absent
    t_start = time.time()

    work = os.path.join(HERE, ".work", "%s-%d-%d" % (a.workload, a.seed, a.trace))
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    gen.generate(a.workload, a.seed, inputs)
    os.makedirs(os.path.join(work, "tmp"))
    rec_path = os.path.join(work, "record.json")
    args = dict(workload=a.workload, seconds=a.seconds, trace=a.trace,
                inputs=inputs, work=work, out=rec_path)
    if a.record:
        args["record"] = os.path.abspath(a.record)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(jvm_command(cp, args), stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        # the JVM runs in its own process group: end it with this script
        signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
        try:
            rc = proc.wait(timeout=max(10.0, DEADLINE_S[a.workload] - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            sys.exit("perfbench: the measured JVM ran out of time; see " + log_path)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0 or not os.path.exists(rec_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit("perfbench: the measured JVM exited with %d" % rc)
    with open(rec_path) as f:
        rec = json.load(f)
    # keep the record and the spans; drop the stores, exports and inputs
    for name in os.listdir(work):
        if name not in ("record.json", "spans.jsonl", "jvm.log"):
            p = os.path.join(work, name)
            shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)

    e2e = end_to_end(rec, a.workload)
    fp = rec["fingerprint"]
    print("perfbench %s seed=%d trace=%d  nproc=%s load=%.2f cal_ms=%s xmx_mb=%s gc_s=%.2f"
          " jit_cpu_s=%.2f steal_s=%.2f"
          % (a.workload, a.seed, a.trace, fp["nproc"], fp["load"], fp["cal_ms"], fp["xmx_mb"],
             fp["gc_s"], fp["jit_cpu_s"], fp["steal_s"]))
    for name, (v, unit, n) in e2e.items():
        print("  %-16s %12.6g %-7s n=%d" % (name, v, unit, n))
    for k, v in rec.get("info", {}).items():
        print("  info %s: %s" % (k, v))
    layers = rec.get("layers", {})
    if a.trace:
        layers["trace.overhead_s"] = overhead(rec, a.workload)
        bypassed = []
        for m in spec["per_layer"]:
            if m["name"] not in layers:
                bypassed.append(m["name"])
            print("  layer %-44s %14.6g %s" % (m["name"], layers.get(m["name"], 0.0), m["unit"]))
        if bypassed:
            print("  bypassed on %s (reported as 0): %s" % (a.workload, " ".join(bypassed)))
        listed = {m["name"] for m in spec["per_layer"]}
        for k in sorted(set(layers) - listed):
            print("  layer %-44s %14.6g" % (k, layers[k]))
    for p in rec["problems"]:
        print("  PROBLEM " + p)

    ops = [o for o in rec["ops"] if o["phase"] != "setup"]
    failed = sum(1 for o in ops if not o["ok"])
    correct = not rec["problems"]
    if a.trace:
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
