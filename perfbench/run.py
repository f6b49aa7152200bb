#!/usr/bin/env python3
"""Layered benchmark for graft: one workload, one seed, one mode per call.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call builds the engine and the
benchmark driver from source with sbt (perfbench/build.sbt) into the build
directory ($CARGO_TARGET_DIR, default .bench_build); later calls reuse the
build while the sources are unchanged. The benchmark program runs in one JVM on
local[nproc]. With --trace 0 the last stdout line carries the end-to-end
metrics, with --trace 1 the per-layer metrics; the lines before it give the
workload's named figures, self time by layer, and the span file's path.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchmetrics  # noqa: E402

ROOT = os.path.dirname(HERE)
WORKLOADS = ("array", "corpus_stream")
RUN_TIMEOUT_S = 170
# EventStreams stages stream checkpoints and its floor fixture here when it
# can write it; the run removes what the engine left there during the run.
SHM = "/dev/shm"
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for dp, _, fs in os.walk(d):
            files += [os.path.join(dp, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    """Compile engine + driver; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no engine sources under {ROOT}/src/main/scala; run from a full checkout")
    stamp = source_stamp()
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ, PERFBENCH_TARGET=os.path.join(build_dir, "sbt-target"))
    log = os.path.join(build_dir, "build.log")
    cmd = ["sbt", "--batch", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(build_dir, 'sbt-global')}",
           "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    with open(log, "w") as out:
        out.write(p.stdout)
    cps = [l.strip() for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        fail(f"build failed (exit {p.returncode}); see {log}")
    cp = cps[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def shm_entries():
    try:
        return {e for e in os.listdir(SHM) if e.startswith("graft-")}
    except OSError:
        return set()


def run_jvm(cp, args, build_dir):
    work = os.path.join(build_dir, "work", args.workload)
    runs = os.path.join(build_dir, "runs")
    os.makedirs(work, exist_ok=True)
    os.makedirs(runs, exist_ok=True)
    out = os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    cores = str(len(os.sched_getaffinity(0)))
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", *opens, "-Xmx2g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-cp", cp, "graft.perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", work, "--out", out, "--cores", cores]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = out[:-5] + ".log"
    shm_before = shm_entries()
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True)
        try:
            stdout, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{args.workload} exceeded {RUN_TIMEOUT_S} s; see {log}")
        finally:
            for e in shm_entries() - shm_before:
                shutil.rmtree(os.path.join(SHM, e), ignore_errors=True)
    sys.stdout.write(stdout)
    if p.returncode != 0 or not os.path.exists(out):
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"{args.workload} failed (exit {p.returncode}); log {log}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def fmt(d):
    return " ".join(f"{k}={v:.4g}" if isinstance(v, float) else f"{k}={v}" for k, v in d.items())


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cp = build(build_dir)
    raw = run_jvm(cp, args, build_dir)

    ops = raw["ops"]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    for msg in raw["failures"]:
        print(f"[perfbench] FAILED {msg}")
    measured = [o for o in ops if o["phase"] in ("measure", "traced", "plain")]
    named = benchmetrics.detail(args.workload, measured)
    named["fail_ratio"] = failed / attempted if attempted else 1.0
    named["peak_rss_mb"] = raw["peak_rss_mb"]
    print(f"[perfbench] {args.workload}: attempted={attempted} failed={failed} {fmt(named)}")
    print(f"[perfbench] cpu stolen by the host while timed: {benchmetrics.steal_share(measured):.1%}; "
          f"wall seconds of all timed ops {sum(o['t1'] - o['t0'] for o in measured):.4g}, "
          f"with steal removed {sum(benchmetrics.dur(o) for o in measured):.4g}")
    if args.trace == 0:
        head = benchmetrics.headline(measured, raw["pass_classes"], raw["light"], raw["heavy"])
        metrics = {
            "setup_s": (benchmetrics.median([benchmetrics.dur(s) for s in raw["setup_s"]]), "s"),
            "retained_heap_mb": (raw["retained_heap_mb"], "MB"),
            "light_s": (head["light_s"], "s"),
            "heavy_s": (head["heavy_s"], "s"),
            "pass_s": (head["pass_s"], "s"),
        }
    else:
        with open(raw["spans_file"]) as f:
            spans = json.load(f)
        print(f"[perfbench] spans: {len(spans)} written to {raw['spans_file']}")
        print(f"[perfbench] self time by layer (s): {fmt(benchmetrics.self_time_by_layer(spans))}")
        if raw["info"].get("registry_build_s_by_name"):
            print(f"[perfbench] registry build s by name: {fmt(raw['info']['registry_build_s_by_name'])}")
        units = load_units()
        metrics = {k: (v, units[k]) for k, v in benchmetrics.per_layer(raw, spans).items()}
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def load_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


if __name__ == "__main__":
    main()
