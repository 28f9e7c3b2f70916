#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the benchmark (the engine's sources
plus perfbench/src) with sbt on first use, then runs one workload (or
each in turn, with `all`) in one JVM each on local[nproc]. Human-readable metric lines go to stdout; the last
stdout line is one JSON object with the keys correct, attempted, failed
and metrics. Exits non-zero when the build fails, the run fails or a
correctness check fails. The full record of every run is kept under
<build dir>/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["indexer", "corpus_silvers"]
# The machine this benchmark is sized for has 15 GiB and no swap: the
# engine's own 48g default heap would let the JVM grow past it.
DRIVER_MEM = os.environ.get("SPARK_DRIVER_MEM", "3g")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.abspath(os.path.join(ROOT, d))


def sources_fingerprint():
    """Paths, sizes and mtimes of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(dp, f) for dp, _, fs in os.walk(r) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(bdir):
    """Compile with sbt once per source state; returns the runtime classpath."""
    stamp = os.path.join(bdir, "classpath.json")
    fp = sources_fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got.get("fingerprint") == fp:
            return got["classpath"]
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ, BENCH_BUILD_DIR=bdir)
    env.setdefault("COURSIER_MODE", "offline")
    log("building (sbt compile)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.offline=true",
         "compile", "export Runtime / fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"[perfbench] build failed (exit {p.returncode})")
    lines = [l.strip() for l in p.stdout.splitlines() if l.strip()]
    cp = lines[-1]
    if "classes" not in cp or ":" not in cp:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("[perfbench] build printed no classpath")
    log(f"built in {time.time() - t0:.0f} s")
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp


def run_jvm(cp, bdir, workload, args):
    tag = f"{workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(bdir, "work", tag)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    results = os.path.join(bdir, "results")
    os.makedirs(results, exist_ok=True)
    result = os.path.join(results, f"{tag}.json")
    cmd = (["java", f"-Xmx{DRIVER_MEM}", f"-Djava.io.tmpdir={tmp}",
            f"-Dperfbench.driver_mem={DRIVER_MEM}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--result", result])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.DEVNULL,
                            stderr=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        _, err = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"[perfbench] run exceeded {JVM_TIMEOUT_S} s")
    for line in err.splitlines():
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or not os.path.exists(result):
        causes = [l for l in err.splitlines() if "Exception" in l or "Error" in l]
        sys.stderr.write("\n".join(causes[:10]) + "\n" + err[-2000:])
        raise SystemExit(f"[perfbench] run failed (exit {proc.returncode})")
    with open(result) as f:
        return json.load(f)


def report(rec, trace):
    """Print one run's metric lines and its JSON line; True when correct."""
    def rows(obj):
        return obj.items() if isinstance(obj, dict) else []
    print(f"workload {rec['workload']} seed {rec['seed']} trace {int(rec['trace'])} "
          f"cpus {rec['cpus']} driver_mem {rec['driver_mem']} "
          f"load_start {rec['load_start']} load_max {rec['load_max']} "
          f"steal_ratio {rec['steal_ratio']:.3f}")
    print(f"attempted {rec['attempted']} failed {rec['failed']} correct {rec['correct']}")
    for m in rec["mismatches"]:
        print(f"MISMATCH {m}")
    for section in ("end_to_end", "named", "per_layer"):
        for name, m in rows(rec[section]):
            print(f"{section} {name} {m['value']} {m['unit']}")
    wanted = "per_layer" if trace else "end_to_end"
    metrics = {k: v for k, v in rows(rec[wanted])}
    print(json.dumps({"correct": bool(rec["correct"]), "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    sys.stdout.flush()
    return bool(rec["correct"])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("[perfbench] engine sources (src/main/scala/graft) not found; "
                         "run from the repository root")
    bdir = build_dir()
    cp = build(bdir)
    names = WORKLOADS if args.workload == "all" else [args.workload]
    correct = [report(run_jvm(cp, bdir, name, args), args.trace) for name in names]
    if not all(correct):
        sys.exit(1)


if __name__ == "__main__":
    main()
