#!/usr/bin/env python3
"""The lake's benchmark: one command per run.

    python3 lakebench/run.py --workload dashboard_warm --seed 1 --seconds 20 --trace 0
    python3 lakebench/run.py compare RESULT_A.json RESULT_B.json

Run from the root of a checkout of the repository. The first run compiles
the program (src/main/scala) together with the harness (lakebench/src) into
.bench_build/; later runs reuse that build while the sources are unchanged.
A run starts one JVM (local[4], 4 shuffle partitions, one client thread),
measures the workload for --seconds, checks every output, prints each
metric by name with its unit and, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. The full result (all
metrics, sample counts, provenance, noise and, when traced, the spans) is
written to .bench_build/results/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import metrics  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build", "lakebench")
RESULTS = os.path.join(ROOT, ".bench_build", "results")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(BENCH, "src", "main", "scala")
# scale factor of the tables each workload measures on
SF = {"dashboard_warm": "0.1", "lake_ingest": "0.01"}
HEAP = "3g"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jars the program builds against: $SPARK_HOME/jars, else the
    `unmanagedBase` the program's own build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        for line in open(sbt):
            if line.strip().startswith("unmanagedBase") and 'file("' in line:
                path = line.split('file("', 1)[1].split('"', 1)[0]
                if os.path.isdir(path):
                    return path
    fail("no Spark jars: set SPARK_HOME")


def sources():
    files = []
    for d in (PROGRAM_SRC, HARNESS_SRC):
        files += sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    return files


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(jars):
    """Compile program + harness with the Scala compiler shipped in the
    Spark jars; skipped when the sources' digest matches the last build."""
    if not os.path.isdir(PROGRAM_SRC):
        fail(f"program sources not found under {os.path.relpath(PROGRAM_SRC, ROOT)}; "
             "run from the root of a full checkout")
    files = sources()
    digest = source_digest(files)
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "digest")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes, digest
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    t = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    with open(stamp, "w") as fh:
        fh.write(digest)
    print(f"lakebench: built in {time.time() - t:.1f} s", file=sys.stderr)
    return classes, digest


def busy_ticks():
    """Busy clock ticks of the whole machine so far (/proc/stat cpu line)."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal
    return f[0] + f[1] + f[2] + f[5] + f[6] + f[7]


def loadavg():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def git_head():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        return r.stdout.strip() or None
    except OSError:
        return None


def run_jvm(args, classes, jars, work, out):
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "lakebench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", os.path.join(BENCH, "data"), "--work", work, "--out", out,
              "--golden", os.path.join(BENCH, "golden", "hashes.tsv")])
    log = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
    try:
        code = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        code = "timeout"
    log.close()
    return code


def measure(args):
    jars = spark_jars()
    classes, digest = build(jars)
    work = os.path.join(ROOT, ".bench_build", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "record.json")
    load_before = loadavg()
    ticks0, self0, wall0 = busy_ticks(), os.times(), time.time()
    code = run_jvm(args, classes, jars, work, out)
    ticks1, self1, wall1 = busy_ticks(), os.times(), time.time()
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"JVM run failed ({code})")
    with open(out) as fh:
        rec = json.load(fh)
    shutil.rmtree(work, ignore_errors=True)

    hz = os.sysconf("SC_CLK_TCK")
    own = (self1.user - self0.user) + (self1.system - self0.system)
    noise = {
        "loadavg_before": load_before,
        "other_cpu_s": (ticks1 - ticks0) / hz - rec["jvm_cpu_ticks"] / hz - own,
        "run_wall_s": wall1 - wall0,
    }
    attempted, failed = metrics.attempts(rec)
    e2e = metrics.end_to_end(rec)
    layers = metrics.per_layer(rec) if args.trace else {}
    prov = dict(rec["provenance"], sf=SF[args.workload], seed=args.seed, workload=args.workload,
                seconds=args.seconds, trace=args.trace, git_head=git_head(),
                source_digest=digest)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(wall0)}"
    result = {
        "run_id": run_id, "provenance": prov, "noise": noise,
        "end_to_end": e2e, "samples": metrics.samples(rec), "per_layer": layers,
        "layer_self_ms": metrics.layer_self_ms(rec) if args.trace else {},
        "ops": metrics.op_summary(rec),
        "units": rec["units"],
        "checks": [c for c in rec["checks"] if not c["ok"]],
        "facts": rec["facts"],
        "spans": [dict(s, run_id=run_id) for s in rec["spans"]],
    }
    os.makedirs(RESULTS, exist_ok=True)
    path = os.path.join(RESULTS, run_id + ".json")
    with open(path, "w") as fh:
        json.dump(result, fh)

    shown = layers if args.trace else e2e
    units = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    s = result["samples"]
    print(f"# {args.workload} seed {args.seed}: {s['units']} units, {s['reads']} reads "
          f"({s['read_ms_p90_beyond']} beyond p90), {s['commits']} commits, "
          f"{attempted} attempted, {failed} failed; "
          f"loadavg {load_before:.2f}, other cpu {noise['other_cpu_s']:.1f} s; {path}")
    for c in result["checks"]:
        print(f"# FAILED {c['name']}: {c['detail']}")
    for name, unit in units.items():
        print(f"{name} {shown[name]:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": shown[k], "unit": u} for k, u in units.items()}}))


def compare(a_path, b_path):
    a, b = (json.load(open(p)) for p in (a_path, b_path))
    why = metrics.comparable(a, b)
    if why:
        fail(f"refusing to compare: {why}")
    for k, v in a["end_to_end"].items():
        w = b["end_to_end"][k]
        print(f"{k} {v:.6g} -> {w:.6g} ({(w / v - 1) * 100:+.1f}%)" if v else f"{k} {v} -> {w}")


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "compare":
        if len(sys.argv) != 4:
            fail("usage: run.py compare RESULT_A.json RESULT_B.json")
        compare(sys.argv[2], sys.argv[3])
        return
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SF))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    measure(ap.parse_args())


if __name__ == "__main__":
    main()
