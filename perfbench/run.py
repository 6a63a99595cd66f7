"""End-to-end pipeline benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--cores <n>]

A run does one fixed round of its workload (see README.md); --seconds is
accepted for the common benchmark interface and does not change the work.

Run from the root of a checkout. The first run builds the engine and the
harness from source (perfbench/build.sbt, an sbt build of its own), records
a class-data archive for the JVM, and caches both under .bench_build/,
keyed by a hash of the sources.
Each run generates its inputs from the seed (gen.py), runs the workload in
one JVM on local[<cores>] (perfbench/src), checks the outputs against
computations made apart from Spark (DuckDB and Python, below), and prints
one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, taken from a run with the
Spark listeners and spans switched on. The traced run also writes its spans
and every number it measured to .bench_build/traces/.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
import checks  # noqa: E402
import gen  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
DEADLINE_S = 170
TRAIN_DEADLINE_S = 600
JVM_OPENS = [
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
    roots = [ROOT / "src" / "main" / "scala", HERE / "src", HERE / "build.sbt",
             HERE / "project" / "build.properties"]
    for r in roots:
        files = [r] if r.is_file() else sorted(p for p in r.rglob("*") if p.is_file())
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def classpath(workloads, cores):
    """Builds once per source state. Returns the runtime classpath (jars
    only) and a class-data archive of the classes the workloads load."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("engine sources (src/main/scala/graft) not found; run from a full checkout")
    stamp = source_stamp()
    cached, jsa = BUILD / f"classpath-{stamp}.txt", BUILD / f"classes-{stamp}.jsa"
    if cached.is_file() and jsa.is_file():
        return cached.read_text().strip(), jsa
    BUILD.mkdir(exist_ok=True)
    for old in [*BUILD.glob("classpath-*.txt"), *BUILD.glob("classes-*.jsa")]:
        old.unlink()
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    log = BUILD / "build.log"
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspathAsJars"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    lines = log.read_text().splitlines()
    cp = [l for l in lines if l.startswith("/") and ".jar" in l]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (see {log})")
    train_archive(cp[-1], jsa, workloads, cores)
    cached.write_text(cp[-1])
    return cp[-1], jsa


def train_archive(cp, jsa, workloads, cores):
    """Part of the build: one untimed JVM makes the warm-up pass of every
    workload and records the classes it loaded into `jsa`. Every measured
    run then maps the same archive, so all runs start the JVM the same way
    and spend seconds less loading Spark's classes."""
    d = BUILD / "train"
    shutil.rmtree(d, ignore_errors=True)
    for w in workloads:
        gen.generate(w, 0, str(d / "input"))
    rc = run_jvm(cp, [f"-XX:ArchiveClassesAtExit={jsa}"],
                 ["--workload", ",".join(workloads), "--warm-only", "1", "--seed", "0",
                  "--trace", "0", "--cores", str(cores)],
                 d, time.monotonic() + TRAIN_DEADLINE_S)
    shutil.rmtree(d, ignore_errors=True)
    if rc != 0 or not jsa.is_file():
        fail("recording the class-data archive failed" +
             (" (timed out)" if rc is None else f" (JVM exited with {rc})"))


def run_jvm(cp, jvm_opts, main_args, run_dir, deadline):
    """Runs perfbench.Main with inputs, scratch and results under `run_dir`;
    returns its exit code, or None when it was killed at `deadline`."""
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    work, out = run_dir / "work", run_dir / "out"
    cmd = [str(java), "-Xmx3g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work}/tmp", *jvm_opts]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", *main_args,
            "--input", str(run_dir / "input"), "--work", str(work), "--out", str(out)]
    (work / "tmp").mkdir(parents=True)
    out.mkdir(exist_ok=True)
    log = out / "jvm.log"
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    if rc != 0:
        sys.stderr.write("".join(log.read_text().splitlines(True)[-60:]))
    return rc


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True,
                    help="accepted; a run always does one fixed round")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    args = ap.parse_args()
    bench_file = ROOT / "BENCHMARK.json"
    if not bench_file.is_file():
        fail("BENCHMARK.json not found at the checkout root")
    bench = json.loads(bench_file.read_text())
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        fail(f"unknown workload {args.workload}")

    cp, jsa = classpath([w["name"] for w in bench["workloads"]], args.cores)
    deadline = time.monotonic() + DEADLINE_S
    run_dir = BUILD / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, out = run_dir / "input", run_dir / "out"
    for d in (inputs, out):
        d.mkdir(parents=True)
    try:
        truth = gen.generate(args.workload, args.seed, str(inputs))
        rc = run_jvm(cp, [f"-XX:SharedArchiveFile={jsa}"],
                     ["--workload", args.workload, "--seed", str(args.seed),
                      "--trace", str(args.trace), "--cores", str(args.cores)],
                     run_dir, deadline)
        if rc != 0:
            fail("workload timed out" if rc is None else f"workload JVM exited with {rc}")
        res = json.loads((out / "result.json").read_text())
        ok, notes = checks.run(args.workload, res, truth, str(out))
        for n in notes:
            print(f"check: {n}", file=sys.stderr)
        if args.trace:
            traces = BUILD / "traces"
            traces.mkdir(exist_ok=True)
            name = f"{args.workload}-seed{args.seed}"
            shutil.copy(out / "spans.json", traces / f"{name}.spans.json")
            (traces / f"{name}.json").write_text(json.dumps(
                {k: res[k] for k in ("metrics", "per_layer", "attempted", "failed")}, indent=1))
        section, values = ("per_layer", res["per_layer"]) if args.trace else \
            ("end_to_end", res["metrics"])
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in bench[section]}
        print(json.dumps({"correct": ok, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
